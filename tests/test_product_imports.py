"""The product imports no catalog module: importing any product module
in a fresh interpreter loads no ``occular_ocr_spark.queries*`` module."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PRODUCT = ("job", "sink", "sources", "streaming", "cli", "pipeline_e2e")


@pytest.mark.parametrize("module", PRODUCT)
def test_product_module_loads_no_catalog(module):
    code = (
        "import sys\n"
        f"import occular_ocr_spark.{module}\n"
        "print(sorted(m for m in sys.modules"
        " if m.startswith('occular_ocr_spark.queries')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"
