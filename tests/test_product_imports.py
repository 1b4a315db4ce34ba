"""The product imports no catalog module: importing any product module
in a fresh interpreter loads no ``occular_ocr_spark.queries*`` module.
And the catalog loads in either import order: ``queries_ext`` and
``queries_pipeline``, whose oracles other catalog modules build on,
each import cleanly before ``queries``."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# "" is the package root itself
PRODUCT = (
    "",
    "job",
    "sink",
    "sources",
    "streaming",
    "cli",
    "pipeline_e2e",
    "extraction.core",
    "oracle",
    "fixtures",
)


def _run(code):
    return subprocess.run([sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True)


@pytest.mark.parametrize("module", PRODUCT, ids=lambda m: m or "occular_ocr_spark")
def test_product_module_loads_no_catalog(module):
    dotted = ".".join(filter(None, ("occular_ocr_spark", module)))
    out = _run(
        "import sys\n"
        f"import {dotted}\n"
        "print(sorted(m for m in sys.modules"
        " if m.startswith('occular_ocr_spark.queries')))\n"
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "[]"


@pytest.mark.parametrize("module", ("queries_ext", "queries_pipeline"))
def test_catalog_module_imports_first(module):
    out = _run(f"import occular_ocr_spark.{module}")
    assert out.returncode == 0, out.stderr[-2000:]
