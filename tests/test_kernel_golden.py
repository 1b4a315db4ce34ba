"""Frozen golden digests of the per-turn kernel.

``tests/data/kernel_golden.json`` holds one digest of ``(method, text,
blocks)`` per payload, computed once from an earlier kernel with
``scripts/kernel_diff.py --write-golden``.  Unlike the oracle comparisons,
which recompute their expectations from the current kernel, these fail
whenever the kernel's output changes.  Regenerate them only together with
a bump of ``EXTRACTOR_VERSION``.
"""

import json
import os

from occular_ocr_spark.extraction import core
from scripts.kernel_diff import golden_payloads, turn_digest

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "kernel_golden.json")


def test_kernel_output_matches_frozen_digests():
    with open(GOLDEN) as f:
        golden = json.load(f)
    assert golden["extractor_version"] == core.EXTRACTOR_VERSION
    payloads = golden_payloads()
    assert sorted(key for key, _ in payloads) == sorted(golden["digests"])
    mismatched = [key for key, payload in payloads
                  if turn_digest(core.extract_turn_raw(payload)) != golden["digests"][key]]
    assert mismatched == []
