"""Kernel time grows linearly with payload size on adversarial shapes.

Each shape is timed at 64 KB and at 1 MB.  Linear growth gives a ratio of
16; the bound of 32 leaves room for a loaded host, and a quadratic path
(a ratio near 256) fails it.  The 1 MB payload must also finish under a
fixed ceiling.
"""

import time

import pytest

from occular_ocr_spark import fixtures
from occular_ocr_spark.extraction import core

SMALL, LARGE = 64 * 1024, 1024 * 1024
MAX_RATIO = 32
CEILING_S = 5.0
SHAPES = ("unclosed_tags", "unclosed_then_quote", "quote_soup", "many_blocks",
          "unclosed_output", "many_output_regions", "many_fences")


def _best_time(payload: str, reps: int) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        core.extract_turn_raw(payload)
        best = min(best, time.perf_counter() - t0)
    return best


@pytest.mark.parametrize("shape", SHAPES)
def test_kernel_time_is_linear(shape):
    small = fixtures.adversarial_payloads(SMALL)[shape]
    large = fixtures.adversarial_payloads(LARGE)[shape]
    t_large = _best_time(large, 2)
    assert t_large < CEILING_S, (shape, t_large)
    t_small = _best_time(small, 5)
    assert t_large / t_small <= MAX_RATIO, (shape, t_small, t_large)


def test_many_blocks_shape_has_8000_blocks():
    payload = fixtures.adversarial_payloads(LARGE)["many_blocks"]
    assert len(core.extract_turn_raw(payload)[1]) >= 8000
