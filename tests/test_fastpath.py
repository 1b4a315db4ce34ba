"""JVM plain fast path: provably-plain payloads are extracted by pure
Catalyst expressions (no Python worker, no salted exchange) and must be
bit-identical to the Python kernel; everything ambiguous still takes
the authoritative Python path."""

import contextlib
import io
import re

from pyspark.sql import functions as F

from occular_ocr_spark.extraction.core import extract_turn
from occular_ocr_spark.job import extract_detailed

PROBES = [
    (0, "plain one line"),
    (1, "  leading spaces\nsecond line  \n\nfourth"),
    (2, None),
    (3, ""),
    (4, "<html><p>html text long enough to pass the area gate right here</p></html>"),
    (5, "has a { brace but plain otherwise"),       # conservative: Python path
    (6, "tab\there"),                               # exotic whitespace: Python path
    (7, "trailing newline\n"),
    (8, "json-ish but no brace blocks key at all"),
    # Unicode whitespace Python strips but Spark trim does not — these
    # MUST take the Python path (ADVICE r2: NBSP/\x1c divergence)
    (9, "\xa0hello nbsp prefix"),
    (10, "file sep\x1cinside"),
    (11, "line sep here"),
    (12, "ideographic　space"),
    (13, "next line\x85char"),
    (14, " thin space lead\nand a kept line"),
]


def _df(spark):
    return spark.createDataFrame(
        [("p", i, t) for i, t in PROBES], "conv_id string, turn_idx int, text string"
    )


def test_fast_path_bit_identical_to_kernel(spark):
    out = {
        r["turn_idx"]: r
        for r in extract_detailed(
            _df(spark), num_partitions=4, salt_buckets=2, src_snapshot_id=3
        ).collect()
    }
    for idx, payload in PROBES:
        exp = extract_turn(payload)
        got = out[idx]
        assert got["method"] == exp["method"], idx
        assert got["text"] == exp["text"], idx
        got_blocks = [
            {
                "span": {
                    "start": b["span"]["start"],
                    "end": b["span"]["end"],
                    "y": b["span"]["y"],
                },
                "text": b["text"],
                "confidence": b["confidence"],
            }
            for b in got["blocks"]
        ]
        assert got_blocks == exp["blocks"], idx
        assert got["src_snapshot_id"] == 3


def test_fast_path_plan_shape(spark):
    df = extract_detailed(_df(spark), num_partitions=4, salt_buckets=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    n = lambda name: len(re.findall(rf"^\(\d+\) {name}\b", p, flags=re.MULTILINE))
    # one Python stage, one exchange (the fast branch has neither), and
    # the blocks expression is not duplicated across projections
    assert n("MapInArrow") == 1
    assert n("Exchange") == 1
    assert n("Union") == 1
    assert p.count("aggregate(") == 1


def test_fast_path_off_matches_on(spark):
    on = extract_detailed(_df(spark)).select("conv_id", "turn_idx", "method", "text")
    off = extract_detailed(_df(spark), jvm_plain_fast_path=False).select(
        "conv_id", "turn_idx", "method", "text"
    )
    assert sorted(map(tuple, on.collect())) == sorted(map(tuple, off.collect()))


def test_predicate_excludes_all_python_whitespace(spark):
    """Every char CPython str.strip treats as whitespace (except space
    and newline, which the Catalyst expression handles identically)
    must fail the fast-path predicate — Spark trim strips only ASCII
    space, so any of these on the JVM path would diverge from the
    kernel (ADVICE r2, high)."""
    from occular_ocr_spark.job import _plain_safe_predicate

    py_ws = [
        chr(c)
        for c in range(0x10000)
        if chr(c).strip() == "" and chr(c) not in (" ", "\n") and chr(c) != ""
    ]
    assert py_ws  # sanity: the probe set is non-empty
    rows = [(str(i), i, f"x{ch}y") for i, ch in enumerate(py_ws)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    leaked = df.where(_plain_safe_predicate()).collect()
    assert leaked == [], [hex(ord(py_ws[r["turn_idx"]])) for r in leaked]
