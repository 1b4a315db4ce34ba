"""Golden equality: the Spark job must reproduce the pure-Python oracle
per turn, bit-for-bit, under stable (conv_id, turn_idx) ordering —
the BASELINE.json correctness invariant.
"""

import pytest

from occular_ocr_spark.extraction.core import extract_turn
from occular_ocr_spark.fixtures import generate_transcripts, transcripts_pandas
from occular_ocr_spark.job import conversation_text, extract_detailed, extract_text
from occular_ocr_spark.oracle import extract_rows


N_CONVS = 40
SEED = 42


@pytest.fixture(scope="module")
def golden():
    return extract_rows(generate_transcripts(n_convs=N_CONVS, seed=SEED))


@pytest.fixture(scope="module")
def transcripts_df(spark):
    return spark.createDataFrame(transcripts_pandas(n_convs=N_CONVS, seed=SEED))


def test_per_turn_text_equality(spark, transcripts_df, golden):
    ext = extract_detailed(transcripts_df, num_partitions=8, src_snapshot_id=7)
    got = {(r["conv_id"], r["turn_idx"]): r.asDict(recursive=True) for r in ext.collect()}
    assert len(got) == len(golden)
    for g in golden:
        row = got[(g["conv_id"], g["turn_idx"])]
        assert row["text"] == g["text"], (g["conv_id"], g["turn_idx"])
        assert row["method"] == g["method"]
        assert row["blocks"] == g["blocks"]


def test_salted_repartition_same_result(spark, transcripts_df, golden):
    # two-phase salted processing must not change any per-turn output
    ext = extract_detailed(transcripts_df, num_partitions=8, salt_buckets=4)
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in ext.collect()}
    for g in golden:
        assert got[(g["conv_id"], g["turn_idx"])] == g["text"]


def test_lineage_columns(spark, transcripts_df):
    ext = extract_detailed(transcripts_df, num_partitions=4, src_snapshot_id=99)
    row = ext.first()
    assert row["src_snapshot_id"] == 99
    assert row["partition_id"] >= 0
    assert row["extractor_version"].startswith("occular-ocr-spark/")


def test_extract_text_simple_api(spark, transcripts_df, golden):
    txt = extract_text(transcripts_df)
    assert txt.columns == ["conv_id", "turn_idx", "text"]
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in txt.collect()}
    for g in golden:
        assert got[(g["conv_id"], g["turn_idx"])] == g["text"]


def test_conversation_assembly_stable_order(spark, transcripts_df, golden):
    # rows were written shuffled; assembly must restore turn order
    ext = extract_detailed(transcripts_df, num_partitions=8, salt_buckets=4)
    conv = {r["conv_id"]: r["text"] for r in conversation_text(ext).collect()}
    by_conv = {}
    for g in golden:  # golden is sorted by (conv_id, turn_idx)
        by_conv.setdefault(g["conv_id"], []).append(g["text"])
    for cid, texts in by_conv.items():
        assert conv[cid] == "\n".join(texts), cid


def test_confidence_bounds_dataframe(spark, transcripts_df):
    # contract replay at the DataFrame level (test_smoke.py:74 analog)
    from pyspark.sql import functions as F

    ext = extract_detailed(transcripts_df)
    bad = ext.select(
        F.explode("blocks").alias("b")
    ).filter((F.col("b.confidence") < 0.0) | (F.col("b.confidence") > 1.0))
    assert bad.count() == 0


# Edge payloads: None, empty, a method-hint character in plain text, and
# the Unicode whitespace that Python's str.strip removes but Spark's trim
# does not (NBSP, \x1c, \u2028, \u3000, \x85, tab, thin space).
EDGE_PAYLOADS = [
    (0, "plain one line"),
    (1, "  leading spaces\nsecond line  \n\nfourth"),
    (2, None),
    (3, ""),
    (4, "<html><p>html text long enough to pass the area gate right here</p></html>"),
    (5, "has a { brace but plain otherwise"),
    (6, "tab\there"),
    (7, "trailing newline\n"),
    (8, "json-ish but no brace blocks key at all"),
    (9, "\xa0hello nbsp prefix"),
    (10, "file sep\x1cinside"),
    (11, "line sep\u2028here"),
    (12, "ideographic\u3000space"),
    (13, "next line\x85char"),
    (14, "\u2009thin space lead\nand a kept line"),
]


def test_edge_payloads_match_kernel(spark):
    df = spark.createDataFrame(
        [("p", i, t) for i, t in EDGE_PAYLOADS],
        "conv_id string, turn_idx int, text string",
    )
    out = {
        r["turn_idx"]: r
        for r in extract_detailed(
            df, num_partitions=4, salt_buckets=2, src_snapshot_id=3
        ).collect()
    }
    for idx, payload in EDGE_PAYLOADS:
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
