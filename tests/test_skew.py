"""Salted repartitioning: the mega-conversation must spread across tasks.

The north rule requires "salted repartitioning for skewed
mega-conversations" — the anti-pattern being one 10^6-turn conversation
serializing into one task (the analog of the reference's main-thread
rasterization bottleneck, pipeline.py:139-141).  The partition_id
lineage column makes the spread directly observable.
"""

import warnings

import pytest
from pyspark.sql import functions as F

from occular_ocr_spark.fixtures import transcripts_pandas
from occular_ocr_spark.job import extract_detailed


def _mega_fixture(spark):
    # zipf 1.3 with 60 convs: conv-000000 carries ~30x the mean turns
    pdf = transcripts_pandas(n_convs=60, turns_per_conv_mean=6, seed=77)
    return spark.createDataFrame(pdf), pdf


def test_unsalted_mega_conversation_serializes(spark):
    df, pdf = _mega_fixture(spark)
    out = extract_detailed(df, num_partitions=8, salt_buckets=0)
    parts = (
        out.groupBy("conv_id")
        .agg(F.countDistinct("partition_id").alias("n_parts"))
        .where(F.col("conv_id") == "conv-000000")
        .first()
    )
    assert parts["n_parts"] == 1  # hash(conv_id) alone: one task owns it all


def test_salted_mega_conversation_spreads(spark):
    df, pdf = _mega_fixture(spark)
    out = extract_detailed(df, num_partitions=8, salt_buckets=4)
    agg = {
        r["conv_id"]: r["n_parts"]
        for r in out.groupBy("conv_id")
        .agg(F.countDistinct("partition_id").alias("n_parts"))
        .collect()
    }
    assert agg["conv-000000"] >= 2  # the mega-conv now spans tasks

    # ...and salting must not perturb the extraction contract: same rows,
    # same per-turn text as the unsalted run.
    unsalted = extract_detailed(df, num_partitions=8, salt_buckets=0)
    key = lambda r: (r["conv_id"], r["turn_idx"])
    a = sorted(((key(r), r["text"]) for r in out.select("conv_id", "turn_idx", "text").collect()))
    b = sorted(((key(r), r["text"]) for r in unsalted.select("conv_id", "turn_idx", "text").collect()))
    assert a == b


def test_salt_without_exchange_raises(spark):
    """Salt is a key of the exchange: with ``num_partitions=None`` there is
    none, so a salt would be dropped without a word."""
    df, _ = _mega_fixture(spark)
    with pytest.raises(ValueError, match="salt_buckets=8 needs an exchange"):
        extract_detailed(df, salt_buckets=8)
    extract_detailed(df, num_partitions=0, salt_buckets=8)  # salted exchange
    extract_detailed(df, salt_buckets=1)  # one bucket is no salt


def test_removed_fast_path_keyword_is_ignored(spark):
    """``jvm_plain_fast_path`` only survives for the benchmark's traced
    mode: ``True`` warns, ``False`` is silent and changes nothing."""
    df, _ = _mega_fixture(spark)
    with pytest.warns(UserWarning, match="jvm_plain_fast_path"):
        extract_detailed(df, jvm_plain_fast_path=True)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        off = extract_detailed(df, jvm_plain_fast_path=False)
    cols = ("conv_id", "turn_idx", "method", "text")
    rows = lambda d: sorted(map(tuple, d.select(*cols).collect()))
    assert rows(off) == rows(extract_detailed(df))


# ---------------------------------------------------------------------------
# chunked whole-conversation assembly (round 5, VERDICT r4 #6)
# ---------------------------------------------------------------------------


def _single_phase_reference(extracted):
    """The pre-round-5 one-shot assembly: collect every turn of a
    conversation into ONE aggregation buffer.  Kept here as the
    semantic reference the chunked production form must equal."""
    return (
        extracted.groupBy("conv_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("turn_idx"), F.col("text")))
            ).alias("turns")
        )
        .select(
            "conv_id",
            F.array_join(F.transform("turns", lambda t: t["text"]), "\n").alias("text"),
            F.size("turns").alias("n_turns"),
        )
    )


def test_chunked_assembly_equals_single_phase_on_mega_conv(spark):
    """One conversation 100x the median turn count: the two-phase
    chunked assembly must produce byte-identical text and counts for
    every conversation, at several chunk sizes including ones far
    smaller than the mega-conversation (so multiple chunks really
    exist and the phase-2 ordered concat is exercised)."""
    from occular_ocr_spark.job import conversation_text, extract_text

    rows = []
    for c in range(12):
        n = 400 if c == 0 else 4  # conv-0: 100x the median
        for t in range(n):
            rows.append((f"c{c:02d}", n - 1 - t, "user", f"turn {c}.{t} text", "", None))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    ext = extract_text(df)
    want = sorted(tuple(r) for r in _single_phase_reference(ext).collect())
    for chunk in (1, 7, 1024):
        got = sorted(tuple(r) for r in conversation_text(ext, chunk_turns=chunk).collect())
        assert got == want, f"chunk_turns={chunk}"
    n_turns = {r[0]: r[2] for r in want}
    assert n_turns["c00"] == 400 and n_turns["c05"] == 4
