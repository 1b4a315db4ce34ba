"""Unit tests for the round-4 driver-side caches and scoped-conf
guards — tiny machinery whose failure modes are silent (stale handles,
leaked conf), so each is pinned explicitly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"


def test_table_cache_returns_same_handle_and_separates_sf_dirs(spark):
    from occular_ocr_spark import queries as q

    a1 = q._t(spark, SF, "documents")
    a2 = q._t(spark, SF, "documents")
    assert a1 is a2  # memoized handle, no footer re-read
    b = q._t(spark, SF2, "documents")
    assert b is not a1  # keyed by sf_dir — no cross-SF collision
    # and the handles read the right data
    assert a1.count() == 500
    assert a1.select("doc_id").distinct().count() == 500


def test_table_cache_rebuilds_for_a_different_session_object(spark):
    from occular_ocr_spark import queries as q

    df = q._t(spark, SF, "region")
    key = (SF, "region")
    sess, cached = q._TABLE_CACHE[key]
    assert sess is spark and cached is df
    # simulate a stale entry owned by a dead session: any non-identical
    # owner forces a rebuild instead of reusing a foreign-JVM handle
    q._TABLE_CACHE[key] = (object(), df)
    fresh = q._t(spark, SF, "region")
    assert q._TABLE_CACHE[key][0] is spark
    assert fresh.count() == df.count()


def test_stream_state_width_sets_and_restores_conf(spark):
    from occular_ocr_spark.queries_ext import (
        _STREAM_STATE_PARTITIONS,
        _stream_state_width,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != str(_STREAM_STATE_PARTITIONS)  # the guard must matter
    with _stream_state_width(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            _STREAM_STATE_PARTITIONS
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stream_state_width_restores_on_exception(spark):
    from occular_ocr_spark.queries_ext import _stream_state_width

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError):
        with _stream_state_width(spark):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_extract_entry_uses_aqe_managed_exchange_not_pinned(spark):
    """The flagship entry must keep the column-only salted exchange
    (repartition_salted num_partitions=0) — a pinned width would both
    regress the bench and be wrong on a sized cluster."""
    from occular_ocr_spark.queries import QUERIES

    df = QUERIES["extract_transcripts"](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" in plan
    # no explicit numPartitions rides the repartition node
    assert "RepartitionByExpression [conv_id" in plan


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_bpe_merges_releases_its_round_caches(spark):
    """The merge table is a local frame built from collected rows, so
    none of the per-round symbol-table caches may outlive the call."""
    from occular_ocr_spark import queries as q

    q.release_persists()
    before = _n_persistent_rdds(spark)
    assert q.QUERIES["bpe_merges"](spark, SF).collect()
    assert _n_persistent_rdds(spark) == before


def test_sparse_retrieval_postings_cache_is_release_tracked(spark):
    """The returned plan reads the cached postings, so they stay until
    the harness calls release_persists() — and not after."""
    from occular_ocr_spark import queries as q

    q.release_persists()
    before = _n_persistent_rdds(spark)
    assert q.QUERIES["sparse_retrieval"](spark, SF).collect()
    q.release_persists()
    assert _n_persistent_rdds(spark) == before
