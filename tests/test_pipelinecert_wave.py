"""Semantics tests for the wave-98 pipeline certifications — each
certificate's flags must hold and its counts must equal the corpus
size; a failure here means the extraction job broke one of its
operational contracts (lineage, determinism, salt invariance)."""

from __future__ import annotations

import contextlib
import io

import duckdb

from occular_ocr_spark import queries as Q
from occular_ocr_spark.queries_pipelinecert import (
    _SNAP,
    q_idempotent_rerun_audit,
    q_lineage_columns_audit,
    q_salted_repartition_equiv,
)

SF = "/root/testdata/sf0.001"


def _n_docs():
    return duckdb.sql(
        f"SELECT count(*) FROM '{SF}/documents.parquet'"
    ).fetchall()[0][0]


def test_lineage_stamped(spark):
    r = q_lineage_columns_audit(spark, SF).collect()[0]
    assert r["n_rows"] == _n_docs()
    assert r["n_snapshots"] == 1
    assert r["snapshot_id"] == _SNAP
    assert r["n_versions"] == 1
    assert bool(r["partitions_in_range"]) is True


def _assert_cert(r, n):
    assert r["n_rows"] == n
    assert r["n_matched"] == n
    assert r["n_unmatched"] == 0
    assert bool(r["all_text_equal"]) is True


def test_idempotent_rerun(spark):
    _assert_cert(q_idempotent_rerun_audit(spark, SF).collect()[0], _n_docs())


def test_salt_invariance(spark):
    cert = q_salted_repartition_equiv(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cert.explain("formatted")
    # each side runs its own repartition; only one of them is salted on
    # the turn index (the join's exchanges are ENSURE_REQUIREMENTS)
    exchanges = [
        ln for ln in buf.getvalue().splitlines()
        if ln.startswith("Arguments:") and "REPARTITION_BY" in ln
    ]
    assert len(exchanges) == 2
    assert sum("pmod(turn_idx" in ln for ln in exchanges) == 1
    _assert_cert(cert.collect()[0], _n_docs())


def test_registered_in_catalog():
    for name in (
        "lineage_columns_audit",
        "idempotent_rerun_audit",
        "salted_repartition_equiv",
    ):
        assert name in Q.QUERIES and name in Q.ORACLES
