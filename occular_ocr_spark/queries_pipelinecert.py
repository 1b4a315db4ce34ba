"""Pipeline-certification catalog, round 4 (wave 98): three operators
that certify the EXTRACTION JOB's operational contract — lineage
stamping, rerun idempotence and salt invariance — as gate-checked
catalog entries (until now these properties lived only in pytest; here
each becomes a value-hash-checked 1-row certificate over the real
pipeline).

All entries run ``job.extract_detailed`` over the flagship synthetic
payloads (documents-derived, the ``extract_transcripts`` wrappers).

* ``lineage_columns_audit`` — with src_snapshot_id={_SNAP}: one
  distinct snapshot id (= {_SNAP}), one distinct extractor version,
  every partition_id in [0, {_NPARTS}) — the north rule's lineage
  columns certified.
* ``idempotent_rerun_audit`` — the SAME extraction run twice in one
  DAG, full-outer-joined on (conv, turn): row counts equal, zero
  unmatched, text equal everywhere — determinism/idempotence.
* ``salted_repartition_equiv`` — an AQE-sized exchange salted 8 ways
  vs unsalted: identical per-turn text (P1's skew salt must not change
  results).

House contract: DuckDB value-hash oracle with identical aliases
(each certificate reduces to counts + TRUE flags the oracle states
from the documents table), self-registration into queries.QUERIES /
ORACLES on import, semantics tests in tests/test_pipelinecert_wave.py.

Cross-engine float policy: counts and booleans only.

Scale notes: each certificate is two extraction passes (or one) plus
a key-partitioned join and a 1-row reduce — the cost of running the
certification, exactly what a production canary pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import queries as _q
from .queries import _t

_SNAP = 42
_NPARTS = 8


def _payload_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    payload = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("<html><body><p>"),
                F.col("text"),
                F.lit("</p></body></html>"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit(
                    '{"blocks": [{"type": 0, "lines": [{"bbox": '
                    '[72, 100, 540, 112], "spans": [{"text": "'
                ),
                F.col("text"),
                F.lit('"}]}]}]}'),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("```\n"), F.col("text"), F.lit("\n```")),
        )
        .otherwise(F.col("text"))
    )
    return d.select(
        F.lit("conv").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        payload.alias("text"),
        F.lit(None).cast("string").alias("tool"),
    )


_CERT_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_matched,
       CAST(0 AS BIGINT) AS n_unmatched,
       TRUE AS all_text_equal
FROM documents
"""


def _equiv_cert(a: DataFrame, b: DataFrame) -> DataFrame:
    """Full-outer-join two extraction outputs and certify equality."""
    aa = a.selectExpr(
        "conv_id", "turn_idx", "coalesce(text, '') AS ta"
    )
    bb = b.selectExpr(
        "conv_id", "turn_idx", "coalesce(text, '') AS tb"
    )
    j = aa.join(bb, ["conv_id", "turn_idx"], "full")
    return j.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(
            F.expr(
                "CASE WHEN ta IS NOT NULL AND tb IS NOT NULL THEN 1L"
                " ELSE 0L END"
            )
        )
        .cast("long")
        .alias("n_matched"),
        F.sum(
            F.expr(
                "CASE WHEN ta IS NULL OR tb IS NULL THEN 1L ELSE 0L"
                " END"
            )
        )
        .cast("long")
        .alias("n_unmatched"),
        F.expr("CAST(bool_and(ta = tb) AS BOOLEAN)").alias(
            "all_text_equal"
        ),
    )


# ---------------------------------------------------------------------------
# lineage_columns_audit
# ---------------------------------------------------------------------------


def q_lineage_columns_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot/version/partition lineage stamped on every row."""
    from .job import extract_detailed

    det = extract_detailed(
        _payload_frame(spark, sf_dir),
        src_snapshot_id=_SNAP,
        num_partitions=_NPARTS,
    )
    return det.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("src_snapshot_id").cast("long").alias(
            "n_snapshots"
        ),
        F.max("src_snapshot_id").cast("long").alias("snapshot_id"),
        F.countDistinct("extractor_version").cast("long").alias(
            "n_versions"
        ),
        F.expr(
            f"CAST(bool_and(partition_id >= 0 AND partition_id"
            f" < {_NPARTS}) AS BOOLEAN)"
        ).alias("partitions_in_range"),
    )


ORACLE_LINEAGE_COLUMNS_AUDIT = f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS n_snapshots,
       CAST({_SNAP} AS BIGINT) AS snapshot_id,
       CAST(1 AS BIGINT) AS n_versions,
       TRUE AS partitions_in_range
FROM documents
"""


# ---------------------------------------------------------------------------
# idempotent_rerun_audit
# ---------------------------------------------------------------------------


def q_idempotent_rerun_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same extraction twice must agree row for row."""
    from .job import extract_detailed

    a = extract_detailed(_payload_frame(spark, sf_dir))
    b = extract_detailed(_payload_frame(spark, sf_dir))
    return _equiv_cert(a, b)


ORACLE_IDEMPOTENT_RERUN_AUDIT = _CERT_ORACLE


# ---------------------------------------------------------------------------
# salted_repartition_equiv
# ---------------------------------------------------------------------------


def q_salted_repartition_equiv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A salted exchange vs an unsalted one — the skew salt never
    changes results."""
    from .job import extract_detailed

    a = extract_detailed(
        _payload_frame(spark, sf_dir), num_partitions=0, salt_buckets=8
    )
    b = extract_detailed(
        _payload_frame(spark, sf_dir), num_partitions=0, salt_buckets=0
    )
    return _equiv_cert(a, b)


ORACLE_SALTED_REPARTITION_EQUIV = _CERT_ORACLE


PIPELINECERT_QUERIES = {
    "lineage_columns_audit": q_lineage_columns_audit,
    "idempotent_rerun_audit": q_idempotent_rerun_audit,
    "salted_repartition_equiv": q_salted_repartition_equiv,
}

PIPELINECERT_ORACLES = {
    "lineage_columns_audit": ORACLE_LINEAGE_COLUMNS_AUDIT,
    "idempotent_rerun_audit": ORACLE_IDEMPOTENT_RERUN_AUDIT,
    "salted_repartition_equiv": ORACLE_SALTED_REPARTITION_EQUIV,
}

_q.QUERIES.update(PIPELINECERT_QUERIES)
_q.ORACLES.update(PIPELINECERT_ORACLES)
