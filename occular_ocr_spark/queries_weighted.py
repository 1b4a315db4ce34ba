"""Weighted-statistics catalog, round 4 (wave 105): five operators
filling the weighted-analog gap — every quantile/moment entry so far
weights rows equally; real pipelines weight by quantity, revenue, or
tokens.  Plus the standard small-sample proportion intervals.

* ``weighted_quantile_table`` — QUANTITY-weighted deciles of the
  milli unit price: ceil-rank selection over the price value
  histogram with weight sums (the two-level rank doctrine, weights
  instead of counts).
* ``weighted_mean_variance_report`` — quantity-weighted mean and
  population variance of the milli price from exact weighted moments
  (Σw, Σwx, Σwx² — variance numerator Σw·Σwx² − (Σwx)², wide).
* ``weighted_gini_index`` — the quantity-weighted Gini of part
  revenue via the sorted cumulative formula
  G = (2·Σᵢ wᵢ·cumᵢ − Σw·(maxcum + w₁?))… computed exactly as
  1 − Σᵢ wᵢ(cumᵢ₋₁ + cumᵢ)/(W·T) over parts ranked by per-unit
  value — all integer, sign-safe.
* ``wilson_interval_report`` — per source: the documents quality-
  gate pass rate with Wilson 95% bounds (z = 1.96 constant, one IEEE
  sqrt on exact integers, fixed op order, micro-quantized).
* ``moe_sample_size_planner`` — per (source, margin-of-error grid
  {_MOE_GRID} micro): the required sample size
  n = ⌈z²·p̂(1−p̂)/e²⌉ from the observed rate, exact ceil-integer
  arithmetic on micro units.

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests in tests/test_weighted_wave.py.

Cross-engine float policy: weighted moments and cumulative weights
exact BIGINT / DECIMAL(38,0)-vs-HUGEINT; the two floats (Wilson
sqrt, weighted-variance ratio) are IEEE on exact integers in fixed
op order, micro-quantized.

Scale notes: the weighted quantiles reduce to the price value
histogram (value-bounded); the Gini ranks the ≤#parts frame (parts
are catalog-sized, not fact-sized); intervals/planners are per-source
partial aggs crossed with constant grids.

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import queries as _q
from .queries import _t

_MOE_GRID = [10_000, 20_000, 50_000]  # micro: 1%, 2%, 5%
_QG_LO, _QG_HI, _QG_XLANG = 100, 400, "zh"


def _wq_sql(dialect: str) -> str:
    intdiv = "DIV" if dialect == "spark" else "//"
    ks = (
        "SELECT explode(sequence(1, 9)) AS k"
        if dialect == "spark"
        else "SELECT unnest(generate_series(1, 9)) AS k"
    )
    return f"""
WITH li AS (
  SELECT CAST(floor(1000 * l_extendedprice / l_quantity) AS BIGINT)
           AS p,
         CAST(floor(l_quantity) AS BIGINT) AS w
  FROM lineitem WHERE l_quantity > 0),
wh AS (
  SELECT p AS v, CAST(sum(w) AS BIGINT) AS wsum FROM li GROUP BY p),
wr AS (
  SELECT v, wsum,
         sum(wsum) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW) AS cum,
         sum(wsum) OVER () AS wtot
  FROM wh),
ks AS ({ks})
SELECT CAST(ks.k AS BIGINT) AS decile,
       CAST(min(v) AS BIGINT) AS weighted_quantile_milli,
       CAST(max(wtot) AS BIGINT) AS total_weight
FROM wr CROSS JOIN ks
WHERE cum >= (ks.k * wtot + 9) {intdiv} 10
GROUP BY ks.k
"""


def q_weighted_quantile_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantity-weighted price deciles via the weighted histogram."""
    _q._register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_wq_sql("spark"))


ORACLE_WEIGHTED_QUANTILE_TABLE = _wq_sql("duck")


# ---------------------------------------------------------------------------
# weighted_mean_variance_report
# ---------------------------------------------------------------------------


def _wmv_sql(dialect: str) -> str:
    intdiv = "DIV" if dialect == "spark" else "//"
    wide = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    return f"""
WITH li AS (
  SELECT CAST(floor(1000 * l_extendedprice / l_quantity) AS BIGINT)
           AS p,
         CAST(floor(l_quantity) AS BIGINT) AS w
  FROM lineitem WHERE l_quantity > 0),
mom AS (
  SELECT CAST(sum(w) AS BIGINT) AS sw,
         CAST(sum(CAST(w AS {wide}) * p) AS {wide}) AS swx,
         CAST(sum(CAST(w AS {wide}) * p * p) AS {wide}) AS swx2
  FROM li)
SELECT sw,
       CAST((2000 * swx + sw) {intdiv} (2 * sw) AS BIGINT)
         AS weighted_mean_micro,
       CAST(floor(CAST(CAST(sw AS {wide}) * swx2 - swx * swx
            AS DOUBLE) / CAST(CAST(sw AS {wide}) * sw AS DOUBLE)
            + 0.5) AS BIGINT) AS weighted_var_milli2
FROM mom
"""


def q_weighted_mean_variance_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantity-weighted price mean and population variance."""
    _q._register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_wmv_sql("spark"))


ORACLE_WEIGHTED_MEAN_VARIANCE_REPORT = _wmv_sql("duck")


# ---------------------------------------------------------------------------
# weighted_gini_index
# ---------------------------------------------------------------------------


def _wgini_sql(dialect: str) -> str:
    intdiv = "DIV" if dialect == "spark" else "//"
    wide = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    return f"""
WITH per AS (
  SELECT l_partkey,
         CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS w,
         CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT)
           AS y
  FROM lineitem GROUP BY l_partkey),
-- rank parts by per-unit value y/w (cross-multiplied comparator via
-- the sort key y*1e6 DIV w — deterministic, integer)
ranked AS (
  SELECT w, y,
         sum(y) OVER (ORDER BY (1000000 * CAST(y AS {wide}))
           {intdiv} w, l_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumy,
         sum(y) OVER () AS ty,
         sum(w) OVER () AS tw
  FROM per),
terms AS (
  SELECT w, y, cumy, ty, tw,
         -- trapezoid term wᵢ·(cumᵢ₋₁ + cumᵢ) = wᵢ·(2·cumᵢ − yᵢ)
         CAST(w AS {wide}) * (2 * cumy - y) AS t
  FROM ranked)
SELECT CAST(max(tw) AS BIGINT) AS total_weight,
       CAST(max(ty) AS BIGINT) AS total_value,
       CAST(1000000 - (2000000 * sum(t) + 2 * CAST(max(tw)
            AS {wide}) * max(ty)) {intdiv} (2 * 2 * CAST(max(tw)
            AS {wide}) * max(ty)) AS BIGINT) AS weighted_gini_micro
FROM terms
"""


def q_weighted_gini_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted Gini of part revenue, exact trapezoid sum."""
    _q._register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_wgini_sql("spark"))


ORACLE_WEIGHTED_GINI_INDEX = _wgini_sql("duck")


# ---------------------------------------------------------------------------
# wilson_interval_report
# ---------------------------------------------------------------------------


def _wilson_sql(dialect: str) -> str:
    intdiv = "DIV" if dialect == "spark" else "//"
    # z = 1.96, z^2 = 3.8416; all in DOUBLE from exact (k, n)
    centre = "(CAST(k AS DOUBLE) + 1.9208)"
    denom = "(CAST(n AS DOUBLE) + 3.8416)"
    half = (
        "(1.96 * sqrt((CAST(k AS DOUBLE) * (CAST(n AS DOUBLE)"
        " - CAST(k AS DOUBLE)) / CAST(n AS DOUBLE)) + 0.9604))"
    )
    return f"""
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN n_chars BETWEEN {_QG_LO} AND {_QG_HI}
              AND lang <> '{_QG_XLANG}' THEN 1 ELSE 0 END) AS BIGINT)
           AS k
  FROM documents GROUP BY source)
SELECT source, n, k,
       CAST((2000000 * k + n) {intdiv} (2 * n) AS BIGINT)
         AS rate_micro,
       CAST(floor(({centre} - {half}) / {denom} * 1e6 + 0.5)
            AS BIGINT) AS wilson_lo_micro,
       CAST(floor(({centre} + {half}) / {denom} * 1e6 + 0.5)
            AS BIGINT) AS wilson_hi_micro
FROM per
"""


def q_wilson_interval_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilson 95% bounds on the per-source quality-pass rate."""
    _q._register_views(spark, sf_dir, ["documents"])
    return spark.sql(_wilson_sql("spark"))


ORACLE_WILSON_INTERVAL_REPORT = _wilson_sql("duck")


# ---------------------------------------------------------------------------
# moe_sample_size_planner
# ---------------------------------------------------------------------------


def _moe_sql(dialect: str) -> str:
    intdiv = "DIV" if dialect == "spark" else "//"
    wide = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    grid = ", ".join(f"({e})" for e in _MOE_GRID)
    return f"""
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN n_chars BETWEEN {_QG_LO} AND {_QG_HI}
              AND lang <> '{_QG_XLANG}' THEN 1 ELSE 0 END) AS BIGINT)
           AS k
  FROM documents GROUP BY source),
rates AS (
  SELECT source,
         CAST((2000000 * k + n) {intdiv} (2 * n) AS BIGINT) AS p_micro
  FROM per),
grid AS (SELECT * FROM (VALUES {grid}) AS t(moe_micro))
SELECT r.source, CAST(g.moe_micro AS BIGINT) AS moe_micro,
       r.p_micro,
       -- n = ceil(z² p(1-p) / e²) with z² = 3.8416 held as the
       -- exact rational 38416/10000; everything integer:
       CAST((38416 * CAST(r.p_micro AS {wide})
            * (1000000 - r.p_micro)
            + 10000 * CAST(g.moe_micro AS {wide}) * g.moe_micro - 1)
            {intdiv} (10000 * CAST(g.moe_micro AS {wide})
            * g.moe_micro) AS BIGINT) AS required_n
FROM rates r CROSS JOIN grid g
"""


def q_moe_sample_size_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Required n per (source, margin) — exact ceil arithmetic."""
    _q._register_views(spark, sf_dir, ["documents"])
    return spark.sql(_moe_sql("spark"))


ORACLE_MOE_SAMPLE_SIZE_PLANNER = _moe_sql("duck")


WEIGHTED_QUERIES = {
    "weighted_quantile_table": q_weighted_quantile_table,
    "weighted_mean_variance_report": q_weighted_mean_variance_report,
    "weighted_gini_index": q_weighted_gini_index,
    "wilson_interval_report": q_wilson_interval_report,
    "moe_sample_size_planner": q_moe_sample_size_planner,
}

WEIGHTED_ORACLES = {
    "weighted_quantile_table": ORACLE_WEIGHTED_QUANTILE_TABLE,
    "weighted_mean_variance_report": ORACLE_WEIGHTED_MEAN_VARIANCE_REPORT,
    "weighted_gini_index": ORACLE_WEIGHTED_GINI_INDEX,
    "wilson_interval_report": ORACLE_WILSON_INTERVAL_REPORT,
    "moe_sample_size_planner": ORACLE_MOE_SAMPLE_SIZE_PLANNER,
}

_q.QUERIES.update(WEIGHTED_QUERIES)
_q.ORACLES.update(WEIGHTED_ORACLES)
