"""Spectral & heavy-tail catalog, round 4 (wave 44): five operators
spanning the frequency-domain, tail-index, count-model, multi-
resolution, and lexical-burstiness surfaces —

* ``periodogram_power`` — discrete-Fourier periodogram of the daily
  event-count series over the integer period grid 2..``_PG_MAX``:
  per-day mean-centered terms (y_i/S − 1/n)·cos/sin(2πi/p) are
  micro-quantized BEFORE their sums, so each period's power
  sc² + ss² is an exact BIGINT and the power share is the exact
  integer round-half-up division.  Finds the weekly harmonic the
  time-domain ``weekday_seasonality`` / ``autocorr_daily`` panels
  see, from the frequency side.
* ``hill_tail_index`` — Hill estimator of the Pareto tail index of
  the event ``value`` distribution over the top ``_HILL_K`` order
  statistics (cents-quantized): α̂ = k / Σ ln(x_i/x_(k+1)), with the
  tie-safe identity Σ_top-k ln x_i = Σ_top-(k+1) ln x_i − ln x_min
  so boundary ties cannot perturb the sum.  The heavy-tail
  companion to ``zipf_fit`` (rank-frequency).
* ``negbin_fit`` — negative-binomial method-of-moments fit of the
  per-(user, day) event-count cells INCLUDING structural zeros (the
  users × days grid): dispersion index v/m̄, NB r = m̄²/(v−m̄),
  p = m̄/v, and the overdispersed-vs-poisson verdict.  The count-
  model companion to ``user_burstiness`` (Fano per user).
* ``haar_energy`` — 2-level unnormalized Haar decomposition of the
  daily series truncated to a multiple of 4 days: detail/approx
  energies scaled ×4 are exact integers obeying Parseval
  4·Σy² = 2·Σd1² + Σd2² + Σa2² (asserted in tests), plus the
  high-frequency detail share.  The multi-resolution companion to
  ``ts_decompose`` / ``changepoint_binseg``.
* ``word_adaptation`` — Church-style word adaptation ("the second
  occurrence is cheap"): for the top-``_WA_K`` tokens by corpus
  frequency, P(repeat | appears) = df₂/df against the appearance
  base rate df/D; adaptation ≫ 1 is the classic burstiness
  signature.  The lexical companion to ``repetition_ratio``
  (within-doc) and ``good_turing_counts`` (frequency-of-frequency).

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus physical-plan assertions in tests/test_spectral_wave.py.

Cross-engine float policy (the corr_matrix / zipf_fit doctrine):
order-sensitive float sums never happen — periodogram terms and
n·ln n / ln-cents terms are micro-quantized to BIGINT before
aggregation; periodogram power and the Haar Parseval ledger are pure
integers; Hill's α and the NB moments are row-local IEEE on exact
integer sums.  BIGINT headroom: periodogram terms are bounded by
±1e6/n·n = ±1e6 per day so sc, ss stay ≤ 2e6·√n and powers ≤ ~1e13
at any day count; Haar energies cap at Σy² ≤ n·max_daily² (the
ols_fit DECIMAL note applies past ~10⁹ daily events).

Scale notes: the daily/weekly frames are the documented bounded-
global-window exception (#days rows); the period grid explode is
14×#days; ``hill_tail_index``'s top-(k+1) is a distributed
TakeOrdered (never a full sort); ``negbin_fit``'s grid is the
dimension-sized users × days cross join (left-joined counts);
``word_adaptation`` is two partial aggs + one bounded top-K.

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from .queries import _t

# Periodogram integer period grid: 2.._PG_MAX days.
_PG_MAX = 15

# Hill estimator order-statistic count.
_HILL_K = 100

# Word-adaptation head size.
_WA_K = 10


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("bigint").alias("y"))
    )


# ---------------------------------------------------------------------------
# periodogram_power — integer-exact DFT power over the period grid
# ---------------------------------------------------------------------------


def q_periodogram_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram of the daily series at periods 2..``_PG_MAX``.

    The mean-centered, total-normalized day term is
    x_i = y_i/S − 1/n (so Σx = 0 and |x| ≤ 1); its cos/sin
    projections are micro-quantized per (day, period) BEFORE the sum
    over days, making sc/ss exact BIGINTs and power = sc² + ss² an
    exact integer in micro² units.  Shares are integer round-half-up
    against the grid total.

    Scale: daily partial agg, one #days row_number (the bounded
    exception), a 14× map-side explode, per-period partial aggs, a
    14-row share window.
    """
    wi = Window.orderBy("d")
    idx = (
        _daily(spark, sf_dir)
        .withColumn("i", (F.row_number().over(wi) - 1).cast("bigint"))
        .withColumn("n", F.count("*").over(Window.partitionBy()).cast("bigint"))
        .withColumn("s", F.sum("y").over(Window.partitionBy()).cast("bigint"))
    )
    terms = idx.select(
        F.explode(F.expr(f"sequence(2, {_PG_MAX})")).alias("p"),
        F.expr(
            """
            CAST(floor((CAST(y AS DOUBLE) / s - 1.0 / n)
              * cos(2 * pi() * CAST(i AS DOUBLE) / p) * 1e6 + 0.5)
              AS BIGINT)
            """
        ).alias("tc"),
        F.expr(
            """
            CAST(floor((CAST(y AS DOUBLE) / s - 1.0 / n)
              * sin(2 * pi() * CAST(i AS DOUBLE) / p) * 1e6 + 0.5)
              AS BIGINT)
            """
        ).alias("ts_"),
    )
    per = terms.groupBy("p").agg(
        F.sum("tc").cast("bigint").alias("sc"),
        F.sum("ts_").cast("bigint").alias("ss"),
    )
    wall = Window.partitionBy()
    return (
        per.select(
            F.col("p").alias("period"),
            F.expr("sc * sc + ss * ss").cast("bigint").alias("power_u"),
        )
        .withColumn(
            "share",
            F.expr(
                """
                CASE WHEN sum(power_u) OVER () = 0 THEN 0.0 ELSE
                  (2000000 * power_u + sum(power_u) OVER ())
                    DIV (2 * sum(power_u) OVER ()) / 1e6
                END
                """
            ),
        )
        .orderBy("period")
    )


ORACLE_PERIODOGRAM_POWER = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1),
idx AS (
  SELECT CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS i, y,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(y) OVER () AS BIGINT) AS s
  FROM daily),
terms AS (
  SELECT p,
         CAST(floor((CAST(y AS DOUBLE) / s - 1.0 / n)
           * cos(2 * pi() * CAST(i AS DOUBLE) / p) * 1e6 + 0.5)
           AS BIGINT) AS tc,
         CAST(floor((CAST(y AS DOUBLE) / s - 1.0 / n)
           * sin(2 * pi() * CAST(i AS DOUBLE) / p) * 1e6 + 0.5)
           AS BIGINT) AS ts_
  FROM idx CROSS JOIN (SELECT unnest(range(2, {_PG_MAX + 1})) AS p)),
per AS (
  SELECT p AS period,
         CAST(sum(tc) * sum(tc) + sum(ts_) * sum(ts_) AS BIGINT)
           AS power_u
  FROM terms GROUP BY p)
SELECT period, power_u,
       CASE WHEN sum(power_u) OVER () = 0 THEN 0.0 ELSE
         (2000000 * power_u + sum(power_u) OVER ())
           // (2 * sum(power_u) OVER ()) / 1e6
       END AS share
FROM per ORDER BY period
"""


# ---------------------------------------------------------------------------
# hill_tail_index — Hill estimator over the top-k value order stats
# ---------------------------------------------------------------------------


def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index α̂ over the top ``_HILL_K`` event values.

    Values quantize to exact integer cents; the top k+1 multiset is
    deterministic under ties (equal boundary values contribute equal
    ln terms), and Σ_top-k (ln x_i − ln x_(k+1)) collapses to the
    tie-safe Σ_top-(k+1) ln x_i − (k+1)·ln x_min.  Per-row ln terms
    are micro-quantized before the sum; α̂ = k·1e6 / hill_sum is
    row-local.

    Scale: one TakeOrdered top-(k+1) (distributed partial top-k,
    never a global sort), one (k+1)-row reduce.
    """
    k = _HILL_K
    top = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("c")
        )
        .where(F.col("c") > 0)
        .orderBy(F.col("c").desc())
        .limit(k + 1)
    )
    agg = top.groupBy().agg(
        F.count("*").cast("bigint").alias("m"),
        F.min("c").cast("bigint").alias("xk_cents"),
        F.sum(
            F.expr(
                "CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("q"),
    )
    return agg.select(
        (F.col("m") - 1).alias("k"),
        "xk_cents",
        F.expr(
            """
            CAST(q - m * CAST(floor(ln(CAST(xk_cents AS DOUBLE)) * 1e6
              + 0.5) AS BIGINT) AS BIGINT)
            """
        ).alias("hill_sum_u"),
    ).select(
        "k",
        "xk_cents",
        "hill_sum_u",
        F.expr(
            """
            CASE WHEN hill_sum_u <= 0 OR k <= 0 THEN 0.0 ELSE
              CAST(floor(CAST(k AS DOUBLE) * 1e6 / hill_sum_u * 1e6 + 0.5)
                AS BIGINT) / 1e6
            END
            """
        ).alias("alpha"),
    )


ORACLE_HILL_TAIL_INDEX = f"""
WITH top AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
  WHERE value IS NOT NULL AND floor(value * 100 + 0.5) > 0
  ORDER BY c DESC LIMIT {_HILL_K + 1}),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(min(c) AS BIGINT) AS xk_cents,
         CAST(sum(CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS q
  FROM top),
mid AS (
  SELECT m - 1 AS k, xk_cents,
         CAST(q - m * CAST(floor(ln(CAST(xk_cents AS DOUBLE)) * 1e6
           + 0.5) AS BIGINT) AS BIGINT) AS hill_sum_u
  FROM agg)
SELECT k, xk_cents, hill_sum_u,
       CASE WHEN hill_sum_u <= 0 OR k <= 0 THEN 0.0 ELSE
         CAST(floor(CAST(k AS DOUBLE) * 1e6 / hill_sum_u * 1e6 + 0.5)
           AS BIGINT) / 1e6
       END AS alpha
FROM mid
"""


# ---------------------------------------------------------------------------
# negbin_fit — MoM negative-binomial fit of per-(user, day) counts
# ---------------------------------------------------------------------------


def q_negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments NB fit on the users × days count grid.

    Structural zeros are real observations: the grid is the cross
    join of the user and day dimensions (dimension-sized, never
    corpus-sized) left-joined with the observed cells.  Moments are
    exact BIGINTs; dispersion = v/m̄, r = m̄²/(v−m̄), p = m̄/v are
    row-local on one row.

    Scale: one (user, day) partial agg, two tiny dims, one grid left
    join, one 1-row reduce.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    cells = ev.groupBy("user_id", "d").agg(
        F.count("*").cast("bigint").alias("c")
    )
    users = ev.select("user_id").distinct()
    days = ev.select("d").distinct()
    grid = users.crossJoin(days).join(
        cells, ["user_id", "d"], "left"
    ).select(F.coalesce("c", F.lit(0)).cast("bigint").alias("c"))
    agg = grid.groupBy().agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.expr("c * c")).cast("bigint").alias("s2"),
    )
    mid = agg.select(
        "n_cells",
        F.col("s1").alias("n_events"),
        F.expr("CAST(s1 AS DOUBLE) / n_cells").alias("m_raw"),
        F.expr(
            """
            CASE WHEN n_cells < 2 THEN 0.0 ELSE
              CAST(n_cells * s2 - s1 * s1 AS DOUBLE)
                / (CAST(n_cells AS DOUBLE) * (n_cells - 1))
            END
            """
        ).alias("v_raw"),
    )
    return mid.select(
        "n_cells",
        "n_events",
        F.expr(
            "CAST(floor(m_raw * 1e6 + 0.5) AS BIGINT) / 1e6"
        ).alias("mean_count"),
        F.expr(
            "CAST(floor(v_raw * 1e6 + 0.5) AS BIGINT) / 1e6"
        ).alias("var_count"),
        F.expr(
            """
            CASE WHEN m_raw <= 0 THEN 0.0 ELSE
              CAST(floor(v_raw / m_raw * 1e6 + 0.5) AS BIGINT) / 1e6
            END
            """
        ).alias("dispersion"),
        F.expr(
            """
            CASE WHEN v_raw <= m_raw THEN 0.0 ELSE
              CAST(floor(m_raw * m_raw / (v_raw - m_raw) * 1e6 + 0.5)
                AS BIGINT) / 1e6
            END
            """
        ).alias("nb_r"),
        F.expr(
            """
            CASE WHEN v_raw <= 0 THEN 0.0 ELSE
              CAST(floor(m_raw / v_raw * 1e6 + 0.5) AS BIGINT) / 1e6
            END
            """
        ).alias("nb_p"),
        F.expr(
            "CASE WHEN v_raw > m_raw THEN 'overdispersed'"
            " ELSE 'poisson-like' END"
        ).alias("verdict"),
    )


ORACLE_NEGBIN_FIT = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS d FROM events),
cells AS (
  SELECT user_id, d, CAST(count(*) AS BIGINT) AS c
  FROM ev GROUP BY 1, 2),
grid AS (
  SELECT CAST(coalesce(c, 0) AS BIGINT) AS c
  FROM (SELECT DISTINCT user_id FROM ev) u
  CROSS JOIN (SELECT DISTINCT d FROM ev) dd
  LEFT JOIN cells USING (user_id, d)),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2
  FROM grid),
mid AS (
  SELECT n_cells, s1 AS n_events,
         CAST(s1 AS DOUBLE) / n_cells AS m_raw,
         CASE WHEN n_cells < 2 THEN 0.0 ELSE
           CAST(n_cells * s2 - s1 * s1 AS DOUBLE)
             / (CAST(n_cells AS DOUBLE) * (n_cells - 1))
         END AS v_raw
  FROM agg)
SELECT n_cells, n_events,
       CAST(floor(m_raw * 1e6 + 0.5) AS BIGINT) / 1e6 AS mean_count,
       CAST(floor(v_raw * 1e6 + 0.5) AS BIGINT) / 1e6 AS var_count,
       CASE WHEN m_raw <= 0 THEN 0.0 ELSE
         CAST(floor(v_raw / m_raw * 1e6 + 0.5) AS BIGINT) / 1e6
       END AS dispersion,
       CASE WHEN v_raw <= m_raw THEN 0.0 ELSE
         CAST(floor(m_raw * m_raw / (v_raw - m_raw) * 1e6 + 0.5)
           AS BIGINT) / 1e6
       END AS nb_r,
       CASE WHEN v_raw <= 0 THEN 0.0 ELSE
         CAST(floor(m_raw / v_raw * 1e6 + 0.5) AS BIGINT) / 1e6
       END AS nb_p,
       CASE WHEN v_raw > m_raw THEN 'overdispersed'
            ELSE 'poisson-like' END AS verdict
FROM mid
"""


# ---------------------------------------------------------------------------
# haar_energy — 2-level integer Haar decomposition of the daily series
# ---------------------------------------------------------------------------


def q_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-level unnormalized Haar energies over 4·(n DIV 4) days.

    Level 1 pairs adjacent days (a1 = sum, d1 = difference); level 2
    pairs the level-1 approximations.  With ×4 scaling every energy
    is an exact integer and Parseval holds exactly:
    4·Σy² = 2·Σd1² + Σd2² + Σa2² (asserted in tests).  The detail
    share (2·Σd1² + Σd2²)/(4·Σy²) is the high-frequency energy
    fraction.

    Scale: daily partial agg, the bounded #days row_number, two
    pair-partitioned aggs (2- and 4-day frames), one 1-row reduce.
    """
    wi = Window.orderBy("d")
    idx = (
        _daily(spark, sf_dir)
        .withColumn("i", (F.row_number().over(wi) - 1).cast("bigint"))
        .withColumn(
            "n4",
            F.expr(
                "4 * (CAST(count(*) OVER () AS BIGINT) DIV 4)"
            ),
        )
        .where(F.col("i") < F.col("n4"))
    )
    lvl1 = idx.groupBy(F.expr("i DIV 2").alias("j")).agg(
        F.sum("y").cast("bigint").alias("a1"),
        F.sum(F.expr("CASE WHEN i % 2 = 0 THEN y ELSE -y END"))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.expr("y * y")).cast("bigint").alias("yy"),
    )
    lvl2 = lvl1.groupBy(F.expr("j DIV 2").alias("j2")).agg(
        F.sum("a1").cast("bigint").alias("a2"),
        F.sum(F.expr("CASE WHEN j % 2 = 0 THEN a1 ELSE -a1 END"))
        .cast("bigint")
        .alias("d2"),
        F.sum(F.expr("d1 * d1")).cast("bigint").alias("dd1"),
        F.sum("yy").cast("bigint").alias("yy"),
        F.count("*").cast("bigint").alias("pairs"),
    )
    agg = lvl2.groupBy().agg(
        # each lvl2 row covers `pairs` lvl1 pairs = 2*pairs days
        F.sum(F.expr("2 * pairs")).cast("bigint").alias("n_days_used"),
        F.sum(F.expr("4 * yy")).cast("bigint").alias("e_total_x4"),
        F.sum(F.expr("2 * dd1")).cast("bigint").alias("e_d1_x4"),
        F.sum(F.expr("d2 * d2")).cast("bigint").alias("e_d2_x4"),
        F.sum(F.expr("a2 * a2")).cast("bigint").alias("e_a2_x4"),
    )
    return agg.select(
        "n_days_used",
        "e_total_x4",
        "e_d1_x4",
        "e_d2_x4",
        "e_a2_x4",
        F.expr(
            """
            CASE WHEN e_total_x4 = 0 THEN 0.0 ELSE
              (2000000 * (e_d1_x4 + e_d2_x4) + e_total_x4)
                DIV (2 * e_total_x4) / 1e6
            END
            """
        ).alias("detail_share"),
    )


ORACLE_HAAR_ENERGY = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1),
idx AS (
  SELECT CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS i, y,
         4 * (CAST(count(*) OVER () AS BIGINT) // 4) AS n4
  FROM daily),
kept AS (SELECT i, y FROM idx WHERE i < n4),
lvl1 AS (
  SELECT i // 2 AS j,
         CAST(sum(y) AS BIGINT) AS a1,
         CAST(sum(CASE WHEN i % 2 = 0 THEN y ELSE -y END) AS BIGINT)
           AS d1,
         CAST(sum(y * y) AS BIGINT) AS yy
  FROM kept GROUP BY 1),
lvl2 AS (
  SELECT j // 2 AS j2,
         CAST(sum(a1) AS BIGINT) AS a2,
         CAST(sum(CASE WHEN j % 2 = 0 THEN a1 ELSE -a1 END) AS BIGINT)
           AS d2,
         CAST(sum(d1 * d1) AS BIGINT) AS dd1,
         CAST(sum(yy) AS BIGINT) AS yy,
         CAST(count(*) AS BIGINT) AS pairs
  FROM lvl1 GROUP BY 1),
agg AS (
  SELECT CAST(sum(2 * pairs) AS BIGINT) AS n_days_used,
         CAST(sum(4 * yy) AS BIGINT) AS e_total_x4,
         CAST(sum(2 * dd1) AS BIGINT) AS e_d1_x4,
         CAST(sum(d2 * d2) AS BIGINT) AS e_d2_x4,
         CAST(sum(a2 * a2) AS BIGINT) AS e_a2_x4
  FROM lvl2)
SELECT n_days_used, e_total_x4, e_d1_x4, e_d2_x4,
       e_a2_x4,
       CASE WHEN e_total_x4 = 0 THEN 0.0 ELSE
         (2000000 * (e_d1_x4 + e_d2_x4) + e_total_x4)
           // (2 * e_total_x4) / 1e6
       END AS detail_share
FROM agg
"""


# ---------------------------------------------------------------------------
# word_adaptation — Church burstiness of the top corpus tokens
# ---------------------------------------------------------------------------


def q_word_adaptation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-style adaptation for the top ``_WA_K`` tokens by corpus
    frequency (ties → token asc): P(repeat | appears) = df₂/df vs
    the base rate df/D; adaptation = (df₂/df)/(df/D).

    Scale: one (token, doc) partial agg, one per-token agg, a
    bounded top-K, one broadcast 1-row doc total.
    """
    td = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "filter(split(coalesce(text, ''), ' '), x -> x <> '')"
                )
            ).alias("tok"),
        )
        .groupBy("tok", "doc_id")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    per = td.groupBy("tok").agg(
        F.sum("c").cast("bigint").alias("cf"),
        F.count("*").cast("bigint").alias("df"),
        F.sum(F.expr("CASE WHEN c >= 2 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("df2"),
    )
    ndocs = (
        _t(spark, sf_dir, "documents")
        .groupBy()
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    top = (
        per.orderBy(F.col("cf").desc(), "tok")
        .limit(_WA_K)
        .crossJoin(F.broadcast(ndocs))
    )
    return top.select(
        "tok",
        "cf",
        "df",
        "df2",
        "n_docs",
        F.expr("(2000000 * df2 + df) DIV (2 * df) / 1e6").alias(
            "p_repeat"
        ),
        F.expr(
            """
            CASE WHEN df2 = 0 THEN 0.0 ELSE
              CAST(floor(CAST(df2 AS DOUBLE) / df
                / (CAST(df AS DOUBLE) / n_docs) * 1e6 + 0.5)
                AS BIGINT) / 1e6
            END
            """
        ).alias("adaptation"),
    ).orderBy(F.col("cf").desc(), "tok")


ORACLE_WORD_ADAPTATION = f"""
WITH td AS (
  SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id,
               unnest(list_filter(string_split(coalesce(text, ''), ' '),
                                  x -> x <> '')) AS tok
        FROM documents)
  GROUP BY 1, 2),
per AS (
  SELECT tok, CAST(sum(c) AS BIGINT) AS cf,
         CAST(count(*) AS BIGINT) AS df,
         CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS df2
  FROM td GROUP BY tok),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
top AS (
  SELECT * FROM per, nd ORDER BY cf DESC, tok LIMIT {_WA_K})
SELECT tok, cf, df, df2, n_docs,
       (2000000 * df2 + df) // (2 * df) / 1e6 AS p_repeat,
       CASE WHEN df2 = 0 THEN 0.0 ELSE
         CAST(floor(CAST(df2 AS DOUBLE) / df
           / (CAST(df AS DOUBLE) / n_docs) * 1e6 + 0.5)
           AS BIGINT) / 1e6
       END AS adaptation
FROM top ORDER BY cf DESC, tok
"""


SPECTRAL_QUERIES = {
    "periodogram_power": q_periodogram_power,
    "hill_tail_index": q_hill_tail_index,
    "negbin_fit": q_negbin_fit,
    "haar_energy": q_haar_energy,
    "word_adaptation": q_word_adaptation,
}

SPECTRAL_ORACLES = {
    "periodogram_power": ORACLE_PERIODOGRAM_POWER,
    "hill_tail_index": ORACLE_HILL_TAIL_INDEX,
    "negbin_fit": ORACLE_NEGBIN_FIT,
    "haar_energy": ORACLE_HAAR_ENERGY,
    "word_adaptation": ORACLE_WORD_ADAPTATION,
}

_q.QUERIES.update(SPECTRAL_QUERIES)
_q.ORACLES.update(SPECTRAL_ORACLES)
