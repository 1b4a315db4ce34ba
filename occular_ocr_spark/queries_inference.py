"""Classical-inference catalog, round 4 (wave 51): five operators
completing the hypothesis-testing family with the variance,
repeated-measures, portmanteau, serial-correlation, and paired-binary
surfaces —

* ``bartlett_test`` — Bartlett's test of equal token-count variances
  across sources: per-source variances from exact BIGINT moment sums,
  the three cross-source reductions (Σ(nᵢ−1)ln Sᵢ², Σ(nᵢ−1)Sᵢ²,
  Σ1/(nᵢ−1)) micro-quantized per group before summing, the
  T = [(N−k)ln Sp² − Σ(nᵢ−1)ln Sᵢ²]/C final row-local.  The
  parametric (normal-theory) textbook test of equal variances.
* ``friedman_test`` — Friedman's repeated-measures rank test over the
  weeks × day-slot design: blocks are complete 7-day windows from the
  first observed day, treatments are the 7 slots, the blocked value
  is the daily event count.  Doubled midranks (2c+t+1) keep every
  intermediate an exact BIGINT; the tie-general statistic
  Q = (k−1)·Σⱼ(R2ⱼ−n(k+1))² / (A2 − nk(k+1)²) is one exact-integer
  division.  The blocked rank test beside ``weekday_seasonality``
  (means, no test).
* ``ljung_box`` — the Ljung–Box portmanteau Q over the daily count
  series at lags 1..7: autocorrelations from the exact
  DECIMAL(38,0) deviation products (the ``autocorr_daily`` doctrine,
  but index-adjacent over the row_number'd series, not
  calendar-adjacent), per-lag terms n(n+2)ρ̂ₖ²/(n−k) micro-quantized,
  Q cumulative over the 7-row lag frame.  Tests "ANY serial
  correlation up to lag L" where ``autocorr_daily`` reports each lag
  unaggregated.
* ``durbin_watson`` — the Durbin–Watson first-order serial-
  correlation statistic of the residuals of daily count on day index.
  Scaled residuals e'ₜ = nD·yₜ − (Sy·D − bnum·St) − n·bnum·t are
  EXACT DECIMAL(38,0) integers (D = n·Stt − St², bnum = n·Sty −
  St·Sy), so Σ(e'ₜ−e'ₜ₋₁)² / Σe'ₜ² is one exact-integer division.
  The regression-residual companion to ``ljung_box`` (raw series).
* ``mcnemar_test`` — McNemar's continuity-corrected paired-binary
  test of per-user purchase conversion in the first vs second half of
  the observed date range: the 2×2 discordant/concordant table from
  one per-user partial agg, χ²_cc = (|b−c|−1)²/(b+c) row-local.
  The within-subject companion to ``two-proportion`` ``power_analysis``
  (independent samples).

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus physical-plan assertions in tests/test_inference_wave.py.

Cross-engine float policy (the corr_matrix / zipf_fit doctrine):
cross-row float reductions are micro-quantized (floor(x·1e6+0.5))
before summing; rank sums, deviation products, and DW residuals are
exact integers (BIGINT / DECIMAL(38,0)); ln/sqrt finals are row-local
IEEE on exact or quantized inputs.

Scale notes: every operator collapses the raw scan to a bounded frame
first — per-source moment partial aggs (≤ #sources rows), per-day
partial aggs (≤ #days rows), per-user flag partial aggs (one shuffle
on user_id, then a 1-row reduce).  Windows order only the ≤ #days /
≤ 7-row frames; no corpus-sized window appears anywhere.

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from .queries import _t

# Ljung-Box / Friedman design constants
_LB_MAX_LAG = 7
_FR_K = 7

_TOKN = "size(filter(split(coalesce(text, ''), ' '), x -> x <> ''))"
_TOKN_DUCK = (
    "len(list_filter(string_split(coalesce(text, ''), ' '), x -> x <> ''))"
)


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )


# ---------------------------------------------------------------------------
# bartlett_test — equal-variance test across sources
# ---------------------------------------------------------------------------


def q_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's T for homogeneity of token-count variance across
    sources.  Groups with n<2 or zero variance are excluded (T is
    undefined there; documented, mirrored by the oracle).

    Scale: one per-source moment partial agg, a ≤ #sources-row term
    frame, one 1-row reduce.
    """
    per = (
        _t(spark, sf_dir, "documents")
        .select(
            F.coalesce("source", F.lit("")).alias("g"),
            F.expr(_TOKN).cast("bigint").alias("x"),
        )
        .groupBy("g")
        .agg(
            F.count("*").cast("bigint").alias("n_g"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        )
        .where("n_g >= 2 AND n_g * sxx - sx * sx > 0")
    )
    terms = per.select(
        "n_g",
        F.expr(
            """
            CAST(floor(
              (n_g - 1) * ln(
                CAST(n_g * sxx - sx * sx AS DOUBLE) / n_g / (n_g - 1)
              ) * 1e6 + 0.5) AS BIGINT)
            """
        ).alias("t_ln"),
        F.expr(
            """
            CAST(floor(
              CAST(n_g * sxx - sx * sx AS DOUBLE) / n_g * 1e6 + 0.5
            ) AS BIGINT)
            """
        ).alias("t_sp"),
        F.expr(
            "CAST(floor(1.0 / (n_g - 1) * 1e6 + 0.5) AS BIGINT)"
        ).alias("t_inv"),
    )
    agg = terms.groupBy().agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("t_ln").cast("bigint").alias("sum_ln"),
        F.sum("t_sp").cast("bigint").alias("sum_sp"),
        F.sum("t_inv").cast("bigint").alias("sum_inv"),
    )
    return agg.select(
        "k",
        "n",
        F.expr(
            """
            CASE WHEN k < 2 OR n <= k THEN 0.0 ELSE
              CAST(floor(sum_sp / 1e6 / (n - k) * 1e6 + 0.5) AS BIGINT)
                / 1e6
            END
            """
        ).alias("pooled_var"),
        F.expr(
            """
            CASE WHEN k < 2 OR n <= k OR sum_sp <= 0 THEN 0.0 ELSE
              CAST(floor(
                ((n - k) * ln(sum_sp / 1e6 / (n - k)) - sum_ln / 1e6)
                / (1.0 + (sum_inv / 1e6 - 1.0 / (n - k)) / (3.0 * (k - 1)))
                * 1e6 + 0.5) AS BIGINT) / 1e6
            END
            """
        ).alias("t_stat"),
    )


ORACLE_BARTLETT_TEST = f"""
WITH per AS (
  SELECT coalesce(source, '') AS g,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum({_TOKN_DUCK}) AS BIGINT) AS sx,
         CAST(sum(CAST({_TOKN_DUCK} AS BIGINT)
                  * CAST({_TOKN_DUCK} AS BIGINT)) AS BIGINT) AS sxx
  FROM documents GROUP BY 1),
flt AS (SELECT * FROM per
        WHERE n_g >= 2 AND n_g * sxx - sx * sx > 0),
terms AS (
  SELECT n_g,
         CAST(floor(
           (n_g - 1) * ln(
             CAST(n_g * sxx - sx * sx AS DOUBLE) / n_g / (n_g - 1)
           ) * 1e6 + 0.5) AS BIGINT) AS t_ln,
         CAST(floor(
           CAST(n_g * sxx - sx * sx AS DOUBLE) / n_g * 1e6 + 0.5
         ) AS BIGINT) AS t_sp,
         CAST(floor(1.0 / (n_g - 1) * 1e6 + 0.5) AS BIGINT) AS t_inv
  FROM flt),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(t_ln) AS BIGINT) AS sum_ln,
         CAST(sum(t_sp) AS BIGINT) AS sum_sp,
         CAST(sum(t_inv) AS BIGINT) AS sum_inv
  FROM terms)
SELECT k, n,
       CASE WHEN k < 2 OR n <= k THEN 0.0 ELSE
         CAST(floor(sum_sp / 1e6 / (n - k) * 1e6 + 0.5) AS BIGINT) / 1e6
       END AS pooled_var,
       CASE WHEN k < 2 OR n <= k OR sum_sp <= 0 THEN 0.0 ELSE
         CAST(floor(
           ((n - k) * ln(sum_sp / 1e6 / (n - k)) - sum_ln / 1e6)
           / (1.0 + (sum_inv / 1e6 - 1.0 / (n - k)) / (3.0 * (k - 1)))
           * 1e6 + 0.5) AS BIGINT) / 1e6
       END AS t_stat
FROM agg
"""


# ---------------------------------------------------------------------------
# friedman_test — blocked rank test over weeks x day-slot
# ---------------------------------------------------------------------------


def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman Q over complete 7-day blocks anchored at the first
    observed day; treatments are the in-block day slots 0..6, values
    are daily event counts.  Incomplete blocks (< 7 observed days)
    are dropped (documented, mirrored).  Doubled midranks keep the
    statistic integer-exact; W = Q/(n(k−1)) is Kendall's concordance
    of the same design.

    Scale: per-day partial agg, bounded ≤ #days frames throughout;
    the in-block rank window orders 7-row frames only.
    """
    daily = _daily(spark, sf_dir)
    m0 = daily.groupBy().agg(F.min("day").alias("d0"))
    slotted = daily.crossJoin(F.broadcast(m0)).select(
        F.expr("CAST(floor(datediff(day, d0) / 7.0) AS BIGINT)").alias("b"),
        F.expr("CAST(datediff(day, d0) % 7 AS BIGINT)").alias("slot"),
        "x",
    )
    full = (
        slotted.groupBy("b")
        .agg(F.count("*").cast("bigint").alias("nb"))
        .where(F.col("nb") == _FR_K)
        .select("b")
    )
    sl = slotted.join(full, "b")
    # doubled midrank per (block, value): 2c + t + 1 over the 7-row block
    bv = sl.groupBy("b", "x").agg(F.count("*").cast("bigint").alias("m"))
    wb = (
        Window.partitionBy("b")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bvr = bv.withColumn(
        "s",
        2 * F.coalesce(F.sum("m").over(wb), F.lit(0)) + F.col("m") + 1,
    )
    ranked = sl.join(bvr, ["b", "x"]).select("b", "slot", "s")
    a2 = ranked.groupBy().agg(
        F.sum(F.expr("s * s")).cast("bigint").alias("a2"),
        (F.countDistinct("b")).cast("bigint").alias("n_blocks"),
    )
    rj = ranked.groupBy("slot").agg(
        F.sum("s").cast("bigint").alias("r2")
    )
    num = (
        rj.crossJoin(F.broadcast(a2))
        .select(
            F.expr("(r2 - 8 * n_blocks) * (r2 - 8 * n_blocks)").alias("d2"),
            "a2",
            "n_blocks",
        )
        .groupBy()
        .agg(
            F.sum("d2").cast("bigint").alias("sd2"),
            F.max("a2").cast("bigint").alias("a2"),
            F.max("n_blocks").cast("bigint").alias("n_blocks"),
        )
    )
    return num.select(
        "n_blocks",
        F.expr(
            """
            CASE WHEN n_blocks < 1 OR a2 - 448 * n_blocks <= 0 THEN 0.0
            ELSE CAST(floor(
              6.0 * sd2 / (a2 - 448 * n_blocks) * 1e6 + 0.5
            ) AS BIGINT) / 1e6 END
            """
        ).alias("q_stat"),
        F.expr(
            """
            CASE WHEN n_blocks < 1 OR a2 - 448 * n_blocks <= 0 THEN 0.0
            ELSE CAST(floor(
              sd2 / (a2 - 448.0 * n_blocks) / n_blocks * 1e6 + 0.5
            ) AS BIGINT) / 1e6 END
            """
        ).alias("w_concord"),
    )


ORACLE_FRIEDMAN_TEST = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1),
m0 AS (SELECT min(day) AS d0 FROM daily),
slotted AS (
  SELECT CAST(floor(date_diff('day', d0, day) / 7.0) AS BIGINT) AS b,
         CAST(date_diff('day', d0, day) % 7 AS BIGINT) AS slot, x
  FROM daily, m0),
full_b AS (SELECT b FROM slotted GROUP BY b HAVING count(*) = 7),
sl AS (SELECT s.* FROM slotted s JOIN full_b USING (b)),
bv AS (SELECT b, x, CAST(count(*) AS BIGINT) AS m FROM sl GROUP BY 1, 2),
bvr AS (
  SELECT b, x,
         2 * coalesce(sum(m) OVER (PARTITION BY b ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + m + 1 AS s
  FROM bv),
ranked AS (SELECT sl.b, sl.slot, bvr.s
           FROM sl JOIN bvr ON sl.b = bvr.b AND sl.x = bvr.x),
a2t AS (SELECT CAST(sum(s * s) AS BIGINT) AS a2,
               CAST(count(DISTINCT b) AS BIGINT) AS n_blocks
        FROM ranked),
rj AS (SELECT slot, CAST(sum(s) AS BIGINT) AS r2 FROM ranked GROUP BY slot),
num AS (
  SELECT CAST(sum((r2 - 8 * n_blocks) * (r2 - 8 * n_blocks)) AS BIGINT)
           AS sd2,
         CAST(max(a2) AS BIGINT) AS a2,
         CAST(max(n_blocks) AS BIGINT) AS n_blocks
  FROM rj, a2t)
SELECT n_blocks,
       CASE WHEN n_blocks < 1 OR a2 - 448 * n_blocks <= 0 THEN 0.0
       ELSE CAST(floor(
         6.0 * sd2 / (a2 - 448 * n_blocks) * 1e6 + 0.5
       ) AS BIGINT) / 1e6 END AS q_stat,
       CASE WHEN n_blocks < 1 OR a2 - 448 * n_blocks <= 0 THEN 0.0
       ELSE CAST(floor(
         sd2 / (a2 - 448.0 * n_blocks) / n_blocks * 1e6 + 0.5
       ) AS BIGINT) / 1e6 END AS w_concord
FROM num
"""


# ---------------------------------------------------------------------------
# ljung_box — portmanteau Q over the indexed daily series
# ---------------------------------------------------------------------------


def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box Q at lags 1..7 of the daily event count, indexed by
    row_number over day order (index-adjacent pairs — a missing
    calendar day closes the gap on both engines identically).
    Deviations n·xₜ − S are exact DECIMAL(38,0); per-lag terms
    n(n+2)ρ̂ₖ²/(n−k) quantize on the 6-decimal rounded ρ̂ₖ; Q
    accumulates over the 7-row lag frame.

    Scale: per-day partial agg; the row_number window orders the
    ≤ #days frame; the lag join is index-keyed.
    """
    daily = _daily(spark, sf_dir)
    wi = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(wi).cast("bigint").alias("t"), "x"
    )
    idx = _q._persist_tracked(idx)
    tot = idx.groupBy().agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
    )
    dev = idx.crossJoin(F.broadcast(tot)).select(
        "t", (F.col("n") * F.col("x") - F.col("s")).alias("v"),
        F.col("n").cast("bigint").alias("nn"),
    )
    dev = _q._persist_tracked(dev)
    den = dev.groupBy().agg(F.sum(F.col("v") * F.col("v")).alias("den"))
    lagged = dev.select(
        "t", F.col("v").alias("va"), "nn",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _LB_MAX_LAG + 1)])
        ).alias("lag"),
    ).withColumn("t_b", F.col("t") + F.col("lag"))
    right = dev.select(F.col("t").alias("t_b"), F.col("v").alias("vb"))
    pairs = lagged.join(right, "t_b")
    num = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.col("va") * F.col("vb")).alias("num"),
        F.max("nn").cast("bigint").alias("nn"),
    )
    acf = num.crossJoin(F.broadcast(den)).select(
        F.col("lag").cast("int").alias("lag"),
        "n_pairs",
        F.round(
            F.col("num").cast("double") / F.col("den").cast("double"), 6
        ).alias("acf"),
        "nn",
    )
    term = acf.select(
        "lag",
        "n_pairs",
        "acf",
        F.expr(
            """
            CASE WHEN nn <= lag THEN CAST(0 AS BIGINT) ELSE
              CAST(floor(
                nn * (nn + 2.0) / (nn - lag) * acf * acf * 1e6 + 0.5
              ) AS BIGINT) END
            """
        ).alias("tq"),
    )
    wq = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    return term.select(
        "lag",
        "n_pairs",
        "acf",
        (F.sum("tq").over(wq).cast("bigint") / F.lit(1e6)).alias("q_lb"),
    )


ORACLE_LJUNG_BOX = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1),
idx AS (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, x
  FROM daily),
tot AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
               CAST(sum(x) AS DECIMAL(38,0)) AS s FROM idx),
dev AS (SELECT t, n * x - s AS v, CAST(n AS BIGINT) AS nn FROM idx, tot),
den AS (SELECT sum(v * v) AS den FROM dev),
lags AS (SELECT CAST(unnest(generate_series(1, {_LB_MAX_LAG})) AS INTEGER)
           AS lag),
pairs AS (
  SELECT l.lag, a.va, b.v AS vb, a.nn
  FROM (SELECT t, v AS va, nn FROM dev) a
  CROSS JOIN lags l
  JOIN dev b ON b.t = a.t + l.lag),
num AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs, sum(va * vb) AS num,
         CAST(max(nn) AS BIGINT) AS nn
  FROM pairs GROUP BY lag),
acf AS (
  SELECT CAST(lag AS INT) AS lag, n_pairs,
         round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf, nn
  FROM num, den),
term AS (
  SELECT lag, n_pairs, acf,
         CASE WHEN nn <= lag THEN CAST(0 AS BIGINT) ELSE
           CAST(floor(
             nn * (nn + 2.0) / (nn - lag) * acf * acf * 1e6 + 0.5
           ) AS BIGINT) END AS tq
  FROM acf)
SELECT lag, n_pairs, acf,
       CAST(sum(tq) OVER (ORDER BY lag
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         / 1e6 AS q_lb
FROM term
"""


# ---------------------------------------------------------------------------
# durbin_watson — serial correlation of detrended daily counts
# ---------------------------------------------------------------------------


def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson over residuals of daily count on day index.
    Scaled residuals e'ₜ = nD·yₜ − (Sy·D − bnum·St) − n·bnum·t are
    exact DECIMAL(38,0) (the common factor nD cancels in the ratio),
    so num/den is one exact-integer division.

    Scale: per-day partial agg, one ≤ #days window for the index and
    one for the lag difference, 1-row moment broadcasts.
    """
    daily = _daily(spark, sf_dir)
    wi = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(wi).cast("decimal(38,0)").alias("t"),
        F.col("x").cast("decimal(38,0)").alias("y"),
    )
    idx = _q._persist_tracked(idx)
    mom = idx.groupBy().agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    ).select(
        "n", "st", "sy",
        (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).alias("d"),
        (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).alias(
            "bnum"
        ),
    )
    res = idx.crossJoin(F.broadcast(mom)).select(
        "t",
        (
            F.col("n") * F.col("d") * F.col("y")
            - (F.col("sy") * F.col("d") - F.col("bnum") * F.col("st"))
            - F.col("n") * F.col("bnum") * F.col("t")
        ).alias("e"),
        F.col("n").cast("bigint").alias("nn"),
        F.col("d").alias("d"),
        F.col("bnum").alias("bnum"),
    )
    we = Window.orderBy("t")
    diff = res.select(
        "e",
        (F.col("e") - F.lag("e").over(we)).alias("de"),
        "nn",
        "d",
        "bnum",
    )
    agg = diff.groupBy().agg(
        F.max("nn").alias("n_days"),
        F.sum(F.col("e") * F.col("e")).alias("den"),
        F.sum(F.col("de") * F.col("de")).alias("num"),
        F.max("d").alias("d"),
        F.max("bnum").alias("bnum"),
    )
    return agg.select(
        "n_days",
        F.expr(
            """
            CASE WHEN d = 0 THEN 0.0 ELSE
              CAST(floor(CAST(bnum AS DOUBLE) / CAST(d AS DOUBLE)
                * 1e6 + 0.5) AS BIGINT) / 1e6 END
            """
        ).alias("slope"),
        F.expr(
            """
            CASE WHEN den IS NULL OR den = 0 THEN 0.0 ELSE
              CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                * 1e6 + 0.5) AS BIGINT) / 1e6 END
            """
        ).alias("dw"),
    )


ORACLE_DURBIN_WATSON = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1),
idx AS (
  SELECT CAST(row_number() OVER (ORDER BY day) AS DECIMAL(38,0)) AS t,
         CAST(x AS DECIMAL(38,0)) AS y
  FROM daily),
mom AS (
  SELECT n, st, sy,
         n * stt - st * st AS d,
         n * sty - st * sy AS bnum
  FROM (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
               sum(t) AS st, sum(y) AS sy,
               sum(t * t) AS stt, sum(t * y) AS sty
        FROM idx)),
res AS (
  SELECT t,
         n * d * y - (sy * d - bnum * st) - n * bnum * t AS e,
         CAST(n AS BIGINT) AS nn, d, bnum
  FROM idx, mom),
diff AS (
  SELECT e, e - lag(e) OVER (ORDER BY t) AS de, nn, d, bnum FROM res),
agg AS (
  SELECT max(nn) AS n_days, sum(e * e) AS den, sum(de * de) AS num,
         max(d) AS d, max(bnum) AS bnum
  FROM diff)
SELECT n_days,
       CASE WHEN d = 0 THEN 0.0 ELSE
         CAST(floor(CAST(bnum AS DOUBLE) / CAST(d AS DOUBLE)
           * 1e6 + 0.5) AS BIGINT) / 1e6 END AS slope,
       CASE WHEN den IS NULL OR den = 0 THEN 0.0 ELSE
         CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
           * 1e6 + 0.5) AS BIGINT) / 1e6 END AS dw
FROM agg
"""


# ---------------------------------------------------------------------------
# mcnemar_test — paired early/late conversion
# ---------------------------------------------------------------------------


def q_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's continuity-corrected χ² of per-user purchase
    conversion in the first vs second half of the observed date range
    (split day = min_day + ⌊span/2⌋, early ≤ split < late).

    Scale: one bounds broadcast, one per-user partial agg (the only
    shuffle, keyed on user_id), a 1-row table reduce.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        "event_type",
    )
    bounds = ev.groupBy().agg(
        F.min("day").alias("d_min"), F.max("day").alias("d_max")
    ).select(
        F.expr(
            "date_add(d_min, CAST(floor(datediff(d_max, d_min) / 2.0)"
            " AS INT))"
        ).alias("d_mid")
    )
    flags = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(
                F.expr(
                    "CASE WHEN event_type = 'purchase' AND day <= d_mid"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("e"),
            F.max(
                F.expr(
                    "CASE WHEN event_type = 'purchase' AND day > d_mid"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("l"),
        )
    )
    tab = flags.groupBy().agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.expr("e * l")).cast("bigint").alias("n_both"),
        F.sum(F.expr("(1 - e) * (1 - l)")).cast("bigint").alias(
            "n_neither"
        ),
        F.sum(F.expr("e * (1 - l)")).cast("bigint").alias("n_early_only"),
        F.sum(F.expr("(1 - e) * l")).cast("bigint").alias("n_late_only"),
    )
    return tab.select(
        "n_users",
        "n_both",
        "n_neither",
        "n_early_only",
        "n_late_only",
        F.expr(
            """
            CASE WHEN n_early_only + n_late_only = 0 THEN 0.0 ELSE
              CAST(floor(
                (abs(n_early_only - n_late_only) - 1.0)
                * (abs(n_early_only - n_late_only) - 1.0)
                / (n_early_only + n_late_only) * 1e6 + 0.5
              ) AS BIGINT) / 1e6 END
            """
        ).alias("chi_cc"),
    )


ORACLE_MCNEMAR_TEST = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type FROM events),
bounds AS (
  SELECT min(day) + CAST(floor(date_diff('day', min(day), max(day))
    / 2.0) AS INTEGER) AS d_mid
  FROM ev),
flags AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND day <= d_mid
                  THEN 1 ELSE 0 END) AS e,
         max(CASE WHEN event_type = 'purchase' AND day > d_mid
                  THEN 1 ELSE 0 END) AS l
  FROM ev, bounds GROUP BY user_id),
tab AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(e * l) AS BIGINT) AS n_both,
         CAST(sum((1 - e) * (1 - l)) AS BIGINT) AS n_neither,
         CAST(sum(e * (1 - l)) AS BIGINT) AS n_early_only,
         CAST(sum((1 - e) * l) AS BIGINT) AS n_late_only
  FROM flags)
SELECT n_users, n_both, n_neither, n_early_only, n_late_only,
       CASE WHEN n_early_only + n_late_only = 0 THEN 0.0 ELSE
         CAST(floor(
           (abs(n_early_only - n_late_only) - 1.0)
           * (abs(n_early_only - n_late_only) - 1.0)
           / (n_early_only + n_late_only) * 1e6 + 0.5
         ) AS BIGINT) / 1e6 END AS chi_cc
FROM tab
"""


INFERENCE_QUERIES = {
    "bartlett_test": q_bartlett_test,
    "friedman_test": q_friedman_test,
    "ljung_box": q_ljung_box,
    "durbin_watson": q_durbin_watson,
    "mcnemar_test": q_mcnemar_test,
}

INFERENCE_ORACLES = {
    "bartlett_test": ORACLE_BARTLETT_TEST,
    "friedman_test": ORACLE_FRIEDMAN_TEST,
    "ljung_box": ORACLE_LJUNG_BOX,
    "durbin_watson": ORACLE_DURBIN_WATSON,
    "mcnemar_test": ORACLE_MCNEMAR_TEST,
}

_q.QUERIES.update(INFERENCE_QUERIES)
_q.ORACLES.update(INFERENCE_ORACLES)
