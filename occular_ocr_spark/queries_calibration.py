"""Calibration, multiple-testing & changepoint catalog, round 4
(wave 39): five operators spanning the model-calibration,
multiple-hypothesis, time-series-decomposition, and association
surfaces —

* ``bh_fdr`` — Benjamini–Hochberg step-up FDR control over the
  per-source "is this source's mean doc length unusual?" z-test
  panel: exact integer moments → z → two-sided p via the shared
  Abramowitz–Stegun 7.1.26 normal-CDF polynomial → BH rank test
  p·m ≤ i·α as a pure-integer comparison → step-up rejection via a
  max-over-suffix window.  The panel is |sources|-sized; the only
  corpus pass is one partial-agg moment scan.
* ``isotonic_calibration`` — isotonic (monotone) calibration of the
  "longer docs are more likely English" predictor via the CLOSED-FORM
  max–min formula ŷ_i = max_{j≤i} min_{k≥i} avg(y_j..y_k) over K=10
  equal-width length buckets — no PAVA iteration: the bucket table is
  K rows, so the j≤i≤k triple expansion is K³ ≤ 1000 rows, all from
  one corpus bucket-count pass.  The classic reliability-diagram
  regularizer (Zadrozny & Elkan 2002).
* ``changepoint_binseg`` — single-split binary segmentation over the
  daily event-count series: split t minimizing
  SSE_left(t) + SSE_right(t), both halves evaluated from ONE pair of
  prefix-sum windows over the #days-sized series (ties → earliest
  day); reports the split day, half means, and the SSE gain.
* ``ts_decompose`` — classical additive decomposition of the daily
  event-count series: trend = centered 7-point moving average (full
  windows only), seasonal = mean detrended value per day-of-week
  re-centered to sum ≈ 0, residual = y − trend − seasonal.  Windows
  over the observed-day series plus one 7-row seasonal join.
* ``cramers_v`` — Cramér's V association strength of the
  source × lang contingency table (dense grid, zero cells included):
  χ² in micro-units from exact integer cell counts, V = √(χ²/(n·
  (min(r,c)−1))), plus the table shape.  The effect-size companion
  to ``chi_square_independence``.

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus physical-plan assertions in tests/test_calibration_wave.py.

Cross-engine float policy: every statistic is derived from exact
integer sums (counts, Σx, Σx² in BIGINT/DECIMAL); doubles appear only
in final ratios which are micro-quantized once.  ``bh_fdr`` quantizes
z to micro BEFORE the CDF polynomial so both engines evaluate
exp/sqrt on identical doubles (the ln-parity doctrine,
queries_experiment.py); the BH comparison itself is exact integer.
``isotonic_calibration`` quantizes each (j,k) block average to micro
before the min/max lattice so the max–min selection compares
integers.  ``changepoint_binseg`` compares micro-quantized SSE costs
with earliest-day tie-break.

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").  Extends the drift family (``psi_drift``,
``cusum_drift``, ``mann_kendall``), the stats family
(``welch_ttest``, ``chi_square_independence``), the calibration family
(``calibration_curve``), and the seasonality family
(``weekday_seasonality``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from .queries import _t

# BH panel significance level, in micro-units (α = 0.05).
_BH_ALPHA_MICRO = 50_000
# Isotonic calibration bucket count (equal-width length bins).
_ISO_K = 10
# Moving-average window half-width for ts_decompose (period 7).
_TSD_HALF = 3

# Abramowitz & Stegun 7.1.26 normal-CDF tail polynomial coefficients.
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_AS_T = 0.2316419
_INV_SQRT_2PI = 0.3989422804014327


# ---------------------------------------------------------------------------
# bh_fdr
# ---------------------------------------------------------------------------


def _phi_tail_spark(az):
    """P(Z > az) for az >= 0 (A&S 7.1.26), as a Spark Column."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_T) * az)
    poly = (
        F.lit(_AS_B[0]) * t
        + F.lit(_AS_B[1]) * t * t
        + F.lit(_AS_B[2]) * t * t * t
        + F.lit(_AS_B[3]) * t * t * t * t
        + F.lit(_AS_B[4]) * t * t * t * t * t
    )
    return F.lit(_INV_SQRT_2PI) * F.exp(-az * az / F.lit(2.0)) * poly


def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg over the per-source mean-length z panel.

    z_s = (mean_s − mean_g) / sqrt(var_g / n_s) from exact integer
    moments (population var), micro-quantized; two-sided
    p = 2·P(Z > |z|) via the shared CDF polynomial, micro-quantized;
    BH step-up: reject ranks 1..i* where i* = max{i : p_(i)·m ≤ i·α}
    — an exact-integer comparison and a suffix-max window over the
    m = |sources| panel rows.

    Scale: one corpus moment scan (partial agg); the panel is
    |sources| rows, broadcast-joined to the 1-row global moments.
    """
    d = _t(spark, sf_dir, "documents").select(
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        F.col("n_chars").cast("long").alias("x"),
    )
    glob = d.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_s"), F.sum("x").alias("s_s")
    )
    zed = per_src.crossJoin(F.broadcast(glob)).select(
        "source",
        F.col("n_s").cast("long").alias("n_s"),
        F.floor(
            (
                (
                    F.col("s_s").cast("double") / F.col("n_s")
                    - F.col("sx").cast("double") / F.col("n")
                )
                / F.sqrt(
                    (
                        F.col("n").cast("double") * F.col("sxx")
                        - F.col("sx").cast("double") * F.col("sx")
                    )
                    / (F.col("n").cast("double") * F.col("n"))
                    / F.col("n_s")
                )
            )
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("z_micro"),
    )
    az = F.abs(F.col("z_micro")).cast("double") / F.lit(1e6)
    p = zed.select(
        "source",
        "n_s",
        "z_micro",
        F.least(
            F.floor(F.lit(2.0) * _phi_tail_spark(az) * 1e6 + F.lit(0.5)).cast(
                "long"
            ),
            F.lit(1_000_000).cast("long"),
        ).alias("p_micro"),
    )
    m = p.agg(F.count("*").alias("m"))
    w_rank = Window.orderBy("p_micro", "source")
    ranked = (
        p.crossJoin(F.broadcast(m))
        .withColumn("rk", F.row_number().over(w_rank))
        .withColumn(
            "ok",
            (F.col("p_micro") * F.col("m") <= F.col("rk") * F.lit(_BH_ALPHA_MICRO))
            .cast("int"),
        )
    )
    # step-up: reject every rank <= the largest passing rank
    w_suffix = Window.orderBy("rk").rangeBetween(0, Window.unboundedFollowing)
    return ranked.select(
        "source",
        "n_s",
        "z_micro",
        "p_micro",
        F.col("rk").cast("long").alias("rk"),
        (F.max(F.col("ok") * F.col("rk")).over(w_suffix) >= F.col("rk")).alias(
            "reject"
        ),
    )


def _phi_tail_sql(az: str) -> str:
    b1, b2, b3, b4, b5 = _AS_B
    t = f"(1.0 / (1.0 + {_AS_T} * {az}))"
    poly = (
        f"({b1} * {t} + {b2} * {t} * {t} + {b3} * {t} * {t} * {t}"
        f" + {b4} * {t} * {t} * {t} * {t}"
        f" + {b5} * {t} * {t} * {t} * {t} * {t})"
    )
    return f"({_INV_SQRT_2PI} * exp(-({az}) * ({az}) / 2.0) * {poly})"


ORACLE_BH_FDR = f"""
WITH d AS (
  SELECT coalesce(source, '') AS source, CAST(n_chars AS BIGINT) AS x
  FROM documents),
gm AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx FROM d),
per_src AS (
  SELECT source, count(*) AS n_s, sum(x) AS s_s FROM d GROUP BY source),
zed AS (
  SELECT p.source, CAST(p.n_s AS BIGINT) AS n_s,
         CAST(floor(
           ((CAST(p.s_s AS DOUBLE) / p.n_s - CAST(g.sx AS DOUBLE) / g.n)
            / sqrt((CAST(g.n AS DOUBLE) * g.sxx
                    - CAST(g.sx AS DOUBLE) * g.sx)
                   / (CAST(g.n AS DOUBLE) * g.n) / p.n_s)) * 1e6 + 0.5)
           AS BIGINT) AS z_micro
  FROM per_src p, gm g),
p AS (
  SELECT source, n_s, z_micro,
         least(CAST(floor(2.0 * {_phi_tail_sql('(abs(z_micro) / 1e6)')} * 1e6
                          + 0.5) AS BIGINT),
               1000000) AS p_micro
  FROM zed),
m AS (SELECT count(*) AS m FROM p),
ranked AS (
  SELECT p.source, p.n_s, p.z_micro, p.p_micro, m.m,
         row_number() OVER (ORDER BY p.p_micro, p.source) AS rk
  FROM p, m),
flags AS (
  SELECT *, CASE WHEN p_micro * m <= rk * {_BH_ALPHA_MICRO}
                 THEN rk ELSE 0 END AS okrk
  FROM ranked)
SELECT source, n_s, z_micro, p_micro, CAST(rk AS BIGINT) AS rk,
       max(okrk) OVER (ORDER BY rk
                       RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         >= rk AS reject
FROM flags
"""


# ---------------------------------------------------------------------------
# isotonic_calibration
# ---------------------------------------------------------------------------


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of P(lang='en' | length bucket) via the
    max–min closed form over K={_ISO_K} equal-width n_chars buckets.

    Buckets b = min(K−1, (x − min)·K / (max − min + 1)) from the
    1-row global span; per-bucket (w, pos); prefix sums over the
    ≤K-row bucket table; block average avg(j..k) = (P_k − P_{{j−1}})/
    (W_k − W_{{j−1}}) micro-quantized; ŷ_i = max_{{j≤i}} min_{{k≥i}}
    avg(j,k).  The triple (i,j,k) lattice is ≤K³ rows — driver-free
    and constant-bounded regardless of corpus size.

    Scale: one corpus pass to bucket counts; everything after is
    K-sized.  Output is monotone non-decreasing in the bucket id by
    construction (pinned in tests).
    """
    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("long").alias("x"),
        F.when(F.coalesce(F.col("lang"), F.lit("")) == "en", F.lit(1))
        .otherwise(F.lit(0))
        .alias("y"),
    )
    span = d.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    bucketed = d.crossJoin(F.broadcast(span)).select(
        F.least(
            F.lit(_ISO_K - 1).cast("long"),
            F.floor(
                (F.col("x") - F.col("lo"))
                * _ISO_K
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("long"),
        ).alias("b"),
        "y",
    )
    bk = bucketed.groupBy("b").agg(
        F.count("*").alias("w"), F.sum("y").alias("pos")
    )
    w_pre = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pre = bk.select(
        "b",
        "w",
        "pos",
        F.sum("w").over(w_pre).alias("cw"),
        F.sum("pos").over(w_pre).alias("cp"),
    )
    # block (j, k) averages from prefix differences; the j-1 = 0 anchor
    # is the (cw, cp) = (0, 0) virtual row, realized via a left anchor
    # self-join on the PREVIOUS bucket's prefix
    lo_side = pre.select(
        F.col("b").alias("j"), F.col("cw").alias("cwj"), F.col("cp").alias("cpj"),
        (F.col("cw") - F.col("w")).alias("cwj0"),
        (F.col("cp") - F.col("pos")).alias("cpj0"),
    )
    hi_side = pre.select(
        F.col("b").alias("k"), F.col("cw").alias("cwk"), F.col("cp").alias("cpk")
    )
    blocks = (
        lo_side.join(hi_side, F.col("j") <= F.col("k"))
        .select(
            "j",
            "k",
            F.floor(
                (F.col("cpk") - F.col("cpj0")).cast("double")
                / (F.col("cwk") - F.col("cwj0"))
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("avg_micro"),
        )
    )
    idx = pre.select(F.col("b").alias("i"), "w", "pos")
    inner = (
        idx.join(
            blocks,
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "w", "pos", "j")
        .agg(F.min("avg_micro").alias("mn"))
    )
    return (
        inner.groupBy("i", "w", "pos")
        .agg(F.max("mn").alias("iso_micro"))
        .select(
            F.col("i").alias("bucket"),
            F.col("w").cast("long").alias("w"),
            F.col("pos").cast("long").alias("pos"),
            F.floor(F.col("pos").cast("double") / F.col("w") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("rate_micro"),
            F.col("iso_micro"),
        )
    )


ORACLE_ISOTONIC_CALIBRATION = f"""
WITH d AS (
  SELECT CAST(n_chars AS BIGINT) AS x,
         CASE WHEN coalesce(lang, '') = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
span AS (SELECT min(x) AS lo, max(x) AS hi FROM d),
bucketed AS (
  SELECT least({_ISO_K - 1},
               CAST(floor((d.x - s.lo) * {_ISO_K}
                          / (s.hi - s.lo + 1.0)) AS BIGINT))
           AS b, y
  FROM d, span s),
bk AS (SELECT b, count(*) AS w, sum(y) AS pos FROM bucketed GROUP BY b),
pre AS (
  SELECT b, w, pos,
         sum(w) OVER (ORDER BY b) AS cw,
         sum(pos) OVER (ORDER BY b) AS cp
  FROM bk),
blocks AS (
  SELECT l.b AS j, h.b AS k,
         CAST(floor(CAST(h.cp - (l.cp - l.pos) AS DOUBLE)
                    / (h.cw - (l.cw - l.w)) * 1e6 + 0.5) AS BIGINT)
           AS avg_micro
  FROM pre l JOIN pre h ON l.b <= h.b),
inner_min AS (
  SELECT i.b AS i, i.w, i.pos, bl.j, min(bl.avg_micro) AS mn
  FROM pre i JOIN blocks bl ON bl.j <= i.b AND bl.k >= i.b
  GROUP BY i.b, i.w, i.pos, bl.j)
SELECT i AS bucket, CAST(w AS BIGINT) AS w, CAST(pos AS BIGINT) AS pos,
       CAST(floor(CAST(pos AS DOUBLE) / w * 1e6 + 0.5) AS BIGINT)
         AS rate_micro,
       max(mn) AS iso_micro
FROM inner_min GROUP BY i, w, pos
"""


# ---------------------------------------------------------------------------
# changepoint_binseg
# ---------------------------------------------------------------------------


def q_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split binary segmentation over daily event counts.

    Series y_1..y_n = events per observed day (day order).  For every
    split t ∈ [1, n): cost(t) = SSE(y_1..y_t) + SSE(y_{t+1}..y_n),
    each half's SSE = Σy² − (Σy)²/len from ONE prefix-sum window pair;
    pick argmin cost (micro-quantized; ties → earliest day).  Output:
    the split day, half sizes and means, and the explained gain
    total_SSE − min_cost.

    Scale: one events shuffle to the #days series; the windows and
    the final min are #days-sized.
    """
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("y"))
    )
    w_pre = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.sum("y").over(w_pre).alias("s1"),
        F.sum(F.col("y") * F.col("y")).over(w_pre).alias("s2"),
    )
    tot = pre.agg(
        F.max("t").alias("n"), F.max("s1").alias("t1"), F.max("s2").alias("t2")
    )
    costs = (
        pre.crossJoin(F.broadcast(tot))
        .where(F.col("t") < F.col("n"))
        .select(
            "day",
            "t",
            "n",
            "t1",
            "t2",
            F.floor(
                (
                    F.col("s2").cast("double")
                    - F.col("s1").cast("double") * F.col("s1") / F.col("t")
                    + (F.col("t2") - F.col("s2")).cast("double")
                    - (F.col("t1") - F.col("s1")).cast("double")
                    * (F.col("t1") - F.col("s1"))
                    / (F.col("n") - F.col("t"))
                )
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cost_micro"),
            F.col("s1").alias("l1"),
        )
    )
    best = costs.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.col("cost_micro"), F.col("day"))),
    ).where(F.col("rk") == 1)
    return best.select(
        F.col("day").alias("split_day"),
        F.col("t").cast("long").alias("n_left"),
        (F.col("n") - F.col("t")).cast("long").alias("n_right"),
        F.floor(F.col("l1").cast("double") / F.col("t") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("mean_left_micro"),
        F.floor(
            (F.col("t1") - F.col("l1")).cast("double")
            / (F.col("n") - F.col("t"))
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("mean_right_micro"),
        (
            F.floor(
                (
                    F.col("t2").cast("double")
                    - F.col("t1").cast("double") * F.col("t1") / F.col("n")
                )
                * 1e6
                + F.lit(0.5)
            ).cast("long")
            - F.col("cost_micro")
        ).alias("gain_micro"),
    )


ORACLE_CHANGEPOINT_BINSEG = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS y FROM events GROUP BY 1),
pre AS (
  SELECT day,
         row_number() OVER (ORDER BY day) AS t,
         sum(y) OVER (ORDER BY day) AS s1,
         sum(y * y) OVER (ORDER BY day) AS s2
  FROM daily),
tot AS (SELECT max(t) AS n, max(s1) AS t1, max(s2) AS t2 FROM pre),
costs AS (
  SELECT p.day, p.t, o.n, o.t1, o.t2, p.s1 AS l1,
         CAST(floor(
           (CAST(p.s2 AS DOUBLE) - CAST(p.s1 AS DOUBLE) * p.s1 / p.t
            + CAST(o.t2 - p.s2 AS DOUBLE)
            - CAST(o.t1 - p.s1 AS DOUBLE) * (o.t1 - p.s1) / (o.n - p.t))
           * 1e6 + 0.5) AS BIGINT) AS cost_micro
  FROM pre p, tot o WHERE p.t < o.n),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (ORDER BY cost_micro, day) AS rk FROM costs)
  WHERE rk = 1)
SELECT day AS split_day,
       CAST(t AS BIGINT) AS n_left,
       CAST(n - t AS BIGINT) AS n_right,
       CAST(floor(CAST(l1 AS DOUBLE) / t * 1e6 + 0.5) AS BIGINT)
         AS mean_left_micro,
       CAST(floor(CAST(t1 - l1 AS DOUBLE) / (n - t) * 1e6 + 0.5) AS BIGINT)
         AS mean_right_micro,
       CAST(floor((CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE) * t1 / n) * 1e6
                  + 0.5) AS BIGINT) - cost_micro AS gain_micro
FROM best
"""


# ---------------------------------------------------------------------------
# ts_decompose
# ---------------------------------------------------------------------------


def q_ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of daily event counts.

    Over the observed-day series (ordered, rows-frame): trend_d =
    mean(y_{d−3}..y_{d+3}) only where all 7 rows exist (edges null);
    seasonal index per ISO day-of-week = mean of (y − trend) over
    full-trend rows, re-centered by the mean of the 7 indexes;
    residual = y − trend − seasonal (null at edges).  Micro units
    throughout, each quantized once.

    Scale: one events shuffle to #days rows; two #days windows and a
    7-row seasonal-index broadcast join.
    """
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("y"))
    )
    w_ma = Window.orderBy("day").rowsBetween(-_TSD_HALF, _TSD_HALF)
    tr = daily.select(
        "day",
        "y",
        F.when(
            F.count("*").over(w_ma) == 2 * _TSD_HALF + 1,
            F.floor(
                F.sum("y").over(w_ma).cast("double")
                / (2 * _TSD_HALF + 1)
                * 1e6
                + F.lit(0.5)
            ).cast("long"),
        ).alias("trend_micro"),
    )
    tr = _q._persist_tracked(tr)
    det = tr.where(F.col("trend_micro").isNotNull()).select(
        F.dayofweek("day").alias("dow"),
        (F.col("y") * F.lit(1_000_000) - F.col("trend_micro")).alias("d_micro"),
    )
    sidx = det.groupBy("dow").agg(
        F.floor(F.sum("d_micro").cast("double") / F.count("*") + F.lit(0.5))
        .cast("long")
        .alias("raw_micro")
    )
    center = sidx.agg(
        F.floor(F.sum("raw_micro").cast("double") / F.count("*") + F.lit(0.5))
        .cast("long")
        .alias("c")
    )
    seas = sidx.crossJoin(F.broadcast(center)).select(
        "dow", (F.col("raw_micro") - F.col("c")).alias("seasonal_micro")
    )
    return (
        tr.withColumn("dow", F.dayofweek("day"))
        .join(F.broadcast(seas), "dow")
        .select(
            "day",
            F.col("y").cast("long").alias("y"),
            "trend_micro",
            "seasonal_micro",
            F.when(
                F.col("trend_micro").isNotNull(),
                F.col("y") * F.lit(1_000_000)
                - F.col("trend_micro")
                - F.col("seasonal_micro"),
            ).alias("resid_micro"),
        )
    )


ORACLE_TS_DECOMPOSE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS y FROM events GROUP BY 1),
tr AS (
  SELECT day, y,
         CASE WHEN count(*) OVER w = {2 * _TSD_HALF + 1} THEN
           CAST(floor(CAST(sum(y) OVER w AS DOUBLE) / {2 * _TSD_HALF + 1}
                      * 1e6 + 0.5) AS BIGINT)
         END AS trend_micro
  FROM daily
  WINDOW w AS (ORDER BY day
               ROWS BETWEEN {_TSD_HALF} PRECEDING AND {_TSD_HALF} FOLLOWING)),
det AS (
  SELECT dayofweek(day) + 1 AS dow,
         y * 1000000 - trend_micro AS d_micro
  FROM tr WHERE trend_micro IS NOT NULL),
sidx AS (
  SELECT dow,
         CAST(floor(CAST(sum(d_micro) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
           AS raw_micro
  FROM det GROUP BY dow),
center AS (
  SELECT CAST(floor(CAST(sum(raw_micro) AS DOUBLE) / count(*) + 0.5)
              AS BIGINT) AS c
  FROM sidx),
seas AS (
  SELECT dow, raw_micro - c.c AS seasonal_micro FROM sidx, center c)
SELECT t.day, CAST(t.y AS BIGINT) AS y, t.trend_micro, s.seasonal_micro,
       CASE WHEN t.trend_micro IS NOT NULL THEN
         t.y * 1000000 - t.trend_micro - s.seasonal_micro
       END AS resid_micro
FROM tr t JOIN seas s ON dayofweek(t.day) + 1 = s.dow
"""


# ---------------------------------------------------------------------------
# cramers_v
# ---------------------------------------------------------------------------


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V of the source × lang contingency table.

    Dense grid (zero cells included via the marginal cross join):
    χ² = Σ (o − rc/n)² / (rc/n) in double from exact integer counts,
    micro-quantized once; V = √(χ²/(n·(min(r,c)−1))); dof =
    (r−1)(c−1).  One corpus pass to cell counts; the grid is
    |sources|×|langs| rows.
    """
    d = _t(spark, sf_dir, "documents").select(
        F.coalesce(F.col("source"), F.lit("")).alias("s"),
        F.coalesce(F.col("lang"), F.lit("")).alias("l"),
    )
    cells = d.groupBy("s", "l").agg(F.count("*").alias("o"))
    rows = d.groupBy("s").agg(F.count("*").alias("r_tot"))
    cols = d.groupBy("l").agg(F.count("*").alias("c_tot"))
    n = d.agg(F.count("*").alias("n"))
    grid = (
        rows.crossJoin(cols)
        .join(cells, ["s", "l"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            "s",
            "l",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            "r_tot",
            "c_tot",
            "n",
        )
    )
    chi = grid.agg(
        F.floor(
            F.sum(
                F.pow(
                    F.col("o").cast("double")
                    - F.col("r_tot").cast("double") * F.col("c_tot") / F.col("n"),
                    F.lit(2.0),
                )
                / (F.col("r_tot").cast("double") * F.col("c_tot") / F.col("n"))
            )
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("chi2_micro"),
        F.countDistinct("s").alias("r"),
        F.countDistinct("l").alias("c"),
        F.max("n").alias("nn"),
    )
    return chi.select(
        "chi2_micro",
        F.floor(
            F.sqrt(
                F.col("chi2_micro").cast("double")
                / 1e6
                / (
                    F.col("nn")
                    * (F.least(F.col("r"), F.col("c")) - F.lit(1)).cast("double")
                )
            )
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v_micro"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        F.col("nn").cast("long").alias("n"),
    )


ORACLE_CRAMERS_V = """
WITH d AS (
  SELECT coalesce(source, '') AS s, coalesce(lang, '') AS l FROM documents),
cells AS (SELECT s, l, count(*) AS o FROM d GROUP BY s, l),
rws AS (SELECT s, count(*) AS r_tot FROM d GROUP BY s),
cls AS (SELECT l, count(*) AS c_tot FROM d GROUP BY l),
n AS (SELECT count(*) AS n FROM d),
grid AS (
  SELECT r.s, c.l, coalesce(ce.o, 0) AS o, r.r_tot, c.c_tot, n.n
  FROM rws r CROSS JOIN cls c
  LEFT JOIN cells ce ON ce.s = r.s AND ce.l = c.l, n),
chi AS (
  SELECT CAST(floor(sum(
           pow(CAST(o AS DOUBLE) - CAST(r_tot AS DOUBLE) * c_tot / n, 2.0)
           / (CAST(r_tot AS DOUBLE) * c_tot / n)) * 1e6 + 0.5) AS BIGINT)
           AS chi2_micro,
         count(DISTINCT s) AS r, count(DISTINCT l) AS c, max(n) AS nn
  FROM grid)
SELECT chi2_micro,
       CAST(floor(sqrt(CAST(chi2_micro AS DOUBLE) / 1e6
                       / (nn * CAST(least(r, c) - 1 AS DOUBLE))) * 1e6 + 0.5)
            AS BIGINT) AS v_micro,
       CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
       CAST(nn AS BIGINT) AS n
FROM chi
"""


CALIBRATION_QUERIES = {
    "bh_fdr": q_bh_fdr,
    "isotonic_calibration": q_isotonic_calibration,
    "changepoint_binseg": q_changepoint_binseg,
    "ts_decompose": q_ts_decompose,
    "cramers_v": q_cramers_v,
}

CALIBRATION_ORACLES = {
    "bh_fdr": ORACLE_BH_FDR,
    "isotonic_calibration": ORACLE_ISOTONIC_CALIBRATION,
    "changepoint_binseg": ORACLE_CHANGEPOINT_BINSEG,
    "ts_decompose": ORACLE_TS_DECOMPOSE,
    "cramers_v": ORACLE_CRAMERS_V,
}

_q.QUERIES.update(CALIBRATION_QUERIES)
_q.ORACLES.update(CALIBRATION_ORACLES)
