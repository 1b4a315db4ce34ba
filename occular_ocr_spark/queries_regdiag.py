"""Regression-diagnostics catalog, round 4 (wave 53): five operators
around fitting, trusting, and stress-testing the linear fits the
other catalog entries hand to reviewers —

* ``ridge_fit`` — closed-form ridge regression of per-doc token count
  on (1, n_chars, distinct-token count) with λ = ``_RG_LAMBDA``
  (penalized-intercept variant, documented): the 3×3 normal matrix
  XᵀX + λI and its four Cramer determinants are exact
  DECIMAL(38,0), so each coefficient is one quantized division.  The
  regularized companion to ``ols_fit`` (unpenalized, 2-var).
* ``cooks_distance`` — the top-5 most influential days of the daily
  count-on-index OLS by Cook's D: leverages hₜ = 1/n + (nt−St)²/(n·D)
  and residuals from exact integer moments, D ranked on the
  micro-quantized value with a deterministic (−D, day) tiebreak.
  The influence companion to ``daily_anomaly_mad`` (which flags
  outliers; this one flags the points that BEND the fit).
* ``breusch_pagan`` — heteroskedasticity LM test: squared OLS
  residuals (quantized once to the 1e-3 grid, then exact scaled integers)
  regressed on the day index; R² from exact DECIMAL moments,
  LM = n·R².  Trend fits whose residual spread grows with time fail
  here long before the slope itself drifts.
* ``ar1_yulewalker`` — Yule–Walker AR(1) fit of the daily series:
  φ = ρ̂₁ from the exact DECIMAL deviation products, innovation
  variance (1−φ²)·c₀/n, and the shock half-life ln½/ln|φ| (0.0 when
  |φ| ≥ 1 or φ = 0, documented).  The generative-model companion to
  ``autocorr_daily`` (which reports; this one fits).
* ``theil_u`` — Theil-style relative accuracy of the trend fit vs
  the naive lag-1 forecast: U² = Σ(fitₜ−yₜ)² / Σ(yₜ₋₁−yₜ)² over
  t ≥ 2, both sides scaled by the same exact n·D factor so the ratio
  is an exact-integer division; U < 1 ⇔ the trend beats persistence.

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus physical-plan assertions in tests/test_regdiag_wave.py.

Cross-engine float policy: normal-equation moments, determinants,
scaled residuals, and deviation products are exact BIGINT /
DECIMAL(38,0); squared residuals micro-quantize once before the
moment pass; divisions / ln / sqrt finals are row-local IEEE on
exact or quantized inputs.

Scale notes: ``ridge_fit`` is one map-side feature projection plus a
1-row moment reduce (the classic embarrassingly-parallel normal-
equation shape — at 100 TB the driver sees nine numbers); the four
daily-series ops collapse the event scan to the ≤ #days frame first
and order only that frame.

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from .queries import _t

_RG_LAMBDA = 100
_CD_TOPK = 5

_TOKN = "size(filter(split(coalesce(text, ''), ' '), x -> x <> ''))"
_TOKN_DUCK = (
    "len(list_filter(string_split(coalesce(text, ''), ' '), x -> x <> ''))"
)
_VTOK = (
    "size(array_distinct(filter(split(coalesce(text, ''), ' '),"
    " x -> x <> '')))"
)
_VTOK_DUCK = (
    "len(list_distinct(list_filter(string_split(coalesce(text, ''), ' '),"
    " x -> x <> '')))"
)


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )


# ---------------------------------------------------------------------------
# ridge_fit — closed-form 3-coefficient ridge
# ---------------------------------------------------------------------------


def q_ridge_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge normal equations (XᵀX + λI)b = Xᵀy over
    X = [1, n_chars, distinct-token count], y = token count, solved by
    exact DECIMAL Cramer determinants.

    Scale: one map-side projection, one 1-row moment reduce; no
    shuffle wider than nine numbers.
    """
    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("decimal(38,0)").alias("x1"),
        F.expr(_VTOK).cast("decimal(38,0)").alias("x2"),
        F.expr(_TOKN).cast("decimal(38,0)").alias("y"),
    )
    mom = d.groupBy().agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    lam = _RG_LAMBDA
    # A = [[n+λ, s1, s2], [s1, s11+λ, s12], [s2, s12, s22+λ]]
    a = mom.select(
        "n", "sy", "s1y", "s2y",
        (F.col("n") + lam).alias("a00"),
        F.col("s1").alias("a01"),
        F.col("s2").alias("a02"),
        (F.col("s11") + lam).alias("a11"),
        F.col("s12").alias("a12"),
        (F.col("s22") + lam).alias("a22"),
    )
    det = (
        "a00 * (a11 * a22 - a12 * a12)"
        " - a01 * (a01 * a22 - a12 * a02)"
        " + a02 * (a01 * a12 - a11 * a02)"
    )
    det0 = (
        "sy * (a11 * a22 - a12 * a12)"
        " - a01 * (s1y * a22 - a12 * s2y)"
        " + a02 * (s1y * a12 - a11 * s2y)"
    )
    det1 = (
        "a00 * (s1y * a22 - s2y * a12)"
        " - sy * (a01 * a22 - a12 * a02)"
        " + a02 * (a01 * s2y - s1y * a02)"
    )
    det2 = (
        "a00 * (a11 * s2y - s1y * a12)"
        " - a01 * (a01 * s2y - s1y * a02)"
        " + sy * (a01 * a12 - a11 * a02)"
    )
    return a.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.lit(lam).cast("bigint").alias("lambda_reg"),
        F.expr(
            f"""
            CASE WHEN ({det}) = 0 THEN 0.0 ELSE
              CAST(floor(CAST(({det0}) AS DOUBLE)
                / CAST(({det}) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) / 1e6
            END
            """
        ).alias("b0"),
        F.expr(
            f"""
            CASE WHEN ({det}) = 0 THEN 0.0 ELSE
              CAST(floor(CAST(({det1}) AS DOUBLE)
                / CAST(({det}) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) / 1e6
            END
            """
        ).alias("b_chars"),
        F.expr(
            f"""
            CASE WHEN ({det}) = 0 THEN 0.0 ELSE
              CAST(floor(CAST(({det2}) AS DOUBLE)
                / CAST(({det}) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) / 1e6
            END
            """
        ).alias("b_vocab"),
    )


ORACLE_RIDGE_FIT = f"""
WITH d AS (
  SELECT CAST(n_chars AS DECIMAL(38,0)) AS x1,
         CAST({_VTOK_DUCK} AS DECIMAL(38,0)) AS x2,
         CAST({_TOKN_DUCK} AS DECIMAL(38,0)) AS y
  FROM documents),
mom AS (
  SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
         sum(x1 * x1) AS s11, sum(x1 * x2) AS s12,
         sum(x2 * x2) AS s22, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
  FROM d),
a AS (
  SELECT n, sy, s1y, s2y,
         n + {_RG_LAMBDA} AS a00, s1 AS a01, s2 AS a02,
         s11 + {_RG_LAMBDA} AS a11, s12 AS a12, s22 + {_RG_LAMBDA} AS a22
  FROM mom),
dets AS (
  SELECT CAST(n AS BIGINT) AS n_docs,
         a00 * (a11 * a22 - a12 * a12)
           - a01 * (a01 * a22 - a12 * a02)
           + a02 * (a01 * a12 - a11 * a02) AS det,
         sy * (a11 * a22 - a12 * a12)
           - a01 * (s1y * a22 - a12 * s2y)
           + a02 * (s1y * a12 - a11 * s2y) AS det0,
         a00 * (s1y * a22 - s2y * a12)
           - sy * (a01 * a22 - a12 * a02)
           + a02 * (a01 * s2y - s1y * a02) AS det1,
         a00 * (a11 * s2y - s1y * a12)
           - a01 * (a01 * s2y - s1y * a02)
           + sy * (a01 * a12 - a11 * a02) AS det2
  FROM a)
SELECT n_docs, CAST({_RG_LAMBDA} AS BIGINT) AS lambda_reg,
       CASE WHEN det = 0 THEN 0.0 ELSE
         CAST(floor(CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE)
           * 1e6 + 0.5) AS BIGINT) / 1e6 END AS b0,
       CASE WHEN det = 0 THEN 0.0 ELSE
         CAST(floor(CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE)
           * 1e6 + 0.5) AS BIGINT) / 1e6 END AS b_chars,
       CASE WHEN det = 0 THEN 0.0 ELSE
         CAST(floor(CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE)
           * 1e6 + 0.5) AS BIGINT) / 1e6 END AS b_vocab
FROM dets
"""


# ---------------------------------------------------------------------------
# shared daily-OLS scaffold (exact integer moments)
# ---------------------------------------------------------------------------


def _daily_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-indexed series with the exact OLS moment scalars joined in:
    t (1..n), y, n, st, sy, d = n·Stt − St², bnum = n·Sty − St·Sy."""
    daily = _daily(spark, sf_dir)
    wi = Window.orderBy("day")
    idx = daily.select(
        "day",
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
    return idx.crossJoin(F.broadcast(mom))


_DAILY_OLS_SQL = """
daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1),
idx AS (
  SELECT day, CAST(row_number() OVER (ORDER BY day) AS DECIMAL(38,0))
           AS t,
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
base AS (SELECT idx.*, mom.* FROM idx, mom)
"""


# ---------------------------------------------------------------------------
# cooks_distance — top influential days of the daily trend fit
# ---------------------------------------------------------------------------


def q_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``_CD_TOPK`` days by Cook's D of the daily count-on-index
    OLS (p = 2): eₜ and hₜ from exact integer moments, the scalar
    s² = Σe²/(n−2) joined back as one more broadcast, every division
    row-local, rank on (−quantized D, day).

    Scale: the ≤ #days frame again; the "sort" is a top-K over that
    bounded frame, never a corpus sort.
    """
    base = _daily_ols(spark, sf_dir)
    res = base.select(
        "day",
        "t",
        (
            F.col("n") * F.col("d") * F.col("y")
            - (F.col("sy") * F.col("d") - F.col("bnum") * F.col("st"))
            - F.col("n") * F.col("bnum") * F.col("t")
        ).alias("e"),
        (F.col("n") * F.col("t") - F.col("st")).alias("tdev"),
        "n",
        "d",
    )
    res = res.select(
        "day",
        F.expr(
            """
            CAST(floor(CAST(e AS DOUBLE) / CAST(n AS DOUBLE)
              / CAST(d AS DOUBLE) * 1e6 + 0.5) AS BIGINT) / 1e6
            """
        ).alias("resid"),
        F.expr(
            """
            CAST(floor(
              (1.0 / CAST(n AS DOUBLE)
               + CAST(tdev AS DOUBLE) * CAST(tdev AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(d AS DOUBLE)))
              * 1e6 + 0.5) AS BIGINT) / 1e6
            """
        ).alias("leverage"),
        F.col("n").cast("bigint").alias("nn"),
    )
    s2 = res.groupBy().agg(
        F.sum(
            F.expr("CAST(floor(resid * resid * 1e6 + 0.5) AS BIGINT)")
        ).alias("sse"),
        F.max("nn").alias("nb"),
    ).select(
        F.expr(
            """
            CASE WHEN nb <= 2 THEN 0.0
            ELSE sse / 1e6 / (nb - 2) END
            """
        ).alias("s2")
    )
    scored = res.crossJoin(F.broadcast(s2)).select(
        "day",
        "resid",
        "leverage",
        F.expr(
            """
            CASE WHEN s2 = 0.0 OR leverage >= 1.0 THEN 0.0 ELSE
              CAST(floor(
                resid * resid * leverage
                / (2.0 * s2 * (1.0 - leverage) * (1.0 - leverage))
                * 1e6 + 0.5) AS BIGINT) / 1e6 END
            """
        ).alias("cooks_d"),
    )
    wr = Window.orderBy(F.desc("cooks_d"), F.asc("day"))
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= _CD_TOPK)
        .select("day", "resid", "leverage", "cooks_d")
        .orderBy(F.desc("cooks_d"), F.asc("day"))
    )


ORACLE_COOKS_DISTANCE = f"""
WITH {_DAILY_OLS_SQL},
res AS (
  SELECT day,
         CAST(floor(CAST(n * d * y - (sy * d - bnum * st) - n * bnum * t
             AS DOUBLE) / CAST(n AS DOUBLE) / CAST(d AS DOUBLE)
           * 1e6 + 0.5) AS BIGINT) / 1e6 AS resid,
         CAST(floor(
           (1.0 / CAST(n AS DOUBLE)
            + CAST(n * t - st AS DOUBLE) * CAST(n * t - st AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(d AS DOUBLE)))
           * 1e6 + 0.5) AS BIGINT) / 1e6 AS leverage,
         CAST(n AS BIGINT) AS nn
  FROM base),
s2t AS (
  SELECT CASE WHEN max(nn) <= 2 THEN 0.0
         ELSE sum(CAST(floor(resid * resid * 1e6 + 0.5) AS BIGINT))
              / 1e6 / (max(nn) - 2) END AS s2
  FROM res),
scored AS (
  SELECT day, resid, leverage,
         CASE WHEN s2 = 0.0 OR leverage >= 1.0 THEN 0.0 ELSE
           CAST(floor(
             resid * resid * leverage
             / (2.0 * s2 * (1.0 - leverage) * (1.0 - leverage))
             * 1e6 + 0.5) AS BIGINT) / 1e6 END AS cooks_d
  FROM res, s2t)
SELECT day, resid, leverage, cooks_d
FROM scored
ORDER BY cooks_d DESC, day ASC
LIMIT {_CD_TOPK}
"""


# ---------------------------------------------------------------------------
# breusch_pagan — heteroskedasticity LM test
# ---------------------------------------------------------------------------


def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch–Pagan-style LM = n·R² of squared OLS residuals on the
    day index.  Residuals quantize once to 1e6-scaled BIGINTs; the
    auxiliary-regression moments are then exact DECIMALs.

    Scale: ≤ #days frames, two 1-row reduces.
    """
    base = _daily_ols(spark, sf_dir)
    g = base.select(
        "t",
        F.expr(
            """
            CAST(floor(
              CAST(n * d * y - (sy * d - bnum * st) - n * bnum * t
                AS DOUBLE) / CAST(n AS DOUBLE) / CAST(d AS DOUBLE)
              * 1e3 + 0.5) AS DECIMAL(38,0))
            """
        ).alias("r"),
    ).select(
        "t", (F.col("r") * F.col("r")).alias("gq")
    )
    mom = g.groupBy().agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("t").alias("st"),
        F.sum("gq").alias("sg"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("gq")).alias("stg"),
        F.sum(F.col("gq") * F.col("gq")).alias("sgg"),
    )
    return mom.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.expr(
            """
            CASE WHEN (n * stt - st * st) = 0
                   OR (n * sgg - sg * sg) = 0 THEN 0.0 ELSE
              CAST(floor(
                CAST(n * stg - st * sg AS DOUBLE)
                * CAST(n * stg - st * sg AS DOUBLE)
                / CAST(n * stt - st * st AS DOUBLE)
                / CAST(n * sgg - sg * sg AS DOUBLE) * 1e6 + 0.5
              ) AS BIGINT) / 1e6 END
            """
        ).alias("r2_aux"),
        F.expr(
            """
            CASE WHEN (n * stt - st * st) = 0
                   OR (n * sgg - sg * sg) = 0 THEN 0.0 ELSE
              CAST(floor(
                CAST(n AS DOUBLE)
                * (CAST(n * stg - st * sg AS DOUBLE)
                   * CAST(n * stg - st * sg AS DOUBLE)
                   / CAST(n * stt - st * st AS DOUBLE)
                   / CAST(n * sgg - sg * sg AS DOUBLE)) * 1e6 + 0.5
              ) AS BIGINT) / 1e6 END
            """
        ).alias("lm_stat"),
    )


ORACLE_BREUSCH_PAGAN = f"""
WITH {_DAILY_OLS_SQL},
g AS (
  SELECT t,
         CAST(floor(
           CAST(n * d * y - (sy * d - bnum * st) - n * bnum * t
             AS DOUBLE) / CAST(n AS DOUBLE) / CAST(d AS DOUBLE)
           * 1e3 + 0.5) AS DECIMAL(38,0)) AS r
  FROM base),
gq AS (SELECT t, r * r AS gq FROM g),
mom2 AS (
  SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         sum(t) AS st, sum(gq) AS sg,
         sum(t * t) AS stt, sum(t * gq) AS stg, sum(gq * gq) AS sgg
  FROM gq)
SELECT CAST(n AS BIGINT) AS n_days,
       CASE WHEN (n * stt - st * st) = 0
              OR (n * sgg - sg * sg) = 0 THEN 0.0 ELSE
         CAST(floor(
           CAST(n * stg - st * sg AS DOUBLE)
           * CAST(n * stg - st * sg AS DOUBLE)
           / CAST(n * stt - st * st AS DOUBLE)
           / CAST(n * sgg - sg * sg AS DOUBLE) * 1e6 + 0.5
         ) AS BIGINT) / 1e6 END AS r2_aux,
       CASE WHEN (n * stt - st * st) = 0
              OR (n * sgg - sg * sg) = 0 THEN 0.0 ELSE
         CAST(floor(
           CAST(n AS DOUBLE)
           * (CAST(n * stg - st * sg AS DOUBLE)
              * CAST(n * stg - st * sg AS DOUBLE)
              / CAST(n * stt - st * st AS DOUBLE)
              / CAST(n * sgg - sg * sg AS DOUBLE)) * 1e6 + 0.5
         ) AS BIGINT) / 1e6 END AS lm_stat
FROM mom2
"""


# ---------------------------------------------------------------------------
# ar1_yulewalker — AR(1) fit of the daily series
# ---------------------------------------------------------------------------


def q_ar1_yulewalker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule–Walker AR(1): φ = ρ̂₁ from exact DECIMAL deviation
    products (index-adjacent), innovation variance (1−φ²)c₀/n, and
    the shock half-life ln½/ln|φ| (0.0 outside (0,1)·|φ|,
    documented).

    Scale: per-day partial agg, one ≤ #days window, 1-row reduces.
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
    c0 = dev.groupBy().agg(
        F.sum(F.col("v") * F.col("v")).alias("c0"),
        F.max("nn").alias("nn"),
    )
    right = dev.select((F.col("t") - 1).alias("t"), F.col("v").alias("vb"))
    c1 = dev.join(right, "t").groupBy().agg(
        F.sum(F.col("v") * F.col("vb")).alias("c1")
    )
    joined = c0.crossJoin(F.broadcast(c1)).select(
        F.col("nn").alias("n_days"),
        F.expr(
            """
            CASE WHEN c0 = 0 THEN 0.0 ELSE
              CAST(floor(CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE)
                * 1e6 + 0.5) AS BIGINT) / 1e6 END
            """
        ).alias("phi"),
        F.expr(
            """
            CASE WHEN c0 = 0 OR nn = 0 THEN 0.0 ELSE
              CAST(floor(
                (1.0 - (CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE))
                     * (CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE)))
                * (CAST(c0 AS DOUBLE)
                   / (CAST(nn AS DOUBLE) * nn * nn))
                * 1e6 + 0.5) AS BIGINT) / 1e6 END
            """
        ).alias("innov_var"),
    )
    return joined.select(
        "n_days",
        "phi",
        "innov_var",
        F.expr(
            """
            CASE WHEN abs(phi) >= 1.0 OR phi = 0.0 THEN 0.0 ELSE
              CAST(floor(ln(0.5) / ln(abs(phi)) * 1e6 + 0.5) AS BIGINT)
                / 1e6 END
            """
        ).alias("half_life"),
    )


ORACLE_AR1_YULEWALKER = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1),
idx AS (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, x
  FROM daily),
tot AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
               CAST(sum(x) AS DECIMAL(38,0)) AS s FROM idx),
dev AS (SELECT t, n * x - s AS v, CAST(n AS BIGINT) AS nn FROM idx, tot),
c0t AS (SELECT sum(v * v) AS c0, max(nn) AS nn FROM dev),
c1t AS (SELECT sum(a.v * b.v) AS c1
        FROM dev a JOIN dev b ON b.t = a.t + 1),
j AS (
  SELECT nn AS n_days,
         CASE WHEN c0 = 0 THEN 0.0 ELSE
           CAST(floor(CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE)
             * 1e6 + 0.5) AS BIGINT) / 1e6 END AS phi,
         CASE WHEN c0 = 0 OR nn = 0 THEN 0.0 ELSE
           CAST(floor(
             (1.0 - (CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE))
                  * (CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE)))
             * (CAST(c0 AS DOUBLE)
                / (CAST(nn AS DOUBLE) * nn * nn))
             * 1e6 + 0.5) AS BIGINT) / 1e6 END AS innov_var
  FROM c0t, c1t)
SELECT n_days, phi, innov_var,
       CASE WHEN abs(phi) >= 1.0 OR phi = 0.0 THEN 0.0 ELSE
         CAST(floor(ln(0.5) / ln(abs(phi)) * 1e6 + 0.5) AS BIGINT)
           / 1e6 END AS half_life
FROM j
"""


# ---------------------------------------------------------------------------
# theil_u — trend fit vs naive lag-1 forecast
# ---------------------------------------------------------------------------


def q_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U² = Σ(fitₜ−yₜ)² / Σ(yₜ₋₁−yₜ)² over t ≥ 2, both sides on the
    same exact n·D scale, so the ratio is exact-integer before the
    one sqrt.  U < 1 ⇔ the trend fit beats persistence.

    Scale: ≤ #days frames only.
    """
    base = _daily_ols(spark, sf_dir)
    r = base.select(
        "t",
        (
            F.col("n") * F.col("d") * F.col("y")
            - (F.col("sy") * F.col("d") - F.col("bnum") * F.col("st"))
            - F.col("n") * F.col("bnum") * F.col("t")
        ).alias("e"),
        (F.col("n") * F.col("d") * F.col("y")).alias("ys"),
    )
    we = Window.orderBy("t")
    diff = r.select(
        "t",
        "e",
        (F.lag("ys").over(we) - F.col("ys")).alias("nd"),
    ).where(F.col("nd").isNotNull())
    agg = diff.groupBy().agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum(F.col("e") * F.col("e")).alias("num"),
        F.sum(F.col("nd") * F.col("nd")).alias("den"),
    )
    return agg.select(
        "n_terms",
        F.expr(
            """
            CASE WHEN den IS NULL OR den = 0 THEN 0.0 ELSE
              CAST(floor(sqrt(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                * 1e6 + 0.5) AS BIGINT) / 1e6 END
            """
        ).alias("theil_u"),
        F.expr(
            """
            CASE WHEN den IS NULL OR den = 0 THEN false ELSE
              num < den END
            """
        ).alias("beats_naive"),
    )


ORACLE_THEIL_U = f"""
WITH {_DAILY_OLS_SQL},
r AS (
  SELECT t,
         n * d * y - (sy * d - bnum * st) - n * bnum * t AS e,
         n * d * y AS ys
  FROM base),
diff AS (
  SELECT t, e, lag(ys) OVER (ORDER BY t) - ys AS nd FROM r),
flt AS (SELECT * FROM diff WHERE nd IS NOT NULL),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_terms,
         sum(e * e) AS num, sum(nd * nd) AS den
  FROM flt)
SELECT n_terms,
       CASE WHEN den IS NULL OR den = 0 THEN 0.0 ELSE
         CAST(floor(sqrt(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
           * 1e6 + 0.5) AS BIGINT) / 1e6 END AS theil_u,
       CASE WHEN den IS NULL OR den = 0 THEN false ELSE
         num < den END AS beats_naive
FROM agg
"""


REGDIAG_QUERIES = {
    "ridge_fit": q_ridge_fit,
    "cooks_distance": q_cooks_distance,
    "breusch_pagan": q_breusch_pagan,
    "ar1_yulewalker": q_ar1_yulewalker,
    "theil_u": q_theil_u,
}

REGDIAG_ORACLES = {
    "ridge_fit": ORACLE_RIDGE_FIT,
    "cooks_distance": ORACLE_COOKS_DISTANCE,
    "breusch_pagan": ORACLE_BREUSCH_PAGAN,
    "ar1_yulewalker": ORACLE_AR1_YULEWALKER,
    "theil_u": ORACLE_THEIL_U,
}

_q.QUERIES.update(REGDIAG_QUERIES)
_q.ORACLES.update(REGDIAG_ORACLES)
