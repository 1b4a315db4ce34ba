"""Dependence & direction catalog, round 4 (wave 45): five operators
spanning the rank-dependence, partition-agreement, conditional-
correlation, cross-series, and directional-statistics surfaces —

* ``chatterjee_xi`` — Chatterjee's ξ (JASA 2021) rank correlation of
  token count against ``n_chars``: y-ranks come from the exact value
  histogram, the x-order index is the house TWO-LEVEL rank (distinct-
  x offsets + within-x row_number, x ties broken by doc_id — the
  documented deterministic surrogate for the paper's random
  tie-break), adjacent ranks meet via an i→i+1 equi-join (never a
  corpus-wide window), and the tie-corrected
  ξ = 1 − n·Σ|Δr| / (2·Σ l(n−l)) is exact-integer derived.  Detects
  the non-monotone dependence ``spearman_corr`` / ``kendall_tau``
  structurally cannot.
* ``rand_index`` — Rand and adjusted-Rand agreement between the
  ``lang`` partition and the ``n_chars`` width-bucket partition via
  pair counting: Σ C(n_ij,2) contingency sums are exact BIGINTs and
  ARI is one row-local expression.  The partition-comparison
  companion to ``cramers_v`` (association) and ``cohens_kappa``
  (label agreement).
* ``partial_correlation`` — first-order partial correlation of
  (n_chars, token count) given the distinct-token count:
  r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) from ONE moment
  pass (9 exact integer sums).  The confounder-removal companion to
  ``corr_matrix`` / ``ipw_effect``.
* ``crosscorr_leadlag`` — lead/lag Pearson cross-correlation between
  the click and purchase daily series at lags −3..+3 (positive lag:
  clicks lead purchases by `lag` days): per-lag moments over the
  date-shift equi-join are exact integers, days present in both
  series only.  The cross-series companion to ``autocorr_daily``
  (one series) and ``attribution_last_touch`` (micro level).
* ``rayleigh_test`` — circular statistics of event time-of-day:
  per-event cos/sin projections of the clock angle (integer
  seconds-of-day; sub-second parts ignored identically by both
  engines) micro-quantized before the sums, resultant length R̄,
  Rayleigh z = n·R̄², and the mean direction in hours via atan2.
  The directional companion to ``hourly_profile`` (which bins) —
  this one gives the phase.

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus physical-plan assertions in tests/test_dependence_wave.py.

Cross-engine float policy (the corr_matrix / zipf_fit doctrine):
order-sensitive float sums never happen — Rayleigh's trig terms are
micro-quantized per event before the integer sums; every correlation
/ agreement statistic is a row-local IEEE expression on exact BIGINT
moment sums.  BIGINT headroom: Σ l(n−l) and C(n,2) terms cap exact
arithmetic near ~10⁶ rows (the mannwhitney_u note; DECIMAL(38,0)
past that), and Rayleigh's sc²+ss² is evaluated in doubles because
(n·10⁶)² overflows first.

Scale notes: ``chatterjee_xi``'s windows run over the bounded value
histogram / per-x partitions, and the adjacent-rank join is a
co-partitioned integer equi-join; ``rand_index`` /
``partial_correlation`` / ``rayleigh_test`` are single partial aggs
onto constant frames; ``crosscorr_leadlag`` is a 7× lag explode over
the #days frame joined date-to-date.

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from .queries import _t

# rand_index length-bucket width / cap.
_RI_W = 100
_RI_K = 6

# crosscorr lag range: -_CC_LAG .. +_CC_LAG days.
_CC_LAG = 3

_TOKARR = "filter(split(coalesce(text, ''), ' '), x -> x <> '')"
_TOKARR_DUCK = (
    "list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '')"
)


# ---------------------------------------------------------------------------
# chatterjee_xi — tie-corrected Chatterjee rank correlation
# ---------------------------------------------------------------------------


def q_chatterjee_xi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's ξ of y = token count given x = n_chars.

    Tie-corrected form: sort by (x, doc_id); with r_i = #{y_j ≤ y_i}
    and l_i = #{y_j ≥ y_i},  ξ = 1 − n·Σ|r_{i+1} − r_i| /
    (2·Σ l_i(n − l_i)).  Ranks come from the y value histogram, the
    order index is the two-level rank, and consecutive rows meet via
    an i+1 = i equi-join.

    Scale: histogram-bounded windows only; one hash equi-join on the
    dense index; 1-row reduce.
    """
    base = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").alias("x"),
        F.expr(f"size({_TOKARR})").cast("bigint").alias("y"),
    )
    yh = base.groupBy("y").agg(F.count("*").cast("bigint").alias("m"))
    wy = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, 0)
    yr = (
        yh.withColumn("r", F.sum("m").over(wy).cast("bigint"))
        .withColumn(
            "n", F.sum("m").over(Window.partitionBy()).cast("bigint")
        )
        .withColumn("l", F.expr("n - (r - m)").cast("bigint"))
    )
    denom = yr.groupBy().agg(
        F.sum(F.expr("m * l * (n - l)")).cast("bigint").alias("denom"),
        F.max("n").cast("bigint").alias("n"),
    )
    # two-level order index over (x, doc_id)
    xh = base.groupBy("x").agg(F.count("*").cast("bigint").alias("mx"))
    wx = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    offs = xh.select(
        "x",
        F.coalesce(F.sum("mx").over(wx), F.lit(0)).cast("bigint").alias("off"),
    )
    wrn = Window.partitionBy("x").orderBy("doc_id")
    idx = (
        base.join(F.broadcast(offs), "x")
        .join(F.broadcast(yr.select("y", "r")), "y")
        .select(
            (F.col("off") + F.row_number().over(wrn)).cast("bigint").alias("i"),
            "r",
        )
    )
    nxt = idx.select((F.col("i") - 1).alias("i"), F.col("r").alias("r2"))
    s = (
        idx.join(nxt, "i")
        .groupBy()
        .agg(F.sum(F.expr("abs(r2 - r)")).cast("bigint").alias("sum_abs_dr"))
    )
    return s.crossJoin(F.broadcast(denom)).select(
        "n",
        "sum_abs_dr",
        "denom",
        F.expr(
            """
            CASE WHEN denom = 0 THEN 0.0 ELSE
              CAST(floor((1.0 - CAST(n AS DOUBLE) * sum_abs_dr
                / (2.0 * denom)) * 1e6 + 0.5) AS BIGINT) / 1e6
            END
            """
        ).alias("xi"),
    )


ORACLE_CHATTERJEE_XI = f"""
WITH base AS (
  SELECT doc_id, n_chars AS x,
         CAST(len({_TOKARR_DUCK}) AS BIGINT) AS y
  FROM documents),
yr AS (
  SELECT y, m,
         CAST(sum(m) OVER (ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS r,
         CAST(sum(m) OVER () AS BIGINT) AS n
  FROM (SELECT y, CAST(count(*) AS BIGINT) AS m FROM base GROUP BY y)),
dn AS (
  SELECT CAST(sum(m * (n - (r - m)) * (n - (n - (r - m)))) AS BIGINT)
           AS denom,
         CAST(max(n) AS BIGINT) AS n
  FROM yr),
idx AS (
  SELECT CAST(row_number() OVER (ORDER BY x, doc_id) AS BIGINT) AS i,
         r
  FROM base JOIN (SELECT y, r FROM yr) USING (y)),
s AS (
  SELECT CAST(sum(abs(b.r - a.r)) AS BIGINT) AS sum_abs_dr
  FROM idx a JOIN idx b ON b.i = a.i + 1)
SELECT n, sum_abs_dr, denom,
       CASE WHEN denom = 0 THEN 0.0 ELSE
         CAST(floor((1.0 - CAST(n AS DOUBLE) * sum_abs_dr
           / (2.0 * denom)) * 1e6 + 0.5) AS BIGINT) / 1e6
       END AS xi
FROM s, dn
"""


# ---------------------------------------------------------------------------
# rand_index — pair-counting agreement of lang vs length buckets
# ---------------------------------------------------------------------------


def q_rand_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rand / adjusted-Rand between the lang partition and the
    ``n_chars DIV _RI_W`` (capped) bucket partition.

    P = ΣC(n_ij,2), A = ΣC(a_i,2), B = ΣC(b_j,2), T = C(n,2) are
    exact BIGINTs; Rand = (T + 2P − A − B)/T and
    ARI = (P − AB/T) / ((A+B)/2 − AB/T) are row-local.

    Scale: one contingency partial agg (≤ #langs × ``_RI_K`` cells),
    marginals from the cell table, one 1-row reduce.
    """
    cells = (
        _t(spark, sf_dir, "documents")
        .select(
            F.coalesce("lang", F.lit("")).alias("u"),
            F.expr(f"least(n_chars DIV {_RI_W}, {_RI_K - 1})").alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("m"))
    )
    p = cells.groupBy().agg(
        F.sum(F.expr("m * (m - 1) DIV 2")).cast("bigint").alias("p"),
        F.sum("m").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_cells"),
    )
    a = (
        cells.groupBy("u")
        .agg(F.sum("m").alias("am"))
        .groupBy()
        .agg(
            F.sum(F.expr("am * (am - 1) DIV 2")).cast("bigint").alias("a")
        )
    )
    b = (
        cells.groupBy("v")
        .agg(F.sum("m").alias("bm"))
        .groupBy()
        .agg(
            F.sum(F.expr("bm * (bm - 1) DIV 2")).cast("bigint").alias("b")
        )
    )
    return (
        p.crossJoin(a)
        .crossJoin(b)
        .select(
            "n",
            "n_cells",
            F.expr("n * (n - 1) DIV 2").cast("bigint").alias("t"),
            "p",
            "a",
            "b",
        )
        .select(
            "n",
            "n_cells",
            F.expr(
                """
                CASE WHEN t = 0 THEN 0.0 ELSE
                  CAST(floor(CAST(t + 2 * p - a - b AS DOUBLE) / t
                    * 1e6 + 0.5) AS BIGINT) / 1e6
                END
                """
            ).alias("rand"),
            F.expr(
                """
                CASE WHEN t = 0
                    OR (CAST(a + b AS DOUBLE) / 2
                        - CAST(a AS DOUBLE) * b / t) = 0 THEN 0.0 ELSE
                  CAST(floor(
                    (p - CAST(a AS DOUBLE) * b / t)
                    / (CAST(a + b AS DOUBLE) / 2
                       - CAST(a AS DOUBLE) * b / t) * 1e6 + 0.5)
                    AS BIGINT) / 1e6
                END
                """
            ).alias("ari"),
        )
    )


ORACLE_RAND_INDEX = f"""
WITH cells AS (
  SELECT coalesce(lang, '') AS u,
         least(n_chars // {_RI_W}, {_RI_K - 1}) AS v,
         CAST(count(*) AS BIGINT) AS m
  FROM documents GROUP BY 1, 2),
pp AS (
  SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS p,
         CAST(sum(m) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_cells
  FROM cells),
aa AS (
  SELECT CAST(sum(am * (am - 1) // 2) AS BIGINT) AS a
  FROM (SELECT u, CAST(sum(m) AS BIGINT) AS am FROM cells GROUP BY u)),
bb AS (
  SELECT CAST(sum(bm * (bm - 1) // 2) AS BIGINT) AS b
  FROM (SELECT v, CAST(sum(m) AS BIGINT) AS bm FROM cells GROUP BY v)),
mid AS (
  SELECT n, n_cells, CAST(n * (n - 1) // 2 AS BIGINT) AS t, p, a, b
  FROM pp, aa, bb)
SELECT n, n_cells,
       CASE WHEN t = 0 THEN 0.0 ELSE
         CAST(floor(CAST(t + 2 * p - a - b AS DOUBLE) / t * 1e6 + 0.5)
           AS BIGINT) / 1e6
       END AS rand,
       CASE WHEN t = 0
           OR (CAST(a + b AS DOUBLE) / 2
               - CAST(a AS DOUBLE) * b / t) = 0 THEN 0.0 ELSE
         CAST(floor(
           (p - CAST(a AS DOUBLE) * b / t)
           / (CAST(a + b AS DOUBLE) / 2
              - CAST(a AS DOUBLE) * b / t) * 1e6 + 0.5)
           AS BIGINT) / 1e6
       END AS ari
FROM mid
"""


# ---------------------------------------------------------------------------
# partial_correlation — r(x, y | z) from one moment pass
# ---------------------------------------------------------------------------


def q_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation of x = n_chars and y = token
    count given z = distinct-token count, from one pass of nine exact
    BIGINT moment sums; each pairwise r and the partial r are
    row-local IEEE expressions.

    Scale: one map-side tokenize + 1-row partial agg; nothing else.
    """
    m = (
        _t(spark, sf_dir, "documents")
        .select(
            F.col("n_chars").cast("bigint").alias("x"),
            F.expr(f"size({_TOKARR})").cast("bigint").alias("y"),
            F.expr(f"size(array_distinct({_TOKARR}))")
            .cast("bigint")
            .alias("z"),
        )
        .groupBy()
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum("z").cast("bigint").alias("sz"),
            F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
            F.sum(F.expr("y * y")).cast("bigint").alias("syy"),
            F.sum(F.expr("z * z")).cast("bigint").alias("szz"),
            F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
            F.sum(F.expr("x * z")).cast("bigint").alias("sxz"),
            F.sum(F.expr("y * z")).cast("bigint").alias("syz"),
        )
    )
    r = (
        "CAST(n * s{a}{b} - s{a} * s{b} AS DOUBLE)"
        " / sqrt(CAST(n * s{a}{a} - s{a} * s{a} AS DOUBLE)"
        " * CAST(n * s{b}{b} - s{b} * s{b} AS DOUBLE))"
    )
    rxy, rxz, ryz = (
        r.format(a="x", b="y"),
        r.format(a="x", b="z"),
        r.format(a="y", b="z"),
    )
    guard = (
        "n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0"
        " OR n * szz - sz * sz <= 0"
    )
    return m.select(
        "n",
        F.expr(
            f"""
            CASE WHEN {guard} THEN 0.0 ELSE
              CAST(floor(({rxy}) * 1e6 + 0.5) AS BIGINT) / 1e6
            END
            """
        ).alias("r_xy"),
        F.expr(
            f"""
            CASE WHEN {guard} THEN 0.0 ELSE
              CAST(floor(({rxz}) * 1e6 + 0.5) AS BIGINT) / 1e6
            END
            """
        ).alias("r_xz"),
        F.expr(
            f"""
            CASE WHEN {guard} THEN 0.0 ELSE
              CAST(floor(({ryz}) * 1e6 + 0.5) AS BIGINT) / 1e6
            END
            """
        ).alias("r_yz"),
        F.expr(
            f"""
            CASE WHEN {guard}
                OR (1.0 - ({rxz}) * ({rxz})) * (1.0 - ({ryz}) * ({ryz}))
                   <= 0 THEN 0.0 ELSE
              CAST(floor(
                (({rxy}) - ({rxz}) * ({ryz}))
                / sqrt((1.0 - ({rxz}) * ({rxz}))
                       * (1.0 - ({ryz}) * ({ryz}))) * 1e6 + 0.5)
                AS BIGINT) / 1e6
            END
            """
        ).alias("r_xy_given_z"),
    )


def _pc_oracle() -> str:
    r = (
        "CAST(n * s{a}{b} - s{a} * s{b} AS DOUBLE)"
        " / sqrt(CAST(n * s{a}{a} - s{a} * s{a} AS DOUBLE)"
        " * CAST(n * s{b}{b} - s{b} * s{b} AS DOUBLE))"
    )
    rxy, rxz, ryz = (
        r.format(a="x", b="y"),
        r.format(a="x", b="z"),
        r.format(a="y", b="z"),
    )
    guard = (
        "n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0"
        " OR n * szz - sz * sz <= 0"
    )
    return f"""
WITH base AS (
  SELECT CAST(n_chars AS BIGINT) AS x,
         CAST(len({_TOKARR_DUCK}) AS BIGINT) AS y,
         CAST(len(list_distinct({_TOKARR_DUCK})) AS BIGINT) AS z
  FROM documents),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(z) AS BIGINT) AS sz,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(z * z) AS BIGINT) AS szz,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * z) AS BIGINT) AS sxz,
         CAST(sum(y * z) AS BIGINT) AS syz
  FROM base)
SELECT n,
       CASE WHEN {guard} THEN 0.0 ELSE
         CAST(floor(({rxy}) * 1e6 + 0.5) AS BIGINT) / 1e6
       END AS r_xy,
       CASE WHEN {guard} THEN 0.0 ELSE
         CAST(floor(({rxz}) * 1e6 + 0.5) AS BIGINT) / 1e6
       END AS r_xz,
       CASE WHEN {guard} THEN 0.0 ELSE
         CAST(floor(({ryz}) * 1e6 + 0.5) AS BIGINT) / 1e6
       END AS r_yz,
       CASE WHEN {guard}
           OR (1.0 - ({rxz}) * ({rxz})) * (1.0 - ({ryz}) * ({ryz}))
              <= 0 THEN 0.0 ELSE
         CAST(floor(
           (({rxy}) - ({rxz}) * ({ryz}))
           / sqrt((1.0 - ({rxz}) * ({rxz}))
                  * (1.0 - ({ryz}) * ({ryz}))) * 1e6 + 0.5)
           AS BIGINT) / 1e6
       END AS r_xy_given_z
FROM m
"""


ORACLE_PARTIAL_CORRELATION = _pc_oracle()


# ---------------------------------------------------------------------------
# crosscorr_leadlag — click->purchase daily cross-correlation
# ---------------------------------------------------------------------------


def q_crosscorr_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson cross-correlation of the click and purchase daily
    series at lags −``_CC_LAG``..+``_CC_LAG`` (positive lag: clicks
    lead purchases).  Per-lag moments over the date-shift equi-join
    are exact BIGINTs; days present in both shifted series only.

    Scale: two daily partial aggs, a (2L+1)× lag explode over the
    #days frame, one date equi-join, per-lag 1-row reduces.
    """
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "event_type"
    )
    da = (
        ev.where(F.col("event_type") == "click")
        .groupBy("d")
        .agg(F.count("*").cast("bigint").alias("a"))
    )
    db = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("d")
        .agg(F.count("*").cast("bigint").alias("b"))
    )
    shifted = da.select(
        F.explode(F.expr(f"sequence({-_CC_LAG}, {_CC_LAG})")).alias("lag"),
        F.expr("date_add(d, CAST(lag AS INT))").alias("dj"),
        "a",
    )
    joined = shifted.join(db, shifted["dj"] == db["d"]).select("lag", "a", "b")
    per = joined.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("b").cast("bigint").alias("sb"),
        F.sum(F.expr("a * a")).cast("bigint").alias("saa"),
        F.sum(F.expr("b * b")).cast("bigint").alias("sbb"),
        F.sum(F.expr("a * b")).cast("bigint").alias("sab"),
    )
    return per.select(
        F.col("lag").cast("int").alias("lag"),
        "n_days",
        F.expr(
            """
            CASE WHEN n_days < 2
                OR n_days * saa - sa * sa <= 0
                OR n_days * sbb - sb * sb <= 0 THEN 0.0 ELSE
              CAST(floor(
                CAST(n_days * sab - sa * sb AS DOUBLE)
                / sqrt(CAST(n_days * saa - sa * sa AS DOUBLE)
                       * CAST(n_days * sbb - sb * sb AS DOUBLE))
                * 1e6 + 0.5) AS BIGINT) / 1e6
            END
            """
        ).alias("r"),
    ).orderBy("lag")


ORACLE_CROSSCORR_LEADLAG = f"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS d, event_type FROM events),
da AS (
  SELECT d, CAST(count(*) AS BIGINT) AS a
  FROM ev WHERE event_type = 'click' GROUP BY d),
db AS (
  SELECT d, CAST(count(*) AS BIGINT) AS b
  FROM ev WHERE event_type = 'purchase' GROUP BY d),
shifted AS (
  SELECT lag, da.d + CAST(lag AS INTEGER) AS dj, a
  FROM da CROSS JOIN (SELECT unnest(range({-_CC_LAG}, {_CC_LAG + 1}))
                      AS lag)),
joined AS (
  SELECT lag, a, b FROM shifted JOIN db ON shifted.dj = db.d),
per AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
         CAST(sum(a * a) AS BIGINT) AS saa,
         CAST(sum(b * b) AS BIGINT) AS sbb,
         CAST(sum(a * b) AS BIGINT) AS sab
  FROM joined GROUP BY lag)
SELECT CAST(lag AS INTEGER) AS lag, n_days,
       CASE WHEN n_days < 2
           OR n_days * saa - sa * sa <= 0
           OR n_days * sbb - sb * sb <= 0 THEN 0.0 ELSE
         CAST(floor(
           CAST(n_days * sab - sa * sb AS DOUBLE)
           / sqrt(CAST(n_days * saa - sa * sa AS DOUBLE)
                  * CAST(n_days * sbb - sb * sb AS DOUBLE))
           * 1e6 + 0.5) AS BIGINT) / 1e6
       END AS r
FROM per ORDER BY lag
"""


# ---------------------------------------------------------------------------
# rayleigh_test — circular stats of event time-of-day
# ---------------------------------------------------------------------------


def q_rayleigh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rayleigh uniformity test of the event clock angle.

    θ = 2π·(seconds-of-day)/86400 on integer seconds (both engines
    truncate sub-second parts identically); per-event cos/sin terms
    are micro-quantized before the integer sums; R̄, z = n·R̄², and
    the atan2 mean direction (in hours) are row-local.  sc²+ss² is
    evaluated in doubles — (n·10⁶)² exceeds BIGINT first.

    Scale: one map-side projection + 1-row partial agg.
    """
    agg = (
        _t(spark, sf_dir, "events")
        .select(
            F.expr(
                "hour(ts) * 3600 + minute(ts) * 60 + second(ts)"
            )
            .cast("bigint")
            .alias("sod")
        )
        .groupBy()
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                F.expr(
                    """
                    CAST(floor(cos(2 * pi() * CAST(sod AS DOUBLE) / 86400.0)
                      * 1e6 + 0.5) AS BIGINT)
                    """
                )
            )
            .cast("bigint")
            .alias("sc"),
            F.sum(
                F.expr(
                    """
                    CAST(floor(sin(2 * pi() * CAST(sod AS DOUBLE) / 86400.0)
                      * 1e6 + 0.5) AS BIGINT)
                    """
                )
            )
            .cast("bigint")
            .alias("ss"),
        )
    )
    return agg.select(
        "n",
        F.expr(
            """
            CAST(floor(sqrt(CAST(sc AS DOUBLE) * sc
              + CAST(ss AS DOUBLE) * ss) / (CAST(n AS DOUBLE) * 1e6)
              * 1e6 + 0.5) AS BIGINT) / 1e6
            """
        ).alias("rbar"),
        F.expr(
            """
            CAST(floor((CAST(sc AS DOUBLE) * sc + CAST(ss AS DOUBLE) * ss)
              / (CAST(n AS DOUBLE) * 1e12) * 1e6 + 0.5) AS BIGINT) / 1e6
            """
        ).alias("rayleigh_z"),
        F.expr(
            """
            CAST(floor(
              (CASE WHEN atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE)) < 0
                 THEN atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))
                      + 2 * pi()
                 ELSE atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE)) END)
              / (2 * pi()) * 24 * 1e6 + 0.5) AS BIGINT) / 1e6
            """
        ).alias("mean_hour"),
    )


ORACLE_RAYLEIGH_TEST = """
WITH agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(cos(2 * pi() * CAST(sod AS DOUBLE) / 86400.0)
             * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sc,
         CAST(sum(CAST(floor(sin(2 * pi() * CAST(sod AS DOUBLE) / 86400.0)
             * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS ss
  FROM (SELECT CAST(hour(ts) * 3600 + minute(ts) * 60 + second(ts)
               AS BIGINT) AS sod
        FROM events))
SELECT n,
       CAST(floor(sqrt(CAST(sc AS DOUBLE) * sc
         + CAST(ss AS DOUBLE) * ss) / (CAST(n AS DOUBLE) * 1e6)
         * 1e6 + 0.5) AS BIGINT) / 1e6 AS rbar,
       CAST(floor((CAST(sc AS DOUBLE) * sc + CAST(ss AS DOUBLE) * ss)
         / (CAST(n AS DOUBLE) * 1e12) * 1e6 + 0.5) AS BIGINT) / 1e6
         AS rayleigh_z,
       CAST(floor(
         (CASE WHEN atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE)) < 0
            THEN atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))
                 + 2 * pi()
            ELSE atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE)) END)
         / (2 * pi()) * 24 * 1e6 + 0.5) AS BIGINT) / 1e6 AS mean_hour
FROM agg
"""


DEPENDENCE_QUERIES = {
    "chatterjee_xi": q_chatterjee_xi,
    "rand_index": q_rand_index,
    "partial_correlation": q_partial_correlation,
    "crosscorr_leadlag": q_crosscorr_leadlag,
    "rayleigh_test": q_rayleigh_test,
}

DEPENDENCE_ORACLES = {
    "chatterjee_xi": ORACLE_CHATTERJEE_XI,
    "rand_index": ORACLE_RAND_INDEX,
    "partial_correlation": ORACLE_PARTIAL_CORRELATION,
    "crosscorr_leadlag": ORACLE_CROSSCORR_LEADLAG,
    "rayleigh_test": ORACLE_RAYLEIGH_TEST,
}

_q.QUERIES.update(DEPENDENCE_QUERIES)
_q.ORACLES.update(DEPENDENCE_ORACLES)
