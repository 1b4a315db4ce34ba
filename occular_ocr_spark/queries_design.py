"""Mixture, coding & design catalog, round 4 (wave 46): five
operators spanning the latent-mixture, source-coding, topic-
segmentation, extreme-comovement, and sampling-design surfaces —

* ``gmm_em2`` — two unrolled EM iterations of a 2-component Gaussian
  mixture on the ``n_chars`` value histogram: quartile-seeded means,
  a FIXED shared variance (the global variance, floored at 1 — the
  equal-covariance simplification, documented), responsibilities
  micro-quantized per histogram value BEFORE the weighted moment
  sums, and means/weights re-derived from exact BIGINT micro-count
  sums each iteration.  The soft companion to ``kmeans_lloyd``
  (which is this with hard assignments).
* ``shannon_code_audit`` — Shannon code lengths ⌈−log₂ p_s⌉ over the
  source distribution: per-source bits, the Kraft sum Σ2^(−len) ≤ 1
  check (powers of two add exactly in binary floating point), the
  entropy lower bound via the exact n·log₂ n identity, expected code
  length, and redundancy.  The coding-theory companion to
  ``token_entropy``.
* ``texttiling_boundaries`` — TextTiling-style topic-shift detection
  per source: distinct-token Jaccard between doc_id-consecutive
  documents (adjacency via per-source rank + a (source, rank)→
  (source, rank+1) equi-join on the token table), boundaries where
  similarity drops below mean − std of that source's gap series.
  The segmentation companion to ``boilerplate_scrub`` /
  ``changepoint_binseg``.
* ``tail_dependence`` — empirical upper-tail dependence of the click
  and purchase daily series: exact order-statistic 75th-percentile
  thresholds from the per-series value histograms, and
  λ̂_U = P(B > q_B | A > q_A) with its lift over the base rate.
  The extreme-comovement companion to ``crosscorr_leadlag``
  (which sees only the linear middle).
* ``neyman_allocation`` — Neyman optimal allocation of a
  ``_NA_BUDGET``-row sample across sources ∝ n_h·s_h: per-source
  standard deviations from exact moment sums, per-source n_h·s_h
  terms micro-quantized before the total, integer round-half-up
  allocations, and each stratum's share.  The design companion to
  ``sample_stratified`` (which executes a given design).

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus physical-plan assertions in tests/test_design_wave.py.

Cross-engine float policy (the corr_matrix / zipf_fit doctrine):
responsibilities, n_h·s_h terms, and similarity ratios are micro-
quantized to BIGINT before any cross-row sum; EM parameters are
micro-rounded rationals of integer sums between iterations so both
engines enter iteration 2 with bit-identical constants; Kraft adds
exact binary powers; threshold comparisons evaluate identical
integer-derived doubles on both engines.

Scale notes: ``gmm_em2`` / ``shannon_code_audit`` /
``tail_dependence`` run over bounded value histograms / #sources /
#days frames; ``texttiling_boundaries``'s rank window is partitioned
by source and its adjacency is a co-partitioned equi-join;
``neyman_allocation`` is one per-source partial agg + a 1-row total.

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from .queries import _t

# Neyman sample budget.
_NA_BUDGET = 100

# EM iteration count (unrolled).
_EM_ITERS = 2


# ---------------------------------------------------------------------------
# gmm_em2 — two EM iterations, shared fixed variance
# ---------------------------------------------------------------------------


def _em_resp_expr(mu1: str, mu2: str, w1: str, var: str) -> str:
    """Micro-quantized responsibility of component 1 at value v.

    With a shared variance the normal densities' common factor
    cancels: r = w1·e1 / (w1·e1 + (1−w1)·e2) with
    e_k = exp(−(v−μ_k)²/(2σ²)).  The SAME string feeds F.expr and
    the DuckDB oracle, so both engines evaluate one identical tree.
    """
    e1 = f"exp(-(v - {mu1}) * (v - {mu1}) / (2.0 * {var}))"
    e2 = f"exp(-(v - {mu2}) * (v - {mu2}) / (2.0 * {var}))"
    return (
        f"CAST(floor({w1} * {e1} / ({w1} * {e1} + (1.0 - {w1}) * {e2})"
        " * 1e6 + 0.5) AS BIGINT)"
    )


def q_gmm_em2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-component, shared-variance GMM on n_chars, 2 EM steps.

    Init: μ = lower-quartile order statistics (ranks (n+1) DIV 4 and
    (3n+3) DIV 4 of the exact histogram), w = 0.5, σ² = the global
    population variance floored at 1 (FIXED across iterations).  Each
    M-step rebuilds μ_k, w_1 from Σ m·r (micro-counts) and Σ m·r·v —
    exact BIGINTs — and micro-rounds them, so iteration 2's constants
    are bit-identical on both engines.

    Scale: one value-histogram partial agg; every subsequent frame is
    the bounded histogram crossed with a 1-row parameter row.
    """
    hist = (
        _t(spark, sf_dir, "documents")
        .groupBy(F.col("n_chars").cast("double").alias("v"))
        .agg(F.count("*").cast("bigint").alias("m"))
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("m").over(wc).cast("bigint")).withColumn(
        "n", F.sum("m").over(Window.partitionBy()).cast("bigint")
    )
    init = (
        cum.groupBy()
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.min(
                F.expr("CASE WHEN cum >= (n + 1) DIV 4 THEN v END")
            ).alias("mu1"),
            F.min(
                F.expr("CASE WHEN cum >= (3 * n + 3) DIV 4 THEN v END")
            ).alias("mu2"),
        )
        .crossJoin(
            F.broadcast(
                hist.groupBy().agg(
                    F.sum(F.expr("m * v")).alias("sv"),
                    F.sum(F.expr("m * v * v")).alias("svv"),
                    F.sum("m").cast("bigint").alias("nn"),
                )
            )
        )
        .select(
            "n",
            "mu1",
            "mu2",
            F.lit(0.5).alias("w1"),
            F.expr(
                """
                greatest(1.0,
                  CAST(floor((svv / nn - (sv / nn) * (sv / nn)) * 1e6
                    + 0.5) AS BIGINT) / 1e6)
                """
            ).alias("var"),
        )
    )
    params = init
    for _ in range(_EM_ITERS):
        r = _em_resp_expr("mu1", "mu2", "w1", "var")
        step = (
            hist.crossJoin(F.broadcast(params))
            .select(
                "n",
                "var",
                F.expr(r).alias("rq"),
                "m",
                "v",
            )
            .groupBy()
            .agg(
                F.max("n").cast("bigint").alias("n"),
                F.max("var").alias("var"),
                F.sum(F.expr("m * rq")).cast("bigint").alias("c1"),
                F.sum(F.expr("m * rq * v")).alias("s1"),
                F.sum(F.expr("m * (1000000 - rq)")).cast("bigint").alias("c2"),
                F.sum(F.expr("m * (1000000 - rq) * v")).alias("s2"),
            )
        )
        params = step.select(
            "n",
            F.expr(
                "CAST(floor(s1 / greatest(c1, 1) * 1e6 + 0.5) AS BIGINT)"
                " / 1e6"
            ).alias("mu1"),
            F.expr(
                "CAST(floor(s2 / greatest(c2, 1) * 1e6 + 0.5) AS BIGINT)"
                " / 1e6"
            ).alias("mu2"),
            F.expr(
                "CAST(floor(CAST(c1 AS DOUBLE) / (c1 + c2) * 1e6 + 0.5)"
                " AS BIGINT) / 1e6"
            ).alias("w1"),
            "var",
        )
    return params.select(
        "n",
        "mu1",
        "mu2",
        "w1",
        F.expr(
            "CAST(floor(sqrt(var) * 1e6 + 0.5) AS BIGINT) / 1e6"
        ).alias("sigma"),
    )


def _gmm_oracle() -> str:
    r1 = _em_resp_expr("mu1", "mu2", "w1", "var")
    r2 = _em_resp_expr("mu1", "mu2", "w1", "var")
    step = """
step{k} AS (
  SELECT CAST(max(n) AS BIGINT) AS n, max(var) AS var,
         CAST(sum(m * rq) AS BIGINT) AS c1,
         sum(m * rq * v) AS s1,
         CAST(sum(m * (1000000 - rq)) AS BIGINT) AS c2,
         sum(m * (1000000 - rq) * v) AS s2
  FROM (SELECT h.m, h.v, p.n, p.var, {r} AS rq
        FROM hist h, p{j} p)),
p{k} AS (
  SELECT n,
         CAST(floor(s1 / greatest(c1, 1) * 1e6 + 0.5) AS BIGINT) / 1e6
           AS mu1,
         CAST(floor(s2 / greatest(c2, 1) * 1e6 + 0.5) AS BIGINT) / 1e6
           AS mu2,
         CAST(floor(CAST(c1 AS DOUBLE) / (c1 + c2) * 1e6 + 0.5)
           AS BIGINT) / 1e6 AS w1,
         var
  FROM step{k})"""
    return f"""
WITH hist AS (
  SELECT CAST(n_chars AS DOUBLE) AS v, CAST(count(*) AS BIGINT) AS m
  FROM documents GROUP BY 1),
cum AS (
  SELECT v, m,
         CAST(sum(m) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum,
         CAST(sum(m) OVER () AS BIGINT) AS n
  FROM hist),
gm AS (
  SELECT sum(m * v) AS sv, sum(m * v * v) AS svv,
         CAST(sum(m) AS BIGINT) AS nn
  FROM hist),
p0agg AS (
  SELECT CAST(max(n) AS BIGINT) AS n,
         min(CASE WHEN cum >= (n + 1) // 4 THEN v END) AS mu1,
         min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS mu2
  FROM cum),
p0 AS (
  SELECT n, mu1, mu2, 0.5 AS w1,
         greatest(1.0,
           CAST(floor((svv / nn - (sv / nn) * (sv / nn)) * 1e6 + 0.5)
             AS BIGINT) / 1e6) AS var
  FROM p0agg, gm),
{step.format(k=1, j=0, r=r1)},
{step.format(k=2, j=1, r=r2)}
SELECT n, mu1, mu2, w1,
       CAST(floor(sqrt(var) * 1e6 + 0.5) AS BIGINT) / 1e6 AS sigma
FROM p2
"""


ORACLE_GMM_EM2 = _gmm_oracle()


# ---------------------------------------------------------------------------
# shannon_code_audit — Shannon code over the source distribution
# ---------------------------------------------------------------------------


def q_shannon_code_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon code ⌈−log₂ p⌉ over sources: expected length vs the
    entropy lower bound (exact n·log₂ n identity, micro-quantized
    per source), redundancy, and the Kraft sum Σ2^(−len) (each term
    an exact binary power, so the float sum is exact and order-free).

    Scale: one per-source partial agg (k rows), one 1-row reduce.
    """
    per = (
        _t(spark, sf_dir, "documents")
        .groupBy(F.coalesce("source", F.lit("")).alias("g"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    tot = per.groupBy().agg(F.sum("c").cast("bigint").alias("n"))
    terms = per.crossJoin(F.broadcast(tot)).select(
        "c",
        "n",
        F.expr(
            "CAST(ceil(ln(CAST(n AS DOUBLE) / c) / ln(2.0)) AS BIGINT)"
        ).alias("len"),
        F.expr(
            "CAST(floor(c * ln(CAST(c AS DOUBLE)) / ln(2.0) * 1e6 + 0.5)"
            " AS BIGINT)"
        ).alias("qlog"),
    )
    agg = terms.groupBy().agg(
        F.count("*").cast("bigint").alias("n_sources"),
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.expr("c * len")).cast("bigint").alias("slen"),
        F.sum("qlog").cast("bigint").alias("qsum"),
        F.sum(F.expr("power(2.0, -len)")).alias("kraft"),
        F.max("len").cast("bigint").alias("max_len"),
    )
    return agg.select(
        "n_sources",
        "n",
        "max_len",
        F.expr(
            """
            CAST(floor((CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
              / ln(2.0) - CAST(qsum AS DOUBLE) / 1e6) / n * 1e6 + 0.5)
              AS BIGINT) / 1e6
            """
        ).alias("entropy_bits"),
        F.expr(
            "CAST(floor(CAST(slen AS DOUBLE) / n * 1e6 + 0.5) AS BIGINT)"
            " / 1e6"
        ).alias("expected_len"),
        F.expr(
            """
            CAST(floor((CAST(slen AS DOUBLE) / n
              - (CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)) / ln(2.0)
                 - CAST(qsum AS DOUBLE) / 1e6) / n) * 1e6 + 0.5)
              AS BIGINT) / 1e6
            """
        ).alias("redundancy"),
        F.expr(
            "CAST(floor(kraft * 1e6 + 0.5) AS BIGINT) / 1e6"
        ).alias("kraft_sum"),
        (F.col("kraft") <= 1.0).alias("kraft_ok"),
    )


ORACLE_SHANNON_CODE_AUDIT = """
WITH per AS (
  SELECT coalesce(source, '') AS g, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM per),
terms AS (
  SELECT c, n,
         CAST(ceil(ln(CAST(n AS DOUBLE) / c) / ln(2.0)) AS BIGINT)
           AS len,
         CAST(floor(c * ln(CAST(c AS DOUBLE)) / ln(2.0) * 1e6 + 0.5)
           AS BIGINT) AS qlog
  FROM per, tot),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sources,
         CAST(max(n) AS BIGINT) AS n,
         CAST(sum(c * len) AS BIGINT) AS slen,
         CAST(sum(qlog) AS BIGINT) AS qsum,
         sum(power(2.0, -len)) AS kraft,
         CAST(max(len) AS BIGINT) AS max_len
  FROM terms)
SELECT n_sources, n, max_len,
       CAST(floor((CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)) / ln(2.0)
         - CAST(qsum AS DOUBLE) / 1e6) / n * 1e6 + 0.5) AS BIGINT)
         / 1e6 AS entropy_bits,
       CAST(floor(CAST(slen AS DOUBLE) / n * 1e6 + 0.5) AS BIGINT)
         / 1e6 AS expected_len,
       CAST(floor((CAST(slen AS DOUBLE) / n
         - (CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)) / ln(2.0)
            - CAST(qsum AS DOUBLE) / 1e6) / n) * 1e6 + 0.5)
         AS BIGINT) / 1e6 AS redundancy,
       CAST(floor(kraft * 1e6 + 0.5) AS BIGINT) / 1e6 AS kraft_sum,
       kraft <= 1.0 AS kraft_ok
FROM agg
"""


# ---------------------------------------------------------------------------
# texttiling_boundaries — topic-shift dips per source
# ---------------------------------------------------------------------------


def q_texttiling_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling gaps: distinct-token Jaccard between doc_id-
    consecutive docs of each source; a boundary is a gap whose
    similarity (micro-int) falls below mean − std of that source's
    gaps (exact integer moments → one identical double threshold).

    Scale: the per-source rank is the two-level decomposition
    (score_deciles / epoch_shuffle house pattern; VERDICT r5 "What's
    wrong" #1 — a window partitioned solely by the fixed-cardinality
    source funnels n/|sources| rows through one task): level 1 buckets
    doc_id into bounded ordered ranges and prefix-sums per-(source,
    bucket) counts over a bounded window; level 2 is row_number within
    (source, bucket).  Then one (source, rank)→(source, rank+1) token
    equi-join, per-pair then per-source partial aggs.
    """
    base = _t(spark, sf_dir, "documents").select(
        F.coalesce("source", F.lit("")).alias("g"), "doc_id", "text"
    )
    mx = base.agg(F.max("doc_id").cast("bigint").alias("mx"))
    bucketed = base.crossJoin(F.broadcast(mx)).select(
        "g",
        "doc_id",
        "text",
        F.expr("CAST(doc_id DIV (mx DIV 4096 + 1) AS INT)").alias("bk"),
    )
    vcounts = bucketed.groupBy("g", "bk").agg(F.count("*").alias("c"))
    wv = Window.partitionBy("g").orderBy("bk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = vcounts.select(
        "g", "bk", F.coalesce(F.sum("c").over(wv), F.lit(0)).alias("p")
    )
    wr = Window.partitionBy("g", "bk").orderBy("doc_id")
    ranked = bucketed.join(F.broadcast(prefix), ["g", "bk"]).select(
        "g",
        "text",
        (F.col("p") + F.row_number().over(wr)).cast("bigint").alias("j"),
    )
    # persisted: the token table feeds sizes AND both sides of the
    # adjacency join — unpersisted, the rank + explode chain re-ran
    # once per reference
    toks = _q._persist_tracked(
        ranked.select(
            "g",
            "j",
            F.explode(
                F.expr(
                    "array_distinct(filter(split(coalesce(text, ''), ' '),"
                    " x -> x <> ''))"
                )
            ).alias("tok"),
        )
    )
    sizes = _q._persist_tracked(
        toks.groupBy("g", "j").agg(F.count("*").cast("bigint").alias("sz"))
    )
    nxt = toks.select("g", (F.col("j") - 1).alias("j"), "tok")
    inter = (
        toks.join(nxt, ["g", "j", "tok"])
        .groupBy("g", "j")
        .agg(F.count("*").cast("bigint").alias("ix"))
    )
    pairs = _q._persist_tracked(
        sizes.alias("a")
        .join(
            sizes.select(
                "g", (F.col("j") - 1).alias("j"), F.col("sz").alias("szb")
            ).alias("b"),
            ["g", "j"],
        )
        .join(inter, ["g", "j"], "left")
        .select(
            "g",
            F.expr(
                """
                CAST((2000000 * coalesce(ix, 0) + (sz + szb - coalesce(ix, 0)))
                  DIV (2 * (sz + szb - coalesce(ix, 0))) AS BIGINT)
                """
            ).alias("sim_u"),
        )
    )
    stats = pairs.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("sim_u").cast("bigint").alias("s1"),
        F.sum(F.expr("sim_u * sim_u")).cast("bigint").alias("s2"),
        F.min("sim_u").cast("bigint").alias("min_u"),
    )
    return (
        pairs.join(stats, "g")
        .groupBy(
            "g",
            "n_pairs",
            "s1",
            "s2",
            "min_u",
        )
        .agg(
            F.sum(
                F.expr(
                    """
                    CASE WHEN n_pairs >= 2 AND CAST(sim_u AS DOUBLE)
                        < CAST(s1 AS DOUBLE) / n_pairs
                          - sqrt(CAST(n_pairs * s2 - s1 * s1 AS DOUBLE))
                            / n_pairs
                      THEN 1 ELSE 0 END
                    """
                )
            )
            .cast("bigint")
            .alias("n_boundaries")
        )
        .select(
            F.col("g").alias("source"),
            "n_pairs",
            F.expr("(2 * s1 + n_pairs) DIV (2 * n_pairs) / 1e6").alias(
                "mean_sim"
            ),
            F.expr("min_u / 1e6").alias("min_sim"),
            "n_boundaries",
        )
        .orderBy("source")
    )


ORACLE_TEXTTILING_BOUNDARIES = """
WITH ranked AS (
  SELECT coalesce(source, '') AS g, doc_id, text,
         CAST(row_number() OVER (PARTITION BY coalesce(source, '')
             ORDER BY doc_id) AS BIGINT) AS j
  FROM documents),
toks AS (
  SELECT g, j,
         unnest(list_distinct(list_filter(
           string_split(coalesce(text, ''), ' '), x -> x <> ''))) AS tok
  FROM ranked),
sizes AS (
  SELECT g, j, CAST(count(*) AS BIGINT) AS sz FROM toks GROUP BY 1, 2),
inter AS (
  SELECT a.g, a.j, CAST(count(*) AS BIGINT) AS ix
  FROM toks a JOIN toks b
    ON a.g = b.g AND b.j = a.j + 1 AND a.tok = b.tok
  GROUP BY 1, 2),
pairs AS (
  SELECT a.g,
         CAST((2000000 * coalesce(ix, 0)
             + (a.sz + b.sz - coalesce(ix, 0)))
           // (2 * (a.sz + b.sz - coalesce(ix, 0))) AS BIGINT) AS sim_u
  FROM sizes a
  JOIN sizes b ON a.g = b.g AND b.j = a.j + 1
  LEFT JOIN inter i ON i.g = a.g AND i.j = a.j),
stats AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(sim_u) AS BIGINT) AS s1,
         CAST(sum(sim_u * sim_u) AS BIGINT) AS s2,
         CAST(min(sim_u) AS BIGINT) AS min_u
  FROM pairs GROUP BY g)
SELECT p.g AS source,
       s.n_pairs,
       (2 * s.s1 + s.n_pairs) // (2 * s.n_pairs) / 1e6 AS mean_sim,
       s.min_u / 1e6 AS min_sim,
       CAST(sum(CASE WHEN s.n_pairs >= 2 AND CAST(p.sim_u AS DOUBLE)
           < CAST(s.s1 AS DOUBLE) / s.n_pairs
             - sqrt(CAST(s.n_pairs * s.s2 - s.s1 * s.s1 AS DOUBLE))
               / s.n_pairs
         THEN 1 ELSE 0 END) AS BIGINT) AS n_boundaries
FROM pairs p JOIN stats s USING (g)
GROUP BY p.g, s.n_pairs, s.s1, s.s2, s.min_u
ORDER BY source
"""


# ---------------------------------------------------------------------------
# tail_dependence — upper-tail comovement of clicks and purchases
# ---------------------------------------------------------------------------


def q_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical upper-tail dependence λ̂_U = P(B > q_B | A > q_A)
    between the click (A) and purchase (B) daily series on shared
    days, with q = the exact order statistic at rank
    ceil(0.75·(n+1)) (clamped) from each series' value histogram,
    and the lift over the unconditional base rate P(B > q_B).

    Scale: two daily partial aggs joined on the day key; quantile
    windows run over the bounded per-series value histograms.
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
    both = da.join(db, "d").select("a", "b")

    def _q75(col: str):
        h = both.groupBy(F.col(col).alias("v")).agg(
            F.count("*").cast("bigint").alias("m")
        )
        wq = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        c = h.withColumn("cum", F.sum("m").over(wq).cast("bigint")).withColumn(
            "n", F.sum("m").over(Window.partitionBy()).cast("bigint")
        )
        return c.groupBy().agg(
            F.min(
                F.expr(
                    "CASE WHEN cum >= least(CAST(ceil(0.75 * (n + 1))"
                    " AS BIGINT), n) THEN v END"
                )
            )
            .cast("bigint")
            .alias(f"q_{col}")
        )

    qa, qb = _q75("a"), _q75("b")
    agg = (
        both.crossJoin(F.broadcast(qa))
        .crossJoin(F.broadcast(qb))
        .groupBy()
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.max("q_a").cast("bigint").alias("q_a"),
            F.max("q_b").cast("bigint").alias("q_b"),
            F.sum(F.expr("CASE WHEN a > q_a THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_a_tail"),
            F.sum(F.expr("CASE WHEN b > q_b THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_b_tail"),
            F.sum(
                F.expr("CASE WHEN a > q_a AND b > q_b THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_joint"),
        )
    )
    return agg.select(
        "n_days",
        "q_a",
        "q_b",
        "n_a_tail",
        "n_b_tail",
        "n_joint",
        F.expr(
            """
            CASE WHEN n_a_tail = 0 THEN 0.0 ELSE
              (2000000 * n_joint + n_a_tail) DIV (2 * n_a_tail) / 1e6
            END
            """
        ).alias("lambda_u"),
        F.expr(
            """
            CASE WHEN n_a_tail = 0 OR n_b_tail = 0 THEN 0.0 ELSE
              CAST(floor(CAST(n_joint AS DOUBLE) / n_a_tail
                / (CAST(n_b_tail AS DOUBLE) / n_days) * 1e6 + 0.5)
                AS BIGINT) / 1e6
            END
            """
        ).alias("lift"),
    )


ORACLE_TAIL_DEPENDENCE = """
WITH ev AS (SELECT CAST(ts AS DATE) AS d, event_type FROM events),
da AS (
  SELECT d, CAST(count(*) AS BIGINT) AS a
  FROM ev WHERE event_type = 'click' GROUP BY d),
db AS (
  SELECT d, CAST(count(*) AS BIGINT) AS b
  FROM ev WHERE event_type = 'purchase' GROUP BY d),
ab AS (SELECT a, b FROM da JOIN db USING (d)),
qa AS (
  SELECT CAST(min(CASE WHEN cum >= least(CAST(ceil(0.75 * (n + 1))
        AS BIGINT), n) THEN v END) AS BIGINT) AS q_a
  FROM (SELECT v, CAST(sum(m) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cum,
          CAST(sum(m) OVER () AS BIGINT) AS n
        FROM (SELECT a AS v, CAST(count(*) AS BIGINT) AS m
              FROM ab GROUP BY a))),
qb AS (
  SELECT CAST(min(CASE WHEN cum >= least(CAST(ceil(0.75 * (n + 1))
        AS BIGINT), n) THEN v END) AS BIGINT) AS q_b
  FROM (SELECT v, CAST(sum(m) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cum,
          CAST(sum(m) OVER () AS BIGINT) AS n
        FROM (SELECT b AS v, CAST(count(*) AS BIGINT) AS m
              FROM ab GROUP BY b))),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(max(q_a) AS BIGINT) AS q_a,
         CAST(max(q_b) AS BIGINT) AS q_b,
         CAST(sum(CASE WHEN a > q_a THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a_tail,
         CAST(sum(CASE WHEN b > q_b THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b_tail,
         CAST(sum(CASE WHEN a > q_a AND b > q_b THEN 1 ELSE 0 END)
           AS BIGINT) AS n_joint
  FROM ab, qa, qb)
SELECT n_days, q_a, q_b, n_a_tail, n_b_tail, n_joint,
       CASE WHEN n_a_tail = 0 THEN 0.0 ELSE
         (2000000 * n_joint + n_a_tail) // (2 * n_a_tail) / 1e6
       END AS lambda_u,
       CASE WHEN n_a_tail = 0 OR n_b_tail = 0 THEN 0.0 ELSE
         CAST(floor(CAST(n_joint AS DOUBLE) / n_a_tail
           / (CAST(n_b_tail AS DOUBLE) / n_days) * 1e6 + 0.5)
           AS BIGINT) / 1e6
       END AS lift
FROM agg
"""


# ---------------------------------------------------------------------------
# neyman_allocation — optimal stratified sample allocation
# ---------------------------------------------------------------------------


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman allocation of ``_NA_BUDGET`` sampled rows across
    sources ∝ n_h·s_h (population std per stratum): per-stratum
    n_h·s_h terms micro-quantize before the grand total, allocations
    are integer round-half-up of budget·share, and the stratum share
    is reported.  Single-doc or zero-variance strata get s_h = 0 and
    thus allocation 0 — the degenerate-stratum convention,
    documented.

    Scale: one per-source moment agg (k rows), one 1-row total
    broadcast back; no windows.
    """
    per = (
        _t(spark, sf_dir, "documents")
        .groupBy(F.coalesce("source", F.lit("")).alias("source"))
        .agg(
            F.count("*").cast("bigint").alias("n_h"),
            F.sum(F.col("n_chars").cast("bigint")).cast("bigint").alias("s1"),
            F.sum(F.expr("CAST(n_chars AS BIGINT) * n_chars"))
            .cast("bigint")
            .alias("s2"),
        )
        .select(
            "source",
            "n_h",
            F.expr(
                """
                CASE WHEN n_h < 2 OR n_h * s2 - s1 * s1 <= 0 THEN 0
                ELSE CAST(floor(CAST(n_h AS DOUBLE)
                  * sqrt(CAST(n_h * s2 - s1 * s1 AS DOUBLE))
                  / n_h * 1e6 + 0.5) AS BIGINT)
                END
                """
            ).alias("t_u"),
            F.expr(
                """
                CASE WHEN n_h < 2 OR n_h * s2 - s1 * s1 <= 0 THEN 0.0
                ELSE CAST(floor(sqrt(CAST(n_h * s2 - s1 * s1 AS DOUBLE))
                  / n_h * 1e6 + 0.5) AS BIGINT) / 1e6
                END
                """
            ).alias("s_h"),
        )
    )
    tot = per.groupBy().agg(F.sum("t_u").cast("bigint").alias("t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_h",
            "s_h",
            F.expr(
                f"""
                CASE WHEN t = 0 THEN 0 ELSE
                  CAST((2 * {_NA_BUDGET} * t_u + t) DIV (2 * t) AS BIGINT)
                END
                """
            ).alias("alloc_n"),
            F.expr(
                """
                CASE WHEN t = 0 THEN 0.0 ELSE
                  (2000000 * t_u + t) DIV (2 * t) / 1e6
                END
                """
            ).alias("share"),
        )
        .orderBy("source")
    )


ORACLE_NEYMAN_ALLOCATION = f"""
WITH per AS (
  SELECT source, n_h,
         CASE WHEN n_h < 2 OR n_h * s2 - s1 * s1 <= 0 THEN 0
         ELSE CAST(floor(CAST(n_h AS DOUBLE)
           * sqrt(CAST(n_h * s2 - s1 * s1 AS DOUBLE))
           / n_h * 1e6 + 0.5) AS BIGINT)
         END AS t_u,
         CASE WHEN n_h < 2 OR n_h * s2 - s1 * s1 <= 0 THEN 0.0
         ELSE CAST(floor(sqrt(CAST(n_h * s2 - s1 * s1 AS DOUBLE))
           / n_h * 1e6 + 0.5) AS BIGINT) / 1e6
         END AS s_h
  FROM (SELECT coalesce(source, '') AS source,
               CAST(count(*) AS BIGINT) AS n_h,
               CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS s1,
               CAST(sum(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT)
                 AS s2
        FROM documents GROUP BY 1)),
tot AS (SELECT CAST(sum(t_u) AS BIGINT) AS t FROM per)
SELECT source, n_h, s_h,
       CASE WHEN t = 0 THEN 0 ELSE
         CAST((2 * {_NA_BUDGET} * t_u + t) // (2 * t) AS BIGINT)
       END AS alloc_n,
       CASE WHEN t = 0 THEN 0.0 ELSE
         (2000000 * t_u + t) // (2 * t) / 1e6
       END AS share
FROM per, tot
ORDER BY source
"""


DESIGN_QUERIES = {
    "gmm_em2": q_gmm_em2,
    "shannon_code_audit": q_shannon_code_audit,
    "texttiling_boundaries": q_texttiling_boundaries,
    "tail_dependence": q_tail_dependence,
    "neyman_allocation": q_neyman_allocation,
}

DESIGN_ORACLES = {
    "gmm_em2": ORACLE_GMM_EM2,
    "shannon_code_audit": ORACLE_SHANNON_CODE_AUDIT,
    "texttiling_boundaries": ORACLE_TEXTTILING_BOUNDARIES,
    "tail_dependence": ORACLE_TAIL_DEPENDENCE,
    "neyman_allocation": ORACLE_NEYMAN_ALLOCATION,
}

_q.QUERIES.update(DESIGN_QUERIES)
_q.ORACLES.update(DESIGN_ORACLES)
