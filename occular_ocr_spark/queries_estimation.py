"""Estimation & placement catalog, round 4 (wave 43): five operators
spanning the causal-adjustment, shard-placement, goodness-of-fit,
model-selection, and abundance-estimation surfaces —

* ``ipw_effect`` — stratified average-treatment-effect estimate of
  ``lang = 'en'`` on per-doc token count, adjusting for ``source``
  (the classic confounder-stratification / IPW-equivalent estimator
  on discrete strata): per-stratum arm means over exact integer
  sums, strata missing either arm are dropped (and counted), and the
  raw unadjusted difference is reported alongside.  The causal
  companion to ``cuped_adjustment``.
* ``rendezvous_shards`` — highest-random-weight (rendezvous) hashing
  placement audit: every doc is assigned to argmax over K=8 nodes of
  the portable md5 hash (ties broken by node id via the exact
  h·16+node integer), the per-shard load report is emitted, and the
  K→K+1 movement share per shard is measured against the theoretical
  1/(K+1) minimal-disruption bound.  The placement companion to
  ``shard_skew_report`` / ``kfold_assign``.
* ``interarrival_expfit`` — exponential fit of per-user inter-event
  times: MLE rate λ = n/Σdt on exact integer microsecond deltas and
  the one-sample Kolmogorov–Smirnov D against the fitted
  CDF 1 − e^(−λx), with the ECDF built by the house two-level prefix
  sum (``ks_statistic`` shape — no global single-task window).  The
  goodness-of-fit companion to ``user_burstiness`` (which only
  summarizes dispersion).
* ``aic_model_select`` — AIC model selection between the unigram and
  bigram MLE token models evaluated on the SAME bigram-event stream:
  both log-likelihoods reduce to exact n·ln n integer sums (the
  ``markov_entropy_rate`` identity), parameters are observed-support
  counts (V−1 vs #cells−#contexts), and both AICs are PURE INTEGER
  micro-units — no float accumulates anywhere.  The sequence-model
  companion to ``bigram_lm_logprob`` (scoring).
* ``capture_recapture`` — Lincoln–Petersen / Chapman estimate of the
  total vocabulary from two "captures" (even vs odd ``doc_id``
  halves): marks per type are one min/max agg, the Chapman estimator
  (n_A+1)(n_B+1)/(m+1) − 1 is row-local, and observed coverage is
  reported against it.  The two-sample companion to ``heaps_law``
  (growth).

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus physical-plan assertions in tests/test_estimation_wave.py.

Cross-engine float policy (the corr_matrix / zipf_fit doctrine):
every aggregate feeding libm is an exact BIGINT (arm counts/sums,
md5-derived keys, µs deltas, n·ln n cell terms micro-quantized BEFORE
their sums); per-stratum ATE terms are micro-quantized before the
cross-stratum sum; KS's D is a max (order-free) over row-local IEEE
expressions on identical integers; ``aic_model_select`` is float-free
end to end.  BIGINT headroom: h·16+node uses 36 bits; Σdt·m caps at
~10¹⁵ µs on the fixture and would need DECIMAL(38,0) only past ~10⁹
intervals (the ols_fit note).

Scale notes: ``ipw_effect`` / ``capture_recapture`` /
``aic_model_select`` are partial aggs onto #strata / #types / #cells
frames with 1-row reduces; ``rendezvous_shards`` is a 9× map-side
explode into one per-doc agg and an 8-row report — no joins at all;
``interarrival_expfit``'s cumulative runs bucket-partitioned with a
bounded #buckets offset window (never a global single-task window
over raw deltas).

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from .queries import _t

# Rendezvous node count (audit measures the K -> K+1 transition).
_RV_K = 8

# Inter-arrival two-level ECDF bucket width (10 s of microseconds).
_IA_BUCKET = 10_000_000

# Portable token count: whitespace split with empties dropped.
_TOKN_SPARK = "size(filter(split(coalesce(text, ''), ' '), x -> x <> ''))"
_TOKN_DUCK = (
    "len(list_filter(string_split(coalesce(text, ''), ' '), x -> x <> ''))"
)


# ---------------------------------------------------------------------------
# ipw_effect — stratified ATE of lang='en' on token count, by source
# ---------------------------------------------------------------------------


def q_ipw_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified ATE: Σ_s (n_s/N_used)·(ȳ_s,1 − ȳ_s,0) over source
    strata that contain BOTH arms, next to the confounded raw
    difference.  Per-stratum terms n_s·(ȳ₁−ȳ₀) are micro-quantized
    before the cross-stratum sum; arm sums are exact BIGINTs.

    Scale: one (source, arm) partial agg (2k rows), a k-row pivot,
    one 1-row reduce.
    """
    cell = (
        _t(spark, sf_dir, "documents")
        .select(
            F.coalesce("source", F.lit("")).alias("g"),
            (F.col("lang") == "en").cast("bigint").alias("tr"),
            F.expr(_TOKN_SPARK).cast("bigint").alias("y"),
        )
        .groupBy("g", "tr")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("sy"),
        )
    )
    strat = cell.groupBy("g").agg(
        F.sum(F.expr("CASE WHEN tr = 1 THEN n ELSE 0 END"))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.expr("CASE WHEN tr = 1 THEN sy ELSE 0 END"))
        .cast("bigint")
        .alias("y1"),
        F.sum(F.expr("CASE WHEN tr = 0 THEN n ELSE 0 END"))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.expr("CASE WHEN tr = 0 THEN sy ELSE 0 END"))
        .cast("bigint")
        .alias("y0"),
    )
    agg = strat.groupBy().agg(
        F.count("*").cast("bigint").alias("n_strata"),
        F.sum(F.expr("n1 + n0")).cast("bigint").alias("n"),
        F.sum("n1").cast("bigint").alias("n_treated"),
        F.sum("y1").cast("bigint").alias("y1all"),
        F.sum("y0").cast("bigint").alias("y0all"),
        F.sum(F.expr("CASE WHEN n1 > 0 AND n0 > 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_strata_used"),
        F.sum(F.expr("CASE WHEN n1 > 0 AND n0 > 0 THEN n1 + n0 ELSE 0 END"))
        .cast("bigint")
        .alias("n_used"),
        F.sum(
            F.expr(
                """
                CASE WHEN n1 > 0 AND n0 > 0 THEN
                  CAST(floor((n1 + n0)
                    * (CAST(y1 AS DOUBLE) / n1 - CAST(y0 AS DOUBLE) / n0)
                    * 1e6 + 0.5) AS BIGINT)
                ELSE 0 END
                """
            )
        )
        .cast("bigint")
        .alias("sum_term"),
    )
    return agg.select(
        "n",
        "n_treated",
        "n_strata",
        "n_strata_used",
        F.expr(
            """
            CASE WHEN n_treated = 0 OR n_treated = n THEN 0.0 ELSE
              CAST(floor((CAST(y1all AS DOUBLE) / n_treated
                - CAST(y0all AS DOUBLE) / (n - n_treated)) * 1e6 + 0.5)
                AS BIGINT) / 1e6
            END
            """
        ).alias("raw_diff"),
        F.expr(
            """
            CASE WHEN n_used = 0 THEN 0.0 ELSE
              CAST(floor(CAST(sum_term AS DOUBLE) / n_used + 0.5)
                AS BIGINT) / 1e6
            END
            """
        ).alias("ate_adjusted"),
    )


ORACLE_IPW_EFFECT = f"""
WITH cell AS (
  SELECT coalesce(source, '') AS g,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS tr,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum({_TOKN_DUCK}) AS BIGINT) AS sy
  FROM documents GROUP BY 1, 2),
strat AS (
  SELECT g,
         CAST(sum(CASE WHEN tr = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN tr = 1 THEN sy ELSE 0 END) AS BIGINT) AS y1,
         CAST(sum(CASE WHEN tr = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN tr = 0 THEN sy ELSE 0 END) AS BIGINT) AS y0
  FROM cell GROUP BY g),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_strata,
         CAST(sum(n1 + n0) AS BIGINT) AS n,
         CAST(sum(n1) AS BIGINT) AS n_treated,
         CAST(sum(y1) AS BIGINT) AS y1all,
         CAST(sum(y0) AS BIGINT) AS y0all,
         CAST(sum(CASE WHEN n1 > 0 AND n0 > 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_strata_used,
         CAST(sum(CASE WHEN n1 > 0 AND n0 > 0 THEN n1 + n0 ELSE 0 END)
           AS BIGINT) AS n_used,
         CAST(sum(CASE WHEN n1 > 0 AND n0 > 0 THEN
             CAST(floor((n1 + n0)
               * (CAST(y1 AS DOUBLE) / n1 - CAST(y0 AS DOUBLE) / n0)
               * 1e6 + 0.5) AS BIGINT)
           ELSE 0 END) AS BIGINT) AS sum_term
  FROM strat)
SELECT n, n_treated, n_strata, n_strata_used,
       CASE WHEN n_treated = 0 OR n_treated = n THEN 0.0 ELSE
         CAST(floor((CAST(y1all AS DOUBLE) / n_treated
           - CAST(y0all AS DOUBLE) / (n - n_treated)) * 1e6 + 0.5)
           AS BIGINT) / 1e6
       END AS raw_diff,
       CASE WHEN n_used = 0 THEN 0.0 ELSE
         CAST(floor(CAST(sum_term AS DOUBLE) / n_used + 0.5)
           AS BIGINT) / 1e6
       END AS ate_adjusted
FROM agg
"""


# ---------------------------------------------------------------------------
# rendezvous_shards — HRW placement balance + K->K+1 movement audit
# ---------------------------------------------------------------------------


def q_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) hashing report at K=``_RV_K`` nodes.

    Per (doc, node) the portable md5 hash (first 8 hex digits →
    BIGINT) forms the exact key
    h·16 + node, so argmax-with-node-tiebreak is one integer ``max``.
    shard8 = argmax over nodes 0..K−1; shard9 adds node K; a doc
    "moves" iff the new node wins — rendezvous theory says the moved
    share per shard concentrates at 1/(K+1).

    Scale: a K+1× map-side explode, one per-doc partial agg, one
    K-row report — no joins, no windows.
    """
    k = _RV_K
    per_doc = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id", F.explode(F.expr(f"sequence(0, {k})")).alias("nd")
        )
        .select(
            "doc_id",
            "nd",
            F.expr(
                "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),"
                " ':', CAST(nd AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                " * 16 + nd"
            ).alias("key"),
        )
        .groupBy("doc_id")
        .agg(
            (
                F.max(F.expr(f"CASE WHEN nd < {k} THEN key END")) % 16
            )
            .cast("bigint")
            .alias("s8"),
            (F.max("key") % 16).cast("bigint").alias("s9"),
        )
    )
    return (
        per_doc.groupBy(F.col("s8").alias("shard"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("s8") != F.col("s9")).cast("bigint"))
            .cast("bigint")
            .alias("n_moved"),
        )
        .select(
            "shard",
            "n_docs",
            "n_moved",
            F.expr(
                "(2000000 * n_moved + n_docs) DIV (2 * n_docs) / 1e6"
            ).alias("moved_share"),
        )
    )


ORACLE_RENDEZVOUS_SHARDS = f"""
WITH expl AS (
  SELECT doc_id, nd,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
             || CAST(nd AS VARCHAR)), 1, 8)) AS BIGINT) * 16 + nd AS key
  FROM documents
  CROSS JOIN (SELECT unnest(range({_RV_K + 1})) AS nd)),
per_doc AS (
  SELECT doc_id,
         CAST(max(CASE WHEN nd < {_RV_K} THEN key END) % 16 AS BIGINT)
           AS s8,
         CAST(max(key) % 16 AS BIGINT) AS s9
  FROM expl GROUP BY doc_id)
SELECT s8 AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved,
       (2000000 * sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END)
          + count(*)) // (2 * count(*)) / 1e6 AS moved_share
FROM per_doc GROUP BY s8
"""


# ---------------------------------------------------------------------------
# interarrival_expfit — exponential MLE + one-sample KS on µs deltas
# ---------------------------------------------------------------------------


def q_interarrival_expfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential goodness-of-fit of per-user inter-event times.

    Deltas are exact integer microseconds (``lead`` within user,
    zero/negative gaps dropped); λ̂ = n/Σdt.  The one-sample KS
    D = max over distinct deltas of the two-sided step gap
    |ECDF± − (1 − e^(−λ̂·dt))|, with the ECDF cumulative built by the
    house two-level prefix sum (bucketed by ``_IA_BUCKET`` µs —
    never a global single-task window over the delta table).

    Scale: one user-partitioned lead() window, a delta-histogram
    partial agg, the bounded #buckets offset window + bucket-
    partitioned within-window, one max reduce.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).cast("bigint").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    hist = (
        ev.withColumn("dt", F.lead("us").over(w) - F.col("us"))
        .where(F.col("dt") > 0)
        .groupBy("dt")
        .agg(F.count("*").cast("bigint").alias("m"))
        .withColumn("bucket", F.expr(f"dt DIV {_IA_BUCKET}"))
    )
    wb = Window.partitionBy().orderBy("bucket")
    bucket_tot = hist.groupBy("bucket").agg(
        F.sum("m").cast("bigint").alias("tm"),
        F.sum(F.expr("dt * m")).cast("bigint").alias("tsx"),
    )
    offs = bucket_tot.select(
        "bucket",
        F.coalesce(
            F.sum("tm").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("off"),
        F.sum("tm").over(Window.partitionBy()).cast("bigint").alias("n"),
        F.sum("tsx").over(Window.partitionBy()).cast("bigint").alias("sx"),
    )
    wv = (
        Window.partitionBy("bucket")
        .orderBy("dt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    per_v = hist.join(F.broadcast(offs), "bucket").select(
        "dt",
        "m",
        "n",
        "sx",
        (F.col("off") + F.sum("m").over(wv)).cast("bigint").alias("cum"),
    )
    agg = per_v.groupBy().agg(
        F.max("n").cast("bigint").alias("n_intervals"),
        F.max("sx").cast("bigint").alias("sx"),
        F.max(
            F.expr(
                """
                greatest(
                  abs(CAST(cum AS DOUBLE) / n
                      - (1.0 - exp(-(CAST(n AS DOUBLE) / sx) * dt))),
                  abs(CAST(cum - m AS DOUBLE) / n
                      - (1.0 - exp(-(CAST(n AS DOUBLE) / sx) * dt))))
                """
            )
        ).alias("d_raw"),
    )
    return agg.select(
        "n_intervals",
        F.expr(
            "CAST(floor(CAST(sx AS DOUBLE) / n_intervals + 0.5) AS BIGINT)"
        ).alias("mean_us"),
        F.expr(
            """
            CAST(floor(CAST(n_intervals AS DOUBLE) / sx * 1e6 * 1e6 + 0.5)
              AS BIGINT) / 1e6
            """
        ).alias("lambda_per_sec"),
        F.expr(
            "CAST(floor(d_raw * 1e6 + 0.5) AS BIGINT) / 1e6"
        ).alias("ks_d"),
    )


ORACLE_INTERARRIVAL_EXPFIT = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
dts AS (
  SELECT lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
           - us AS dt
  FROM ev),
hist AS (
  SELECT dt, CAST(count(*) AS BIGINT) AS m
  FROM dts WHERE dt > 0 GROUP BY dt),
tot AS (
  SELECT CAST(sum(m) AS BIGINT) AS n, CAST(sum(dt * m) AS BIGINT) AS sx
  FROM hist),
cums AS (
  SELECT dt, m, n, sx,
         CAST(sum(m) OVER (ORDER BY dt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum
  FROM hist, tot),
agg AS (
  SELECT CAST(max(n) AS BIGINT) AS n_intervals,
         CAST(max(sx) AS BIGINT) AS sx,
         max(greatest(
           abs(CAST(cum AS DOUBLE) / n
               - (1.0 - exp(-(CAST(n AS DOUBLE) / sx) * dt))),
           abs(CAST(cum - m AS DOUBLE) / n
               - (1.0 - exp(-(CAST(n AS DOUBLE) / sx) * dt))))) AS d_raw
  FROM cums)
SELECT n_intervals,
       CAST(floor(CAST(sx AS DOUBLE) / n_intervals + 0.5) AS BIGINT)
         AS mean_us,
       CAST(floor(CAST(n_intervals AS DOUBLE) / sx * 1e6 * 1e6 + 0.5)
         AS BIGINT) / 1e6 AS lambda_per_sec,
       CAST(floor(d_raw * 1e6 + 0.5) AS BIGINT) / 1e6 AS ks_d
FROM agg
"""


# ---------------------------------------------------------------------------
# aic_model_select — unigram vs bigram MLE on the bigram event stream
# ---------------------------------------------------------------------------


def q_aic_model_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIC selection between unigram and bigram token models.

    Both models are scored on the SAME events (each within-doc
    bigram's second token): LL_uni = Σ_w c_w·ln c_w − N·ln N,
    LL_bi = Σ_uv c_uv·ln c_uv − Σ_u c_u·ln c_u (the exact-count
    entropy identity — no probability ever materializes).  Parameter
    counts are observed-support: V−1 vs #cells − #contexts.  Every
    n·ln n term is micro-quantized before its sum, so BOTH AICs are
    pure integer micro-units — this entry is float-free.

    Scale: one tokenize pass into the bigram cell table, three
    bounded partial aggs (cells, contexts, second-token marginals),
    one 1-row reduce.
    """
    cells = (
        _t(spark, sf_dir, "documents")
        .select(
            F.expr(
                "filter(split(coalesce(text, ''), ' '), x -> x <> '')"
            ).alias("arr")
        )
        .where(F.expr("size(arr) >= 2"))
        .select(
            F.explode(
                F.expr(
                    """
                    transform(sequence(1, size(arr) - 1),
                      i -> struct(element_at(arr, i) AS u,
                                  element_at(arr, i + 1) AS w))
                    """
                )
            ).alias("bg")
        )
        .select(F.expr("bg.u").alias("u"), F.expr("bg.w").alias("w"))
        .groupBy("u", "w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    qcell = cells.groupBy().agg(
        F.sum(
            F.expr(
                "CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("qc"),
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum("c").cast("bigint").alias("nbg"),
    )
    qctx = (
        cells.groupBy("u")
        .agg(F.sum("c").cast("bigint").alias("cu"))
        .groupBy()
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(cu * ln(CAST(cu AS DOUBLE)) * 1e6 + 0.5)"
                    " AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("qu"),
            F.count("*").cast("bigint").alias("n_contexts"),
        )
    )
    qmarg = (
        cells.groupBy("w")
        .agg(F.sum("c").cast("bigint").alias("cw"))
        .groupBy()
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(cw * ln(CAST(cw AS DOUBLE)) * 1e6 + 0.5)"
                    " AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("qw"),
            F.count("*").cast("bigint").alias("n_types"),
        )
    )
    mid = (
        qcell.crossJoin(qctx)
        .crossJoin(qmarg)
        .select(
            "nbg",
            "n_types",
            "n_cells",
            "n_contexts",
            F.expr(
                "qw - CAST(floor(nbg * ln(CAST(nbg AS DOUBLE)) * 1e6 + 0.5)"
                " AS BIGINT)"
            )
            .cast("bigint")
            .alias("llu_u"),
            F.expr("qc - qu").cast("bigint").alias("llb_u"),
        )
    )
    return mid.select(
        "nbg",
        "n_types",
        "n_cells",
        "n_contexts",
        F.expr("llu_u / 1e6").alias("ll_uni"),
        F.expr("llb_u / 1e6").alias("ll_bi"),
        F.expr("(2 * (n_types - 1) * 1000000 - 2 * llu_u) / 1e6").alias(
            "aic_uni"
        ),
        F.expr(
            "(2 * (n_cells - n_contexts) * 1000000 - 2 * llb_u) / 1e6"
        ).alias("aic_bi"),
        F.expr(
            """
            CASE WHEN 2 * (n_cells - n_contexts) * 1000000 - 2 * llb_u
                   < 2 * (n_types - 1) * 1000000 - 2 * llu_u
              THEN 'bigram' ELSE 'unigram' END
            """
        ).alias("winner"),
    )


ORACLE_AIC_MODEL_SELECT = """
WITH arrs AS (
  SELECT list_filter(string_split(coalesce(text, ''), ' '),
                     x -> x <> '') AS arr
  FROM documents),
bgs AS (
  SELECT unnest(list_transform(range(1, len(arr)),
           i -> {'u': arr[i], 'w': arr[i + 1]})) AS bg
  FROM arrs WHERE len(arr) >= 2),
cells AS (
  SELECT bg.u AS u, bg.w AS w, CAST(count(*) AS BIGINT) AS c
  FROM bgs GROUP BY 1, 2),
qcell AS (
  SELECT CAST(sum(CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS qc,
         CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(c) AS BIGINT) AS nbg
  FROM cells),
qctx AS (
  SELECT CAST(sum(CAST(floor(cu * ln(CAST(cu AS DOUBLE)) * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS qu,
         CAST(count(*) AS BIGINT) AS n_contexts
  FROM (SELECT u, CAST(sum(c) AS BIGINT) AS cu FROM cells GROUP BY u)),
qmarg AS (
  SELECT CAST(sum(CAST(floor(cw * ln(CAST(cw AS DOUBLE)) * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS qw,
         CAST(count(*) AS BIGINT) AS n_types
  FROM (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM cells GROUP BY w)),
mid AS (
  SELECT nbg, n_types, n_cells, n_contexts,
         CAST(qw - CAST(floor(nbg * ln(CAST(nbg AS DOUBLE)) * 1e6 + 0.5)
             AS BIGINT) AS BIGINT) AS llu_u,
         CAST(qc - qu AS BIGINT) AS llb_u
  FROM qcell, qctx, qmarg)
SELECT nbg, n_types, n_cells, n_contexts,
       llu_u / 1e6 AS ll_uni,
       llb_u / 1e6 AS ll_bi,
       (2 * (n_types - 1) * 1000000 - 2 * llu_u) / 1e6 AS aic_uni,
       (2 * (n_cells - n_contexts) * 1000000 - 2 * llb_u) / 1e6 AS aic_bi,
       CASE WHEN 2 * (n_cells - n_contexts) * 1000000 - 2 * llb_u
              < 2 * (n_types - 1) * 1000000 - 2 * llu_u
         THEN 'bigram' ELSE 'unigram' END AS winner
FROM mid
"""


# ---------------------------------------------------------------------------
# capture_recapture — Chapman vocabulary estimate from doc_id halves
# ---------------------------------------------------------------------------


def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln–Petersen / Chapman total-vocabulary estimate.

    Capture A = types seen in even ``doc_id`` docs, capture B = odd;
    the mark table is one max-agg per type; Chapman's
    (n_A+1)(n_B+1)/(m+1) − 1 (bias-corrected, finite for m = 0) is
    row-local, with observed coverage V/N̂ alongside.

    Scale: one tokenize pass into the type-mark table, one 1-row
    reduce.
    """
    marks = (
        _t(spark, sf_dir, "documents")
        .select(
            (F.col("doc_id") % 2).cast("bigint").alias("p"),
            F.explode(
                F.expr("filter(split(coalesce(text, ''), ' '), x -> x <> '')")
            ).alias("tok"),
        )
        .groupBy("tok")
        .agg(
            F.max(F.expr("CASE WHEN p = 0 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("ea"),
            F.max(F.expr("CASE WHEN p = 1 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("eb"),
        )
    )
    agg = marks.groupBy().agg(
        F.count("*").cast("bigint").alias("n_types_observed"),
        F.sum("ea").cast("bigint").alias("n_types_even"),
        F.sum("eb").cast("bigint").alias("n_types_odd"),
        F.sum(F.expr("ea * eb")).cast("bigint").alias("n_types_both"),
    )
    return agg.select(
        "n_types_observed",
        "n_types_even",
        "n_types_odd",
        "n_types_both",
        F.expr(
            """
            CAST(floor((CAST(n_types_even + 1 AS DOUBLE)
              * (n_types_odd + 1) / (n_types_both + 1) - 1.0) * 1e6 + 0.5)
              AS BIGINT) / 1e6
            """
        ).alias("chapman_estimate"),
        F.expr(
            """
            CAST(floor(CAST(n_types_observed AS DOUBLE)
              / ((CAST(n_types_even + 1 AS DOUBLE)
                  * (n_types_odd + 1) / (n_types_both + 1)) - 1.0)
              * 1e6 + 0.5) AS BIGINT) / 1e6
            """
        ).alias("coverage"),
    )


ORACLE_CAPTURE_RECAPTURE = """
WITH marks AS (
  SELECT tok,
         CAST(max(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ea,
         CAST(max(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS eb
  FROM (SELECT doc_id % 2 AS p,
               unnest(list_filter(string_split(coalesce(text, ''), ' '),
                                  x -> x <> '')) AS tok
        FROM documents)
  GROUP BY tok),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types_observed,
         CAST(sum(ea) AS BIGINT) AS n_types_even,
         CAST(sum(eb) AS BIGINT) AS n_types_odd,
         CAST(sum(ea * eb) AS BIGINT) AS n_types_both
  FROM marks)
SELECT n_types_observed, n_types_even, n_types_odd, n_types_both,
       CAST(floor((CAST(n_types_even + 1 AS DOUBLE)
         * (n_types_odd + 1) / (n_types_both + 1) - 1.0) * 1e6 + 0.5)
         AS BIGINT) / 1e6 AS chapman_estimate,
       CAST(floor(CAST(n_types_observed AS DOUBLE)
         / ((CAST(n_types_even + 1 AS DOUBLE)
             * (n_types_odd + 1) / (n_types_both + 1)) - 1.0)
         * 1e6 + 0.5) AS BIGINT) / 1e6 AS coverage
FROM agg
"""


ESTIMATION_QUERIES = {
    "ipw_effect": q_ipw_effect,
    "rendezvous_shards": q_rendezvous_shards,
    "interarrival_expfit": q_interarrival_expfit,
    "aic_model_select": q_aic_model_select,
    "capture_recapture": q_capture_recapture,
}

ESTIMATION_ORACLES = {
    "ipw_effect": ORACLE_IPW_EFFECT,
    "rendezvous_shards": ORACLE_RENDEZVOUS_SHARDS,
    "interarrival_expfit": ORACLE_INTERARRIVAL_EXPFIT,
    "aic_model_select": ORACLE_AIC_MODEL_SELECT,
    "capture_recapture": ORACLE_CAPTURE_RECAPTURE,
}

_q.QUERIES.update(ESTIMATION_QUERIES)
_q.ORACLES.update(ESTIMATION_ORACLES)
