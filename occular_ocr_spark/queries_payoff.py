"""Pipeline-payoff & index-audit catalog, round 4 (wave 32): five
operators spanning the vector-index, chunk-dedup, group-dedup,
statistical-QA, and language-model surfaces —

* ``ann_pq_codes`` — product-quantization code assignment: split the
  embedding into M contiguous subspaces and assign each sub-vector to
  its nearest sub-centroid (codebook = the first K' vectors' slices —
  the ``ann_ivf_assign`` seed-centroid contract applied per
  subspace).  The residual-compression half of an IVF-PQ index; the
  emitted per-subspace distortion is the "is M·K' enough?" audit.
* ``cdc_dedup_ratio`` — storage-dedup payoff of the content-defined
  chunking (``cdc_chunks``): identical chunks collapse by content
  hash, and the report says how many chars the chunk store saves —
  the number an LBFS/restic-style dedup layer is judged by.
* ``dedup_token_savings`` — training-token payoff of near-dup
  canonicalization: per connected-component group (≥ 2 members), the
  whitespace-token total and the tokens saved by keeping only the
  canonical member — the "what did dedup buy us" line of a dataset
  card.
* ``anova_f_source`` — one-way ANOVA F-statistic of document length
  across ALL sources (the k-group generalization of
  ``welch_ttest``): "does source explain length variance?" before
  trusting per-source length stats.
* ``kn_bigram_logprob`` — per-document mean log2-probability under an
  interpolated Kneser–Ney bigram LM (absolute discount d = 0.75,
  continuation-count backoff) — the standard n-gram smoothing, next
  to ``bigram_lm_logprob``'s add-one baseline.

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus physical-plan assertions in tests/test_payoff_wave.py.

Cross-engine float policy: PQ distances quantize each squared element
difference to a nano-unit BIGINT before the per-subspace reduction
(the ``silhouette_score`` doctrine); chunk/token savings are exact
BIGINT arithmetic with one half-up micro-division at the surface;
ANOVA sums are exact decimal(38,0) moments with per-GROUP terms
quantized to micro-unit BIGINTs BEFORE the cross-group sum (a float
sum over groups would be order-dependent; an integer sum is not);
Kneser–Ney per-bigram log-probs quantize to micro-unit BIGINTs before
the per-document mean for the same reason.

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").  Extends the IVF family (``ann_ivf_assign``
queries.py:1288), the CDC family (``cdc_chunks``
queries_curation.py:393 — chunk stream reused verbatim), the CC
family (``dedup_groups`` queries_ext.py — label table reused
verbatim), and the stats family (``welch_ttest``
queries_drift.py:1027 — same exact-moment doctrine).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import queries as _q
from . import queries_curation as _qc
from . import queries_ext as _qe
from .queries import _t

# PQ geometry: M contiguous subspaces over the embedding, K' seed
# sub-centroids (the first K' vectors' slices).  dim must be divisible
# by M for the fixture's dim=64; ragged tails would take the last
# subspace, omitted here for clarity.
_PQ_M = 8
_PQ_KS = 16
# Kneser–Ney absolute discount.
_KN_D = 0.75


# ---------------------------------------------------------------------------
# ann_pq_codes
# ---------------------------------------------------------------------------


def q_ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, subspace, code, d2q): nearest sub-centroid per
    subspace, with the quantized squared distortion.

    Distance doctrine: every element's squared difference is quantized
    to a nano-unit BIGINT (floor(d²·10⁹ + 0.5)) BEFORE the
    per-subspace reduction, so the argmin compares exact integers on
    both engines; ties break to the lowest sub-centroid id (= codebook
    row = seed vec_id).

    Scale: the M×K' codebook rides the ``mapInPandas`` closure
    (O(M·K'·dim/M) = O(K'·dim)); each Arrow batch does one vectorized
    broadcast-subtract per subspace INSIDE the scan stage — no
    crossJoin, no window.  Output is n·M code rows (the PQ index
    payload); zero shuffles in this plan (codes are written, not
    re-aggregated).
    """
    dim = _q._embedding_dim(spark, sf_dir)
    sub = dim // _PQ_M
    cents = sorted(
        (int(r["vec_id"]), [float(v) for v in r["emb"]])
        for r in _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < _PQ_KS)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .collect()
    )
    cids = np.array([c for c, _ in cents], dtype="int64")
    cmat = np.array([v for _, v in cents], dtype="float64")

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf) or len(cids) == 0:
                continue
            m = np.array(pdf["emb"].tolist(), dtype="float64")
            vids = pdf["vec_id"].to_numpy()
            frames = []
            for s in range(_PQ_M):
                lo, hi = s * sub, (s + 1) * sub
                diff = m[:, None, lo:hi] - cmat[None, :, lo:hi]
                d2q = (
                    np.floor(diff * diff * 1e9 + 0.5)
                    .astype("int64")
                    .sum(axis=2)
                )
                best = np.argmin(d2q, axis=1)  # first min = lowest cid
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": vids,
                            "subspace": np.full(len(m), s, dtype="int64"),
                            "code": cids[best],
                            "d2q": d2q[np.arange(len(m)), best],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(encode, "vec_id long, subspace long, code long, d2q long")
    )


ORACLE_ANN_PQ_CODES = f"""
WITH dims AS (SELECT len(embedding) // {_PQ_M} AS sub FROM embeddings LIMIT 1),
cents AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id < {_PQ_KS}),
el AS (
  SELECT e.vec_id, s.s AS subspace, c.cid,
         (SELECT CAST(sum(CAST(floor((list_extract(CAST(e.embedding AS DOUBLE[]), s.s * d.sub + j)
                                      - list_extract(c.cvec, s.s * d.sub + j))
                                     * (list_extract(CAST(e.embedding AS DOUBLE[]), s.s * d.sub + j)
                                        - list_extract(c.cvec, s.s * d.sub + j))
                                     * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
          FROM unnest(generate_series(1, d.sub)) AS t(j)) AS d2q
  FROM embeddings e
  CROSS JOIN cents c
  CROSS JOIN dims d
  CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s) s),
rk AS (
  SELECT vec_id, subspace, cid, d2q,
         row_number() OVER (PARTITION BY vec_id, subspace ORDER BY d2q, cid) AS rn
  FROM el)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(subspace AS BIGINT) AS subspace,
       CAST(cid AS BIGINT) AS code,
       d2q
FROM rk WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# cdc_dedup_ratio
# ---------------------------------------------------------------------------


def q_cdc_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-store payoff of content-defined chunking: collapse the
    ``cdc_chunks`` stream by exact chunk content (md5) and report
    total vs unique chars and the half-up micro-unit savings ratio.

    Scale: the chunk stream is map-side (the CDC kernel); the collapse
    is ONE partial-aggregated groupBy(md5(chunk)) whose keys shard
    uniformly (they're hashes); the rollup is a 1-row reduce.
    """
    ch = _qc.q_cdc_chunks(spark, sf_dir).select(
        F.md5(F.col("chunk")).alias("h"), F.col("chunk_len").cast("bigint").alias("ln")
    )
    per = ch.groupBy("h").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.min("ln").alias("ln"),  # identical content -> identical length
    )
    g = per.agg(
        F.sum(F.col("cnt") * F.col("ln")).cast("bigint").alias("total_chars"),
        F.sum("ln").cast("bigint").alias("unique_chars"),
        F.sum("cnt").cast("bigint").alias("n_chunks"),
        F.count("*").cast("bigint").alias("n_unique_chunks"),
    )
    return g.select(
        "n_chunks",
        "n_unique_chunks",
        "total_chars",
        "unique_chars",
        F.when(
            F.col("total_chars") > 0,
            F.expr(
                "(2 * 1000000 * (total_chars - unique_chars) + total_chars)"
                " DIV (2 * total_chars)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("saved_micro"),
    )


ORACLE_CDC_DEDUP_RATIO = f"""
WITH chunks AS ({_qc._oracle_cdc()}),
per AS (
  SELECT md5(chunk) AS h, CAST(count(*) AS BIGINT) AS cnt,
         CAST(min(chunk_len) AS BIGINT) AS ln
  FROM chunks GROUP BY md5(chunk)),
g AS (
  SELECT CAST(coalesce(sum(cnt * ln), 0) AS BIGINT) AS total_chars,
         CAST(coalesce(sum(ln), 0) AS BIGINT) AS unique_chars,
         CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_chunks,
         CAST(count(*) AS BIGINT) AS n_unique_chunks
  FROM per)
SELECT n_chunks, n_unique_chunks, total_chars, unique_chars,
       CAST(CASE WHEN total_chars > 0
            THEN (2 * 1000000 * (total_chars - unique_chars) + total_chars)
                 // (2 * total_chars)
            ELSE 0 END AS BIGINT) AS saved_micro
FROM g
"""


# ---------------------------------------------------------------------------
# dedup_token_savings
# ---------------------------------------------------------------------------


def q_dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup group (size ≥ 2): member count, whitespace-token
    total, the canonical member's tokens, and the tokens a
    keep-canonical pass saves (total − canonical).

    Scale: the label table is the ``dedup_groups`` output (near-dup
    groups are a vanishing fraction of the corpus); token counts are a
    map-side projection of the documents scan; ONE partial-aggregated
    groupBy(group_id) does counts, sums, and the canonical member's
    tokens (= tokens of the min-doc_id member, who IS the group_id —
    picked with a max(case) over the same pass, no second join).
    """
    labels = _qe.q_dedup_groups(spark, sf_dir)
    toks = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        .cast("bigint")
        .alias("n_toks"),
    )
    j = labels.join(toks, "doc_id")
    g = (
        j.groupBy("group_id")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
            F.max(
                F.when(F.col("doc_id") == F.col("group_id"), F.col("n_toks"))
            ).alias("canonical_tokens"),
        )
        .where(F.col("n_members") >= 2)
    )
    return g.select(
        F.col("group_id").cast("bigint").alias("group_id"),
        "n_members",
        "total_tokens",
        "canonical_tokens",
        (F.col("total_tokens") - F.col("canonical_tokens"))
        .cast("bigint")
        .alias("saved_tokens"),
    )


ORACLE_DEDUP_TOKEN_SAVINGS = f"""
WITH labels AS ({_q.ORACLE_DEDUP_GROUPS}),
toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_toks
  FROM documents),
g AS (
  SELECT l.group_id,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(t.n_toks) AS BIGINT) AS total_tokens,
         CAST(max(CASE WHEN l.doc_id = l.group_id THEN t.n_toks END) AS BIGINT)
           AS canonical_tokens
  FROM labels l JOIN toks t ON t.doc_id = l.doc_id
  GROUP BY l.group_id
  HAVING count(*) >= 2)
SELECT CAST(group_id AS BIGINT) AS group_id, n_members, total_tokens,
       canonical_tokens,
       CAST(total_tokens - canonical_tokens AS BIGINT) AS saved_tokens
FROM g
"""


# ---------------------------------------------------------------------------
# anova_f_source
# ---------------------------------------------------------------------------


def q_anova_f_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-statistic of ``n_chars`` across sources.

        SSB = Σ_g S_g²/n_g − S²/n      SSW = Σx² − Σ_g S_g²/n_g
        F   = (SSB/(k−1)) / (SSW/(n−k))

    Determinism doctrine: the per-group moments (n_g, S_g) are exact
    decimal(38,0) sums (the ``welch_ttest`` contract), and each
    group's S_g²/n_g term is quantized HALF_UP to a micro-unit BIGINT
    BEFORE the cross-group sum — a float Σ over groups would depend on
    combine order; an integer Σ cannot.  The global terms (S²/n, Σx²)
    quantize from single deterministic doubles.  Degenerate inputs
    (k < 2 or n ≤ k) surface NULL via nullif.

    Scale: one partial-aggregated groupBy(source) scan for the group
    moments (k rows), one 1-row reduce over those k rows, constant
    driver state.
    """
    x = F.col("n_chars").cast("decimal(38,0)")
    g = (
        _t(spark, sf_dir, "documents")
        .groupBy(F.coalesce(F.col("source"), F.lit("")).alias("source"))
        .agg(
            F.count("*").cast("bigint").alias("n_g"),
            F.sum(x).alias("s_g"),
            F.sum(x * x).alias("ss_g"),
        )
    )
    terms = g.selectExpr(
        "n_g",
        "s_g",
        "ss_g",
        # T_g = round_half_up(1e6 * S_g^2 / n_g) as exact BIGINT
        "CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g * 1e6 + 0.5)"
        " AS BIGINT) AS t_g",
    )
    tot = terms.agg(
        F.count("*").cast("bigint").alias("k_groups"),
        F.sum("n_g").cast("bigint").alias("n_docs"),
        F.sum("s_g").alias("s_all"),
        F.sum("ss_g").alias("ss_all"),
        F.sum("t_g").cast("bigint").alias("sum_t"),
    )
    return tot.selectExpr(
        "k_groups",
        "n_docs",
        "CAST(sum_t - floor(CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)"
        " / nullif(n_docs, 0) * 1e6 + 0.5) AS BIGINT) AS ssb_micro",
        "CAST(floor(CAST(ss_all AS DOUBLE) * 1e6 + 0.5) - sum_t AS BIGINT)"
        " AS ssw_micro",
    ).selectExpr(
        "k_groups",
        "n_docs",
        "ssb_micro",
        "ssw_micro",
        "round((CAST(ssb_micro AS DOUBLE) / nullif(k_groups - 1, 0))"
        " / nullif(CAST(ssw_micro AS DOUBLE) / nullif(n_docs - k_groups, 0), 0), 6)"
        " AS f_stat",
    )


ORACLE_ANOVA_F_SOURCE = """
WITH g AS (
  SELECT coalesce(source, '') AS source,
         CAST(count(*) AS BIGINT) AS n_g,
         sum(CAST(n_chars AS DECIMAL(38,0))) AS s_g,
         sum(CAST(n_chars AS DECIMAL(38,0)) * CAST(n_chars AS DECIMAL(38,0))) AS ss_g
  FROM documents GROUP BY coalesce(source, '')),
terms AS (
  SELECT n_g, s_g, ss_g,
         CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g * 1e6 + 0.5)
              AS BIGINT) AS t_g
  FROM g),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k_groups,
         CAST(sum(n_g) AS BIGINT) AS n_docs,
         sum(s_g) AS s_all,
         sum(ss_g) AS ss_all,
         CAST(sum(t_g) AS BIGINT) AS sum_t
  FROM terms),
mid AS (
  SELECT k_groups, n_docs,
         CAST(sum_t - floor(CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
              / nullif(n_docs, 0) * 1e6 + 0.5) AS BIGINT) AS ssb_micro,
         CAST(floor(CAST(ss_all AS DOUBLE) * 1e6 + 0.5) - sum_t AS BIGINT)
           AS ssw_micro
  FROM tot)
SELECT k_groups, n_docs, ssb_micro, ssw_micro,
       round((CAST(ssb_micro AS DOUBLE) / nullif(k_groups - 1, 0))
             / nullif(CAST(ssw_micro AS DOUBLE) / nullif(n_docs - k_groups, 0), 0), 6)
  AS f_stat
FROM mid
"""


# ---------------------------------------------------------------------------
# kn_bigram_logprob
# ---------------------------------------------------------------------------


def q_kn_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log2-probability under an interpolated
    Kneser–Ney bigram LM trained on the corpus itself:

        P(w2|w1) = max(c(w1w2) − d, 0)/c(w1·)
                   + d·N1+(w1,·)/c(w1·) · N1+(·,w2)/|bigram types|

    with absolute discount d = 0.75.  Every count is an exact BIGINT;
    each scored bigram has c(w1w2) ≥ 1 > d, so P > 0 and log2 is
    defined.  Per-bigram log-probs quantize HALF_UP to micro-unit
    BIGINTs (log2 is negative → away-from-zero via −floor(−v·10⁶+0.5))
    BEFORE the per-document mean, so the only cross-row float work is
    an exact integer sum — ``bigram_lm_logprob``'s add-one twin under
    the later-wave integer-mean doctrine.

    Scale: bigrams assemble in-array map-side (zip_with, no window);
    the three count tables shuffle on their own vocab-sized keys; the
    scoring joins are hash joins AQE broadcasts when the vocab allows;
    the types total rides a 1-row broadcast.
    """
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("l"))
    bg = (
        toks.where(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("l", 1, F.size("l") - 1),
                    F.slice("l", 2, F.size("l") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("w1").agg(
        F.sum("c2").alias("c1"), F.count("*").alias("n1f")
    )
    cont = c2.groupBy("w2").agg(F.count("*").alias("n1b"))
    types = c2.agg(F.count("*").alias("n_types"))
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .selectExpr(
            "doc_id",
            f"log2(greatest(c2 - {_KN_D}, CAST(0 AS DOUBLE)) / c1"
            f" + {_KN_D} * n1f / c1 * (CAST(n1b AS DOUBLE) / n_types)) AS lp",
        )
        .selectExpr(
            "doc_id",
            # HALF_UP away from zero on a negative value
            "CAST(-floor(-lp * 1e6 + 0.5) AS BIGINT) AS lp_micro",
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum("lp_micro").cast("bigint").alias("sum_lp_micro"),
        F.round(
            F.sum("lp_micro").cast("double") / F.count("*"), 0
        )
        .cast("bigint")
        .alias("mean_lp_micro"),
    )


ORACLE_KN_BIGRAM_LOGPROB = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
bg AS (
  SELECT doc_id, list_extract(l, i) AS w1, list_extract(l, i + 1) AS w2
  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
        FROM toks WHERE len(l) >= 2)),
c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
              CAST(count(*) AS BIGINT) AS n1f
       FROM c2 GROUP BY w1),
cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM c2 GROUP BY w2),
types AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c2),
scored AS (
  SELECT bg.doc_id,
         CAST(-floor(-log2(greatest(c2.c2 - {_KN_D}, CAST(0 AS DOUBLE)) / c1.c1
                           + {_KN_D} * c1.n1f / c1.c1
                             * (CAST(cont.n1b AS DOUBLE) / types.n_types))
                     * 1e6 + 0.5) AS BIGINT) AS lp_micro
  FROM bg
  JOIN c2 ON c2.w1 = bg.w1 AND c2.w2 = bg.w2
  JOIN c1 ON c1.w1 = bg.w1
  JOIN cont ON cont.w2 = bg.w2
  CROSS JOIN types)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(lp_micro) AS BIGINT) AS sum_lp_micro,
       CAST(round(CAST(sum(lp_micro) AS DOUBLE) / count(*), 0) AS BIGINT)
         AS mean_lp_micro
FROM scored
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

PAYOFF_QUERIES = {
    "ann_pq_codes": q_ann_pq_codes,
    "cdc_dedup_ratio": q_cdc_dedup_ratio,
    "dedup_token_savings": q_dedup_token_savings,
    "anova_f_source": q_anova_f_source,
    "kn_bigram_logprob": q_kn_bigram_logprob,
}

PAYOFF_ORACLES = {
    "ann_pq_codes": ORACLE_ANN_PQ_CODES,
    "cdc_dedup_ratio": ORACLE_CDC_DEDUP_RATIO,
    "dedup_token_savings": ORACLE_DEDUP_TOKEN_SAVINGS,
    "anova_f_source": ORACLE_ANOVA_F_SOURCE,
    "kn_bigram_logprob": ORACLE_KN_BIGRAM_LOGPROB,
}

_q.QUERIES.update(PAYOFF_QUERIES)
_q.ORACLES.update(PAYOFF_ORACLES)
