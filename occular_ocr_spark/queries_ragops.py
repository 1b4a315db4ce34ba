"""Retrieval-engineering & sequential-monitoring catalog, round 4
(wave 56): five operators around what a RAG / retrieval stack does
AFTER the index exists —

* ``rocchio_expansion`` — pseudo-relevance-feedback query expansion
  (Rocchio 1971): take the highest-df term as the query, its top-10
  tf-ranked docs as the relevant set R, and score every candidate
  term by β·S_R/|R| − γ·S_NR/|NR| (β=0.75, γ=0.15); emit the top-15
  positive-weight expansion terms.  The query-rewrite companion to
  ``bm25_topk`` / ``tfidf_topk``.
* ``textrank_keywords`` — TextRank keyword extraction (Mihalcea &
  Tarau 2004): adjacent-token co-occurrence graph, 2 weighted
  PageRank iterations, top-20 keywords.  Unlike
  ``pagerank_bipartite``'s float32-quantization contract this one is
  INTEGER-EXACT: ranks live in nano-units and every per-edge
  contribution r·w/W rounds half-up through integer division, so
  both engines produce bit-identical ranks with no FP summation
  anywhere.
* ``jl_projection`` — Johnson-Lindenstrauss sanity audit: project
  the first {_JL_N} embeddings to {_JL_D} dims with a portable-hash
  ±1 (Achlioptas) sign matrix and report the min/mean/max pairwise
  distance-ratio distortion.  Components micro-quantize BEFORE the
  projection, so projections, squared distances, and ratios are all
  exact integers.  Data-OBLIVIOUS dimensionality reduction, the kind a
  100 TB pipeline can apply with zero training passes.
* ``retrieval_diversity`` — result-set redundancy audit: for each of
  the {_RD_Q} highest-df terms, the mean pairwise token-set Jaccard
  among its top-10 tf-ranked docs (quantized per pair, exact
  rational mean).  High mean ⇒ the ranker returns near-duplicates —
  the why-you-want-MMR number, and the diversity companion to
  ``avg_precision_eval`` (which grades relevance only).
* ``page_hinkley`` — Page-Hinkley sequential drift monitor on the
  daily mean event value: mₜ = Σ(xᵢ − x̄ᵢ − δ) with the running mean
  x̄ᵢ half-up-quantized per step, Mₜ = min mᵢ, alarm when
  mₜ − Mₜ > λ.  The change-detection companion to ``cusum_chart``
  (known-target) — PH needs no target, it tracks its own mean.

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus physical-plan assertions in tests/test_ragops_wave.py.

Cross-engine float policy: every entry in this wave is exact-integer
end-to-end — tf sums, Rocchio numerators, TextRank nano-ranks,
micro-quantized embedding components, squared distances, Jaccards,
and PH statistics are all BIGINT / DECIMAL(38,0) with half-up
integer division at each rounding point (HUGEINT on the DuckDB side:
its DECIMAL ``//`` rounds instead of flooring).  No engine-side libm
call anywhere.

Scale notes: ``rocchio_expansion`` touches only the query term's
postings plus two vocabulary-sized partial aggs;
``textrank_keywords`` iterations are the canonical edges⋈ranks join
shape (vocabulary-sized state, never corpus-sized);
``jl_projection`` audits a fixed {_JL_N}-vector sample (the corpus
path would project map-side with the same broadcast sign matrix);
``retrieval_diversity`` joins only ≤ Q·10 candidate docs' postings;
``page_hinkley`` collapses to the ≤#days frame before its windows.

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from .queries import _t

_RX_R = 10  # relevant-set size (top tf docs of the query term)
_RX_TOP = 15  # expansion terms emitted
_RX_BETA_PPM = 750_000  # Rocchio beta = 0.75 in ppm
_RX_GAMMA_PPM = 150_000  # Rocchio gamma = 0.15 in ppm

_TR_ITERS = 2
_TR_TOP = 20
# damping 0.85 as the exact rational 17/20 (no float constant)
_TR_D_NUM, _TR_D_DEN = 17, 20
_TR_TELEPORT_NANO = 150_000_000  # (1 - d) * 1e9

_JL_N = 40  # audit sample: first N vectors
_JL_D = 8  # projected dimensionality

_RD_Q = 8
_RD_K = 10

_PH_DELTA_MICRO = 10_000  # delta = 0.01 in value micro-units
_PH_LAMBDA_MICRO = 500_000  # lambda = 0.5


def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q._persist_tracked(
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )


_POSTINGS_SQL = """
postings AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY doc_id, tok)
"""


# ---------------------------------------------------------------------------
# rocchio_expansion
# ---------------------------------------------------------------------------


def q_rocchio_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio PRF expansion terms for the highest-df query term.

    R = top-{_RX_R} docs of the query term by (tf desc, doc_id); for
    every term t, w(t) = β·S_R(t)/|R| − γ·S_NR(t)/|NR| with
    S_NR = S_total − S_R and |NR| = n_docs − |R|.  The weight is kept
    as the exact DECIMAL numerator β_ppm·S_R·|NR| − γ_ppm·S_NR·|R|
    over |R|·|NR| and half-up-quantized to micro in one integer
    division; only w > 0 terms survive (which also keeps the halfup
    division on positive ground — no truncation-direction skew).
    The query term itself is excluded.

    Scale: the R set is {_RX_R} rows (broadcast); S_R is a join of
    R's postings only; S_total is one vocabulary-sized partial agg;
    the two scalars ride a 1-row broadcast.
    """
    postings = _postings(spark, sf_dir)
    qterm = (
        postings.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), "tok")
        .limit(1)
        .select(F.col("tok").alias("qt"))
    )
    rdocs = (
        postings.join(F.broadcast(qterm), postings.tok == F.col("qt"))
        .orderBy(F.col("tf").desc(), "doc_id")
        .limit(_RX_R)
        .select("doc_id")
    )
    s_rel = (
        postings.join(F.broadcast(rdocs), "doc_id")
        .groupBy("tok")
        .agg(F.sum("tf").alias("s_rel"))
    )
    s_tot = postings.groupBy("tok").agg(F.sum("tf").alias("s_tot"))
    scalars = (
        _t(spark, sf_dir, "documents")
        .agg(F.count("*").alias("n_docs"))
        .crossJoin(rdocs.agg(F.count("*").alias("n_r")))
    )
    scored = (
        s_tot.join(F.broadcast(s_rel), "tok", "left")
        .join(F.broadcast(qterm), s_tot.tok == F.col("qt"), "left")
        .where(F.col("qt").isNull())
        .crossJoin(F.broadcast(scalars))
        .selectExpr(
            "tok",
            "coalesce(s_rel, 0) AS s_rel",
            "s_tot - coalesce(s_rel, 0) AS s_nonrel",
            "n_r",
            "n_docs - n_r AS n_nr",
        )
        .selectExpr(
            "tok",
            "s_rel",
            "s_nonrel",
            f"CAST({_RX_BETA_PPM} AS DECIMAL(38,0)) * s_rel * n_nr"
            f" - CAST({_RX_GAMMA_PPM} AS DECIMAL(38,0)) * s_nonrel * n_r"
            " AS w_num",
            "CAST(n_r AS DECIMAL(38,0)) * n_nr AS w_den",
        )
        .where(F.col("w_num") > 0)
        .selectExpr(
            "tok",
            "s_rel",
            "s_nonrel",
            "CAST((2 * w_num + w_den) DIV (2 * w_den) AS BIGINT) AS w_micro",
        )
    )
    return scored.orderBy(F.col("w_micro").desc(), "tok").limit(_RX_TOP)


ORACLE_ROCCHIO_EXPANSION = f"""
WITH {_POSTINGS_SQL},
qterm AS (
  SELECT tok AS qt FROM (SELECT tok, count(*) df FROM postings GROUP BY tok)
  ORDER BY df DESC, tok LIMIT 1),
rdocs AS (
  SELECT doc_id FROM postings JOIN qterm ON tok = qt
  ORDER BY tf DESC, doc_id LIMIT {_RX_R}),
s_rel AS (
  SELECT tok, sum(tf) AS s_rel FROM postings JOIN rdocs USING (doc_id)
  GROUP BY tok),
s_tot AS (SELECT tok, sum(tf) AS s_tot FROM postings GROUP BY tok),
scal AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM rdocs) AS n_r),
scored AS (
  SELECT t.tok,
         coalesce(r.s_rel, 0) AS s_rel,
         t.s_tot - coalesce(r.s_rel, 0) AS s_nonrel,
         CAST({_RX_BETA_PPM} AS DECIMAL(38,0)) * coalesce(r.s_rel, 0)
           * (s.n_docs - s.n_r)
         - CAST({_RX_GAMMA_PPM} AS DECIMAL(38,0))
           * (t.s_tot - coalesce(r.s_rel, 0)) * s.n_r AS w_num,
         CAST(s.n_r AS DECIMAL(38,0)) * (s.n_docs - s.n_r) AS w_den
  FROM s_tot t LEFT JOIN s_rel r ON t.tok = r.tok
  LEFT JOIN qterm q ON t.tok = q.qt, scal s
  WHERE q.qt IS NULL)
SELECT tok, CAST(s_rel AS BIGINT) AS s_rel,
       CAST(s_nonrel AS BIGINT) AS s_nonrel,
       CAST(CAST(2 * w_num + w_den AS HUGEINT)
            // CAST(2 * w_den AS HUGEINT) AS BIGINT) AS w_micro
FROM scored WHERE w_num > 0
ORDER BY w_micro DESC, tok LIMIT {_RX_TOP}
"""


# ---------------------------------------------------------------------------
# textrank_keywords
# ---------------------------------------------------------------------------


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords: {_TR_ITERS} weighted-PageRank iterations
    over the adjacent-token co-occurrence graph, all arithmetic in
    exact nano-unit integers.

    Edges: adjacent non-empty token pairs per document (in-array
    sequence explode, the ``bigram_pmi`` shape), symmetrized,
    self-loops dropped, weight = corpus co-occurrence count.  Update:
    r'(v) = halfup((1−d)·1e9/V) + halfup(d·Σᵤ halfup(r(u)·w/Wᵤ))
    with d = {_TR_D_NUM}/{_TR_D_DEN} exact — every rounding point is
    one integer division, so the result is bit-identical on any
    engine and any partitioning (contrast ``pagerank_bipartite``'s
    float32-quantization contract).  Nano headroom: ranks sum to
    ~1e9, so V up to ~1e9 nodes keeps every rank ≥ 1.

    Scale: per-iteration cost is one vocabulary-keyed edges⋈ranks
    shuffle + a partial-agg sum (state is vocab-sized); the top-{_TR_TOP}
    is a TakeOrdered, never a global window.
    """
    toks = _t(spark, sf_dir, "documents").select(
        F.expr("filter(split(text, ' '), x -> x <> '')").alias("toks")
    )
    adj = (
        toks.select(
            F.explode(
                F.when(
                    F.size("toks") >= 2,
                    F.sequence(F.lit(1), F.size("toks") - 1),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
            "toks",
        )
        .select(
            F.element_at("toks", F.col("i")).alias("u"),
            F.element_at("toks", F.col("i") + 1).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
    )
    edges = (
        adj.unionAll(adj.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
    )
    strength = edges.groupBy("u").agg(F.sum("w").alias("wu"))
    n_df = strength.agg(F.count("*").alias("nv"))
    ranks = strength.crossJoin(F.broadcast(n_df)).selectExpr(
        "u AS node",
        "CAST((2 * CAST(1000000000 AS BIGINT) + nv) DIV (2 * nv) AS BIGINT)"
        " AS r",
    )
    for _ in range(_TR_ITERS):
        contrib = (
            edges.join(ranks, edges.u == ranks.node)
            .join(strength, "u")
            .selectExpr(
                "v",
                "CAST((2 * r * w + wu) DIV (2 * wu) AS BIGINT) AS c",
            )
        )
        ranks = (
            contrib.groupBy("v")
            .agg(F.sum("c").alias("s"))
            .crossJoin(F.broadcast(n_df))
            .selectExpr(
                "v AS node",
                f"CAST((2 * CAST({_TR_TELEPORT_NANO} AS BIGINT) + nv)"
                " DIV (2 * nv) AS BIGINT)"
                f" + CAST((2 * {_TR_D_NUM} * s + {_TR_D_DEN})"
                f" DIV (2 * {_TR_D_DEN}) AS BIGINT) AS r",
            )
        )
    return (
        ranks.orderBy(F.col("r").desc(), "node")
        .limit(_TR_TOP)
        .select(F.col("node").alias("tok"), F.col("r").alias("rank_nano"))
    )


ORACLE_TEXTRANK_KEYWORDS = f"""
WITH toks AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents),
idx AS (
  SELECT unnest(generate_series(1, len(toks) - 1)) AS i, toks FROM toks),
adj AS (
  SELECT toks[i] AS u, toks[i + 1] AS v FROM idx WHERE toks[i] <> toks[i + 1]),
edges AS (
  SELECT u, v, count(*) AS w FROM (
    SELECT u, v FROM adj UNION ALL SELECT v AS u, u AS v FROM adj)
  GROUP BY u, v),
strength AS (SELECT u, sum(w) AS wu FROM edges GROUP BY u),
nn AS (SELECT count(*) AS nv FROM strength),
r0 AS (
  SELECT u AS node,
         CAST(CAST(2 * 1000000000 + nv AS HUGEINT)
              // CAST(2 * nv AS HUGEINT) AS BIGINT) AS r
  FROM strength, nn),
r1 AS (
  SELECT e.v AS node,
         CAST(CAST(2 * {_TR_TELEPORT_NANO} + any_value(nn.nv) AS HUGEINT)
              // CAST(2 * any_value(nn.nv) AS HUGEINT) AS BIGINT)
         + CAST(CAST(2 * {_TR_D_NUM} * sum(
               CAST(CAST(2 * r0.r * e.w + st.wu AS HUGEINT)
                    // CAST(2 * st.wu AS HUGEINT) AS BIGINT))
               + {_TR_D_DEN} AS HUGEINT)
               // CAST(2 * {_TR_D_DEN} AS HUGEINT) AS BIGINT) AS r
  FROM edges e JOIN r0 ON r0.node = e.u
  JOIN strength st ON st.u = e.u, nn
  GROUP BY e.v),
r2 AS (
  SELECT e.v AS node,
         CAST(CAST(2 * {_TR_TELEPORT_NANO} + any_value(nn.nv) AS HUGEINT)
              // CAST(2 * any_value(nn.nv) AS HUGEINT) AS BIGINT)
         + CAST(CAST(2 * {_TR_D_NUM} * sum(
               CAST(CAST(2 * r1.r * e.w + st.wu AS HUGEINT)
                    // CAST(2 * st.wu AS HUGEINT) AS BIGINT))
               + {_TR_D_DEN} AS HUGEINT)
               // CAST(2 * {_TR_D_DEN} AS HUGEINT) AS BIGINT) AS r
  FROM edges e JOIN r1 ON r1.node = e.u
  JOIN strength st ON st.u = e.u, nn
  GROUP BY e.v)
SELECT node AS tok, r AS rank_nano FROM r2
ORDER BY r DESC, node LIMIT {_TR_TOP}
"""


# ---------------------------------------------------------------------------
# jl_projection
# ---------------------------------------------------------------------------


def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random-projection distortion audit over the first {_JL_N}
    embeddings, projected to {_JL_D} dims with the portable-hash ±1
    sign matrix s(j,k) = ±1 by md5 parity.

    Components quantize to micro BEFORE projecting, so projections
    y(v,k) = Σⱼ s(j,k)·x_micro(v,j) and both squared distances are
    exact integers; each pair's distortion ratio
    1e6·‖Δy‖² / ({_JL_D}·‖Δx‖²) quantizes half-up through one
    HUGEINT-safe division (E[‖y‖²] = d'·‖x‖² for ±1 matrices, so a
    faithful projection centers on 1e6).

    Scale: the audit is a fixed-size sample by design; the corpus
    path applies the same broadcast sign matrix map-side (zero
    exchanges added) — this entry certifies the matrix, not the scan.
    """
    e = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < _JL_N)
        .select("vec_id", "embedding")
    )
    xm = e.select(
        "vec_id",
        F.posexplode("embedding").alias("p", "x"),
    ).select(
        "vec_id",
        (F.col("p") + 1).alias("j"),
        F.floor(F.col("x").cast("double") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("xm"),
    )
    dims = xm.agg(F.max("j").alias("nd"))
    signs = (
        dims.select(
            F.explode(F.sequence(F.lit(1), F.col("nd"))).alias("j")
        )
        .crossJoin(
            dims.select(
                F.explode(F.sequence(F.lit(1), F.lit(_JL_D))).alias("k")
            ).drop("nd")
        )
        .selectExpr(
            "j",
            "k",
            "CASE WHEN (instr('0123456789abcdef',"
            " substr(md5(CAST(j AS STRING) || ':' || CAST(k AS STRING)"
            " || ':jl'), 1, 1)) - 1) % 2 = 0 THEN 1 ELSE -1 END AS s",
        )
    )
    y = (
        xm.join(F.broadcast(signs), "j")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("s") * F.col("xm")).alias("y"))
    )
    ya = y.select(
        F.col("vec_id").alias("va"), "k", F.col("y").alias("y_a")
    )
    yb = y.select(
        F.col("vec_id").alias("vb"), F.col("k").alias("kb"), F.col("y").alias("y_b")
    )
    dproj = (
        ya.join(yb, (ya.k == yb.kb) & (ya.va < yb.vb))
        .groupBy("va", "vb")
        .agg(
            F.sum(
                (F.col("y_a") - F.col("y_b")).cast("decimal(38,0)")
                * (F.col("y_a") - F.col("y_b"))
            ).alias("d2p")
        )
    )
    xa = xm.select(F.col("vec_id").alias("va"), "j", F.col("xm").alias("x_a"))
    xb = xm.select(
        F.col("vec_id").alias("vb"), F.col("j").alias("jb"), F.col("xm").alias("x_b")
    )
    dorig = (
        xa.join(xb, (xa.j == xb.jb) & (xa.va < xb.vb))
        .groupBy("va", "vb")
        .agg(
            F.sum(
                (F.col("x_a") - F.col("x_b")).cast("decimal(38,0)")
                * (F.col("x_a") - F.col("x_b"))
            ).alias("d2o")
        )
    )
    ratios = (
        dproj.join(dorig, ["va", "vb"])
        .selectExpr(
            f"CAST((2000000 * d2p + nullif({_JL_D} * d2o, 0))"
            f" DIV nullif(2 * {_JL_D} * d2o, 0) AS BIGINT) AS ratio_micro"
        )
        .where(F.col("ratio_micro").isNotNull())
    )
    return ratios.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.min("ratio_micro").alias("min_ratio_micro"),
        F.max("ratio_micro").alias("max_ratio_micro"),
        F.expr(
            "CAST((2 * sum(ratio_micro) + count(*)) DIV (2 * count(*))"
            " AS BIGINT)"
        ).alias("mean_ratio_micro"),
    )


ORACLE_JL_PROJECTION = f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_JL_N}),
xm AS (
  SELECT vec_id, j,
         CAST(floor(CAST(embedding[j] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
           AS xm
  FROM (SELECT vec_id, embedding,
               unnest(generate_series(1, len(embedding))) AS j FROM e)),
dims AS (SELECT max(j) AS nd FROM xm),
signs AS (
  SELECT j, k,
         CASE WHEN (strpos('0123456789abcdef',
              substr(md5(j || ':' || k || ':jl'), 1, 1)) - 1) % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(generate_series(1, (SELECT nd FROM dims))) AS j),
       (SELECT unnest(generate_series(1, {_JL_D})) AS k)),
y AS (
  SELECT vec_id, k, sum(s * xm) AS y
  FROM xm JOIN signs USING (j) GROUP BY vec_id, k),
dproj AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         sum(CAST(a.y - b.y AS DECIMAL(38,0)) * (a.y - b.y)) AS d2p
  FROM y a JOIN y b ON a.k = b.k AND a.vec_id < b.vec_id
  GROUP BY 1, 2),
dorig AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         sum(CAST(a.xm - b.xm AS DECIMAL(38,0)) * (a.xm - b.xm)) AS d2o
  FROM xm a JOIN xm b ON a.j = b.j AND a.vec_id < b.vec_id
  GROUP BY 1, 2),
ratios AS (
  SELECT CAST(CAST(2000000 * d2p + nullif({_JL_D} * d2o, 0) AS HUGEINT)
              // nullif(CAST(2 * {_JL_D} * d2o AS HUGEINT), 0) AS BIGINT)
           AS ratio_micro
  FROM dproj JOIN dorig USING (va, vb))
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       min(ratio_micro) AS min_ratio_micro,
       max(ratio_micro) AS max_ratio_micro,
       CAST(CAST(2 * sum(ratio_micro) + count(*) AS HUGEINT)
            // CAST(2 * count(*) AS HUGEINT) AS BIGINT) AS mean_ratio_micro
FROM ratios WHERE ratio_micro IS NOT NULL
"""


# ---------------------------------------------------------------------------
# retrieval_diversity
# ---------------------------------------------------------------------------


def q_retrieval_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pairwise token-set Jaccard among each top term's
    top-{_RD_K} tf-ranked docs — the redundancy a diversified
    re-ranker (MMR) would remove.

    Per-pair Jaccard quantizes half-up to micro via integer division
    (|A∩B| from a postings equi-join restricted to candidate docs;
    union by inclusion-exclusion); zero-overlap pairs enter the mean
    as exact 0 through the left join.  The per-term mean is one more
    half-up division — integers end-to-end.

    Scale: candidates are ≤ {_RD_Q}·{_RD_K} rows (broadcast); the
    intersection join touches only their postings; the ranking window
    partitions per term.
    """
    postings = _postings(spark, sf_dir)
    dfc = postings.groupBy("tok").agg(F.count("*").alias("df"))
    qterms = dfc.orderBy(F.col("df").desc(), "tok").limit(_RD_Q)
    w = Window.partitionBy("tok").orderBy(F.col("tf").desc(), "doc_id")
    # cands / dtok / pairs each feed 2-3 downstream branches; persisted
    # (release-tracked) so the ranking window, the candidate-postings
    # join, and the pair expansion run once instead of per reference
    cands = _q._persist_tracked(
        postings.join(F.broadcast(qterms.select("tok")), "tok")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _RD_K)
        .select(F.col("tok").alias("qt"), "doc_id")
    )
    cdocs = cands.select("doc_id").distinct()
    dtok = _q._persist_tracked(
        postings.join(F.broadcast(cdocs), "doc_id").select("doc_id", "tok")
    )
    sizes = dtok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    pa = cands.select("qt", F.col("doc_id").alias("doc_a"))
    pb = cands.select(F.col("qt").alias("qtb"), F.col("doc_id").alias("doc_b"))
    pairs = _q._persist_tracked(
        pa.join(
            pb, (pa.qt == pb.qtb) & (pa.doc_a < pb.doc_b)
        ).select("qt", "doc_a", "doc_b")
    )
    ta = dtok.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = dtok.select(F.col("doc_id").alias("doc_b2"), F.col("tok").alias("tok_b"))
    inter = (
        pairs.join(ta, "doc_a")
        .join(tb, (F.col("doc_b") == F.col("doc_b2")) & (F.col("tok") == F.col("tok_b")))
        .groupBy("qt", "doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_tok").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_tok").alias("nb"))
    jac = (
        pairs.join(inter, ["qt", "doc_a", "doc_b"], "left")
        .withColumn("i", F.coalesce("i", F.lit(0)))
        .join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .selectExpr(
            "qt",
            "CAST((2000000 * i + (na + nb - i)) DIV (2 * (na + nb - i))"
            " AS BIGINT) AS jac_micro",
        )
    )
    return (
        jac.groupBy("qt")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr(
                "CAST((2 * sum(jac_micro) + count(*)) DIV (2 * count(*))"
                " AS BIGINT)"
            ).alias("mean_jaccard_micro"),
        )
        .select(F.col("qt").alias("tok"), "n_pairs", "mean_jaccard_micro")
    )


ORACLE_RETRIEVAL_DIVERSITY = f"""
WITH {_POSTINGS_SQL},
dfs AS (SELECT tok, count(*) AS df FROM postings GROUP BY tok),
q AS (SELECT tok FROM dfs ORDER BY df DESC, tok LIMIT {_RD_Q}),
cands AS (
  SELECT tok AS qt, doc_id FROM (
    SELECT p.tok, p.doc_id,
           row_number() OVER (PARTITION BY p.tok
                              ORDER BY p.tf DESC, p.doc_id) AS rnk
    FROM postings p JOIN q USING (tok)) s
  WHERE rnk <= {_RD_K}),
dtok AS (
  SELECT doc_id, tok FROM postings
  WHERE doc_id IN (SELECT DISTINCT doc_id FROM cands)),
sizes AS (SELECT doc_id, count(*) AS n_tok FROM dtok GROUP BY doc_id),
pairs AS (
  SELECT a.qt, a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM cands a JOIN cands b ON a.qt = b.qt AND a.doc_id < b.doc_id),
inter AS (
  SELECT p.qt, p.doc_a, p.doc_b, count(*) AS i
  FROM pairs p
  JOIN dtok ta ON ta.doc_id = p.doc_a
  JOIN dtok tb ON tb.doc_id = p.doc_b AND tb.tok = ta.tok
  GROUP BY 1, 2, 3),
jac AS (
  SELECT p.qt,
         CAST(CAST(2000000 * coalesce(i.i, 0)
                   + (sa.n_tok + sb.n_tok - coalesce(i.i, 0)) AS HUGEINT)
              // CAST(2 * (sa.n_tok + sb.n_tok - coalesce(i.i, 0))
                      AS HUGEINT) AS BIGINT) AS jac_micro
  FROM pairs p
  LEFT JOIN inter i ON i.qt = p.qt AND i.doc_a = p.doc_a
                   AND i.doc_b = p.doc_b
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b)
SELECT qt AS tok, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(CAST(2 * sum(jac_micro) + count(*) AS HUGEINT)
            // CAST(2 * count(*) AS HUGEINT) AS BIGINT)
         AS mean_jaccard_micro
FROM jac GROUP BY qt
"""


# ---------------------------------------------------------------------------
# page_hinkley
# ---------------------------------------------------------------------------


def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift monitor over the daily mean event value.

    x_t = half-up micro mean of day t; x̄_t = half-up micro mean of
    the daily means x_1..x_t (running, re-quantized per step);
    m_t = Σ_{{i≤t}} (x_i − x̄_i − δ) with δ = {_PH_DELTA_MICRO} µ;
    M_t = min_{{i≤t}} m_i; alarm ⇔ m_t − M_t > λ = {_PH_LAMBDA_MICRO} µ.
    Exact integers at every step — the running-mean quantization IS
    the cross-engine contract.

    Scale: one partial-agg collapse to the ≤#days frame; the three
    windows order only that frame.
    """
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value").cast("double") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("v_micro"),
        )
        .groupBy("day")
        .agg(F.count("*").alias("n_d"), F.sum("v_micro").alias("s_d"))
        .selectExpr(
            "day",
            "CAST((2 * s_d + n_d) DIV (2 * n_d) AS BIGINT) AS x",
        )
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    stepped = daily.select(
        "day",
        "x",
        F.sum("x").over(wcum).alias("sx"),
        F.count("*").over(wcum).alias("t"),
    ).selectExpr(
        "day",
        "x",
        "CAST((2 * sx + t) DIV (2 * t) AS BIGINT) AS xbar",
    ).selectExpr(
        "day",
        "x",
        "xbar",
        f"x - xbar - {_PH_DELTA_MICRO} AS term",
    )
    cum = stepped.select(
        "day",
        "x",
        F.sum("term").over(wcum).alias("ph_m"),
    ).select(
        "day",
        "x",
        "ph_m",
        F.min("ph_m").over(wcum).alias("ph_min"),
    )
    return cum.selectExpr(
        "day",
        "x AS day_mean_micro",
        "ph_m",
        "ph_min",
        f"ph_m - ph_min > {_PH_LAMBDA_MICRO} AS alarm",
    )


ORACLE_PAGE_HINKLEY = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_d,
         CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
              AS BIGINT) AS s_d
  FROM events GROUP BY 1),
x AS (
  SELECT day,
         CAST(CAST(2 * s_d + n_d AS HUGEINT)
              // CAST(2 * n_d AS HUGEINT) AS BIGINT) AS x
  FROM daily),
stepped AS (
  SELECT day, x,
         CAST(CAST(2 * sum(x) OVER w + count(*) OVER w AS HUGEINT)
              // CAST(2 * count(*) OVER w AS HUGEINT) AS BIGINT) AS xbar
  FROM x WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
cum AS (
  SELECT day, x,
         sum(x - xbar - {_PH_DELTA_MICRO})
           OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS ph_m
  FROM stepped)
SELECT day, x AS day_mean_micro,
       CAST(ph_m AS BIGINT) AS ph_m,
       CAST(min(ph_m) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS ph_min,
       ph_m - min(ph_m) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
         > {_PH_LAMBDA_MICRO} AS alarm
FROM cum
"""


RAGOPS_QUERIES = {
    "rocchio_expansion": q_rocchio_expansion,
    "textrank_keywords": q_textrank_keywords,
    "jl_projection": q_jl_projection,
    "retrieval_diversity": q_retrieval_diversity,
    "page_hinkley": q_page_hinkley,
}

RAGOPS_ORACLES = {
    "rocchio_expansion": ORACLE_ROCCHIO_EXPANSION,
    "textrank_keywords": ORACLE_TEXTRANK_KEYWORDS,
    "jl_projection": ORACLE_JL_PROJECTION,
    "retrieval_diversity": ORACLE_RETRIEVAL_DIVERSITY,
    "page_hinkley": ORACLE_PAGE_HINKLEY,
}

_q.QUERIES.update(RAGOPS_QUERIES)
_q.ORACLES.update(RAGOPS_ORACLES)
