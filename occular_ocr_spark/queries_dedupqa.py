"""Dedup-QA & mixture-planning catalog, round 4 (wave 27): five
operators that audit the dedup stack's own behavior and plan the
training mixture it feeds —

* ``lsh_band_load`` — per-band capacity report of the MinHash-LSH
  banding: bucket counts, the largest bucket, how many buckets/docs the
  ``_LSH_BAND_CAP`` hot-bucket guard silently drops, and the candidate
  pairs the under-cap buckets emit.  Makes the cap's truncation VISIBLE
  (ADVICE r3: capped blocking must not hide what it drops).
* ``dedup_transitivity`` — global transitivity (3·triangles / wedges)
  of the verified near-dup pair graph: the number that says whether
  "connected component = duplicate cluster" is safe or whether chains
  of borderline pairs are gluing unrelated documents together.
* ``char_entropy`` — per-document character-level Shannon entropy in
  nats, H = ln(N) − (Σ c·ln c)/N: the cheapest gibberish/encoding-junk
  detector (binary blobs and base64 runs score near-max, natural text
  sits in a narrow band).
* ``pair_idf_overlap`` — IDF-weighted token overlap for the LSH
  candidate pairs: Σ idf(shared) / Σ idf(union), the soft similarity
  that down-weights stopword agreement where plain Jaccard counts all
  tokens equally.
* ``mixture_waterfill`` — exact integer water-filling of a token
  budget across sources: every source gets the common level L except
  those whose capacity sits below it, which saturate; the standard
  "uniform-as-possible" mixture allocator under per-domain caps.

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus physical-plan assertions in tests/test_dedupqa_wave.py.

Cross-engine float policy (house-wide precedents): ln only of exact
integers (char_entropy counts, idf document frequencies) so both
engines take ln of identical doubles; all divisions rounded to 6 dp at
the surface; the water-fill is 100% integer arithmetic (floor division
on both engines).

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").  Extends the dedup family
(``_minhash_bands`` / ``_minhash_candidates`` / verified pairs,
queries.py), the graph family (``triangle_count``
queries_warehouse.py — same wedge/triangle kernel, here pointed at the
dedup graph itself), the curation family (``unigram_logprob``
queries_curation.py) and the mixture family (``domain_mix_weights``
queries.py, ``dsir_weights`` queries_selection.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import queries as _q
from .pipeline_e2e import (
    _LSH_BAND_CAP,
    _MINHASH_BAND_ROWS,
    _MINHASH_SEEDS,
    _minhash_bands,
    _minhash_candidates,
)
from .queries import (
    ORACLE_DEDUP_MINHASH_VERIFY,
    _shingles,
    _t,
    q_dedup_minhash_verify,
)

# Shared DuckDB CTE: uncapped (doc_id, band, band_key) LSH band rows —
# the bands_all stage of ORACLE_DEDUP_MINHASH_LSH (queries.py), before
# the hot-bucket cap, because lsh_band_load REPORTS the cap's effect.
_ORACLE_BANDS_ALL = f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         list_extract(l, i) || ' ' || list_extract(l, i+1) || ' ' || list_extract(l, i+2) AS sh
  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i
        FROM toks WHERE len(l) >= 3)),
seeds AS (SELECT unnest(generate_series(0, {_MINHASH_SEEDS - 1})) AS seed),
sig AS (
  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
  FROM sh CROSS JOIN seeds
  GROUP BY doc_id, seed),
bands_all AS (
  SELECT doc_id, CAST(seed // {_MINHASH_BAND_ROWS} AS INT) AS band,
         string_agg(mh, '|' ORDER BY seed) AS band_key
  FROM sig
  GROUP BY doc_id, CAST(seed // {_MINHASH_BAND_ROWS} AS INT))
"""


# ---------------------------------------------------------------------------
# lsh_band_load
# ---------------------------------------------------------------------------


def q_lsh_band_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity report of the LSH banding, one row per band: total
    buckets, buckets with a collision (size ≥ 2), the largest bucket,
    buckets/docs dropped by the ``_LSH_BAND_CAP`` hot-bucket guard, and
    the candidate pairs Σ n·(n−1)/2 the surviving collision buckets
    emit.  This is the audit that quantifies what the cap silently
    truncates (ADVICE r3) and whether any band key is degenerating into
    a skew hotspot before a 1000-executor dedup run.

    Scale: bucket sizes are ONE partial-aggregated groupBy over the
    band rows; the report is a second #buckets→#bands agg.  Entirely
    integer arithmetic — n·(n−1) is even, so the pair count is an exact
    floor division on both engines.
    """
    sizes = (
        _minhash_bands(_shingles(spark, sf_dir))
        .groupBy("band", "band_key")
        .agg(F.count("*").alias("n"))
    )
    n = F.col("n")
    return (
        sizes.groupBy("band")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum(F.when(n >= 2, 1).otherwise(0)).alias("collision_buckets"),
            F.max("n").alias("max_bucket_docs"),
            F.sum(F.when(n > _LSH_BAND_CAP, 1).otherwise(0)).alias(
                "over_cap_buckets"
            ),
            F.sum(F.when(n > _LSH_BAND_CAP, n).otherwise(F.lit(0))).alias(
                "over_cap_docs"
            ),
            F.sum(
                F.when(
                    (n >= 2) & (n <= _LSH_BAND_CAP),
                    (n * (n - 1) / F.lit(2)).cast("bigint"),
                ).otherwise(F.lit(0))
            ).alias("candidate_pairs"),
        )
        .select(
            "band",
            F.col("n_buckets").cast("bigint").alias("n_buckets"),
            F.col("collision_buckets").cast("bigint").alias("collision_buckets"),
            F.col("max_bucket_docs").cast("bigint").alias("max_bucket_docs"),
            F.col("over_cap_buckets").cast("bigint").alias("over_cap_buckets"),
            F.col("over_cap_docs").cast("bigint").alias("over_cap_docs"),
            F.col("candidate_pairs").cast("bigint").alias("candidate_pairs"),
        )
    )


ORACLE_LSH_BAND_LOAD = f"""
WITH {_ORACLE_BANDS_ALL},
sizes AS (
  SELECT band, band_key, count(*) AS n FROM bands_all GROUP BY band, band_key)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS collision_buckets,
       CAST(max(n) AS BIGINT) AS max_bucket_docs,
       CAST(sum(CASE WHEN n > {_LSH_BAND_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS over_cap_buckets,
       CAST(sum(CASE WHEN n > {_LSH_BAND_CAP} THEN n ELSE 0 END) AS BIGINT)
         AS over_cap_docs,
       CAST(sum(CASE WHEN n >= 2 AND n <= {_LSH_BAND_CAP}
                     THEN n * (n - 1) // 2 ELSE 0 END) AS BIGINT)
         AS candidate_pairs
FROM sizes
GROUP BY band
"""


# ---------------------------------------------------------------------------
# dedup_transitivity
# ---------------------------------------------------------------------------


def q_dedup_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity of the verified near-dup pair graph: with
    edges E = the ``dedup_minhash_verify`` output (doc_a < doc_b),

        wedges    = Σ_v deg(v)·(deg(v)−1)/2
        triangles = #{a<b<c : (a,b),(a,c),(b,c) ∈ E}
        transitivity = 3·triangles / wedges    (0.0 when no wedges)

    High transitivity → near-dup similarity behaves like an
    equivalence relation and CC-clustering (``dedup_keep_canonical``)
    is safe; low transitivity → chains of borderline pairs are welding
    unrelated documents into one component and the threshold (or the
    canonical-pick policy) needs review.  The QA twin of
    ``triangle_count`` (queries_warehouse.py), pointed at the dedup
    graph itself.

    Scale: E is the verified near-dup set — a vanishing fraction of a
    100 TB corpus, memoized/persisted once per session (the same
    materialized table ``cc_largestar`` consumes).  The oriented
    wedge→triangle probe is two joins on that small set; degrees are
    one partial agg.  Only the final ratio is float, on exact integers,
    rounded to 6.
    """
    e = q_dedup_minhash_verify(spark, sf_dir).select("doc_a", "doc_b")
    deg = (
        e.select(F.col("doc_a").alias("v"))
        .unionAll(e.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    wedges = deg.agg(
        F.coalesce(F.sum((F.col("d") * (F.col("d") - 1) / F.lit(2)).cast("bigint")), F.lit(0))
        .cast("bigint")
        .alias("n_wedges")
    )
    x, y = e.alias("x"), e.alias("y")
    open_w = x.join(
        y,
        (F.col("x.doc_a") == F.col("y.doc_a"))
        & (F.col("x.doc_b") < F.col("y.doc_b")),
    ).select(F.col("x.doc_b").alias("b"), F.col("y.doc_b").alias("c"))
    tri = (
        open_w.join(
            e, (open_w.b == e.doc_a) & (open_w.c == e.doc_b)
        ).agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    n_edges = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    out = n_edges.crossJoin(wedges).crossJoin(tri)
    return out.select(
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") > 0, F.round(
            F.lit(3) * F.col("n_triangles") / F.col("n_wedges"), 6
        )).otherwise(F.lit(0.0)).alias("transitivity"),
    )


ORACLE_DEDUP_TRANSITIVITY = f"""
WITH verified AS ({ORACLE_DEDUP_MINHASH_VERIFY}),
e AS (SELECT doc_a, doc_b FROM verified),
deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT doc_a AS v FROM e UNION ALL SELECT doc_b AS v FROM e)
  GROUP BY v),
w AS (SELECT CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT) AS n_wedges FROM deg),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM e x JOIN e y ON x.doc_a = y.doc_a AND x.doc_b < y.doc_b
  JOIN e z ON z.doc_a = x.doc_b AND z.doc_b = y.doc_b),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN round(3.0 * n_triangles / n_wedges, 6)
            ELSE CAST(0.0 AS DOUBLE) END AS transitivity
FROM ne CROSS JOIN w CROSS JOIN tri
"""


# ---------------------------------------------------------------------------
# char_entropy
# ---------------------------------------------------------------------------


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy in nats,

        H(d) = ln(N) − (Σ_c c·ln c) / N

    over the character histogram (N = total chars, c = per-char count)
    — plus the char count and distinct-char count.  The cheapest
    junk-content detector in the quality stack: base64/binary runs sit
    near the alphabet's max entropy, template boilerplate near the
    bottom, natural language in a narrow band between.

    Cross-engine: both ln arguments are EXACT integers (counts), so
    Spark and DuckDB take ln of identical doubles; per-document
    summation order is the only freedom, far below the 6-dp surface
    rounding (the ``unigram_logprob`` precedent).  Empty/NULL texts are
    excluded on BOTH engines (Spark splits '' to [], DuckDB to [''] —
    the one divergence, removed by the shared length guard).

    Scale: explode → ONE partial-aggregated groupBy(doc_id, ch) (the
    combiner collapses each partition to its local histogram) → a
    per-doc agg that reuses the doc_id clustering.  No windows, no
    joins.
    """
    d = _t(spark, sf_dir, "documents").where(F.length("text") > 0)
    cnt = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("c"))
    )
    c = F.col("c")
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum(c).cast("bigint").alias("n_chars"),
            F.count("*").cast("bigint").alias("n_distinct"),
            F.sum(c * F.log(c)).alias("s"),
        )
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "n_chars",
            "n_distinct",
            F.round(
                F.log(F.col("n_chars")) - F.col("s") / F.col("n_chars"), 6
            ).alias("char_entropy"),
        )
    )


ORACLE_CHAR_ENTROPY = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch
  FROM documents WHERE length(text) > 0),
cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(sum(c) AS BIGINT) AS n_chars,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(ln(CAST(sum(c) AS DOUBLE)) - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 6)
         AS char_entropy
FROM cnt
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# pair_idf_overlap
# ---------------------------------------------------------------------------


def q_pair_idf_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted token overlap for the LSH candidate pairs:

        idf(t) = ln(N_docs) − ln(df_t)          (df over distinct docs)
        overlap(a,b) = Σ_{t∈a∩b} idf(t) / Σ_{t∈a∪b} idf(t)

    — the soft similarity that scores shared RARE tokens high and
    shared stopwords near zero, where the exact-Jaccard verifier
    (``dedup_minhash_verify``) counts every shingle equally.  Pairs
    sharing no token (possible only via degenerate band collisions)
    are not emitted.

    Cross-engine: idf is a difference of ln of EXACT integers; the
    union weight is ta + tb − shared (no second join); only the final
    ratio is rounded.  Σ idf(union) = 0 requires every token in both
    documents to appear in ALL documents — idf exactly 0.0 on both
    engines, so the >0 guard is float-safe.

    Scale: the candidate set is the broadcast side (near-dup candidates
    are a vanishing fraction of a 100 TB corpus — the
    ``dedup_minhash_verify`` shape); df and per-doc idf totals are
    partial-aggregated token passes; the shared-idf sum is a groupBy
    over only the candidate docs' tokens.
    """
    d = _t(spark, sf_dir, "documents")
    # toks feeds idf AND the weighted-token build; wtoks feeds three
    # branches (totals, a-side, b-side) — both persisted so the explode
    # + distinct + idf join run once, not per reference
    toks = _q._persist_tracked(
        d.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .distinct()
    )
    nd = d.agg(F.count("*").alias("n_docs"))  # 1-row broadcast total
    idf = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(nd))
        .select("tok", (F.log(F.col("n_docs")) - F.log(F.col("df"))).alias("idf"))
    )
    wtoks = _q._persist_tracked(
        toks.join(idf, "tok").select("doc_id", "tok", "idf")
    )
    totals = wtoks.groupBy("doc_id").agg(F.sum("idf").alias("t_idf"))
    cands = _minhash_candidates(_shingles(spark, sf_dir))
    a = wtoks.join(
        F.broadcast(cands), wtoks.doc_id == cands.doc_a
    ).select("doc_a", "doc_b", "tok", "idf")
    b = wtoks.select(
        F.col("doc_id").alias("doc_b_r"), F.col("tok").alias("tok_b")
    )
    shared = (
        a.join(b, (a.tok == b.tok_b) & (a.doc_b == b.doc_b_r))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").cast("bigint").alias("n_shared_toks"),
            F.sum("idf").alias("s_idf"),
        )
    )
    ta = totals.select(F.col("doc_id").alias("doc_a"), F.col("t_idf").alias("ta"))
    tb = totals.select(F.col("doc_id").alias("doc_b"), F.col("t_idf").alias("tb"))
    u = F.col("ta") + F.col("tb") - F.col("s_idf")
    return (
        shared.join(F.broadcast(ta), "doc_a")
        .join(F.broadcast(tb), "doc_b")
        .where(u > 0)
        .select(
            "doc_a",
            "doc_b",
            "n_shared_toks",
            F.round(F.col("s_idf") / u, 6).alias("idf_overlap"),
        )
    )


ORACLE_PAIR_IDF_OVERLAP = f"""
WITH {_ORACLE_BANDS_ALL},
bands AS (
  SELECT doc_id, band, band_key FROM (
    SELECT doc_id, band, band_key,
           count(*) OVER (PARTITION BY band, band_key) AS bf
    FROM bands_all)
  WHERE bf <= {_LSH_BAND_CAP}),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
dtoks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''),
nd AS (SELECT count(*) AS n FROM documents),
idf AS (
  SELECT tok, ln(CAST((SELECT n FROM nd) AS DOUBLE)) - ln(CAST(count(*) AS DOUBLE)) AS idf
  FROM dtoks GROUP BY tok),
wtoks AS (SELECT d.doc_id, d.tok, i.idf FROM dtoks d JOIN idf i ON d.tok = i.tok),
totals AS (SELECT doc_id, sum(idf) AS t_idf FROM wtoks GROUP BY doc_id),
shared AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_shared_toks,
         sum(a.idf) AS s_idf
  FROM cands c
  JOIN wtoks a ON a.doc_id = c.doc_a
  JOIN wtoks b ON b.doc_id = c.doc_b AND b.tok = a.tok
  GROUP BY c.doc_a, c.doc_b)
SELECT CAST(s.doc_a AS BIGINT) AS doc_a, CAST(s.doc_b AS BIGINT) AS doc_b,
       n_shared_toks,
       round(s_idf / (ta.t_idf + tb.t_idf - s_idf), 6) AS idf_overlap
FROM shared s
JOIN totals ta ON ta.doc_id = s.doc_a
JOIN totals tb ON tb.doc_id = s.doc_b
WHERE ta.t_idf + tb.t_idf - s_idf > 0
"""


# ---------------------------------------------------------------------------
# mixture_waterfill
# ---------------------------------------------------------------------------


def _waterfill_sql(dialect: str) -> str:
    """Dual-dialect exact-integer water-fill: budget B = ⌊T/2⌋ tokens
    spread uniformly across sources, each capped by its own token
    capacity; sorted by (cap, source), source i saturates iff
    prefix(i) + cap_i·(S−i) ≤ B, and the survivors share the level
    L = ⌊(B − Σ_saturated cap) / (S−k)⌋.  B < T guarantees k < S, so
    the level row always exists.  100% integer arithmetic — floor
    division behaves identically on both engines for non-negative
    operands.
    """
    if dialect == "spark":
        ntoks = "size(split(text, ' '))"
        div = "DIV"
    else:
        ntoks = "len(string_split(text, ' '))"
        div = "//"
    return f"""
WITH caps AS (
  SELECT source, CAST(sum({ntoks}) AS BIGINT) AS cap
  FROM documents GROUP BY source),
b AS (SELECT CAST(sum(cap) AS BIGINT) {div} 2 AS budget FROM caps),
ordered AS (
  SELECT source, cap,
         sum(cap) OVER (ORDER BY cap, source
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx,
         row_number() OVER (ORDER BY cap, source) AS rk,
         count(*) OVER () AS s
  FROM caps),
flagged AS (
  SELECT source, cap, pfx, rk, s,
         CASE WHEN pfx + cap * (s - rk) <= (SELECT budget FROM b)
              THEN 1 ELSE 0 END AS sat
  FROM ordered),
lvl AS (
  SELECT CAST(((SELECT budget FROM b)
               - coalesce(sum(CASE WHEN sat = 1 THEN cap END), 0))
              {div} (max(s) - sum(sat)) AS BIGINT) AS level
  FROM flagged)
SELECT f.source, f.cap AS cap_tokens,
       CAST(CASE WHEN f.sat = 1 THEN f.cap ELSE l.level END AS BIGINT)
         AS alloc_tokens,
       CAST(f.sat AS INT) AS saturated
FROM flagged f CROSS JOIN lvl l
"""


def q_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling mixture allocation of a token budget (half the
    corpus, B = ⌊T/2⌋) across sources: the uniform-as-possible split
    under per-source capacity caps — small domains contribute
    everything they have, large domains are clipped to the common
    water level.  The allocator behind "don't let one crawl dominate
    the mixture" epoch planning; per-source sampling rates follow as
    alloc/cap.

    Scale: caps are ONE partial-aggregated token pass; everything after
    runs on the S-row source table (a global window over #sources rows
    — the house-accepted bounded-frame exception), and the answer is
    exact integers, so the gate carries zero float risk.
    """
    _q._register_views(spark, sf_dir, ["documents"])
    return spark.sql(_waterfill_sql("spark"))


ORACLE_MIXTURE_WATERFILL = _waterfill_sql("duck")


DEDUPQA_QUERIES = {
    "lsh_band_load": q_lsh_band_load,
    "dedup_transitivity": q_dedup_transitivity,
    "char_entropy": q_char_entropy,
    "pair_idf_overlap": q_pair_idf_overlap,
    "mixture_waterfill": q_mixture_waterfill,
}

DEDUPQA_ORACLES = {
    "lsh_band_load": ORACLE_LSH_BAND_LOAD,
    "dedup_transitivity": ORACLE_DEDUP_TRANSITIVITY,
    "char_entropy": ORACLE_CHAR_ENTROPY,
    "pair_idf_overlap": ORACLE_PAIR_IDF_OVERLAP,
    "mixture_waterfill": ORACLE_MIXTURE_WATERFILL,
}

_q.QUERIES.update(DEDUPQA_QUERIES)
_q.ORACLES.update(DEDUPQA_ORACLES)
