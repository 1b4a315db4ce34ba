"""Corpus-behavior catalog, round 4 (wave 25): five operators a
pretraining-data platform runs between its dedup, curation, and
session-analytics layers —

* ``session_paths`` — the full event-type path per 30-minute user
  session (``sessionize``'s gap rule), capped at the first
  ``_SP_PATH_CAP`` events, rolled up to (path, n_sessions, n_users):
  the behavioral-flow table funnels and Markov transitions summarize
  but never show whole.
* ``pair_ngram_recall`` — ROUGE-style n-gram recall (n = 1, 2) between
  each verified near-dup pair's texts, doc_a as the reference:
  multiset overlap Σ min(c_a, c_b) over the reference gram count.
  The eval-harness primitive for summary/quote overlap, run here on
  the memoized ``dedup_minhash_verify`` pair set.
* ``perplexity_buckets`` — CCNet-style head/middle/tail terciles per
  language by the ``unigram_logprob`` LM score.  Bucket membership is
  rank-based with INTEGER cross-multiplied thresholds
  (3·rank ≤ n / 2n), and the per-language rank is the
  sorted_neighborhood two-level decomposition — never a single-task
  global sort.
* ``turn_self_repetition`` — within-conversation repeated-turn ratio
  over the transcript derivation (conv = doc_id // 10): the degeneracy
  signal (agents stuck in loops repeat turns verbatim) that
  ``agent_loop_detect`` thresholds and this entry quantifies.
* ``kcore_decompose`` — the k = 2 core of the verified near-dup graph:
  iterated peel of nodes with degree < k.  Transitive LSH chains
  inflate dup clusters; the 2-core keeps only cycle-corroborated
  membership — the standard densification filter before trusting a
  cluster for wholesale deletion.

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus physical-plan assertions in tests/.

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").  Extends the session family (``sessionize``
queries.py, ``event_markov`` queries_analytics.py), the eval family
(``ndcg_eval`` / ``rbo_rankings`` queries_evalharness.py), the
curation family (``unigram_logprob`` queries_curation.py), the
transcript family (``conversation_dedup`` queries_transcript.py), and
the graph family (``cc_largestar`` queries_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from .queries import _t

# ---------------------------------------------------------------------------
# session_paths
# ---------------------------------------------------------------------------

_SP_GAP_S = 1800   # sessionize's 30-minute inactivity gap
_SP_PATH_CAP = 8   # path key keeps the first 8 events of a session


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-path rollup of user sessions: the ordered event-type
    sequence of each 30-minute session (first ``_SP_PATH_CAP`` events,
    '>'-joined), counted across sessions and users — the flow table
    behind "what do people actually do in a session".

    Scale: one user-keyed window derives the session ids (the
    ``sessionize`` shape — per-user state, fully parallel across
    users), the per-session path is ONE in-memory ``array_sort`` over
    a collect_list whose state the cap bounds at ``_SP_PATH_CAP``
    structs after slicing (collect state is a session's events — a
    30-minute human session, not corpus-scale), and the rollup is a
    partial-aggregated groupBy(path) over a path-alphabet-bounded key
    space.  No global window, no driver data.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = F.when(epoch - F.lag(epoch).over(w) > _SP_GAP_S, 1).otherwise(0)
    sess = e.withColumn("new_sess", F.coalesce(gap, F.lit(0))).withColumn(
        "sess_id", F.sum("new_sess").over(w)
    )
    per_sess = sess.groupBy("user_id", "sess_id").agg(
        F.array_join(
            F.transform(
                F.slice(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    1,
                    _SP_PATH_CAP,
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return per_sess.groupBy("path").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


ORACLE_SESSION_PATHS = f"""
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS sess_id
  FROM (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  > {_SP_GAP_S}
                THEN 1 ELSE 0 END AS new_sess
    FROM events)),
capped AS (
  SELECT * FROM (
    SELECT s.*, row_number() OVER (
             PARTITION BY user_id, sess_id ORDER BY ts, event_id) AS rn
    FROM s)
  WHERE rn <= {_SP_PATH_CAP}),
paths AS (
  SELECT user_id, sess_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM capped GROUP BY user_id, sess_id)
SELECT path,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM paths GROUP BY path
"""


# ---------------------------------------------------------------------------
# pair_ngram_recall
# ---------------------------------------------------------------------------


def _gram_counts(d: DataFrame) -> DataFrame:
    """(doc_id, n, gram, cnt) multiset gram counts for n = 1 and 2.
    Both gram streams are built MAP-SIDE from the one split() array
    (the bigram via an indexed transform), so the only exchange is the
    count groupBy."""
    toks = F.split(F.col("text"), " ")
    uni = d.select(
        "doc_id", F.lit(1).alias("n"), F.explode(toks).alias("gram")
    )
    bi = d.select(
        "doc_id",
        F.lit(2).alias("n"),
        F.explode(
            F.transform(
                F.slice(toks, 1, F.size(toks) - 1),
                lambda x, i: F.concat_ws(" ", x, F.element_at(toks, i + 2)),
            )
        ).alias("gram"),
    )
    return (
        uni.unionByName(bi)
        .groupBy("doc_id", "n", "gram")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def q_pair_ngram_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-N recall (n = 1, 2) for every verified near-dup pair,
    doc_a (the smaller id) as the reference: recall =
    Σ_g min(c_a(g), c_b(g)) / Σ_g c_a(g) — the multiset-overlap
    definition, exact integers until one final division rounded to 6.

    Scale: gram counts are one partial-agg groupBy over the token
    stream; the pair set (memoized ``dedup_minhash_verify``, a
    vanishing fraction of the corpus) BROADCASTS onto the reference
    side, and the overlap join keys on (doc_b, n, gram) — an equi-join
    the candidate fan-out bounds, never an all-pairs scan.  Pairs ×
    {1,2} rows are generated up front so an empty bigram overlap still
    emits its 0.0 row on both engines.
    """
    pairs = (
        _q.q_dedup_minhash_verify(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("n", F.explode(F.array(F.lit(1), F.lit(2))))
    )
    # persisted: three branches (ref totals, a-side, b-side) read the
    # gram counts — unpersisted each re-ran the token-stream groupBy
    grams = _q._persist_tracked(
        _gram_counts(
            _t(spark, sf_dir, "documents").select(
                F.col("doc_id").cast("bigint").alias("doc_id"), "text"
            )
        )
    )
    ref_tot = grams.groupBy("doc_id", "n").agg(
        F.sum("cnt").cast("bigint").alias("ref_total")
    ).select(
        F.col("doc_id").alias("ref_doc"),
        F.col("n").alias("ref_n"),
        "ref_total",
    )
    a_grams = grams.join(
        F.broadcast(pairs.select("doc_a", "doc_b").distinct()),
        grams.doc_id == F.col("doc_a"),
    ).select("doc_a", "doc_b", "n", "gram", F.col("cnt").alias("ca"))
    b_grams = grams.select(
        F.col("doc_id").alias("doc_b_r"),
        F.col("n").alias("n_r"),
        F.col("gram").alias("gram_r"),
        F.col("cnt").alias("cb"),
    )
    overlap = (
        a_grams.join(
            b_grams,
            (a_grams.doc_b == b_grams.doc_b_r)
            & (a_grams.n == b_grams.n_r)
            & (a_grams.gram == b_grams.gram_r),
        )
        .groupBy("doc_a", "doc_b", "n")
        .agg(F.sum(F.least("ca", "cb")).cast("bigint").alias("overlap"))
    )
    return (
        pairs.join(overlap, ["doc_a", "doc_b", "n"], "left")
        .join(
            ref_tot,
            (F.col("doc_a") == F.col("ref_doc")) & (F.col("n") == F.col("ref_n")),
        )
        .select(
            "doc_a",
            "doc_b",
            "n",
            F.coalesce("overlap", F.lit(0)).cast("bigint").alias("overlap"),
            "ref_total",
            F.when(
                F.col("ref_total") > 0,
                F.round(
                    F.coalesce("overlap", F.lit(0)) / F.col("ref_total"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("recall"),
        )
    )


ORACLE_PAIR_NGRAM_RECALL = f"""
WITH pairs_raw AS ({_q.ORACLE_DEDUP_MINHASH_VERIFY}),
pairs AS (
  SELECT doc_a, doc_b, n
  FROM pairs_raw CROSS JOIN (VALUES (CAST(1 AS INT)), (CAST(2 AS INT))) v(n)),
toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
uni AS (
  SELECT doc_id, CAST(1 AS INT) AS n, unnest(l) AS gram FROM toks),
bi AS (
  SELECT doc_id, CAST(2 AS INT) AS n,
         list_extract(l, i) || ' ' || list_extract(l, i+1) AS gram
  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
        FROM toks WHERE len(l) >= 2)),
grams AS (
  SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
  GROUP BY doc_id, n, gram),
ref_tot AS (
  SELECT doc_id, n, CAST(sum(cnt) AS BIGINT) AS ref_total
  FROM grams GROUP BY doc_id, n),
ovl AS (
  SELECT p.doc_a, p.doc_b, p.n,
         CAST(sum(least(a.cnt, b.cnt)) AS BIGINT) AS overlap
  FROM pairs p
  JOIN grams a ON a.doc_id = p.doc_a AND a.n = p.n
  JOIN grams b ON b.doc_id = p.doc_b AND b.n = p.n AND b.gram = a.gram
  GROUP BY p.doc_a, p.doc_b, p.n)
SELECT p.doc_a, p.doc_b, p.n,
       CAST(coalesce(o.overlap, 0) AS BIGINT) AS overlap,
       r.ref_total,
       CASE WHEN r.ref_total > 0
            THEN round(CAST(coalesce(o.overlap, 0) AS DOUBLE) / r.ref_total, 6)
            ELSE 0.0 END AS recall
FROM pairs p
LEFT JOIN ovl o ON o.doc_a = p.doc_a AND o.doc_b = p.doc_b AND o.n = p.n
JOIN ref_tot r ON r.doc_id = p.doc_a AND r.n = p.n
"""


# ---------------------------------------------------------------------------
# perplexity_buckets
# ---------------------------------------------------------------------------


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail terciles per language by the
    corpus-unigram LM score (``unigram_logprob``'s logprob2): bucket =
    1 + [3·rank > n] + [3·rank > 2n] over the (logprob2 DESC-free)
    ascending (lp, doc_id) order — integer cross-multiplied
    thresholds, no float quantile anywhere.

    Scale: the per-language rank is NEVER a single-task window over
    the corpus — it reuses the sorted_neighborhood two-level
    decomposition with bin = floor(lp) as the sub-bucket: (1) per
    (lang, bin) counts (partial agg, ~|langs|·|bins| rows), (2) one
    tiny ordered prefix window over those bin rows, (3) row_number
    within each (lang, bin) in parallel.  The rollup to (lang, bucket)
    is a 3·|langs|-row partial agg.  lp itself is the
    ``unigram_logprob`` broadcast-scored map-side pass.
    """
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    )
    lp = _q.QUERIES["unigram_logprob"](spark, sf_dir).select(
        "doc_id", F.col("logprob2").alias("lp")
    )
    # persisted: the bin counts and the ranked join both read the
    # scored frame — unpersisted each re-ran the unigram-LM scoring
    # pass over the corpus
    scored = _q._persist_tracked(
        docs.join(lp, "doc_id").withColumn(
            "bin", F.floor("lp").cast("bigint")
        )
    )
    bcounts = scored.groupBy("lang", "bin").agg(F.count("*").alias("bn"))
    wb = Window.partitionBy("lang").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = bcounts.select(
        "lang",
        "bin",
        F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("below"),
    )
    totals = bcounts.groupBy("lang").agg(
        F.sum("bn").cast("bigint").alias("n_lang")
    )
    wr = Window.partitionBy("lang", "bin").orderBy("lp", "doc_id")
    ranked = (
        scored.join(F.broadcast(prefix), ["lang", "bin"])
        .select(
            "lang",
            "doc_id",
            "lp",
            (F.col("below") + F.row_number().over(wr)).alias("rank"),
        )
        .join(F.broadcast(totals), "lang")
    )
    bucketed = ranked.select(
        "lang",
        "lp",
        (
            F.lit(1)
            + (F.lit(3) * F.col("rank") > F.col("n_lang")).cast("int")
            + (F.lit(3) * F.col("rank") > F.lit(2) * F.col("n_lang")).cast(
                "int"
            )
        ).alias("bucket"),
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("lp").alias("min_lp"),
        F.max("lp").alias("max_lp"),
    )


ORACLE_PERPLEXITY_BUCKETS = f"""
WITH lp AS ({_q.ORACLES["unigram_logprob"]}),
ranked AS (
  SELECT d.lang, l.logprob2 AS lp,
         row_number() OVER (
           PARTITION BY d.lang ORDER BY l.logprob2, d.doc_id) AS rank,
         count(*) OVER (PARTITION BY d.lang) AS n_lang
  FROM documents d JOIN lp l ON l.doc_id = d.doc_id),
bucketed AS (
  SELECT lang, lp,
         1 + CAST(3 * rank > n_lang AS INT)
           + CAST(3 * rank > 2 * n_lang AS INT) AS bucket
  FROM ranked)
SELECT lang, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(lp) AS min_lp,
       max(lp) AS max_lp
FROM bucketed GROUP BY lang, bucket
"""


# ---------------------------------------------------------------------------
# turn_self_repetition
# ---------------------------------------------------------------------------


def q_turn_self_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-conversation verbatim-turn repetition over the transcript
    derivation (conv = doc_id // 10, turn content = documents.text):
    rep_ratio = (n_turns − n_distinct) / n_turns, plus the largest
    single-turn multiplicity — the degeneracy profile of an agent
    transcript (loops repeat turns verbatim).

    Scale: two partial-aggregated groupBys — (conv, text-hash) counts,
    then per-conv rollup — state bounded by distinct turns per
    conversation.  The division is the only float, rounded to 6 on
    exact integers.
    """
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        F.floor(F.col("doc_id") / 10).cast("bigint").alias("conv"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("turn_key"),
    )
    per_turn = t.groupBy("conv", "turn_key").agg(F.count("*").alias("m"))
    return per_turn.groupBy("conv").agg(
        F.sum("m").cast("bigint").alias("n_turns"),
        F.count("*").cast("bigint").alias("n_distinct_turns"),
        F.max("m").cast("bigint").alias("max_multiplicity"),
        F.round(
            (F.sum("m") - F.count("*")) / F.sum("m"), 6
        ).alias("rep_ratio"),
    )


ORACLE_TURN_SELF_REPETITION = """
WITH t AS (
  SELECT doc_id // 10 AS conv, md5(coalesce(text, '')) AS turn_key
  FROM documents),
per_turn AS (
  SELECT conv, turn_key, count(*) AS m FROM t GROUP BY conv, turn_key)
SELECT CAST(conv AS BIGINT) AS conv,
       CAST(sum(m) AS BIGINT) AS n_turns,
       CAST(count(*) AS BIGINT) AS n_distinct_turns,
       CAST(max(m) AS BIGINT) AS max_multiplicity,
       round(CAST(sum(m) - count(*) AS DOUBLE) / sum(m), 6) AS rep_ratio
FROM per_turn GROUP BY conv
"""


# ---------------------------------------------------------------------------
# kcore_decompose
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_MAX_ROUNDS = 12


def q_kcore_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k = ``_KCORE_K`` core of the verified near-dup graph:
    iteratively peel nodes whose degree among survivors is < k until
    the fixpoint.  LSH + verify emits transitive chains; the 2-core
    keeps only cycle-corroborated cluster membership — the
    densification filter a dedup pipeline applies before trusting a
    cluster for wholesale deletion.  Emits each core member with its
    degree INSIDE the core.

    Scale: each round is one partial-aggregated degree groupBy and two
    semi-joins of the edge list against the survivor set — no
    adjacency list ever materializes, a hub node costs a groupBy key.
    Convergence is a 1-row checksum collect per round with a loud
    round cap (the ``cc_largestar`` discipline); peel depth is tiny in
    practice (long thin chains peel one layer per round, and a chain
    is exactly what the 2-core exists to discard).  Oracle: DuckDB
    level-synchronous recursive peel bounded by the same cap — past
    the fixpoint extra rounds are idempotent, so a converged Spark
    result equals the capped oracle exactly.
    """
    pairs = _q.q_dedup_minhash_verify(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _checksum(e: DataFrame):
        return e.select(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]

    prev = _checksum(edges)
    converged = prev["n"] == 0
    for _ in range(_KCORE_MAX_ROUNDS):
        if converged:
            break
        keep = (
            edges.groupBy("u")
            .agg(F.count("*").alias("d"))
            .where(F.col("d") >= _KCORE_K)
            .select("u")
        )
        edges = (
            edges.join(keep, "u", "semi")
            .join(keep.select(F.col("u").alias("v")), "v", "semi")
            .localCheckpoint(eager=True)
        )
        cur = _checksum(edges)
        if (cur["n"], cur["h"]) == (prev["n"], prev["h"]):
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"kcore_decompose: peel did not stabilize in "
            f"{_KCORE_MAX_ROUNDS} rounds"
        )
    return (
        edges.groupBy("u")
        .agg(F.count("*").cast("bigint").alias("core_degree"))
        .select(F.col("u").cast("bigint").alias("doc_id"), "core_degree")
    )


# Level-synchronous recursive peel: a (node, rnd) row advances to
# rnd + 1 iff the node's degree among rnd-survivors is >= k; rows are
# states, UNION dedups, rnd < cap bounds depth.  Core = survived every
# round (idempotent past the fixpoint, so max(rnd) = cap).
ORACLE_KCORE_DECOMPOSE = f"""
WITH RECURSIVE pairs AS ({_q.ORACLE_DEDUP_MINHASH_VERIFY}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
surv(node, rnd) AS (
  SELECT DISTINCT u, 0 FROM edges
  UNION
  SELECT s.node, s.rnd + 1
  FROM surv s
  WHERE s.rnd < {_KCORE_MAX_ROUNDS}
    AND (SELECT count(*)
         FROM edges e JOIN surv s2 ON s2.node = e.v AND s2.rnd = s.rnd
         WHERE e.u = s.node) >= {_KCORE_K}),
core AS (
  SELECT node FROM surv GROUP BY node
  HAVING max(rnd) = {_KCORE_MAX_ROUNDS})
SELECT CAST(c.node AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS core_degree
FROM core c
JOIN edges e ON e.u = c.node
JOIN core c2 ON c2.node = e.v
GROUP BY c.node
"""


CORPUS_QUERIES = {
    "session_paths": q_session_paths,
    "pair_ngram_recall": q_pair_ngram_recall,
    "perplexity_buckets": q_perplexity_buckets,
    "turn_self_repetition": q_turn_self_repetition,
    "kcore_decompose": q_kcore_decompose,
}

CORPUS_ORACLES = {
    "session_paths": ORACLE_SESSION_PATHS,
    "pair_ngram_recall": ORACLE_PAIR_NGRAM_RECALL,
    "perplexity_buckets": ORACLE_PERPLEXITY_BUCKETS,
    "turn_self_repetition": ORACLE_TURN_SELF_REPETITION,
    "kcore_decompose": ORACLE_KCORE_DECOMPOSE,
}

_q.QUERIES.update(CORPUS_QUERIES)
_q.ORACLES.update(CORPUS_ORACLES)
