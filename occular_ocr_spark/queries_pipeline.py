"""Training-data pipeline operators, round 3: the corpus-curation end
of the engine — canonical dedup output, O(log n) connected components,
decontamination, normalization, repetition/quality stats, index build,
and mixture weighting.  Every entry follows the house contract: the
Spark plan is the 100 TB design (partial aggregation, bounded keys,
broadcast only for O(K) sides) and a DuckDB oracle replays the exact
semantics for the value-hash gate.

Self-registers into queries.QUERIES / queries.ORACLES on import (same
pattern as queries_ext).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Dict

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from . import queries_ext as _qe
from .pipeline_e2e import (
    N_SHARDS,
    _DECON_BENCH_DOCS,
    _DECON_MIN_OVERLAP,
    _GR_ALPHA_DEN,
    _GR_ALPHA_NUM,
    _GR_MAX_WORDS,
    _GR_MIN_STOP,
    _GR_MIN_WORDS,
    _GR_MWL_HI,
    _GR_MWL_LO,
    _GR_STOPWORDS,
    _LSH_BAND_CAP,
    _MINHASH_BAND_ROWS,
    _MINHASH_SEEDS,
    _MINHASH_VERIFY_THRESH,
    _PACK_BLOCK,
    _PACK_CAP,
    _SEP,
    _SPLIT_TRAIN_BUCKETS,
    is_complete,
    run_pipeline,
    shard_manifest_df,
)

# ---------------------------------------------------------------------------
# Dedup end product: keep one canonical doc per near-dup group
# ---------------------------------------------------------------------------


def q_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The action a dedup pipeline exists for: collapse each near-dup
    group to its canonical member (the smallest doc_id — the group
    label itself) and report how many duplicates it absorbed.

    Builds on :func:`queries_ext.q_dedup_groups` (pairs -> connected
    components); the reduction here is one partial-aggregated groupBy
    over the (doc_id, group_id) labels — counts and the canonical id
    shuffle as K-group partial sums, never the documents themselves.
    At 100 TB the kept set then drives an Iceberg ``DELETE WHERE
    doc_id NOT IN (kept)`` / filtered rewrite; this entry emits the
    kept manifest (canonical doc_id + group size).
    """
    labels = _qe.q_dedup_groups(spark, sf_dir)
    return (
        labels.groupBy("group_id")
        .agg(F.count("*").alias("group_size"))
        .select(F.col("group_id").alias("doc_id"), "group_size")
    )


ORACLE_DEDUP_KEEP_CANONICAL = f"""
WITH labels AS ({_q.ORACLE_DEDUP_GROUPS})
SELECT group_id AS doc_id, count(*) AS group_size
FROM labels GROUP BY group_id
"""


# ---------------------------------------------------------------------------
# Large-star / small-star connected components: the O(log n) CC
# ---------------------------------------------------------------------------

_LSLS_MAX_ROUNDS = 20


def q_cc_largestar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round production swap that ``dedup_groups``'s
    min-label loop names for deep components.

    Each round is TWO joins + partial-aggregated mins, no per-node
    adjacency lists ever materialize (the star operations are expressed
    as min-per-key joins, so a 10^8-degree hub node costs a groupBy
    key, not a collect_list buffer):

    * large-star: every neighbor v > u re-attaches to
      m(u) = min(N(u) + u);
    * small-star: every neighbor v <= u (and u itself) attaches to
      m<=(u) = min of that closed lower neighborhood.

    At the fixpoint every node is directly attached to its component
    minimum; labels fall out as min(neighbor + self).  Convergence is
    detected on a canonical-edge checksum and the round cap raises
    loudly like the min-label twin — but at 2·log2(n) + slack rounds
    the cap is structural, not data-dependent.  Oracle: the same
    recursive-CTE reachability as ``dedup_groups`` (identical result).
    """
    pairs = _q.q_dedup_minhash_verify(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _checksum(e: DataFrame):
        # order-insensitive edge-set fingerprint: count + sum of a
        # symmetric per-edge hash (decimal: no overflow at corpus scale)
        return e.select(
            F.count("*").alias("n"),
            F.sum(
                F.xxhash64(F.least("u", "v"), F.greatest("u", "v")).cast(
                    "decimal(38,0)"
                )
            ).alias("h"),
        ).collect()[0]

    def _sym(e: DataFrame) -> DataFrame:
        und = e.where(F.col("u") != F.col("v")).select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        ).distinct()
        return und.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            und.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    prev = _checksum(edges)
    converged = False
    for _ in range(_LSLS_MAX_ROUNDS):
        # large-star: m(u) over the CLOSED neighborhood, re-attach v > u
        m = edges.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least("mv", F.col("u")).alias("m")
        )
        large = (
            edges.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        edges = _sym(large).localCheckpoint(eager=True)
        # small-star: m over the closed LOWER neighborhood, attach all
        low = edges.where(F.col("v") <= F.col("u"))
        ms = low.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least("mv", F.col("u")).alias("m")
        )
        small = low.join(ms, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).union(ms.select(F.col("u"), F.col("m").alias("v")))
        edges = _sym(small).localCheckpoint(eager=True)
        cur = _checksum(edges)
        if (cur["n"], cur["h"]) == (prev["n"], prev["h"]):
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"cc_largestar: star rounds did not stabilize in "
            f"{_LSLS_MAX_ROUNDS} iterations"
        )
    comp = edges.groupBy("u").agg(F.min("v").alias("mv")).select(
        "u", F.least("mv", F.col("u")).alias("group_id")
    )
    docs = _q._t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )
    return (
        docs.join(comp, docs.doc_id == comp.u, "left")
        .select(
            "doc_id", F.coalesce("group_id", F.col("doc_id")).alias("group_id")
        )
    )


ORACLE_CC_LARGESTAR = _q.ORACLE_DEDUP_GROUPS


# ---------------------------------------------------------------------------
# Approx distinct under its error contract (same gate trick as
# group_quantiles_approx: Spark computes the check, the oracle asserts it)
# ---------------------------------------------------------------------------

_ACD_RSD = 0.01
_ACD_TOL = 5 * _ACD_RSD  # 5 standard deviations: a broken sketch, not noise


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts with the error contract as the
    oracle surface: per return flag, ``approx_count_distinct`` of part
    keys must land within 5·rsd of the exact distinct count, emitted as
    a boolean.  The sketch is the ONLY distinct-count that survives
    100 TB (mergeable fixed-size registers, partial aggregation,
    order-independent); the exact count here exists to check it and is
    itself a two-level aggregate, not a global distinct.
    """
    li = _q._t(spark, sf_dir, "lineitem")
    exact = (
        li.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_exact"))
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", _ACD_RSD).alias("n_approx")
    )
    return exact.join(approx, "l_returnflag").select(
        "l_returnflag",
        "n_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_exact"))
            <= _ACD_TOL * F.col("n_exact")
        ).alias("approx_ok"),
    )


ORACLE_APPROX_DISTINCT = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_exact,
       TRUE AS approx_ok
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Text normalization: the canonical-form pass before dedup/tokenize
# ---------------------------------------------------------------------------


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text form: lowercase, strip non-alphanumerics,
    collapse whitespace runs, trim — the normalization every dedup and
    tokenization pass keys on (exact-dup hashing over RAW text misses
    case/punctuation variants).

    Zero shuffle: three regexp/lower expressions inside one codegen
    stage; the patterns are RE2-safe so the Spark (Java regex) and
    DuckDB (RE2) replays agree.  Emits the normalized text plus its
    token count so the gate pins both the string and its downstream
    tokenization.
    """
    d = _q._t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.size(F.split(norm, " ")).alias("n_tokens_norm"),
    )


ORACLE_TEXT_NORMALIZE = """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS norm_text
  FROM documents)
SELECT doc_id, norm_text,
       CAST(len(string_split(norm_text, ' ')) AS INT) AS n_tokens_norm
FROM n
"""


# ---------------------------------------------------------------------------
# Decontamination: benchmark n-gram overlap scan
# ---------------------------------------------------------------------------


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing word
    3-gram shingles with a held-out eval set (here: docs 0..9) — the
    standard pre-training hygiene pass (eval n-grams must not leak
    into the corpus).

    The eval side is tiny by construction, so its distinct shingles
    BROADCAST into the corpus-side scan: one map-side hash probe per
    corpus shingle, one partial-aggregated count per flagged doc — no
    corpus-side shuffle of unmatched shingles.  At real scale the
    broadcast becomes a bloom filter push-down with an exact-recheck
    join behind it; the plan shape is identical.
    """
    sh = _q._shingles(spark, sf_dir)
    bench = (
        sh.where(F.col("doc_id") < _DECON_BENCH_DOCS).select("sh").distinct()
    )
    return (
        sh.where(F.col("doc_id") >= _DECON_BENCH_DOCS)
        .join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
        .where(F.col("n_overlap") >= _DECON_MIN_OVERLAP)
    )


_DECON_SHINGLES_SQL = """
toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         list_extract(l, i) || ' ' || list_extract(l, i+1) || ' ' || list_extract(l, i+2) AS sh
  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i
        FROM toks WHERE len(l) >= 3))
"""

ORACLE_DECONTAMINATE = f"""
WITH {_DECON_SHINGLES_SQL},
bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < {_DECON_BENCH_DOCS})
SELECT CAST(s.doc_id AS BIGINT) AS doc_id, count(*) AS n_overlap
FROM sh s JOIN bench b ON s.sh = b.sh
WHERE s.doc_id >= {_DECON_BENCH_DOCS}
GROUP BY s.doc_id
HAVING count(*) >= {_DECON_MIN_OVERLAP}
"""


# ---------------------------------------------------------------------------
# Intra-document repetition: token repetition ratio
# ---------------------------------------------------------------------------


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition: 1 - distinct_tokens/total_tokens — the
    boilerplate/looping-generation detector every quality filter runs.

    One shuffle total, and it moves DOCUMENTS, not tokens: the compact
    (doc_id, text) rows hash-partition by doc_id once, then the explode
    and BOTH aggregation levels run co-located — hashpartitioning on
    doc_id satisfies the (doc_id, tok) clustering too, so neither
    groupBy adds an exchange.  The naive ordering (explode first,
    groupBy(doc, tok), groupBy(doc)) pays two shuffles because the
    (doc, tok) partitioning cannot serve the doc-level rollup.
    """
    toks = (
        _q._t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
    )
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    return per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tok"),
        F.count("*").alias("n_uniq"),
        F.round(1.0 - F.count("*") / F.sum("c"), 6).alias("rep_ratio"),
    )


ORACLE_REPETITION_RATIO = """
WITH per AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY doc_id, tok)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       sum(c) AS n_tok,
       count(*) AS n_uniq,
       round(1.0 - CAST(count(*) AS DOUBLE) / sum(c), 6) AS rep_ratio
FROM per GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Corpus shape: token-length histogram
# ---------------------------------------------------------------------------

_HIST_BUCKET = 16


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram (bucket width 16) — the corpus-shape
    profile that sizes batching, truncation, and packing decisions.
    Map-side bucket id -> one tiny partial-aggregated groupBy; the
    whole corpus reduces to O(#buckets) rows."""
    d = _q._t(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    return (
        d.select((F.floor(n_tok / _HIST_BUCKET) * _HIST_BUCKET).alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(F.count("*").alias("n_docs"))
    )


ORACLE_LENGTH_HISTOGRAM = f"""
SELECT CAST(floor(len(string_split(text, ' ')) / {_HIST_BUCKET}) * {_HIST_BUCKET}
            AS BIGINT) AS bucket_lo,
       count(*) AS n_docs
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Inverted index build (bounded-df tokens, scalar postings)
# ---------------------------------------------------------------------------

_IDX_DF_LO = 2
_IDX_DF_HI = 50


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token -> ordered posting list, emitted as
    (tok, pos, doc_id) scalars.  Stopword-frequency tokens are dropped
    by the df band [2, 50] — the same hot-key discipline as the
    dedup blocking joins (an unbounded posting for 'the' is a skew bomb
    AND useless for retrieval).

    One shuffle on tok with partial aggregation; the sorted list
    materializes per token (bounded by df_hi), then explodes back to
    scalars because array columns defeat order-insensitive comparators.
    """
    post = (
        _q._t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
        .groupBy("tok")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .where(F.size("docs").between(_IDX_DF_LO, _IDX_DF_HI))
    )
    return post.select(
        "tok", F.posexplode("docs").alias("pos", "doc_id")
    ).select("tok", F.col("pos").cast("int").alias("pos"), "doc_id")


ORACLE_INVERTED_INDEX = f"""
WITH dt AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''),
banded AS (
  SELECT tok FROM dt GROUP BY tok
  HAVING count(*) BETWEEN {_IDX_DF_LO} AND {_IDX_DF_HI})
SELECT dt.tok,
       CAST(row_number() OVER (PARTITION BY dt.tok ORDER BY dt.doc_id) - 1
            AS INT) AS pos,
       CAST(dt.doc_id AS BIGINT) AS doc_id
FROM dt JOIN banded USING (tok)
"""


# ---------------------------------------------------------------------------
# Domain mixture weighting
# ---------------------------------------------------------------------------


def q_domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights that rebalance the corpus to a
    uniform domain mixture: weight_s = (N / k) / n_s — the number every
    data-mixing pipeline computes before writing its sampling plan.

    The corpus reduces to k source-count rows map-side; the total and
    source count ride a single-row broadcast join (no second scan, no
    driver round-trip).
    """
    counts = (
        _q._t(spark, sf_dir, "documents").groupBy("source").agg(
            F.count("*").alias("n_docs")
        )
    )
    totals = counts.groupBy().agg(
        F.sum("n_docs").alias("total"), F.count("*").alias("k")
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        F.round(F.col("total") / F.col("k") / F.col("n_docs"), 6).alias("weight"),
    )


ORACLE_DOMAIN_MIX_WEIGHTS = """
WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
t AS (SELECT sum(n_docs) AS total, count(*) AS k FROM c)
SELECT c.source, c.n_docs,
       round(CAST(t.total AS DOUBLE) / t.k / c.n_docs, 6) AS weight
FROM c, t
"""


# ---------------------------------------------------------------------------
# mixture_temperature — α=1/2 temperature-scaled sampling plan per language
# ---------------------------------------------------------------------------


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture plan at α = 1/2: target share of
    language s ∝ n_s^α — the multilingual sampling rule (exponentiated
    smoothing of the raw mix, the standard compromise between raw
    frequency (α=1, big langs drown small ones) and uniform (α=0,
    ``domain_mix_weights``)).  α = 1/2 makes the exponentiation a
    SQRT — IEEE-correctly-rounded on both engines, unlike libm pow.

    Since w_s = sqrt(n_s), the keep probability that realizes the
    target by downsampling (largest feasible plan, min-count language
    kept whole) is k_s = w_min / w_s — emitted as integer permille.

    Scale: one partial-agg groupBy to the language counts; everything
    after runs on the ≤ k-language frame via 1-row broadcasts.
    Determinism: w quantizes to integer micro-units (floor(sqrt·10^6 +
    0.5)) BEFORE any sum, so share denominators are exact BIGINT and
    accumulation order cannot differ; all three surfaces are the house
    half-up division.
    """
    counts = _q._t(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count("*").alias("n_docs")
    )
    w = counts.select(
        "lang",
        "n_docs",
        F.expr(
            "CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000 + 0.5)"
            " AS BIGINT)"
        ).alias("w"),
    )
    tot = w.groupBy().agg(
        F.sum("n_docs").alias("total"),
        F.sum("w").alias("w_sum"),
        F.min("w").alias("w_min"),
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        (
            F.expr("(2000000 * n_docs + total) DIV (2 * total)") / 1000000.0
        ).alias("share_raw"),
        (
            F.expr("(2000000 * w + w_sum) DIV (2 * w_sum)") / 1000000.0
        ).alias("share_temp"),
        F.expr("(2000 * w_min + w) DIV (2 * w)").alias("keep_permille"),
    )


ORACLE_MIXTURE_TEMPERATURE = """
WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
w AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
           AS w
  FROM c),
t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
             CAST(sum(w) AS BIGINT) AS w_sum,
             CAST(min(w) AS BIGINT) AS w_min
      FROM w)
SELECT w.lang, CAST(w.n_docs AS BIGINT) AS n_docs,
       ((2000000 * w.n_docs + t.total) // (2 * t.total)) / 1000000.0
         AS share_raw,
       ((2000000 * w.w + t.w_sum) // (2 * t.w_sum)) / 1000000.0
         AS share_temp,
       (2000 * t.w_min + w.w) // (2 * w.w) AS keep_permille
FROM w, t
"""


# ---------------------------------------------------------------------------
# Sequence packing: concat-and-chunk assignment via distributed prefix sum
# ---------------------------------------------------------------------------


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    doc_id order and chunked into ``_PACK_CAP``-token windows; each doc
    reports the bin its first token lands in and the offset there — the
    assignment every LLM pre-training loader computes.

    The global running token count is a DISTRIBUTED prefix sum, not a
    single-partition window: docs group into ``_PACK_BLOCK``-sized
    blocks; per-block totals reduce map-side to #blocks rows whose tiny
    cumulative window runs once; each doc then adds its within-block
    exclusive running sum (window partitioned BY BLOCK — bounded
    partitions, full parallelism) to its block's prefix.  A naive
    ``Window.orderBy(doc_id)`` with no partition key serializes the
    entire corpus through ONE task; this two-level shape is the
    standard scan-order prefix-sum and recurses if #blocks ever
    outgrows one partition.  Integer arithmetic end-to-end — both
    engines agree exactly.
    """
    d = _q._t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        F.floor(F.col("doc_id") / _PACK_BLOCK).cast("bigint").alias("blk"),
    )
    blocks = d.groupBy("blk").agg(F.sum("n_tok").alias("blk_tok"))
    wb = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    prefix = blocks.select(
        "blk", F.coalesce(F.sum("blk_tok").over(wb), F.lit(0)).alias("blk_prefix")
    )
    wd = (
        Window.partitionBy("blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.withColumn("in_blk", F.coalesce(F.sum("n_tok").over(wd), F.lit(0)))
        .join(F.broadcast(prefix), "blk")
        .select(
            "doc_id",
            "n_tok",
            F.floor((F.col("blk_prefix") + F.col("in_blk")) / _PACK_CAP)
            .cast("bigint")
            .alias("bin_id"),
            ((F.col("blk_prefix") + F.col("in_blk")) % _PACK_CAP)
            .cast("bigint")
            .alias("bin_offset"),
        )
    )


# The oracle states the SEMANTICS directly (one global ordered running
# sum); the Spark side's block decomposition must reproduce it exactly.
ORACLE_PACK_SEQUENCES = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
s AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start
  FROM d)
SELECT doc_id, n_tok,
       start // {_PACK_CAP} AS bin_id,
       start % {_PACK_CAP} AS bin_offset
FROM s
"""


# ---------------------------------------------------------------------------
# Ordered-step event funnel
# ---------------------------------------------------------------------------


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the events stream: users who
    viewed, then clicked AFTER their first view, then purchased AFTER
    that click — order-sensitive step matching (a purchase before the
    first view does not count), the analytics shape sessionization
    feeds.

    Each step is one filtered partial-aggregated groupBy(user) + a join
    against the previous step's first-timestamp — three user-keyed
    shuffles that all hash-partition on the same key, no windows over
    event time, nothing proportional to the event count after the first
    aggregate.  Timestamps stay internal (epoch comparisons); the
    output is step -> user count.
    """
    e = _q._t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.select(F.lit("1_view").alias("step"))
        .union(c.select(F.lit("2_click_after_view")))
        .union(p.select(F.lit("3_purchase_after_click")))
        .groupBy("step")
        .agg(F.count("*").alias("n_users"))
    )


ORACLE_EVENT_FUNNEL = """
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
SELECT step, count(*) AS n_users FROM (
  SELECT '1_view' AS step FROM v
  UNION ALL SELECT '2_click_after_view' FROM c
  UNION ALL SELECT '3_purchase_after_click' FROM p)
GROUP BY step
"""


# ---------------------------------------------------------------------------
# Curation funnel: staged filter survival counts
# ---------------------------------------------------------------------------

_CUR_MIN_TOK = 32
_CUR_MAX_REP = 0.2


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline's control report: how many documents
    survive each successive gate — length, repetition, exact dedup —
    cumulatively applied in order (each stage filters the previous
    stage's survivors).

    One pass over the corpus computes all per-doc flags (the
    repetition join reuses :func:`q_repetition_ratio`'s single-shuffle
    shape; the exact-dup keeper is a first-per-digest window over
    md5(text)); the funnel itself is four conditional sums in one
    final aggregate — no per-stage rescan of the corpus.
    """
    d = _q._t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok"), "text"
    )
    rep = q_repetition_ratio(spark, sf_dir).select("doc_id", "rep_ratio")
    wdig = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    flagged = (
        d.join(rep, "doc_id")
        .withColumn("first_of_digest", F.row_number().over(wdig) == 1)
        .select(
            (F.col("n_tok") >= _CUR_MIN_TOK).alias("f1"),
            "rep_ratio",
            "first_of_digest",
        )
        .withColumn("f2", F.col("f1") & (F.col("rep_ratio") <= _CUR_MAX_REP))
        .withColumn("f3", F.col("f2") & F.col("first_of_digest"))
    )
    agg = flagged.agg(
        F.count("*").alias("c0"),
        F.sum(F.col("f1").cast("long")).alias("c1"),
        F.sum(F.col("f2").cast("long")).alias("c2"),
        F.sum(F.col("f3").cast("long")).alias("c3"),
    )
    return agg.selectExpr(
        "stack(4, '0_total', c0, '1_min_length', c1, "
        "'2_low_repetition', c2, '3_exact_dedup', c3) AS (stage, n_docs)"
    )


ORACLE_CURATION_FUNNEL = f"""
WITH rep AS (
  SELECT doc_id, round(1.0 - CAST(count(DISTINCT tok) AS DOUBLE) / count(*), 6)
         AS rep_ratio
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY doc_id),
flags AS (
  SELECT d.doc_id,
         len(string_split(d.text, ' ')) >= {_CUR_MIN_TOK} AS f1,
         r.rep_ratio <= {_CUR_MAX_REP} AS fr,
         row_number() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id) = 1
           AS fd
  FROM documents d JOIN rep r ON r.doc_id = d.doc_id)
SELECT stage, n_docs FROM (
  SELECT '0_total' AS stage, count(*) AS n_docs FROM flags
  UNION ALL SELECT '1_min_length', count(*) FILTER (WHERE f1) FROM flags
  UNION ALL SELECT '2_low_repetition', count(*) FILTER (WHERE f1 AND fr)
    FROM flags
  UNION ALL SELECT '3_exact_dedup', count(*) FILTER (WHERE f1 AND fr AND fd)
    FROM flags)
"""


# ---------------------------------------------------------------------------
# label_propagation — semi-supervised label repair over the near-dup graph
# ---------------------------------------------------------------------------

_LP_HIDE_MOD = 4  # doc_id % 4 == 0 -> metadata label missing (simulated)
_LP_ROUNDS = 2  # unrolled majority-vote rounds (pagerank doctrine)


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote label propagation over the verified near-dup
    graph: documents with missing metadata (every doc_id ≡ 0 mod
    _LP_HIDE_MOD plays the role of a crawl shard that lost its ``lang``
    tag) inherit the majority label of their near-duplicate neighbors —
    the standard metadata-repair trick (near-dups of a French page are
    French), run for _LP_ROUNDS unrolled rounds so labels cross two
    hops.  Ties break to the lexicographically smallest label; seeds
    never change; unreached docs stay NULL.

    Output: the hidden slice only — (doc_id, true_lang, propagated,
    correct) — i.e. the repair AND its self-eval against the held-out
    truth, the form a metadata-backfill job actually ships.

    Scale: edges are the memoized verified-pair set (the materialized
    near-dup table `dedup_minhash_verify` builds once per corpus
    snapshot — shared with dedup_groups/cc_largestar, vanishing
    fraction of the corpus); each round is one edge⋈labels hash join +
    one partial-agg vote count + a per-NODE rank window (bounded
    frames, keyed on the same doc_id partitioning).  Round cost is
    O(edges), independent of the unlabeled fraction.
    """
    docs = _q._t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    )
    labels = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % _LP_HIDE_MOD == 0, F.lit(None)).otherwise(
            F.col("lang")
        ).alias("lbl"),
    )
    pairs = _q.q_dedup_minhash_verify(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    for _ in range(_LP_ROUNDS):
        votes = (
            edges.join(
                labels.where(F.col("lbl").isNotNull()).select(
                    F.col("doc_id").alias("src"), "lbl"
                ),
                "src",
            )
            .groupBy("dst", "lbl")
            .agg(F.count("*").alias("n"))
        )
        wv = Window.partitionBy("dst").orderBy(F.col("n").desc(), "lbl")
        prop = (
            votes.withColumn("rk", F.row_number().over(wv))
            .where(F.col("rk") == 1)
            .select(F.col("dst").alias("doc_id"), F.col("lbl").alias("p_lbl"))
        )
        labels = labels.join(prop, "doc_id", "left").select(
            "doc_id", F.coalesce("lbl", "p_lbl").alias("lbl")
        )
    return (
        docs.where(F.col("doc_id") % _LP_HIDE_MOD == 0)
        .join(labels, "doc_id")
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.col("lbl").alias("propagated"),
            F.when(F.col("lbl").isNull(), F.lit(None).cast("boolean"))
            .otherwise(F.col("lbl") == F.col("lang"))
            .alias("correct"),
        )
    )


def _lp_oracle() -> str:
    rounds = ""
    for k in range(1, _LP_ROUNDS + 1):
        rounds += f""",
v{k} AS (
  SELECT e.dst AS doc_id, l.lbl, count(*) AS n
  FROM edges e JOIN l{k - 1} l ON l.doc_id = e.src
  WHERE l.lbl IS NOT NULL GROUP BY 1, 2),
p{k} AS (
  SELECT doc_id, lbl FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY n DESC, lbl) AS rk FROM v{k})
  WHERE rk = 1),
l{k} AS (
  SELECT l.doc_id, coalesce(l.lbl, p.lbl) AS lbl
  FROM l{k - 1} l LEFT JOIN p{k} p USING (doc_id))"""
    return f"""
WITH pairs AS ({_q.ORACLE_DEDUP_MINHASH_VERIFY}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
l0 AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CASE WHEN doc_id % {_LP_HIDE_MOD} = 0 THEN NULL ELSE lang END AS lbl
  FROM documents){rounds}
SELECT d.doc_id, d.lang AS true_lang, l.lbl AS propagated,
       CASE WHEN l.lbl IS NULL THEN NULL ELSE l.lbl = d.lang END AS correct
FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents
      WHERE doc_id % {_LP_HIDE_MOD} = 0) d
JOIN l{_LP_ROUNDS} l USING (doc_id)
"""


ORACLE_LABEL_PROPAGATION = _lp_oracle()


# ---------------------------------------------------------------------------
# dedup_cluster_stats — near-dup component size histogram
# ---------------------------------------------------------------------------


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size histogram of the near-duplicate components: for each
    cluster size, how many clusters and how many documents — the
    one-screen summary a dedup run reports (singleton share = unique
    mass; a giant component = a template flood or a broken
    threshold).  Reuses the ``cc_largestar`` labels over the memoized
    verified-pair edge set, so the histogram costs two bounded-key
    partial aggs beyond the (materialized-in-production) CC labels.

    Scale: labels → (group_id, size) → (size, n_clusters) are two
    partial-agg rollups; the histogram domain is ≤ max component
    size.  All integers; shares use the house half-up micro-units.
    """
    labels = q_cc_largestar(spark, sf_dir)
    sizes = labels.groupBy("group_id").agg(
        F.count("*").cast("bigint").alias("size")
    )
    # persisted: the totals row and the report both read the histogram —
    # unpersisted each re-ran the label join + two rollups
    hist = _q._persist_tracked(
        sizes.groupBy("size").agg(
            F.count("*").cast("bigint").alias("n_clusters")
        )
    )
    tot = hist.groupBy().agg(
        F.sum(F.col("size") * F.col("n_clusters")).alias("n_docs_total")
    )
    return hist.crossJoin(F.broadcast(tot)).select(
        "size",
        "n_clusters",
        (F.col("size") * F.col("n_clusters")).alias("n_docs"),
        (
            F.expr(
                "(2000000 * size * n_clusters + n_docs_total)"
                " DIV (2 * n_docs_total)"
            )
            / 1000000.0
        ).alias("doc_share"),
    )


ORACLE_DEDUP_CLUSTER_STATS = f"""
WITH labels AS ({_q.ORACLE_DEDUP_GROUPS}),
sizes AS (
  SELECT group_id, CAST(count(*) AS BIGINT) AS size
  FROM labels GROUP BY group_id),
hist AS (
  SELECT size, CAST(count(*) AS BIGINT) AS n_clusters
  FROM sizes GROUP BY size),
tot AS (SELECT sum(size * n_clusters) AS n_docs_total FROM hist)
SELECT size, n_clusters,
       CAST(size * n_clusters AS BIGINT) AS n_docs,
       ((2000000 * size * n_clusters + n_docs_total)
        // (2 * n_docs_total)) / 1000000.0 AS doc_share
FROM hist, tot
"""


# ---------------------------------------------------------------------------
# funnel_latency — time-to-convert stats per funnel transition
# ---------------------------------------------------------------------------


def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert for each ``event_funnel`` transition: over the
    users who completed view→click (and click→purchase), the count and
    the min / mean / max latency in seconds — the "how fast does the
    funnel flow" report that turns the step counts into an SLA.

    Latencies are exact microsecond integers (unix_micros / epoch_us);
    min/max/sum aggregate in BIGINT and the mean is the house half-up
    integer division in micro-units, so every surfaced number is
    exact — no float timestamps anywhere.

    Scale: the same three user-keyed partial-agg joins as
    ``event_funnel`` (all hash-partitioned on user_id), then a 2-row
    rollup.  Nothing scales with raw event count after the first
    aggregate.
    """
    e = _q._t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"), F.min("t1").alias("t1"))
    )
    pch = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"), F.min("t2").alias("t2k"))
    )
    d12 = c.select(
        F.lit("view_to_click").alias("transition"),
        (F.col("t2") - F.col("t1")).alias("dt"),
    )
    d23 = pch.select(
        F.lit("click_to_purchase").alias("transition"),
        (F.col("t3") - F.col("t2k")).alias("dt"),
    )
    agg = d12.union(d23).groupBy("transition").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.min("dt").alias("min_us"),
        F.max("dt").alias("max_us"),
        F.sum("dt").alias("sum_us"),
    )
    return agg.select(
        "transition",
        "n_users",
        F.round(F.col("min_us") / 1000000.0, 6).alias("min_s"),
        F.round(F.col("max_us") / 1000000.0, 6).alias("max_s"),
        # half-up mean in whole microseconds, then exact /1e6
        (
            F.expr("(2 * sum_us + n_users) DIV (2 * n_users)") / 1000000.0
        ).alias("mean_s"),
    )


ORACLE_FUNNEL_LATENCY = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
v AS (SELECT user_id, min(us) AS t1 FROM e
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.us) AS t2, min(v.t1) AS t1 FROM e
      JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.us > v.t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.us) AS t3, min(c.t2) AS t2k FROM e
      JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.us > c.t2 GROUP BY e.user_id),
d AS (
  SELECT 'view_to_click' AS transition, t2 - t1 AS dt FROM c
  UNION ALL
  SELECT 'click_to_purchase', t3 - t2k FROM p),
agg AS (
  SELECT transition, CAST(count(*) AS BIGINT) AS n_users,
         min(dt) AS min_us, max(dt) AS max_us, sum(dt) AS sum_us
  FROM d GROUP BY transition)
SELECT transition, n_users,
       round(min_us / 1000000.0, 6) AS min_s,
       round(max_us / 1000000.0, 6) AS max_s,
       ((2 * sum_us + n_users) // (2 * n_users)) / 1000000.0 AS mean_s
FROM agg
"""


# ---------------------------------------------------------------------------
# pipeline_e2e — the composed curation chain as a catalog entry
# ---------------------------------------------------------------------------
#
# ``pipeline_e2e`` runs the product's whole chain
# (:func:`pipeline_e2e.run_pipeline`, session-memoized per sf_dir) and
# returns the per-(split, shard) manifest; its DuckDB oracle replays ALL
# EIGHT stages as one WITH-chain (recursive CTE for the CC stage) — the
# composition is value-hash-gated end to end.

_E2E_MEMO: Dict[tuple, str] = {}


@atexit.register
def _cleanup_e2e_memo() -> None:
    """Reclaim the memoized staged-artifact dirs at interpreter exit
    (ADVICE r5: repeated bench/gate sessions leaked full 8-stage
    pipeline copies under /tmp)."""
    while _E2E_MEMO:
        shutil.rmtree(_E2E_MEMO.popitem()[1], ignore_errors=True)


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog gate for the composed chain: run all eight stages into a
    session temp dir (memoized per sf_dir — the staged artifact is the
    point, rebuilding it per downstream read is not) and return the
    per-(split, shard) manifest."""
    key = (_q._session_key(spark), os.path.abspath(sf_dir))
    out_dir = _E2E_MEMO.get(key)
    if out_dir is None or not is_complete(out_dir):
        out_dir = out_dir or tempfile.mkdtemp(prefix="occ_e2e_")
        run_pipeline(spark, sf_dir, out_dir)
        _E2E_MEMO[key] = out_dir
    return shard_manifest_df(spark, out_dir)


_STOP_SQL = " + ".join(
    f"CAST(list_contains(ws, '{s}') AS INT)" for s in _GR_STOPWORDS
)

# 3-word distinct shingles of an arbitrary (doc_id, text) relation
_SH_SQL = """
  SELECT DISTINCT doc_id,
         list_extract(l, i) || ' ' || list_extract(l, i+1) || ' '
           || list_extract(l, i+2) AS sh
  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM {src})
        WHERE len(l) >= 3)
"""

ORACLE_PIPELINE_E2E = f"""
WITH RECURSIVE
-- stage 1: extract (ORACLE_EXTRACT_TRANSCRIPTS keyed by doc_id)
base AS (
  SELECT doc_id, doc_id % 4 AS branch,
         trim(regexp_replace(text, ' +', ' ', 'g')) AS raw
  FROM documents),
s1 AS (
  SELECT doc_id,
         CASE WHEN branch <> 0 THEN raw
              WHEN length(raw) >= 38
                   AND list_avg(list_transform(string_split(raw, ' '),
                         t -> CAST(length(regexp_replace(t, '[^a-zA-Z0-9]', '', 'g'))
                              AS DOUBLE) / length(t))) >= 0.52
              THEN raw ELSE '' END AS text
  FROM base),
-- stage 2: per-doc Gopher gates on the extracted text
q2 AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), w -> w <> '') AS ws
  FROM s1 WHERE text <> ''),
q2f AS (
  SELECT doc_id, text,
         CAST(len(ws) AS BIGINT) AS n,
         CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0) AS BIGINT)
           AS sum_len,
         CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
           AS n_alpha,
         CAST({_STOP_SQL} AS BIGINT) AS stop_hits
  FROM q2),
s2 AS (
  SELECT doc_id, text FROM q2f
  WHERE n >= {_GR_MIN_WORDS} AND n <= {_GR_MAX_WORDS}
    AND {_GR_MWL_LO} * n <= sum_len AND sum_len <= {_GR_MWL_HI} * n
    AND {_GR_ALPHA_DEN} * n_alpha >= {_GR_ALPHA_NUM} * n
    AND stop_hits >= {_GR_MIN_STOP}),
-- stage 3: exact dedup
s3 AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) AS keep
    FROM s2) t
  WHERE doc_id = keep),
-- stage 4: minhash -> LSH -> exact verify -> CC -> keep canonical
sh4 AS ({_SH_SQL.format(src="s3")}),
seeds AS (SELECT unnest(generate_series(0, {_MINHASH_SEEDS - 1})) AS seed),
sig AS (
  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
  FROM sh4 CROSS JOIN seeds GROUP BY doc_id, seed),
bands_all AS (
  SELECT doc_id, CAST(seed // {_MINHASH_BAND_ROWS} AS INT) AS band,
         string_agg(mh, '|' ORDER BY seed) AS band_key
  FROM sig GROUP BY doc_id, CAST(seed // {_MINHASH_BAND_ROWS} AS INT)),
bands AS (
  SELECT doc_id, band, band_key FROM (
    SELECT doc_id, band, band_key,
           count(*) OVER (PARTITION BY band, band_key) AS bf
    FROM bands_all) t
  WHERE bf <= {_LSH_BAND_CAP}),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh4 GROUP BY doc_id),
shared AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_shared
  FROM cands c
  JOIN sh4 a ON a.doc_id = c.doc_a
  JOIN sh4 b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY c.doc_a, c.doc_b),
pairs AS (
  SELECT s.doc_a, s.doc_b FROM shared s
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
  WHERE round(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared), 6)
        >= {_MINHASH_VERIFY_THRESH}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs),
reach AS (
  SELECT CAST(doc_id AS BIGINT) AS node, CAST(doc_id AS BIGINT) AS lbl FROM s3
  UNION
  SELECT e.dst AS node, r.lbl
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.lbl < e.dst),
labels AS (SELECT node AS doc_id, min(lbl) AS group_id FROM reach GROUP BY node),
s4 AS (
  SELECT s3.doc_id, s3.text FROM s3
  JOIN labels ON labels.doc_id = s3.doc_id AND labels.group_id = s3.doc_id),
-- stage 5: decontaminate vs raw docs 0..9
bench_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {_DECON_BENCH_DOCS}),
bench AS (SELECT DISTINCT sh FROM ({_SH_SQL.format(src="bench_docs")}) t),
sh5 AS ({_SH_SQL.format(src="s4")}),
contaminated AS (
  SELECT sh5.doc_id FROM sh5 JOIN bench ON bench.sh = sh5.sh
  GROUP BY sh5.doc_id HAVING count(*) >= {_DECON_MIN_OVERLAP}),
s5 AS (
  SELECT doc_id, text FROM s4
  WHERE doc_id >= {_DECON_BENCH_DOCS}
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
-- stage 6: conversation-aware md5-bucket split
s6 AS (
  SELECT doc_id, text,
         CASE WHEN
           (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id // 10 AS VARCHAR)), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id // 10 AS VARCHAR)), 2, 1)) - 1)
           < {_SPLIT_TRAIN_BUCKETS} THEN 'train' ELSE 'test' END AS split
  FROM s5),
-- stage 7: per-split packing (running token prefix in doc_id order)
s7 AS (
  SELECT doc_id, text, split, n_tok,
         CAST(COALESCE(sum(n_tok) OVER (PARTITION BY split ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start
  FROM (SELECT doc_id, text, split,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM s6) t),
-- stage 8: round-robin bins across shards; per-(split, shard) manifest
s8 AS (
  SELECT doc_id, text, split, n_tok,
         start // {_PACK_CAP} AS bin_id,
         (start // {_PACK_CAP}) % {N_SHARDS} AS shard_id
  FROM s7)
SELECT split, CAST(shard_id AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT bin_id) AS BIGINT) AS n_bins,
       CAST(sum(CAST(CAST('0x' || substr(md5(
             CAST(doc_id AS VARCHAR) || '{_SEP}' || text), 1, 8) AS BIGINT)
           AS BIGINT)) AS BIGINT) AS digest_sum
FROM s8 GROUP BY 1, 2
"""


PIPELINE_QUERIES = {
    "dedup_keep_canonical": q_dedup_keep_canonical,
    "cc_largestar": q_cc_largestar,
    "dedup_cluster_stats": q_dedup_cluster_stats,
    "funnel_latency": q_funnel_latency,
    "approx_distinct": q_approx_distinct,
    "text_normalize": q_text_normalize,
    "decontaminate": q_decontaminate,
    "repetition_ratio": q_repetition_ratio,
    "length_histogram": q_length_histogram,
    "inverted_index": q_inverted_index,
    "domain_mix_weights": q_domain_mix_weights,
    "pack_sequences": q_pack_sequences,
    "event_funnel": q_event_funnel,
    "curation_funnel": q_curation_funnel,
    "label_propagation": q_label_propagation,
    "mixture_temperature": q_mixture_temperature,
    "pipeline_e2e": q_pipeline_e2e,
}

PIPELINE_ORACLES = {
    "dedup_cluster_stats": ORACLE_DEDUP_CLUSTER_STATS,
    "funnel_latency": ORACLE_FUNNEL_LATENCY,
    "dedup_keep_canonical": ORACLE_DEDUP_KEEP_CANONICAL,
    "cc_largestar": ORACLE_CC_LARGESTAR,
    "approx_distinct": ORACLE_APPROX_DISTINCT,
    "text_normalize": ORACLE_TEXT_NORMALIZE,
    "decontaminate": ORACLE_DECONTAMINATE,
    "repetition_ratio": ORACLE_REPETITION_RATIO,
    "length_histogram": ORACLE_LENGTH_HISTOGRAM,
    "inverted_index": ORACLE_INVERTED_INDEX,
    "domain_mix_weights": ORACLE_DOMAIN_MIX_WEIGHTS,
    "pack_sequences": ORACLE_PACK_SEQUENCES,
    "event_funnel": ORACLE_EVENT_FUNNEL,
    "curation_funnel": ORACLE_CURATION_FUNNEL,
    "label_propagation": ORACLE_LABEL_PROPAGATION,
    "mixture_temperature": ORACLE_MIXTURE_TEMPERATURE,
    "pipeline_e2e": ORACLE_PIPELINE_E2E,
}

_q.QUERIES.update(PIPELINE_QUERIES)
_q.ORACLES.update(PIPELINE_ORACLES)
