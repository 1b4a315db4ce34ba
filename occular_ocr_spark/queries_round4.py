"""Round-4 catalog additions: pipeline-evaluation and ingest ops a
100 TB training-data engine needs around the core dedup/curation
families —

* blocking-quality evaluation (``lsh_recall_eval``,
  ``minhash_est_error``): measure the LSH candidate generator and the
  MinHash similarity estimator against exact ground truth, the same
  eval-harness pattern as ``ann_recall_eval``;
* incremental ingest (``dedup_incremental``): admit/reject a NEW batch
  of documents against the existing corpus without re-deduping the
  corpus;
* context assembly (``context_truncate``): token-budgeted longest
  suffix of each conversation — the op that builds training contexts;
* temporal (``ewma_trailing``): bounded-window exponential decay over
  the daily event series;
* CDC (``changelog_compact``): ordered changelog -> latest-wins table
  state with tombstone deletes (complements ``merge_upsert``'s
  full-outer MERGE and ``scd2_dimension``'s history build);
* distribution stats (``score_deciles``): global decile assignment via
  the two-level distributed rank (never a single-task global window);
* corpus profiling (``script_profile``): per-language character-class
  densities, one map-side pass;
* transcript analytics (``reply_latency_stats``): per-conversation
  turn-gap statistics over the bursty session timeline.

Every entry follows the house contract: the Spark plan is the 100 TB
design and a DuckDB oracle replays the exact semantics for the
value-hash gate.  Self-registers into queries.QUERIES / queries.ORACLES
on import (same pattern as queries_ext).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from .pipeline_e2e import _MINHASH_SEEDS, _minhash_candidates
from .queries import (
    ORACLE_DEDUP_MINHASH_LSH,
    ORACLE_DEDUP_NGRAM_JACCARD,
    _shingles,
    _t,
)

# ---------------------------------------------------------------------------
# lsh_recall_eval — recall of MinHash-LSH candidate generation
# ---------------------------------------------------------------------------


def q_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality evaluation: what fraction of TRUE near-dup
    pairs (exact 3-shingle Jaccard >= 0.5, the ``dedup_ngram_jaccard``
    ground truth) does the MinHash-LSH candidate generator recall?

    The number every production dedup pipeline must monitor: LSH is
    probabilistic (a pair colliding on no band is silently missed), so
    its recall against an exact-verified sample IS the dedup pipeline's
    effective recall.  Same eval-harness pattern as ``ann_recall_eval``
    (ground truth and approximate path computed side by side, joined,
    reduced to one scoreboard row).

    Scale: ground truth at 100 TB comes from a SAMPLE of verified
    pairs, not the full corpus — the join shape here (truth LEFT JOIN
    candidates on the pair key, then one partial-agg count) is the
    shape that sampling preserves.  Both inputs are the already-capped
    blocking outputs; the pair key join shuffles only near-dup pairs.
    """
    truth = _q.q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    cand = (
        _minhash_candidates(_shingles(spark, sf_dir))
        .withColumn("hit", F.lit(1))
    )
    return (
        truth.join(cand, ["doc_a", "doc_b"], "left")
        .agg(
            F.count("*").alias("n_true"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_recalled"),
        )
        .select(
            "n_true",
            "n_recalled",
            F.when(F.col("n_true") == 0, F.lit(None).cast("double"))
            .otherwise(F.round(F.col("n_recalled") / F.col("n_true"), 6))
            .alias("recall"),
        )
    )


ORACLE_LSH_RECALL_EVAL = f"""
WITH truth AS ({ORACLE_DEDUP_NGRAM_JACCARD}),
cand AS ({ORACLE_DEDUP_MINHASH_LSH})
SELECT count(*) AS n_true,
       count(c.doc_a) AS n_recalled,
       CASE WHEN count(*) = 0 THEN NULL
            ELSE round(CAST(count(c.doc_a) AS DOUBLE) / count(*), 6)
       END AS recall
FROM truth t
LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
"""


# ---------------------------------------------------------------------------
# minhash_est_error — MinHash similarity-estimator accuracy
# ---------------------------------------------------------------------------


def q_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy evaluation: on the exact-verified near-dup pairs,
    compare the MinHash Jaccard ESTIMATE (fraction of the K=8 minhash
    coordinates that agree) with the exact shingle Jaccard.

    E[estimate] = J with variance J(1-J)/K — this entry surfaces the
    estimator's realized error per pair, the calibration check that
    tells a pipeline whether K is large enough BEFORE trusting
    signature-only dedup at corpus scale.

    Scale: signatures come from the same one-pass K-min partial
    aggregation as candidate generation; pairs are the (tiny) verified
    set, so the signature join broadcasts.  No new shuffle class.
    """
    pairs = _q.q_dedup_minhash_verify(spark, sf_dir)
    # persisted: both join sides (sa, sb) read the signature table, and
    # unpersisted each side re-ran the shingle pyramid + K-min md5 pass
    sig = _q._persist_tracked(
        _shingles(spark, sf_dir).groupBy("doc_id").agg(
            *[
                F.min(F.md5(F.concat_ws(":", F.lit(k), F.col("sh")))).alias(f"mh{k}")
                for k in range(_MINHASH_SEEDS)
            ]
        )
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{k}").alias(f"a{k}") for k in range(_MINHASH_SEEDS)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{k}").alias(f"b{k}") for k in range(_MINHASH_SEEDS)],
    )
    matches = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        for k in range(_MINHASH_SEEDS)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("jaccard").alias("j_exact"),
            F.round(matches / F.lit(float(_MINHASH_SEEDS)), 6).alias("j_est"),
            F.round(
                F.abs(F.col("jaccard") - matches / F.lit(float(_MINHASH_SEEDS))),
                6,
            ).alias("abs_err"),
        )
    )


# The sig CTE replays queries.py's signature construction (md5 of
# "k:shingle", lexicographic min per seed); the pairs CTE is the exact
# verify oracle.  Estimator arithmetic is integer-count / 8.0, so the
# only float surface is the already-rounded exact Jaccard.
_ORACLE_SIG_CTE = f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
shg AS (
  SELECT DISTINCT doc_id,
         list_extract(l, i) || ' ' || list_extract(l, i+1) || ' ' || list_extract(l, i+2) AS sh
  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i
        FROM toks WHERE len(l) >= 3)),
sig AS (
  SELECT doc_id,
         {", ".join(f"min(md5({k} || ':' || sh)) AS mh{k}" for k in range(_MINHASH_SEEDS))}
  FROM shg GROUP BY doc_id)
"""

ORACLE_MINHASH_EST_ERROR = f"""
WITH pairs AS (
  SELECT * FROM (
    {{verify}}
  ) v),
{_ORACLE_SIG_CTE}
SELECT p.doc_a, p.doc_b,
       p.jaccard AS j_exact,
       round(({" + ".join(f"CASE WHEN a.mh{k} = b.mh{k} THEN 1 ELSE 0 END" for k in range(_MINHASH_SEEDS))}) / {float(_MINHASH_SEEDS)}, 6) AS j_est,
       round(abs(p.jaccard - ({" + ".join(f"CASE WHEN a.mh{k} = b.mh{k} THEN 1 ELSE 0 END" for k in range(_MINHASH_SEEDS))}) / {float(_MINHASH_SEEDS)}), 6) AS abs_err
FROM pairs p
JOIN sig a ON a.doc_id = p.doc_a
JOIN sig b ON b.doc_id = p.doc_b
"""


# ---------------------------------------------------------------------------
# dedup_incremental — admit/reject a NEW batch against the corpus
# ---------------------------------------------------------------------------

_INC_NEW_MOD = 4  # doc_id % 4 == 0 -> the incoming batch; rest = corpus
_INC_THRESH = 0.5


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: given the EXISTING corpus and a NEW
    batch of documents, flag each new document that near-duplicates
    (3-shingle Jaccard >= 0.5) any corpus document — without comparing
    new docs to each other or re-deduping the corpus.

    The shape that matters at 100 TB: the corpus side is the standing
    shingle INDEX (built once, incrementally maintained); the new batch
    is a vanishing fraction of it.  Blocking joins the new batch's
    shingles against the corpus index on the shingle key with the same
    global df <= 100 hot-shingle cap as ``dedup_ngram_jaccard`` (the
    cap bounds every bucket, so the join is skew-proof); the exact
    verify then runs only on (new, corpus-candidate) pairs.  Each
    admitted/rejected verdict is per-new-doc — one partial-agg min over
    its matches.

    Output: one row per flagged new doc — (doc_id, dup_of, jaccard of
    that best match), where dup_of is the smallest matching corpus doc
    and ties on doc_id keep the deterministic min.
    """
    sh = _shingles(spark, sf_dir)
    # ONE groupBy(sh) applies the global hot-shingle cap (identical to
    # dedup_ngram_jaccard's df <= 100) AND materializes the per-shingle
    # doc-list; the new x corpus candidate pairs expand IN-ARRAY
    # (bounded by cap^2 per shingle) — no second shuffle of the
    # shingle table, the house capped-blocking shape
    groups = (
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .where(F.size("docs") <= 100)
    )
    sizes = (
        groups.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"))
    )
    news = F.filter("docs", lambda x: x % _INC_NEW_MOD == 0)
    olds = F.filter("docs", lambda x: x % _INC_NEW_MOD != 0)
    cross = F.flatten(
        F.transform(
            news,
            lambda n: F.transform(
                olds, lambda o: F.struct(n.alias("doc_new"), o.alias("doc_old"))
            ),
        )
    )
    shared = (
        groups.select(F.explode(cross).alias("p"))
        .groupBy(
            F.col("p.doc_new").alias("doc_new"),
            F.col("p.doc_old").alias("doc_old"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    sn = sizes.select(F.col("doc_id").alias("doc_new"), F.col("n_sh").alias("nn"))
    so = sizes.select(F.col("doc_id").alias("doc_old"), F.col("n_sh").alias("no"))
    verified = (
        shared.join(F.broadcast(sn), "doc_new")
        .join(F.broadcast(so), "doc_old")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared") / (F.col("nn") + F.col("no") - F.col("n_shared")),
                6,
            ),
        )
        .where(F.col("jaccard") >= _INC_THRESH)
    )
    w = Window.partitionBy("doc_new").orderBy("doc_old")
    return (
        verified.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("doc_new").alias("doc_id"),
            F.col("doc_old").alias("dup_of"),
            "jaccard",
        )
    )


ORACLE_DEDUP_INCREMENTAL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh_all AS (
  SELECT DISTINCT doc_id,
         list_extract(l, i) || ' ' || list_extract(l, i+1) || ' ' || list_extract(l, i+2) AS sh
  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i
        FROM toks WHERE len(l) >= 3)),
sh AS (SELECT doc_id, sh FROM (
         SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS sh_freq FROM sh_all)
       WHERE sh_freq <= 100),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT n.doc_id AS doc_new, o.doc_id AS doc_old, count(*) AS n_shared
  FROM sh n JOIN sh o ON n.sh = o.sh
  WHERE n.doc_id % {_INC_NEW_MOD} = 0 AND o.doc_id % {_INC_NEW_MOD} != 0
  GROUP BY 1, 2),
verified AS (
  SELECT doc_new, doc_old,
         round(CAST(n_shared AS DOUBLE) / (sn.n_sh + so.n_sh - n_shared), 6) AS jaccard
  FROM shared
  JOIN sizes sn ON sn.doc_id = doc_new
  JOIN sizes so ON so.doc_id = doc_old
  WHERE round(CAST(n_shared AS DOUBLE) / (sn.n_sh + so.n_sh - n_shared), 6)
        >= {_INC_THRESH})
SELECT CAST(doc_new AS BIGINT) AS doc_id,
       CAST(doc_old AS BIGINT) AS dup_of, jaccard
FROM (SELECT doc_new, doc_old, jaccard,
             row_number() OVER (PARTITION BY doc_new ORDER BY doc_old) AS rk
      FROM verified)
WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# context_truncate — token-budgeted longest conversation suffix
# ---------------------------------------------------------------------------

_CTX_BUDGET = 64  # whitespace-token budget per assembled context


def q_context_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-context assembly: keep the LONGEST SUFFIX of each
    conversation whose total token count fits the context budget —
    the left-truncation every finetuning pipeline applies before
    packing (the most recent turns matter; the oldest spill).

    One window per conversation: reverse cumulative token sum
    (ordered by turn_idx DESCENDING), keep rows while the running
    total is within budget.  A turn longer than the whole budget
    drops with everything older — the exact left-truncation contract.

    Scale: one shuffle on conv_id; window state is one conversation's
    turns (bounded by max conversation length, the same bound every
    per-conv op in this catalog carries); token counting is map-side.
    """
    d = _t(spark, sf_dir, "documents")
    turns = d.select(
        F.concat(
            F.lit("conv-"), (F.col("doc_id") / 10).cast("bigint").cast("string")
        ).alias("conv_id"),
        (F.col("doc_id") % 10).cast("int").alias("turn_idx"),
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("turn_idx").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        turns.withColumn("cum_from_end", F.sum("n_tok").over(w))
        .where(F.col("cum_from_end") <= _CTX_BUDGET)
        .select("conv_id", "turn_idx", "n_tok", "cum_from_end")
    )


ORACLE_CONTEXT_TRUNCATE = f"""
WITH turns AS (
  SELECT 'conv-' || CAST(doc_id // 10 AS VARCHAR) AS conv_id,
         CAST(doc_id % 10 AS INT) AS turn_idx,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tok
  FROM documents)
SELECT conv_id, turn_idx, n_tok,
       sum(n_tok) OVER (
         PARTITION BY conv_id ORDER BY turn_idx DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_from_end
FROM turns
QUALIFY cum_from_end <= {_CTX_BUDGET}
"""


# ---------------------------------------------------------------------------
# ewma_trailing — bounded-window exponential decay over daily series
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_WINDOW_D = 14  # trailing horizon: weights below alpha*(1-a)^13 ~ 0.3%


def _ewma_weights() -> list:
    """alpha*(1-alpha)^j for j in [0, W): one shared float64 table for
    both engines (repeated multiplication, a fixed evaluation order)."""
    w, cur = [], _EWMA_ALPHA
    for _ in range(_EWMA_WINDOW_D):
        w.append(cur)
        cur *= 1.0 - _EWMA_ALPHA
    return w


def q_ewma_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing exponentially-weighted daily value per event type:
    ewma(d) = sum over j in [0, 14) of alpha*(1-alpha)^j * v(d-j),
    where v is the daily value sum and missing days contribute 0
    (true time decay — the weight depends on CALENDAR distance, not
    row distance).

    The recursive EWMA form needs an unbounded sequential scan (or the
    power-factored cumsum, which overflows float range at corpus-scale
    day counts); the trailing form is the production fix — the tail
    weights below (1-alpha)^W are noise, so the window is truncated at
    W and the aggregate becomes a bounded RANGE join: day d joins days
    d-13..d via a 14-element offset explode, exactly the
    sorted-neighborhood pair-expansion shape.

    Scale: daily partial-agg first (events collapse to #days x #types
    rows BEFORE the window join), then a 14x fan-out of that tiny
    series — never of the raw events.
    """
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
                "day"
            ),
            "value",
        )
        .groupBy("event_type", "day")
        .agg(F.sum("value").alias("v"))
    )
    # the 14 decay weights are precomputed in Python float64 and
    # embedded as LITERALS in both the Spark plan and the SQL twin —
    # libm pow() is not guaranteed bit-identical across engines, a
    # shared literal is (same trick as the kmeans float32 quantize)
    weights = _ewma_weights()
    offsets = F.explode(
        F.array(
            *[
                F.struct(F.lit(j).alias("j"), F.lit(weights[j]).alias("wt"))
                for j in range(_EWMA_WINDOW_D)
            ]
        )
    ).alias("o")
    contrib = daily.select(
        "event_type", F.col("day").alias("src_day"), "v", offsets
    ).select(
        "event_type",
        (F.col("src_day") + F.col("o.j")).alias("day"),
        (F.col("v") * F.col("o.wt")).alias("w_v"),
    )
    # keep only target days that exist in the series (inner join to the
    # day spine) so the output domain matches the oracle's
    spine = daily.select("event_type", "day")
    return (
        contrib.join(spine, ["event_type", "day"])
        .groupBy("event_type", "day")
        .agg(F.round(F.sum("w_v"), 6).alias("ewma"))
    )


# the weight table rides the SQL as a VALUES list of the same float64
# literals the Spark plan embeds (repr() round-trips exactly)
ORACLE_EWMA_TRAILING = f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         sum(value) AS v
  FROM events GROUP BY 1, 2),
wt (j, wt) AS (VALUES {", ".join(f"({j}, {w!r})" for j, w in enumerate(_ewma_weights()))})
SELECT d.event_type, d.day,
       round(sum(s.v * wt.wt), 6) AS ewma
FROM daily d
JOIN daily s ON s.event_type = d.event_type
            AND s.day BETWEEN d.day - {_EWMA_WINDOW_D - 1} AND d.day
JOIN wt ON wt.j = d.day - s.day
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# changelog_compact — ordered changelog -> latest-wins table state
# ---------------------------------------------------------------------------

_CLC_UPD_MOD = 7
_CLC_DEL_MOD = 13


def q_changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction: replay an ordered per-key change
    stream (insert -> update -> delete, sequence-numbered) down to the
    final table state — latest op per key wins, delete tombstones
    remove the key.

    The third CDC shape in the catalog, complementing ``merge_upsert``
    (set-oriented MERGE of a change BATCH) and ``scd2_dimension``
    (history retention): this is what an Iceberg/Hudi compaction job
    does to a CDC topic before serving reads.

    Scale: ONE hash shuffle on the key; the per-key window orders only
    that key's ops (bounded by per-key change count between
    compactions).  No join at all — compaction is a pure reduce.
    """
    base = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    log = (
        base.select(
            "doc_id",
            F.lit("insert").alias("op"),
            "source",
            "n_chars",
            F.lit(1).alias("seq"),
        )
        .unionAll(
            base.where(F.col("doc_id") % _CLC_UPD_MOD == 0).select(
                "doc_id",
                F.lit("update").alias("op"),
                F.lit("patched").alias("source"),
                (F.col("n_chars") + 1).alias("n_chars"),
                F.lit(2).alias("seq"),
            )
        )
        .unionAll(
            base.where(F.col("doc_id") % _CLC_DEL_MOD == 0).select(
                "doc_id",
                F.lit("delete").alias("op"),
                F.lit(None).cast("string").alias("source"),
                F.lit(None).cast(base.schema["n_chars"].dataType).alias(
                    "n_chars"
                ),
                F.lit(3).alias("seq"),
            )
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("seq").desc())
    return (
        log.withColumn("rk", F.row_number().over(w))
        .where((F.col("rk") == 1) & (F.col("op") != "delete"))
        .select("doc_id", "source", "n_chars", F.col("seq").alias("last_seq"))
    )


ORACLE_CHANGELOG_COMPACT = f"""
WITH log AS (
  SELECT doc_id, 'insert' AS op, source, n_chars, 1 AS seq FROM documents
  UNION ALL
  SELECT doc_id, 'update', 'patched', n_chars + 1, 2
  FROM documents WHERE doc_id % {_CLC_UPD_MOD} = 0
  UNION ALL
  SELECT doc_id, 'delete', NULL, NULL, 3
  FROM documents WHERE doc_id % {_CLC_DEL_MOD} = 0)
SELECT doc_id, source, n_chars, seq AS last_seq
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rk
      FROM log)
WHERE rk = 1 AND op != 'delete'
"""


# ---------------------------------------------------------------------------
# score_deciles — global decile stats via the two-level distributed rank
# ---------------------------------------------------------------------------


def q_score_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global decile assignment over a score column (n_chars as the
    stand-in quality score) and per-decile stats — the calibration
    report a quality-classifier pipeline emits before thresholding.

    The global rank is NEVER a single-task ``Window.orderBy`` over the
    corpus: it reuses ``sorted_neighborhood``'s two-level
    decomposition with the score VALUE as the first level — (1)
    per-value counts (partial agg, at most #distinct-scores rows,
    bounded by the score's value range), (2) one tiny ordered
    prefix-sum window over those value rows, (3) row_number within
    each value group (parallel; ties break by doc_id).  decile =
    floor(rank * 10 / n) with n from a 1-row broadcast.

    Scale: the only global structure is the #distinct-values prefix
    frame; everything row-shaped stays hash-distributed.
    """
    t = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_chars").cast("bigint").alias("score"),
    )
    vcounts = t.groupBy("score").agg(F.count("*").alias("c"))
    wv = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    prefix = vcounts.select(
        "score", F.coalesce(F.sum("c").over(wv), F.lit(0)).alias("p")
    )
    total = t.agg(F.count("*").alias("n"))
    wr = Window.partitionBy("score").orderBy("doc_id")
    # floor() explicitly on both engines: Spark's double->int cast
    # truncates but DuckDB's CAST rounds half-even, so the shared
    # surface must be an explicit floor before any int cast
    ranked = (
        t.join(F.broadcast(prefix), "score")
        .crossJoin(F.broadcast(total))
        .select(
            "score",
            F.floor((F.col("p") + F.row_number().over(wr) - 1) * 10 / F.col("n"))
            .cast("int")
            .alias("decile"),
        )
    )
    return ranked.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
        F.round(F.avg("score"), 4).alias("avg_score"),
    )


ORACLE_SCORE_DECILES = """
WITH ranked AS (
  SELECT CAST(n_chars AS BIGINT) AS score,
         CAST(floor((row_number() OVER (ORDER BY n_chars, doc_id) - 1) * 10.0
              / count(*) OVER ()) AS INT) AS decile
  FROM documents)
SELECT decile, count(*) AS n_docs,
       min(score) AS min_score, max(score) AS max_score,
       round(avg(score), 4) AS avg_score
FROM ranked GROUP BY decile
"""


# ---------------------------------------------------------------------------
# script_profile — per-language character-class densities
# ---------------------------------------------------------------------------


def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus character-class profile per language: total characters
    and the alpha / digit / whitespace shares — the cheap script/
    encoding sanity scan run before any tokenizer touches a new crawl
    (mojibake, binary spill, and wrong-language shards show up as
    class-share outliers).

    Scale: pure map-side arithmetic (three regexp_replace length
    deltas per row) into a #languages-row partial agg — zero joins,
    one tiny shuffle, whole-stage codegen end to end.
    """
    d = _t(spark, sf_dir, "documents")

    def n_class(pat: str):
        return F.length("text") - F.length(F.regexp_replace("text", pat, ""))

    per_doc = d.select(
        "lang",
        F.length("text").alias("n"),
        n_class("[a-zA-Z]").alias("n_alpha"),
        n_class("[0-9]").alias("n_digit"),
        n_class("[ ]").alias("n_space"),
    )
    return per_doc.groupBy("lang").agg(
        F.sum("n").alias("n_chars"),
        F.round(F.sum("n_alpha") / F.sum("n"), 6).alias("alpha_ratio"),
        F.round(F.sum("n_digit") / F.sum("n"), 6).alias("digit_ratio"),
        F.round(F.sum("n_space") / F.sum("n"), 6).alias("space_ratio"),
    )


ORACLE_SCRIPT_PROFILE = """
WITH per_doc AS (
  SELECT lang, len(text) AS n,
         len(text) - len(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS n_alpha,
         len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         len(text) - len(regexp_replace(text, '[ ]', '', 'g')) AS n_space
  FROM documents)
SELECT lang, sum(n) AS n_chars,
       round(CAST(sum(n_alpha) AS DOUBLE) / sum(n), 6) AS alpha_ratio,
       round(CAST(sum(n_digit) AS DOUBLE) / sum(n), 6) AS digit_ratio,
       round(CAST(sum(n_space) AS DOUBLE) / sum(n), 6) AS space_ratio
FROM per_doc GROUP BY lang
"""


# ---------------------------------------------------------------------------
# reply_latency_stats — per-conversation turn-gap statistics
# ---------------------------------------------------------------------------


def q_reply_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation reply-latency report over the bursty session
    timeline (3 turns 30 s apart, then an hour of silence — the
    ``streaming_sessions`` clock): for each turn, the gap to the NEXT
    turn in the same conversation; aggregated to per-conv count, mean,
    and max gap.

    The batch complement of ``streaming_join`` (which pairs user ->
    assistant within a bounded interval as a stream-stream join): here
    the pairing is a ``lead`` window — one shuffle on conv_id, state =
    one conversation, integer-second arithmetic on both engines.
    """
    d = _t(spark, sf_dir, "documents")
    turns = d.select(
        F.concat(
            F.lit("conv-"), (F.col("doc_id") / 10).cast("bigint").cast("string")
        ).alias("conv_id"),
        (F.col("doc_id") % 10).cast("int").alias("turn_idx"),
        (
            F.lit(1767225600)
            + (F.col("doc_id") / 10).cast("bigint") * 86400
            + F.floor((F.col("doc_id") % 10) / 3) * 3600
            + (F.col("doc_id") % 10) * 30
        ).alias("ts_s"),
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    gaps = turns.select(
        "conv_id",
        (F.lead("ts_s").over(w) - F.col("ts_s")).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    return gaps.groupBy("conv_id").agg(
        F.count("*").alias("n_gaps"),
        F.round(F.avg("gap_s"), 4).alias("avg_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


ORACLE_REPLY_LATENCY_STATS = """
WITH turns AS (
  SELECT 'conv-' || CAST(doc_id // 10 AS VARCHAR) AS conv_id,
         CAST(doc_id % 10 AS INT) AS turn_idx,
         1767225600 + (doc_id // 10) * 86400
           + ((doc_id % 10) // 3) * 3600 + (doc_id % 10) * 30 AS ts_s
  FROM documents),
gaps AS (
  SELECT conv_id,
         lead(ts_s) OVER (PARTITION BY conv_id ORDER BY turn_idx) - ts_s AS gap_s
  FROM turns)
SELECT conv_id, count(*) AS n_gaps,
       round(avg(gap_s), 4) AS avg_gap_s, max(gap_s) AS max_gap_s
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY conv_id
"""


# ---------------------------------------------------------------------------
# bigram_lm_logprob — smoothed bigram LM scoring (wave 2)
# ---------------------------------------------------------------------------


def q_bigram_lm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log2-probability under an add-one-smoothed
    BIGRAM language model trained on the corpus itself — the
    conditional-probability upgrade of ``unigram_logprob`` (fluency,
    not just vocabulary rarity; boilerplate and shuffled-word spam
    separate sharply under a bigram LM).

    p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V): all-integer counts, so
    both engines compute log2 on IDENTICAL doubles (exact ratios) —
    the same bit-determinism contract as ``unigram_logprob``.

    Scale: per-doc bigrams assemble IN-ARRAY map-side (zip_with over
    the token list, no self-join, no window); the bigram and
    first-token count tables shuffle on their own keys (vocab-sized);
    scoring joins the doc bigram stream to them on those keys — hash
    joins that AQE broadcasts when the vocab allows; V rides a 1-row
    broadcast.
    """
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("l"))
    bg = toks.where(F.size("l") >= 2).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("l", 1, F.size("l") - 1),
                F.slice("l", 2, F.size("l") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(F.log2((F.col("c2") + 1) / (F.col("c1") + F.col("v")))),
                6,
            ).alias("logprob2"),
        )
    )


ORACLE_BIGRAM_LM_LOGPROB = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
bg AS (
  SELECT doc_id, list_extract(l, i) AS w1, list_extract(l, i + 1) AS w2
  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
        FROM toks WHERE len(l) >= 2)),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
v AS (SELECT count(DISTINCT tok) AS v
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents))
SELECT bg.doc_id, count(*) AS n_bigrams,
       round(avg(log2(CAST(c2.c2 + 1 AS DOUBLE) / (c1.c1 + v.v))), 6)
         AS logprob2
FROM bg
JOIN c2 ON c2.w1 = bg.w1 AND c2.w2 = bg.w2
JOIN c1 ON c1.w1 = bg.w1
CROSS JOIN v
GROUP BY bg.doc_id
"""


# ---------------------------------------------------------------------------
# dedup_threshold_sweep — pair/doc counts across the Jaccard dial (wave 2)
# ---------------------------------------------------------------------------

_SWEEP_PERMILLE = (500, 600, 700, 800, 900)


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aggressiveness curve: for each candidate Jaccard threshold,
    how many verified near-dup pairs survive and how many distinct
    documents they touch — the report a pipeline owner reads before
    picking the dedup dial (each +0.1 of threshold trades recall of
    boilerplate for retention of legitimate repetition).

    Reads the session-memoized verified-pairs table (built once by
    ``dedup_minhash_verify``), so the sweep itself is a 5x fan-out of a
    near-dup-sized input: one conditional-count pass for pairs and one
    explode+distinct pass for touched docs, joined on the threshold key
    (integer permille — no float join keys).
    """
    pairs = _q.q_dedup_minhash_verify(spark, sf_dir)
    th = F.explode(
        F.array(*[F.lit(p) for p in _SWEEP_PERMILLE])
    ).alias("threshold_pm")
    hits = pairs.select("doc_a", "doc_b", "jaccard", th).where(
        F.col("jaccard") * 1000 >= F.col("threshold_pm")
    )
    n_pairs = hits.groupBy("threshold_pm").agg(F.count("*").alias("n_pairs"))
    n_docs = (
        hits.select(
            "threshold_pm", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .groupBy("threshold_pm")
        .agg(F.count_distinct("d").alias("n_docs"))
    )
    return n_pairs.join(n_docs, "threshold_pm").select(
        F.col("threshold_pm").cast("int").alias("threshold_pm"),
        "n_pairs",
        "n_docs",
    )


ORACLE_DEDUP_THRESHOLD_SWEEP = f"""
WITH pairs AS (
  SELECT * FROM ({{verify}}) vp),
th (threshold_pm) AS (VALUES {", ".join(f"({p})" for p in _SWEEP_PERMILLE)}),
hits AS (
  SELECT th.threshold_pm, p.doc_a, p.doc_b
  FROM pairs p JOIN th ON p.jaccard * 1000 >= th.threshold_pm),
np AS (SELECT threshold_pm, count(*) AS n_pairs FROM hits GROUP BY 1),
nd AS (SELECT threshold_pm, count(DISTINCT d) AS n_docs FROM (
         SELECT threshold_pm, doc_a AS d FROM hits
         UNION ALL
         SELECT threshold_pm, doc_b FROM hits) GROUP BY 1)
SELECT CAST(np.threshold_pm AS INT) AS threshold_pm, np.n_pairs, nd.n_docs
FROM np JOIN nd USING (threshold_pm)
"""


# ---------------------------------------------------------------------------
# kfold_assign — deterministic hash k-fold split report (wave 2)
# ---------------------------------------------------------------------------

_KFOLD_K = 5


def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment report: fold = md5-hash16(doc_id)
    mod K (the ``sample_stratified`` portable-hash trick — identical
    integers on both engines, stable under id renumbering, uncorrelated
    with insertion order), rolled up to (fold, lang) counts so fold
    balance is auditable per stratum.

    Complements ``train_test_split`` (single split with group
    integrity): k-fold is the cross-validation layout, and the hash
    construction means fold membership is reproducible from the row
    alone — no shuffle, no state, any executor can answer "which fold"
    during a later scan.

    Scale: map-side arithmetic into a K x #langs partial agg.
    """
    _q._register_views(spark, sf_dir, ["documents"])
    return spark.sql(_kfold_sql("spark"))


def _kfold_sql(dialect: str = "duck") -> str:
    strtype = "STRING" if dialect == "spark" else "VARCHAR"
    hexv = (
        lambda j: f"(instr('0123456789abcdef', substr(md5(CAST(doc_id AS {strtype})), {j}, 1)) - 1)"
    )
    h16 = f"((({hexv(1)} * 16 + {hexv(2)}) * 16 + {hexv(3)}) * 16 + {hexv(4)})"
    return f"""
SELECT CAST({h16} % {_KFOLD_K} AS INT) AS fold, lang,
       count(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


ORACLE_KFOLD_ASSIGN = _kfold_sql()


# ---------------------------------------------------------------------------
# hourly_profile — time-of-day seasonality with peak flag (wave 2)
# ---------------------------------------------------------------------------


def q_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type: event count and
    mean value per (type, hour), plus the per-type peak-hour flag —
    the load-shaping report an ingest scheduler reads.

    Scale: events collapse to a 24 x #types partial agg FIRST; the
    peak rank is a window over those <= 24 rows per type — the window
    never sees raw events.

    Bit-determinism: a raw avg(double) sums in partition order on
    Spark and scan order on DuckDB, and one last-ulp difference can
    straddle a round-4 boundary (it did: 54.77875).  Even on identical
    doubles, round(x, 4) ITSELF diverges at exact .5 boundaries
    (Spark rounds the BigDecimal of the binary value HALF_UP; DuckDB
    multiplies by 10^4 in float first).  So both the aggregation AND
    the rounding stay in integers: values are 2-decimal amounts ->
    exact cents; the 4-decimal mean is the integer half-up division
    round(100*c/n) = (200c + n) DIV 2n, divided by 10^4 at the end —
    no float op until the final exact division by a power of ten.
    """
    e = _t(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            F.hour("ts").alias("hr"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "hr")
        .agg(F.count("*").alias("n_events"), F.sum("cents").alias("c"))
        .withColumn(
            "avg_value",
            F.expr("(200 * c + n_events) DIV (2 * n_events)") / 10000.0,
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("avg_value").desc(), F.col("hr")
    )
    return hourly.withColumn(
        "is_peak", (F.row_number().over(w) == 1)
    ).select(
        "event_type", F.col("hr").cast("int").alias("hr"),
        "n_events", "avg_value", "is_peak",
    )


ORACLE_HOURLY_PROFILE = """
WITH hourly AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hr,
         count(*) AS n_events,
         ((200 * sum(CAST(round(value * 100) AS BIGINT)) + count(*))
          // (2 * count(*))) / 10000.0 AS avg_value
  FROM events GROUP BY 1, 2)
SELECT event_type, hr, n_events, avg_value,
       row_number() OVER (
         PARTITION BY event_type ORDER BY avg_value DESC, hr) = 1 AS is_peak
FROM hourly
"""


# ---------------------------------------------------------------------------
# weekday_seasonality — day-of-week volume index
# ---------------------------------------------------------------------------


def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index of event volume: per weekday
    (0 = Sunday .. 6 = Saturday), the event count and the index
    7·n/total — 1.0 is a flat week, > 1 an overloaded day — the
    weekly sibling of ``hourly_profile`` and the seasonality prior
    ``autocorr_daily`` tests for.

    The index is the house half-up integer division in micro-units
    (7,000,000·n vs total, cross-multiplied), so every surfaced number
    is exact; weekday numbering is pinned to the DuckDB 0-based
    Sunday convention (Spark's 1-based dayofweek minus 1).

    Scale: one scan, one bounded-key (7 rows) partial agg, a 1-row
    broadcast total.  Nothing else.
    """
    ev = _t(spark, sf_dir, "events").select(
        (F.dayofweek(F.to_date("ts")) - 1).cast("int").alias("weekday")
    )
    agg = ev.groupBy("weekday").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    tot = agg.groupBy().agg(F.sum("n_events").alias("tot"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "weekday",
        "n_events",
        (
            F.expr("(14000000 * n_events + tot) DIV (2 * tot)") / 1000000.0
        ).alias("volume_index"),
    )


ORACLE_WEEKDAY_SEASONALITY = """
WITH agg AS (
  SELECT CAST(dayofweek(CAST(ts AS DATE)) AS INT) AS weekday,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1),
tot AS (SELECT sum(n_events) AS tot FROM agg)
SELECT weekday, n_events,
       ((14000000 * n_events + tot) // (2 * tot)) / 1000000.0
         AS volume_index
FROM agg, tot
"""


ROUND4_QUERIES = {
    "lsh_recall_eval": q_lsh_recall_eval,
    "minhash_est_error": q_minhash_est_error,
    "dedup_incremental": q_dedup_incremental,
    "context_truncate": q_context_truncate,
    "ewma_trailing": q_ewma_trailing,
    "changelog_compact": q_changelog_compact,
    "score_deciles": q_score_deciles,
    "script_profile": q_script_profile,
    "reply_latency_stats": q_reply_latency_stats,
    "bigram_lm_logprob": q_bigram_lm_logprob,
    "dedup_threshold_sweep": q_dedup_threshold_sweep,
    "kfold_assign": q_kfold_assign,
    "hourly_profile": q_hourly_profile,
    "weekday_seasonality": q_weekday_seasonality,
}

ROUND4_ORACLES = {
    "lsh_recall_eval": ORACLE_LSH_RECALL_EVAL,
    "minhash_est_error": ORACLE_MINHASH_EST_ERROR.format(
        verify=_q.ORACLE_DEDUP_MINHASH_VERIFY
    ),
    "dedup_incremental": ORACLE_DEDUP_INCREMENTAL,
    "context_truncate": ORACLE_CONTEXT_TRUNCATE,
    "ewma_trailing": ORACLE_EWMA_TRAILING,
    "changelog_compact": ORACLE_CHANGELOG_COMPACT,
    "score_deciles": ORACLE_SCORE_DECILES,
    "script_profile": ORACLE_SCRIPT_PROFILE,
    "reply_latency_stats": ORACLE_REPLY_LATENCY_STATS,
    "bigram_lm_logprob": ORACLE_BIGRAM_LM_LOGPROB,
    "dedup_threshold_sweep": ORACLE_DEDUP_THRESHOLD_SWEEP.format(
        verify=_q.ORACLE_DEDUP_MINHASH_VERIFY
    ),
    "kfold_assign": ORACLE_KFOLD_ASSIGN,
    "hourly_profile": ORACLE_HOURLY_PROFILE,
    "weekday_seasonality": ORACLE_WEEKDAY_SEASONALITY,
}

_q.QUERIES.update(ROUND4_QUERIES)
_q.ORACLES.update(ROUND4_ORACLES)
