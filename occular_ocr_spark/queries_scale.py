"""Scale-operations catalog, round 3 (session 2): the operational end
of running the extraction engine as a production service — explicit
skew-salted joins, the SQL-function surface, incremental (checkpoint-
resume) processing, snapshot diffing, data-quality gates, rolling
time-range windows (bucket-decomposed, kernel-evaluated), collocation
mining, Count-Min heavy hitters, PageRank over the purchase graph,
typed JSON props extraction, distributed exact quantiles, cohort
retention, group-aware train/test splitting, context-window chunking,
int8 embedding quantization, and streaming session windows.

House contract throughout: the Spark plan is the 100 TB design and a
DuckDB oracle replays the exact semantics for the value-hash gate.
Self-registers into queries.QUERIES / queries.ORACLES on import (same
pattern as queries_ext / queries_pipeline).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from . import queries_ext as _ext
from .pipeline_e2e import _SPLIT_TRAIN_BUCKETS
from .queries import _persist_tracked, _register_views, _t

# ---------------------------------------------------------------------------
# Explicit skew-salted join
# ---------------------------------------------------------------------------

_SALT_BUCKETS = 8


def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim join with EXPLICIT salt decomposition — the manual
    fallback for the case AQE's skew-join split cannot reach (e.g. a
    shuffle consumed by a stateful op, or a dim too large to broadcast
    but with a handful of pathological fact keys).

    Mechanics: every fact row gets a deterministic salt in
    [0, _SALT_BUCKETS); the dim side is exploded ×_SALT_BUCKETS so
    each (key, salt) fact partition finds its dim row locally.  A hot
    fact key thus spreads over _SALT_BUCKETS reducers instead of one.
    The dim explosion costs |dim|×S rows — bounded, chosen so
    |dim|×S ≪ |fact|.  The broadcast path is explicitly disabled via
    a shuffle-hash hint so the test exercises the salted exchange (at
    100 TB orders is not broadcastable anyway).

    Reference parity: same salting idea the extraction fan-out applies
    to mega-conversations (job.py repartition salt, SURVEY §2 P1),
    here as a standalone relational operator.
    """
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    # revenue accumulates in DECIMAL: prices/discounts are 2-dp values
    # stored as doubles, so the product is exact at scale 4 and the sum
    # is order-independent — a double sum over a salted join visits
    # rows in a different order than the oracle's plan and diverged in
    # the 4th decimal at sf0.1 (the house decimal-exact-sum trick)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("rev"),
    )
    fact = li.withColumn(
        "salt", F.pmod(F.col("l_linenumber"), F.lit(_SALT_BUCKETS)).cast("int")
    )
    dim = o.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_BUCKETS)]))
    )
    joined = fact.join(
        dim.hint("shuffle_hash"),
        (fact.l_orderkey == dim.o_orderkey) & (fact.salt == dim.salt),
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("rev").cast("double"), 4).alias("revenue"),
    )


ORACLE_SKEW_JOIN_SALTED = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_items,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE), 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# SQL function surface: the extraction kernel as a registered UDF
# ---------------------------------------------------------------------------


def q_sql_udf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extraction kernel exposed on the SQL surface: registered as
    a pandas UDF (`occular_extract`) and invoked from `spark.sql` —
    the path a SQL-only consumer (BI tool, notebook, dbt model) uses
    without touching the DataFrame API.

    The Arrow-batched UDF wraps the same
    :func:`extraction.core.extract_turn` kernel the mapInArrow job
    path runs, so SQL and DataFrame surfaces cannot drift.  Scale: one
    Arrow exchange per batch, no per-row Python at the plan level; for
    the heavy path prefer `job.extract_detailed` (adds salting,
    lineage, dual-path fast lane) — this entry pins the *API surface*,
    not a second engine.

    Reference parity: the reference exposes `extract_text` as a plain
    function call (reference api.py simple surface); SQL registration
    is its Spark-native equivalent.
    """
    from .extraction.core import extract_turn

    @F.pandas_udf("string")
    def occular_extract(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: extract_turn(t)["text"])

    spark.udf.register("occular_extract", occular_extract)
    _register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        "SELECT doc_id, occular_extract(text) AS extracted FROM documents"
    )


# documents payloads are plain single-line ASCII -> the kernel's plain
# branch: trimmed content (same contract as ORACLE_EXTRACT_PLAIN_DOCS).
ORACLE_SQL_UDF_EXTRACT = """
SELECT doc_id, trim(text) AS extracted FROM documents
"""


# ---------------------------------------------------------------------------
# Incremental (checkpoint-resume) extraction
# ---------------------------------------------------------------------------


def q_incremental_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental run: extract ONLY rows not present in the processed
    manifest — the row-level resume shape behind the north rule's
    "any failed range resumes idempotently".

    The manifest here is a deterministic 80% subset of doc_ids
    (doc_id % 5 != 3) standing in for the lineage log the sink writes
    (sink.py partition ranges); the new-work set is a left_anti join
    against it, then the real extraction path runs on the remainder
    only.  Scale: the anti-join shuffles manifest-vs-snapshot on
    doc_id once; in production the first-stage filter is
    PARTITION-level (snapshot-id ranges from Iceberg metadata — no
    shuffle at all) and this row-level anti-join is the fine-grained
    second stage within touched partitions.
    """
    from .job import extract_detailed

    d = _t(spark, sf_dir, "documents")
    manifest = d.where(F.col("doc_id") % 5 != 3).select(
        F.col("doc_id").alias("done_id")
    )
    todo = d.join(manifest, d.doc_id == manifest.done_id, "left_anti")
    turns = todo.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        "text",
    )
    ext = extract_detailed(turns)
    return ext.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        F.col("text").alias("extracted"),
    )


ORACLE_INCREMENTAL_EXTRACT = """
SELECT doc_id, trim(text) AS extracted
FROM documents WHERE doc_id % 5 = 3
"""


# ---------------------------------------------------------------------------
# Snapshot diff (CDC between two corpus versions)
# ---------------------------------------------------------------------------


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change detection between two corpus snapshots: classify every
    doc_id as added / removed / changed / unchanged and count each
    class — the audit step before an incremental re-extraction decides
    what to touch.

    Snapshot B is derived deterministically from A (documents):
    doc_id % 97 == 0 rows dropped (removed), doc_id % 13 == 0 rows
    uppercased (changed), and a shifted copy of doc_id % 89 == 0 rows
    appended (added).  Comparison is md5-digest-based so the join
    carries (id, 32-byte digest), never the payloads — at 100 TB the
    diff input is ~1/1000th of the corpus bytes.  One full-outer
    shuffle join on doc_id, then a K-row aggregate.
    """
    a = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text")).alias("dig_a")
    )
    base = _t(spark, sf_dir, "documents")
    b = (
        base.where(F.col("doc_id") % 97 != 0)
        .select(
            "doc_id",
            F.md5(
                F.when(F.col("doc_id") % 13 == 0, F.upper(F.col("text"))).otherwise(
                    F.col("text")
                )
            ).alias("dig_b"),
        )
        .unionAll(
            base.where(F.col("doc_id") % 89 == 0).select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"),
                F.md5(F.col("text")).alias("dig_b"),
            )
        )
    )
    diff = a.join(b, "doc_id", "full_outer").select(
        F.when(F.col("dig_a").isNull(), F.lit("added"))
        .when(F.col("dig_b").isNull(), F.lit("removed"))
        .when(F.col("dig_a") != F.col("dig_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change_type")
    )
    return diff.groupBy("change_type").agg(F.count("*").alias("n_docs"))


ORACLE_SNAPSHOT_DIFF = """
WITH a AS (SELECT doc_id, md5(text) AS dig_a FROM documents),
b AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 13 = 0 THEN upper(text) ELSE text END) AS dig_b
  FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, md5(text) AS dig_b
  FROM documents WHERE doc_id % 89 = 0),
diff AS (
  SELECT CASE WHEN a.dig_a IS NULL THEN 'added'
              WHEN b.dig_b IS NULL THEN 'removed'
              WHEN a.dig_a <> b.dig_b THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM a FULL OUTER JOIN b USING (doc_id))
SELECT change_type, CAST(count(*) AS BIGINT) AS n_docs
FROM diff GROUP BY change_type
"""


# ---------------------------------------------------------------------------
# Data-quality constraint gate
# ---------------------------------------------------------------------------


def q_data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-style constraint validation: referential integrity,
    range, uniqueness, and non-null checks, each reduced to a
    (check_name, violations, passed) row — the gate a pipeline run
    consults before promoting a snapshot.

    Scale: every check is one scan + partial-aggregated count; the FK
    check is a shuffle anti-join (at 100 TB neither side broadcasts).
    All checks share nothing, so Spark schedules the five branches of
    the union concurrently; per-table checks could further share one
    scan via a single multi-aggregate pass (documented trade: clarity
    per check vs one fused scan).
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    li = _t(spark, sf_dir, "lineitem")
    d = _t(spark, sf_dir, "documents")
    ev = _t(spark, sf_dir, "events")

    fk = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").alias("violations"))
        .select(F.lit("orders_fk_customer").alias("check_name"), "violations")
    )
    qty = (
        li.where((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50))
        .agg(F.count("*").alias("violations"))
        .select(F.lit("lineitem_qty_range").alias("check_name"), "violations")
    )
    uniq = d.agg(
        (F.count("*") - F.countDistinct("doc_id")).alias("violations")
    ).select(F.lit("documents_id_unique").alias("check_name"), "violations")
    nn_text = (
        d.where(F.col("text").isNull() | (F.length("text") == 0))
        .agg(F.count("*").alias("violations"))
        .select(F.lit("documents_text_nonempty").alias("check_name"), "violations")
    )
    nn_ts = (
        ev.where(F.col("ts").isNull())
        .agg(F.count("*").alias("violations"))
        .select(F.lit("events_ts_nonnull").alias("check_name"), "violations")
    )
    return (
        fk.unionAll(qty).unionAll(uniq).unionAll(nn_text).unionAll(nn_ts)
        .select("check_name", "violations", (F.col("violations") == 0).alias("passed"))
    )


ORACLE_DATA_QUALITY_CHECKS = """
WITH checks AS (
  SELECT 'orders_fk_customer' AS check_name,
         (SELECT count(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)) AS violations
  UNION ALL
  SELECT 'lineitem_qty_range',
         (SELECT count(*) FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50)
  UNION ALL
  SELECT 'documents_id_unique',
         (SELECT count(*) - count(DISTINCT doc_id) FROM documents)
  UNION ALL
  SELECT 'documents_text_nonempty',
         (SELECT count(*) FROM documents
          WHERE text IS NULL OR length(text) = 0)
  UNION ALL
  SELECT 'events_ts_nonnull',
         (SELECT count(*) FROM events WHERE ts IS NULL))
SELECT check_name, CAST(violations AS BIGINT) AS violations,
       violations = 0 AS passed
FROM checks
"""


# ---------------------------------------------------------------------------
# Rolling time-range window
# ---------------------------------------------------------------------------

_ROLL_WINDOW_US = 7 * 86_400 * 1_000_000  # 7 days in microseconds


def _rolling_group_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-(event_type, bucket) trailing-window kernel: exact count via
    two binary searches and exact sliding max via the monotone-deque
    algorithm — O(n log n) total, vs Spark's SlidingWindowFunctionFrame
    which re-accumulates every frame from scratch (O(n × frame_size):
    measured 5.2 s for a count-only RANGE frame over 200k rows with
    ~3k-row frames, the dense-events case).  Both stats are
    order-independent and FP-free (count integer, max exact), so the
    kernel is bit-identical to the SQL window the oracle runs.

    Frame semantics replayed exactly: RANGE BETWEEN -W AND CURRENT ROW
    includes ALL ts peers of the current row (hence the right-side
    searchsorted, not the row position — pandas' time rolling is
    peer-order-sensitive and would diverge on timestamp ties).
    """
    order = np.lexsort((pdf["event_id"].to_numpy(), pdf["ts_us"].to_numpy()))
    pdf = pdf.iloc[order].reset_index(drop=True)
    ts = pdf["ts_us"].to_numpy(np.int64)
    vals = pdf["value"].to_numpy(np.float64)
    left = np.searchsorted(ts, ts - _ROLL_WINDOW_US, side="left")
    right = np.searchsorted(ts, ts, side="right")
    mx = np.empty(len(ts), dtype=np.float64)
    dq: list[int] = []  # indices with decreasing vals (deque as list)
    head = 0
    j = 0
    for i in range(len(ts)):
        while j < right[i]:
            while len(dq) > head and vals[dq[-1]] <= vals[j]:
                dq.pop()
            dq.append(j)
            j += 1
        while dq[head] < left[i]:
            head += 1
        mx[i] = vals[dq[head]]
    keep = pdf["shift"].to_numpy() == 0
    return pd.DataFrame(
        {
            "event_id": pdf["event_id"].to_numpy()[keep],
            "event_type": pdf["event_type"].to_numpy()[keep],
            "n_7d": (right - left).astype(np.int64)[keep],
            "max_7d": np.round(mx, 6)[keep],
        }
    )


def q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-7-day statistics over its event_type — the
    moving-aggregate shape behind rate limiting, anomaly baselines,
    and trend features.

    Scale design, two layers:

    1. **Bounded-overlap bucket decomposition** (the plan): a naive
       ``partitionBy(event_type)`` window caps parallelism at #types
       and buffers a type's whole history on one executor.  Instead
       each row is assigned to its 7-day time bucket AND a
       context-only copy in the NEXT bucket (one in-array explode,
       same scan); since the bucket length equals the window length,
       every trailing frame is fully contained in (own bucket ∪
       previous bucket's context copies), so the computation runs per
       (event_type, bucket) — parallelism grows with the time span and
       group state is bounded by one bucket's rows ×2.  Context rows
       are dropped after evaluation; output is row-identical to the
       global window (which is exactly what the oracle computes).

    2. **Kernel instead of JVM RANGE frame** (the execution): Spark's
       sliding RANGE frame re-aggregates each row's frame from scratch
       — quadratic when frames are dense (measured 10.7 s at sf0.1).
       The per-group kernel (:func:`_rolling_group_kernel`) does the
       same frame exactly in O(n log n) — searchsorted counts +
       monotone-deque max — the SURVEY §4 dense-math doctrine applied
       to window frames.

    Time is exact epoch microseconds (unix_micros / epoch_us; parquet
    ts is TIMESTAMP_NTZ, cast through TIMESTAMP under the UTC session
    tz — same convention as sessionize), so frame-boundary comparisons
    are integer-exact on both engines.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
    )
    spread = ev.withColumn(
        "shift", F.explode(F.array(F.lit(0), F.lit(1)))
    ).withColumn(
        "bucket", F.floor(F.col("ts_us") / _ROLL_WINDOW_US) + F.col("shift")
    )
    return spread.groupBy("event_type", "bucket").applyInPandas(
        _rolling_group_kernel,
        "event_id bigint, event_type string, n_7d bigint, max_7d double",
    )


ORACLE_ROLLING_WINDOW = f"""
SELECT event_id, event_type,
       CAST(count(*) OVER w AS BIGINT) AS n_7d,
       round(max(value) OVER w, 6) AS max_7d
FROM (SELECT event_id, event_type, epoch_us(ts) AS ts_us, value FROM events)
WINDOW w AS (PARTITION BY event_type ORDER BY ts_us
             RANGE BETWEEN {_ROLL_WINDOW_US} PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# Bigram PMI collocations
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    token pairs over the corpus — the classic phrase-detection pass a
    tokenizer-training / n-gram-LM pipeline runs.

    Bigrams are built IN-ARRAY (transform over the token array) so the
    pair construction is map-side with no per-token window shuffle;
    only the (bigram, count) and (token, count) partial aggregates
    shuffle — vocabulary-sized, not corpus-sized.  PMI joins the
    bigram counts to the two unigram count tables on their words; the
    corpus token total rides a 1-row broadcast.  Counts are exact
    integers; PMI is rounded to 4 dp (both engines compute
    ln(c_xy·N/(c_x·c_y)) on identical exact-integer-derived doubles).
    """
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("toks"))
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c_w"))
    )
    # size-1 guard is load-bearing: sequence(1, 0) DESCENDS ([1, 0]) and
    # toks[1] then throws under ANSI mode on any space-free document.
    # The generator explodes a plain int sequence and builds the bigram
    # string AFTER the explode — a higher-order transform(sequence, λ)
    # here runs interpreted outside whole-stage codegen (the
    # ngram_diversity lesson, measured 8x there); element_at + concat_ws
    # on the exploded row stays in the codegen span.
    big = (
        toks.select(
            F.explode(
                F.when(
                    F.size("toks") >= 2, F.sequence(F.lit(1), F.size("toks") - 1)
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
            "toks",
        )
        .select(
            F.concat_ws(
                " ",
                F.element_at("toks", F.col("i")),
                F.element_at("toks", F.col("i") + 1),
            ).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count("*").alias("c_xy"))
        .where(F.col("c_xy") >= _PMI_MIN_COUNT)
    )
    total = uni.agg(F.sum("c_w").alias("n_tok"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_y"))
    parts = big.select(
        F.split("bg", " ")[0].alias("w1"), F.split("bg", " ")[1].alias("w2"), "c_xy"
    )
    return (
        parts.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            # + 0.0 normalizes IEEE -0.0 to +0.0: a bigram whose PMI
            # rounds to zero from below hits -0.0 on one engine and
            # +0.0 on the other (first seen at sf0.1), and the gate
            # hashes their reprs differently
            (
                F.round(
                    F.log(
                        F.col("c_xy").cast("double")
                        * F.col("n_tok")
                        / (F.col("c_x").cast("double") * F.col("c_y"))
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("pmi"),
        )
    )


ORACLE_BIGRAM_PMI = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents),
uni AS (SELECT w, count(*) AS c_w FROM toks WHERE w <> '' GROUP BY w),
pairs AS (
  SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks),
big AS (
  SELECT w1, w2, count(*) AS c_xy FROM pairs
  WHERE w2 IS NOT NULL GROUP BY w1, w2
  HAVING count(*) >= {_PMI_MIN_COUNT}),
total AS (SELECT sum(c_w) AS n_tok FROM uni)
SELECT b.w1, b.w2, CAST(b.c_xy AS BIGINT) AS c_xy,
       CAST(u1.c_w AS BIGINT) AS c_x, CAST(u2.c_w AS BIGINT) AS c_y,
       round(ln(CAST(b.c_xy AS DOUBLE) * t.n_tok
                / (CAST(u1.c_w AS DOUBLE) * u2.c_w)), 4) + 0.0 AS pmi
FROM big b JOIN uni u1 ON b.w1 = u1.w JOIN uni u2 ON b.w2 = u2.w, total t
"""


# ---------------------------------------------------------------------------
# Cohort retention
# ---------------------------------------------------------------------------


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity week,
    distinct-user counts per (cohort, week-offset) — the engagement
    rollup every analytics deployment of the engine runs over its
    event stream.

    Cohort periods are exact epoch-week numbers so the offset
    arithmetic is integer-exact on both engines (no months_between
    floats, no date subtraction ambiguity).  Scale: one
    shuffle on user_id for the min-month cohort assignment (partial
    min map-side), a broadcast-free rejoin of the K-row-per-user
    cohort label via the SAME user_id partitioning (Catalyst reuses
    the exchange), then a partial-agg count-distinct per (cohort,
    offset) — distinct state bounded by users-per-cell, the standard
    two-level expansion if a cell ever skews.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        # exact epoch-week number (floor of epoch seconds / 1 week);
        # weekly cohorts because the synthetic event span is ~weeks
        F.floor(F.col("ts").cast("timestamp").cast("long") / 604800).alias("yw"),
    )
    cohort = ev.groupBy("user_id").agg(F.min("yw").alias("cohort_yw"))
    return (
        ev.join(cohort, "user_id")
        .groupBy("cohort_yw", (F.col("yw") - F.col("cohort_yw")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


ORACLE_COHORT_RETENTION = """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS yw FROM events),
cohort AS (
  SELECT user_id, min(yw) AS cohort_yw FROM ev GROUP BY user_id)
SELECT c.cohort_yw, e.yw - c.cohort_yw AS week_offset,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM ev e JOIN cohort c USING (user_id)
GROUP BY c.cohort_yw, e.yw - c.cohort_yw
"""


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

_PII_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the compliance pass every training corpus runs
    before release: match-and-replace of personal identifiers (here an
    email pattern kept to syntax that behaves identically under Java
    regex and RE2, cf. text_normalize's dialect note).

    The fixture corpus is deliberately PII-free, so test addresses are
    INJECTED deterministically (every 7th doc gets a doc_id-derived
    address) and the redactor must remove exactly those — the oracle
    replays injection + redaction and the digest check proves the
    scrubbed text is byte-identical, not just counted.  Scale: pure
    map-side — inject, redact, digest all inside one codegen stage,
    zero exchanges.
    """
    d = _t(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ),
    ).otherwise(F.col("text"))
    redacted = F.regexp_replace(injected, _PII_EMAIL_RE, "<EMAIL>")
    return d.select(
        "doc_id",
        (F.col("doc_id") % 7 == 0).alias("was_redacted"),
        F.md5(redacted).alias("red_digest"),
        F.length(injected).alias("len_before"),
        F.length(redacted).alias("len_after"),
    )


ORACLE_PII_REDACT = f"""
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com now'
              ELSE text END AS injected
  FROM documents)
SELECT doc_id,
       doc_id % 7 = 0 AS was_redacted,
       md5(regexp_replace(injected, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'))
         AS red_digest,
       CAST(length(injected) AS INT) AS len_before,
       CAST(length(regexp_replace(injected, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'))
            AS INT) AS len_after
FROM inj
"""


# ---------------------------------------------------------------------------
# Sparse TF-IDF retrieval
# ---------------------------------------------------------------------------

_SPARSE_QUERY_TERMS = 3
_SPARSE_TOPK = 10


def q_sparse_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical retrieval — the inverted-index search shape that
    complements the dense ANN family: a TF-IDF-weighted dot product
    between a query and every document sharing a query term, top-k by
    score.

    The query is derived deterministically from the corpus (the
    _SPARSE_QUERY_TERMS highest-document-frequency tokens, ties by
    token) so both engines search for the same thing.  Scale shape:
    postings = one (doc, token) partial-agg shuffle; the query-term
    weights are a Q-row broadcast, so scoring touches ONLY postings of
    query terms (index-pruned, never a corpus scan per query); final
    ranking is TakeOrdered on the rounded score with doc_id
    tie-break.  Both engines rank by the ROUNDED score so sub-ulp
    summation differences cannot reorder the cut.
    """
    import math

    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()
    if n_docs == 0:
        return spark.createDataFrame([], "doc_id bigint, score double")
    # persisted: the query-term argmax below materializes this lineage
    # and the returned scoring plan reuses it (dedup_groups/ivf house
    # pattern) — without the cache the corpus is tokenized twice.  The
    # returned plan still reads it, so it is release-tracked.
    postings = _persist_tracked(
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_counts = postings.groupBy("tok").agg(F.count("*").alias("df"))
    qterms = df_counts.orderBy(F.col("df").desc(), F.col("tok")).head(
        _SPARSE_QUERY_TERMS
    )
    qdf = spark.createDataFrame(
        [(r["tok"], math.log(n_docs / r["df"])) for r in qterms],
        "tok string, idf double",
    )
    scored = (
        postings.join(F.broadcast(qdf), "tok")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("tf") * F.col("idf") * F.col("idf")), 4
            ).alias("score")
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(
        _SPARSE_TOPK
    )


ORACLE_SPARSE_RETRIEVAL = f"""
WITH postings AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY doc_id, tok),
dfs AS (SELECT tok, count(*) AS df FROM postings GROUP BY tok),
n AS (SELECT count(*) AS n_docs FROM documents),
q AS (
  SELECT tok, ln(CAST(n.n_docs AS DOUBLE) / df) AS idf
  FROM dfs, n ORDER BY df DESC, tok LIMIT {_SPARSE_QUERY_TERMS}),
scored AS (
  SELECT p.doc_id, round(sum(p.tf * q.idf * q.idf), 4) AS score
  FROM postings p JOIN q ON p.tok = q.tok
  GROUP BY p.doc_id)
SELECT doc_id, score FROM scored
ORDER BY score DESC, doc_id LIMIT {_SPARSE_TOPK}
"""


# ---------------------------------------------------------------------------
# BPE merge training
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 2


def _bpe_pairs(sym_col: str):
    """Adjacent symbol pairs of a space-separated symbol string,
    built in-array (no per-symbol shuffle); words of one symbol
    contribute nothing."""
    return F.when(
        F.size(F.split(F.col(sym_col), " ")) >= 2,
        F.expr(
            f"transform(sequence(1, size(split({sym_col}, ' ')) - 1),"
            f" i -> concat(split({sym_col}, ' ')[i - 1], ' ',"
            f" split({sym_col}, ' ')[i]))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge training, the real tokenizer-training
    shape: {_BPE_ROUNDS} rounds of (weighted adjacent-pair count →
    argmax → merge), run over the WORD-FREQUENCY table — the classic
    BPE factorization where the corpus reduces once to (word, count)
    and every round's pair statistics are partial-aggregated sums over
    the vocabulary, never the corpus.

    Scale: the corpus is touched once (token count groupBy); each
    round is a vocab-sized map (in-array pair construction) + one
    partial-agg exchange + a 1-row argmax fetch (the merge decision is
    a constant, like the k-means centroids).  Tie-break deterministic:
    highest count, then lexicographic pair.  The oracle replays both
    rounds in CTEs — same left-to-right non-overlapping `replace`
    semantics in both engines.
    """
    d = _t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    # char-spaced symbol string: 'hello' -> 'h e l l o'.  Each round's
    # symbol table is cached before its argmax materializes it, so the
    # corpus is tokenized once and round k+1 rewrites round k's CACHED
    # vocab rather than replaying the whole lineage from the raw scan
    # (kmeans_lloyd/dedup_groups precedent).  The result is a local
    # frame built from the collected merges, so every cached table is
    # released before returning.
    cur = vocab.select(
        F.trim(F.regexp_replace(F.col("tok"), "(.)", "$1 ")).alias("sym"), "cnt"
    ).cache()
    cached = [cur]
    out_rows = []
    for rank in range(1, _BPE_ROUNDS + 1):
        pair_counts = (
            cur.select(F.explode(_bpe_pairs("sym")).alias("pair"), "cnt")
            .groupBy("pair")
            .agg(F.sum("cnt").alias("c"))
        )
        best = pair_counts.orderBy(F.col("c").desc(), F.col("pair")).head(1)
        if not best:  # degenerate corpus: no pairs at all
            break
        pair, c = best[0]["pair"], best[0]["c"]
        out_rows.append((rank, pair, int(c)))
        cur = cur.select(
            F.replace(
                F.col("sym"), F.lit(pair), F.lit(pair.replace(" ", ""))
            ).alias("sym"),
            "cnt",
        ).cache()
        cached.append(cur)
    for df in cached:
        df.unpersist()
    return spark.createDataFrame(
        out_rows, "merge_rank int, pair string, pair_count bigint"
    )


ORACLE_BPE_MERGES = r"""
WITH vocab AS (
  SELECT tok, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY tok),
v0 AS (
  SELECT trim(regexp_replace(tok, '(.)', '\1 ', 'g')) AS sym, cnt FROM vocab),
e1 AS (
  SELECT sym, cnt,
         unnest(string_split(sym, ' ')) AS s,
         unnest(range(1, len(string_split(sym, ' ')) + 1)) AS pos
  FROM v0),
p1 AS (
  SELECT s || ' ' || lead(s) OVER (PARTITION BY sym ORDER BY pos) AS pair, cnt
  FROM e1),
c1 AS (SELECT pair, sum(cnt) AS c FROM p1 WHERE pair IS NOT NULL GROUP BY pair),
b1 AS (SELECT pair, c FROM c1 ORDER BY c DESC, pair LIMIT 1),
v1 AS (
  SELECT replace(sym, b1.pair, replace(b1.pair, ' ', '')) AS sym, cnt
  FROM v0, b1),
e2 AS (
  SELECT sym, cnt,
         unnest(string_split(sym, ' ')) AS s,
         unnest(range(1, len(string_split(sym, ' ')) + 1)) AS pos
  FROM v1),
p2 AS (
  SELECT s || ' ' || lead(s) OVER (PARTITION BY sym ORDER BY pos) AS pair, cnt
  FROM e2),
c2 AS (SELECT pair, sum(cnt) AS c FROM p2 WHERE pair IS NOT NULL GROUP BY pair),
b2 AS (SELECT pair, c FROM c2 ORDER BY c DESC, pair LIMIT 1)
SELECT CAST(1 AS INT) AS merge_rank, pair, CAST(c AS BIGINT) AS pair_count FROM b1
UNION ALL
SELECT CAST(2 AS INT), pair, CAST(c AS BIGINT) FROM b2
"""


# ---------------------------------------------------------------------------
# PageRank over the customer-supplier graph
# ---------------------------------------------------------------------------

_PR_DAMPING = 0.85
_PR_ITERS = 2


def q_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 fixed power iterations, d=0.85) over the undirected
    customer↔supplier purchase graph — the graph-analytics family
    beyond connected components: who are the most central parties in
    the order network.

    Graph build: distinct (customer, supplier) pairs from
    orders⋈lineitem, symmetrized (both directions) so no dangling
    nodes exist and every node's out-degree is its degree.  Each
    iteration is the canonical join-shape: edges⋈ranks on the source
    (one shuffle), degree join on the SAME key (exchange reused),
    partial-agg sum per destination.  Unrolled 2× like kmeans_lloyd;
    at 100 TB the loop adds localCheckpoint per round (cf.
    dedup_groups) — identical plan per iteration.

    FP contract (kmeans precedent): ranks are float32-quantized after
    every iteration on BOTH engines (CAST AS REAL), so Spark's
    partial-aggregation summation order and DuckDB's sequential sum
    cannot diverge below the quantization; output rounds the float32
    value at 8 dp.
    """
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # Persist the symmetrized edge table keyed by src: every iteration
    # joins it on src twice (ranks, degrees), and unpersisted each of
    # those references re-derived the orders⋈lineitem distinct from
    # scratch (2 iterations + deg + n_df ≈ 7 re-derivations).  The
    # repartition keys the cache so the per-iteration src-side joins
    # and deg's groupBy(src) reuse the partitioning with no further
    # edge-table exchange (guide §2.4); deg is node-sized, persisted
    # for the same once-not-thrice reason.
    edges = _persist_tracked(
        pairs.unionAll(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).repartition("src")
    )
    deg = _persist_tracked(edges.groupBy("src").agg(F.count("*").alias("d")))
    n_df = edges.agg(F.countDistinct("src").alias("n"))
    ranks = deg.crossJoin(F.broadcast(n_df)).select(
        F.col("src").alias("node"), (F.lit(1.0) / F.col("n")).cast("float").alias("r")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .select("dst", (F.col("r") / F.col("d")).alias("c"))
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .crossJoin(F.broadcast(n_df))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(1 - _PR_DAMPING) / F.col("n")
                    + F.lit(_PR_DAMPING) * F.col("s")
                )
                .cast("float")
                .alias("r"),
            )
        )
    return ranks.select(
        "node", F.round(F.col("r").cast("double"), 8).alias("rank")
    )


ORACLE_PAGERANK_BIPARTITE = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
edges AS (
  SELECT src, dst FROM pairs
  UNION ALL SELECT dst AS src, src AS dst FROM pairs),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
nn AS (SELECT count(DISTINCT src) AS n FROM edges),
r0 AS (
  SELECT deg.src AS node, CAST(CAST(1.0 AS DOUBLE) / nn.n AS REAL) AS r
  FROM deg, nn),
r1 AS (
  SELECT e.dst AS node,
         CAST(CAST({1 - _PR_DAMPING} AS DOUBLE) / any_value(nn.n)
              + CAST({_PR_DAMPING} AS DOUBLE) * sum(r0.r / deg.d) AS REAL) AS r
  FROM edges e
  JOIN r0 ON r0.node = e.src
  JOIN deg ON deg.src = e.src, nn
  GROUP BY e.dst),
r2 AS (
  SELECT e.dst AS node,
         CAST(CAST({1 - _PR_DAMPING} AS DOUBLE) / any_value(nn.n)
              + CAST({_PR_DAMPING} AS DOUBLE) * sum(r1.r / deg.d) AS REAL) AS r
  FROM edges e
  JOIN r1 ON r1.node = e.src
  JOIN deg ON deg.src = e.src, nn
  GROUP BY e.dst)
SELECT node, round(CAST(r AS DOUBLE), 8) AS rank FROM r2
"""


# ---------------------------------------------------------------------------
# Semi-structured event properties
# ---------------------------------------------------------------------------


def q_event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from the events table's native JSON ``props``
    column (`from_json` with an explicit schema — the JVM-side typed
    path, not per-row Python or schema inference) aggregated per event
    type — the semi-structured ingestion shape for tool-output
    payloads riding alongside transcript turns.

    Scale: parse + project are map-side inside whole-stage codegen; a
    malformed document yields NULL (PERMISSIVE) and is counted
    explicitly rather than killing the job; one partial-agg exchange.
    Complements ``json_roundtrip`` (which pins serialize→parse over
    synthesized payloads) by exercising the fixture's real JSON column.
    """
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k int").getField("k").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("n_bad"),
        F.sum("k").alias("k_sum"),
        F.max("k").alias("k_max"),
    )


ORACLE_EVENT_PROPS_JSON = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(*) FILTER (WHERE json_extract(props, '$.k') IS NULL)
            AS BIGINT) AS n_bad,
       CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
       CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS k_max
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Distributed exact quantiles (two-pass histogram selection)
# ---------------------------------------------------------------------------

_GQD_BUCKETS = 128
_GQD_PS = (("p50", 0.5), ("p95", 0.95))


def q_group_quantiles_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group quantiles without buffering any group: the
    two-pass histogram-selection algorithm — the scale-correct exact
    path that `group_quantiles` (single-node `percentile` buffering,
    honest-but-weak per VERDICT r2) trades away, and the exact
    complement to the t-digest `group_quantiles_approx` entry.

    Pass structure:

    1. K-row stats (count/min/max per flag) and a K×B bucket histogram
       — both partially-aggregated shuffles whose DRIVER footprint is
       the bounded constant K×B (3×128 here), never row data.
    2. The driver walks the cumulative histogram to find, for each
       target rank (floor/ceil of (n−1)·p), the bucket containing it
       and the row-rank offset below that bucket.  Only those buckets'
       rows are re-scanned: ranked with a per-(flag, bucket) window
       (state bounded by one bucket's occupancy ≈ n/B — pick B so this
       fits an executor) and offset to a global rank by the
       cumulative-below constant.
    3. The ≤ 4 selected order statistics per flag join the percentile
       spec and interpolate exactly as `percentile`/`quantile_cont`
       do: vL + (vU − vL)·frac, same expression shape both engines.

    Oracle: identical to ORACLE_GROUP_QUANTILES — this entry must
    reproduce DuckDB's `quantile_cont` bit-for-bit (mod the shared
    round-4) while never materializing a group.
    """
    import math

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").alias("v")
    )
    stat_rows = (
        li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    )
    empty_schema = (
        "l_returnflag string, p50_price double, p95_price double, n_items bigint"
    )
    if not stat_rows:
        return spark.createDataFrame([], empty_schema)
    stats = {r["l_returnflag"]: r for r in stat_rows}
    B = _GQD_BUCKETS
    stats_df = spark.createDataFrame(
        [(f, s["n"], float(s["lo"]), float(s["hi"])) for f, s in stats.items()],
        "l_returnflag string, n bigint, lo double, hi double",
    )
    bucketed = li.join(F.broadcast(stats_df), "l_returnflag").withColumn(
        "bucket",
        F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
            F.least(
                F.lit(B - 1),
                F.floor(
                    (F.col("v") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / B)
                ).cast("int"),
            )
        ),
    )
    hist = (
        bucketed.groupBy("l_returnflag", "bucket")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    counts: dict[str, dict[int, int]] = {}
    for r in hist:
        counts.setdefault(r["l_returnflag"], {})[r["bucket"]] = r["c"]

    spec = []  # (flag, pname, kL, kU, frac)
    need: dict[str, set[int]] = {}
    for f, s in stats.items():
        n = s["n"]
        for pname, p in _GQD_PS:
            h = (n - 1) * p
            kl, ku = int(math.floor(h)), int(math.ceil(h))
            spec.append((f, pname, kl, ku, h - math.floor(h)))
            need.setdefault(f, set()).update((kl, ku))

    # cumulative walk: which buckets hold the needed ranks, and how
    # many rows sit strictly below each such bucket
    cum_before = []  # (flag, bucket, rows_below)
    for f, ranks in need.items():
        below = 0
        remaining = set(ranks)
        for b in range(B):
            c = counts[f].get(b, 0)
            if any(below <= r < below + c for r in remaining):
                cum_before.append((f, b, below))
                remaining -= {r for r in remaining if below <= r < below + c}
            below += c
    cb_df = spark.createDataFrame(
        cum_before, "l_returnflag string, bucket int, rows_below bigint"
    )
    ranks_df = spark.createDataFrame(
        [(f, r) for f, rs in need.items() for r in sorted(rs)],
        "l_returnflag string, grank bigint",
    )
    w = Window.partitionBy("l_returnflag", "bucket").orderBy("v")
    selected = (
        bucketed.join(F.broadcast(cb_df), ["l_returnflag", "bucket"])
        .withColumn(
            "grank", F.row_number().over(w) - 1 + F.col("rows_below")
        )
        .join(F.broadcast(ranks_df), ["l_returnflag", "grank"])
        .select("l_returnflag", "grank", "v")
    )
    spec_df = spark.createDataFrame(
        spec, "l_returnflag string, pname string, kl bigint, ku bigint, frac double"
    )
    vl = selected.select(
        "l_returnflag", F.col("grank").alias("kl"), F.col("v").alias("vl")
    )
    vu = selected.select(
        "l_returnflag", F.col("grank").alias("ku"), F.col("v").alias("vu")
    )
    q = (
        spec_df.join(vl, ["l_returnflag", "kl"])
        .join(vu, ["l_returnflag", "ku"])
        .withColumn(
            "q",
            F.round(
                F.col("vl") + (F.col("vu") - F.col("vl")) * F.col("frac"), 4
            ),
        )
    )
    return (
        q.groupBy("l_returnflag")
        .agg(
            F.max(F.when(F.col("pname") == "p50", F.col("q"))).alias("p50_price"),
            F.max(F.when(F.col("pname") == "p95", F.col("q"))).alias("p95_price"),
        )
        .join(
            F.broadcast(stats_df.select("l_returnflag", F.col("n").alias("n_items"))),
            "l_returnflag",
        )
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters
# ---------------------------------------------------------------------------

_CMS_ROWS = 3
_CMS_WIDTH = 256
_CMS_MIN_COUNT = 100  # heavy-hitter threshold on exact counts
_HEX = "0123456789abcdef"


def _cms_bucket_expr(k: int, col: str, dialect: str) -> str:
    """One CMS hash row: the first 2 hex digits (8 bits, exactly
    [0, _CMS_WIDTH)) of md5(seed‖token) → bucket.  Rendered for both
    dialects from the same template (house pattern, cf. _LANG_MARKERS)
    so Spark and DuckDB compute bit-identical buckets — md5, substr,
    and the hex-digit position lookup all behave identically."""
    assert _CMS_WIDTH == 256  # 2 hex digits span the width exactly
    pos = "instr" if dialect == "spark" else "strpos"
    digest = f"md5(concat('cms{k}:', {col}))"
    digits = [
        f"({pos}('{_HEX}', substr({digest}, {i + 1}, 1)) - 1)" for i in range(2)
    ]
    return f"({digits[0]} * 16 + {digits[1]})"


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a from-scratch Count-Min sketch: per-token
    frequency estimated as min over _CMS_ROWS hash rows of a
    _CMS_ROWS×_CMS_WIDTH counter matrix — the fixed-memory pass a
    100 TB pipeline uses to find hot tokens WITHOUT a vocabulary-sized
    exact aggregation (the sketch is K·W counters per partition,
    merged by summation; the exact per-token groupBy here exists only
    to label the output and verify the estimate).

    Everything is deterministic (md5-derived hash rows shared by both
    engines), so unlike probabilistic-bound contracts the oracle
    replays the sketch EXACTLY: same buckets, same counters, same min.
    Output: each heavy token (exact count ≥ _CMS_MIN_COUNT) with its
    exact count, its CMS estimate, and the overestimate amount (≥ 0 by
    the CMS one-sided-error property).
    """
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
    )
    buckets = toks.select(
        "tok",
        *[
            F.expr(_cms_bucket_expr(k, "tok", "spark")).alias(f"b{k}")
            for k in range(_CMS_ROWS)
        ],
    )
    # the sketch: K separate (bucket -> count) aggregates, one shuffle
    # each of W-bounded partial rows (union-able into a single pass
    # over a (row, bucket) pair column at scale; kept per-row here for
    # plan clarity)
    sketches = [
        buckets.groupBy(F.col(f"b{k}").alias("bucket"))
        .agg(F.count("*").alias(f"c{k}"))
        for k in range(_CMS_ROWS)
    ]
    exact = (
        buckets.groupBy("tok", *[f"b{k}" for k in range(_CMS_ROWS)])
        .agg(F.count("*").alias("exact_count"))
        .where(F.col("exact_count") >= _CMS_MIN_COUNT)
    )
    est = exact
    for k in range(_CMS_ROWS):
        est = est.join(
            F.broadcast(sketches[k]), est[f"b{k}"] == sketches[k]["bucket"]
        ).drop("bucket")
    return est.select(
        "tok",
        "exact_count",
        F.least(*[F.col(f"c{k}") for k in range(_CMS_ROWS)]).alias("cms_estimate"),
        (
            F.least(*[F.col(f"c{k}") for k in range(_CMS_ROWS)])
            - F.col("exact_count")
        ).alias("overestimate"),
    )


def _cms_oracle() -> str:
    b = [_cms_bucket_expr(k, "tok", "duckdb") for k in range(_CMS_ROWS)]
    sketch_ctes = ",\n".join(
        f"s{k} AS (SELECT {b[k]} AS bucket, count(*) AS c{k} FROM toks2 GROUP BY 1)"
        for k in range(_CMS_ROWS)
    )
    joins = " ".join(f"JOIN s{k} ON s{k}.bucket = {b[k]}" for k in range(_CMS_ROWS))
    least = f"least({', '.join(f'c{k}' for k in range(_CMS_ROWS))})"
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
toks2 AS (SELECT tok FROM toks WHERE tok <> ''),
{sketch_ctes},
exact AS (
  SELECT tok, count(*) AS exact_count FROM toks2 GROUP BY tok
  HAVING count(*) >= {_CMS_MIN_COUNT})
SELECT e.tok, CAST(e.exact_count AS BIGINT) AS exact_count,
       CAST({least} AS BIGINT) AS cms_estimate,
       CAST({least} - e.exact_count AS BIGINT) AS overestimate
FROM (SELECT tok, exact_count FROM exact) e {joins}
"""


ORACLE_HEAVY_HITTERS_CMS = _cms_oracle()


# ---------------------------------------------------------------------------
# Streaming dynamic-gap session windows
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 600


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows (`F.session_window`) as a REAL
    streaming query: per-conversation activity sessions that merge
    turns closer than 10 minutes — the streaming twin of the batch
    ``sessionize`` entry, but using Spark's native merging session
    state rather than a lag/cumsum window, so state is per-open-session
    (bounded by the gap), not per-history.

    Turn timestamps are synthesized in deterministic bursts (3 turns
    30 s apart, then a 1 h silence) so each conversation genuinely
    splits into multiple sessions.  Complete-mode memory sink keeps the
    result batching-independent under ``availableNow`` (same contract
    as streaming_turn_rate); session bounds are emitted as epoch
    seconds — integer-exact on both engines.  Session semantics
    replayed by the oracle: a turn starts a new session iff its gap
    from the previous turn is >= the gap (Spark's session end =
    last event + gap, exclusive).
    """
    from .streaming import read_transcript_stream

    d = _t(spark, sf_dir, "documents")
    turns = d.select(
        F.concat(
            F.lit("conv-"), (F.col("doc_id") / 10).cast("bigint").cast("string")
        ).alias("conv_id"),
        (F.col("doc_id") % 10).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(
            F.lit(1767225600)
            + (F.col("doc_id") / 10).cast("bigint") * 86400
            + F.floor((F.col("doc_id") % 10) / 3) * 3600
            + (F.col("doc_id") % 10) * 30
        ).alias("ts"),
    )
    from .queries_ext import _mem_name, _stage_once

    indir = _stage_once(
        "sessions",
        spark,
        sf_dir,
        lambda d: turns.coalesce(1).write.parquet(d),
    )
    name = _mem_name("sess")
    try:
        with _ext._stream_state_width(spark):
            q = (
                read_transcript_stream(spark, indir)
                .withWatermark("ts", "2 hours")
                .groupBy(
                    F.session_window("ts", f"{_SESSION_GAP_S} seconds").alias("sw"),
                    "conv_id",
                )
                .agg(F.count("*").alias("n_turns"))
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # localCheckpoint detaches the result from the memory-sink table
        # so the table can be dropped here — otherwise each invocation
        # leaks a uniquely-named in-memory copy of the full result
        return spark.table(name).select(
            "conv_id",
            F.col("sw.start").cast("long").alias("sess_start"),
            F.col("sw.end").cast("long").alias("sess_end"),
            "n_turns",
        ).localCheckpoint()
    finally:
        spark.catalog.dropTempView(name)


ORACLE_STREAMING_SESSIONS = f"""
WITH turns AS (
  SELECT 'conv-' || CAST(doc_id // 10 AS VARCHAR) AS conv_id,
         1767225600 + (doc_id // 10) * 86400
           + ((doc_id % 10) // 3) * 3600 + (doc_id % 10) * 30 AS ts_s
  FROM documents),
flag AS (
  SELECT conv_id, ts_s,
         CASE WHEN ts_s - lag(ts_s) OVER (PARTITION BY conv_id ORDER BY ts_s)
                   >= {_SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_sess
  FROM turns),
sess AS (
  SELECT conv_id, ts_s,
         sum(new_sess) OVER (PARTITION BY conv_id ORDER BY ts_s) AS sid
  FROM flag)
SELECT conv_id, CAST(min(ts_s) AS BIGINT) AS sess_start,
       CAST(max(ts_s) + {_SESSION_GAP_S} AS BIGINT) AS sess_end,
       CAST(count(*) AS BIGINT) AS n_turns
FROM sess GROUP BY conv_id, sid
"""


# ---------------------------------------------------------------------------
# Group-aware train/test split
# ---------------------------------------------------------------------------


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic group-aware train/test split: the whole
    conversation (doc_id//10, the same grouping the flagship
    extraction uses) lands in ONE split, so turns of a conversation
    can never leak across the boundary — the split discipline a
    training-data pipeline needs before eval-set contamination checks
    mean anything.

    The assignment is content-free and engine-portable: two hex chars
    of md5(group_id) → a bucket in [0, 256), train iff bucket <
    _SPLIT_TRAIN_BUCKETS.  A hash (not ``group_id % k``) so
    structured id ranges (per-source blocks, time-ordered appends)
    cannot bias either split.  Scale: the hash is map-side; one
    partial-agg groupBy(split) with a distinct-group count — no join,
    no second pass over payloads.
    """
    d = _t(spark, sf_dir, "documents")
    # one digest per row: conv(hex, 16, 10) decodes the 2 leading hex
    # digits directly (the DuckDB oracle, which lacks conv, replays the
    # same value via the _HEX strpos idiom — cf. _cms_bucket_expr)
    g = d.withColumn("grp", (F.col("doc_id") / 10).cast("bigint")).withColumn(
        "bucket",
        F.conv(F.substring(F.md5(F.col("grp").cast("string")), 1, 2), 16, 10).cast(
            "int"
        ),
    )
    split = F.when(F.col("bucket") < _SPLIT_TRAIN_BUCKETS, "train").otherwise("test")
    return (
        g.select(split.alias("split"), "grp", "n_chars")
        .groupBy("split")
        .agg(
            F.countDistinct("grp").alias("n_groups"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


ORACLE_TRAIN_TEST_SPLIT = f"""
WITH g AS (
  SELECT doc_id // 10 AS grp, n_chars,
         (strpos('0123456789abcdef', substr(md5(CAST(doc_id // 10 AS VARCHAR)), 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5(CAST(doc_id // 10 AS VARCHAR)), 2, 1)) - 1)
           AS bucket
  FROM documents)
SELECT CASE WHEN bucket < {_SPLIT_TRAIN_BUCKETS} THEN 'train' ELSE 'test' END
         AS split,
       CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM g GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Context-window chunking
# ---------------------------------------------------------------------------

_CHUNK_LEN = 200
_CHUNK_STEP = 150  # 50-char overlap


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking: every document is split
    into fixed-length character windows with a fixed stride — the
    embedding-pipeline pre-pass that turns long documents into
    retrievable passages with provenance offsets.

    Chunk starts are generated IN-ARRAY (`sequence(1, length, step)`)
    and exploded positionally — pure map-side expansion, no shuffle,
    no per-row Python; at 100 TB the output is written partitioned by
    the same key as the input so downstream embedding jobs stay
    co-located.  Offsets are 1-based (SQL substring convention) and
    carried with each chunk so any downstream hit maps back to its
    source span.
    """
    d = _t(spark, sf_dir, "documents")
    # empty-text guard is load-bearing: sequence(1, 0, step) throws
    # IllegalArgumentException; an empty doc must yield zero chunks
    # (the oracle's range(1, 1, step) is empty for the same row)
    starts = F.when(
        F.length("text") > 0,
        F.sequence(F.lit(1), F.length("text"), F.lit(_CHUNK_STEP)),
    ).otherwise(F.array().cast("array<int>"))
    return d.select(
        "doc_id",
        F.posexplode(starts).alias("chunk_idx", "start"),
        F.col("text"),
    ).select(
        "doc_id",
        "chunk_idx",
        "start",
        F.substring(F.col("text"), F.col("start"), F.lit(_CHUNK_LEN)).alias("chunk"),
        F.length(
            F.substring(F.col("text"), F.col("start"), F.lit(_CHUNK_LEN))
        ).alias("chunk_len"),
    )


ORACLE_CHUNK_DOCUMENTS = f"""
WITH starts AS (
  SELECT doc_id, text,
         unnest(range(1, length(text) + 1, {_CHUNK_STEP})) AS start,
         unnest(range(0, CAST(ceil(length(text) / {_CHUNK_STEP}.0) AS BIGINT)))
           AS chunk_idx
  FROM documents)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, CAST(start AS INT) AS start,
       substring(text, CAST(start AS INT), {_CHUNK_LEN}) AS chunk,
       CAST(length(substring(text, CAST(start AS INT), {_CHUNK_LEN})) AS INT)
         AS chunk_len
FROM starts
"""


# ---------------------------------------------------------------------------
# Int8 embedding quantization
# ---------------------------------------------------------------------------


def _int8_quantize_scorer(qq: np.ndarray):
    """mapInPandas scorer: symmetric per-vector int8 quantization +
    integer dot product against the (pre-quantized) query vector.

    All arithmetic is exact: quantized codes are integer-valued
    doubles in [-127, 127], so the dim-64 dot product (≤ ~10^6) is
    exact in float64 regardless of summation order — no FP-order
    contract needed, unlike the cosine kernels.
    """

    def score(batches):
        for pdf in batches:
            out_ids, out_dots, out_scales = [], [], []
            for vid, emb in zip(pdf["vec_id"], pdf["emb"]):
                v = np.asarray(emb, dtype=np.float64)
                s = float(np.max(np.abs(v))) if v.size else 0.0
                if s == 0.0:
                    qv = np.zeros_like(v)
                else:
                    qv = np.floor(v * 127.0 / s + 0.5)
                out_ids.append(vid)
                out_dots.append(int((qv * qq).sum()))
                out_scales.append(round(s, 6))
            yield pd.DataFrame(
                {"vec_id": out_ids, "qdot": out_dots, "scale": out_scales}
            )

    return score


def q_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding corpus + integer
    dot-product scoring against a quantized query — the 4× memory /
    bandwidth reduction that makes a 100 TB ANN index fit its
    executors (SQ8 in FAISS terms; here from-scratch, no library).

    Per vector: scale = max|x|/127, code_i = floor(x_i·127/max|x| +
    0.5) — everything derived from exact float64 ops both engines
    perform identically, so the oracle replays quantization
    bit-for-bit (no tolerance contract needed; see scorer docstring).
    Scale: map-side only (one Arrow pass, query codes ride the
    closure); the scored stream would feed TakeOrdered for top-k —
    emitted whole here so the gate hashes every code row.
    """
    e = _t(spark, sf_dir, "embeddings")
    qrow = e.where(F.col("vec_id") == 0).head(1)
    if not qrow:
        return spark.createDataFrame(
            [], "vec_id bigint, qdot bigint, scale double"
        )
    qv = np.asarray(qrow[0]["embedding"], dtype=np.float64)
    qs = float(np.max(np.abs(qv))) if qv.size else 0.0
    qq = np.zeros_like(qv) if qs == 0.0 else np.floor(qv * 127.0 / qs + 0.5)
    return (
        e.where(F.col("vec_id") != 0)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .mapInPandas(
            _int8_quantize_scorer(qq), "vec_id bigint, qdot bigint, scale double"
        )
    )


ORACLE_EMBED_QUANTIZE_INT8 = """
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
qs AS (
  SELECT qe, list_max(list_transform(qe, y -> abs(y))) AS s FROM q),
qq AS (
  SELECT CASE WHEN s = 0 THEN list_transform(qe, x -> 0.0)
              ELSE list_transform(qe, x -> floor(x * 127 / s + 0.5)) END AS qv
  FROM qs),
v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) AS s
  FROM embeddings WHERE vec_id <> 0),
vq AS (
  SELECT vec_id, s,
         CASE WHEN s = 0 THEN list_transform(ve, x -> 0.0)
              ELSE list_transform(ve, x -> floor(x * 127 / s + 0.5)) END AS qv
  FROM v)
SELECT vq.vec_id,
       CAST((SELECT sum(a * b)
             FROM (SELECT unnest(vq.qv) AS a, unnest(qq.qv) AS b)) AS BIGINT)
         AS qdot,
       round(vq.s, 6) AS scale
FROM vq, qq
"""


# ---------------------------------------------------------------------------
# One-pass column profiling (Deequ-style)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

# one template renders BOTH engines (the lang_quality/heavy_hitters house
# pattern): stat -> (Spark column builder, DuckDB SQL term)
_PROFILE_STATS = (
    ("n", lambda c: F.count(c).cast("double"), "CAST(count({c}) AS DOUBLE)"),
    (
        "n_null",
        lambda c: (F.count("*") - F.count(c)).cast("double"),
        "CAST(count(*) - count({c}) AS DOUBLE)",
    ),
    (
        "n_distinct",
        lambda c: F.countDistinct(c).cast("double"),
        "CAST(count(DISTINCT {c}) AS DOUBLE)",
    ),
    ("min", lambda c: F.min(c).cast("double"), "CAST(min({c}) AS DOUBLE)"),
    ("max", lambda c: F.max(c).cast("double"), "CAST(max({c}) AS DOUBLE)"),
    (
        "sum",
        lambda c: F.round(F.sum(c), 4).cast("double"),
        "round(CAST(sum({c}) AS DOUBLE), 4)",
    ),
    (
        "mean",
        lambda c: F.round(F.avg(c), 6).cast("double"),
        "round(CAST(avg({c}) AS DOUBLE), 6)",
    ),
)


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style table profiling: count / nulls / exact NDV / min /
    max / sum / mean for every numeric column of lineitem, in ONE
    aggregation pass — the pre-ingest audit every pipeline runs before
    trusting a new snapshot.

    All 28 statistics fold in a single partial-aggregated agg (the
    count-distincts share one Expand), then an in-array explode
    unpivots to the (column, stat, value) long form — one table scan,
    one job.  Shuffle honesty: because the NDVs are EXACT, the first
    exchange is hash-partitioned on the distinct-value columns and
    carries NDV-scaled partials (near row-scaled for
    l_extendedprice); only the second exchange is the 1-row
    SinglePartition merge.  At 100 TB the exact NDV swaps for
    approx_count_distinct (HLL — mergeable, bounded memory, turns the
    whole agg into 1-row partials); the contract-check oracle pattern
    of approx_distinct covers that variant.  Sums/means round
    (partial-agg order); counts/min/max are exact on both engines.
    """
    # NOT spread (r6): the profile includes avg() over double columns,
    # and changing the scan's partial-aggregation order moves the
    # IEEE sum by an ulp — enough to flip the rounded display digit
    # vs the oracle (caught by the sf0.01 value-hash sweep).  The
    # exact-NDV Expand therefore stays in the scan stage; integer-only
    # aggregations elsewhere may spread, float sums must not.
    li = _t(spark, sf_dir, "lineitem").select(*_PROFILE_COLS)
    aggs = []
    for c in _PROFILE_COLS:
        for stat, builder, _ in _PROFILE_STATS:
            aggs.append(builder(c).alias(f"{c}__{stat}"))
    a = li.agg(*aggs)
    cells = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.lit(stat).alias("stat"),
                F.col(f"{c}__{stat}").alias("value"),
            )
            for c in _PROFILE_COLS
            for stat, _, _ in _PROFILE_STATS
        ]
    )
    return a.select(F.explode(cells).alias("s")).select(
        "s.column", "s.stat", "s.value"
    )


# One scan, mirroring the Spark side's one-pass structure: all 28
# aggregates in a single SELECT, then the 1-row result unpivots via
# UNION ALL (28 scans of a 1-row CTE, not 28 scans of lineitem).
ORACLE_PROFILE_TABLE = (
    "WITH a AS (SELECT "
    + ", ".join(
        f"{term.format(c=c)} AS {c}__{stat}"
        for c in _PROFILE_COLS
        for stat, _, term in _PROFILE_STATS
    )
    + " FROM lineitem)\n"
    + "\nUNION ALL ".join(
        f"SELECT '{c}' AS column, '{stat}' AS stat, {c}__{stat} AS value "
        "FROM a"
        for c in _PROFILE_COLS
        for stat, _, _ in _PROFILE_STATS
    )
)


# ---------------------------------------------------------------------------
# Z-order clustering values (multi-dimensional layout)
# ---------------------------------------------------------------------------

_Z_BITS = 16
# zbucket keeps the top _Z_BUCKET_BITS of the 2*_Z_BITS-bit z-value —
# the shift is DERIVED so retuning _Z_BITS (e.g. 21 for sf100 key
# ranges) keeps "the high bits" semantics in both renderers.
_Z_BUCKET_BITS = 18
_Z_BUCKET_SHIFT = 2 * _Z_BITS - _Z_BUCKET_BITS


def _z_interleave(a, b):
    """Morton/z-order interleave of the low _Z_BITS bits of two integer
    columns: bit j of ``a`` lands at position 2j, bit j of ``b`` at
    2j+1 — a fixed tree of 2*_Z_BITS shift/mask terms, whole-stage
    codegen'd, zero shuffle."""
    terms = []
    for j in range(_Z_BITS):
        terms.append(
            F.shiftleft(F.shiftright(a, j).bitwiseAND(F.lit(1)), 2 * j)
        )
        terms.append(
            F.shiftleft(F.shiftright(b, j).bitwiseAND(F.lit(1)), 2 * j + 1)
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def q_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering values over (l_partkey, l_suppkey) —
    the space-filling-curve primitive behind Delta/Iceberg
    ``OPTIMIZE ZORDER BY``: sorting by the interleaved value gives
    every file a tight bounding box on BOTH dimensions, so min/max
    data skipping prunes scans filtered on either column (a plain sort
    clusters only its leading column).

    The z-value is a pure map-side integer expression (32 shift/mask
    terms, exact in BIGINT on both engines); ``zbucket`` (the high
    bits) is the file-assignment key a table-maintenance job would
    range-partition on.  tests/test_write_layout.py pins the actual
    skipping benefit: z-sorted parquet row-groups bound both key
    ranges, single-column-sorted ones do not.
    """
    li = _t(spark, sf_dir, "lineitem")
    z = _z_interleave(F.col("l_partkey"), F.col("l_suppkey"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        z.alias("zval"),
        F.shiftright(z, _Z_BUCKET_SHIFT).alias("zbucket"),
    )


def _oracle_zorder() -> str:
    terms = []
    for j in range(_Z_BITS):
        terms.append(f"(((l_partkey >> {j}) & 1) << {2 * j})")
        terms.append(f"(((l_suppkey >> {j}) & 1) << {2 * j + 1})")
    zexpr = " + ".join(terms)
    return f"""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       CAST({zexpr} AS BIGINT) AS zval,
       CAST(({zexpr}) >> {_Z_BUCKET_SHIFT} AS BIGINT) AS zbucket
FROM lineitem
"""


# ---------------------------------------------------------------------------
# bloom_probe — Bloom-filter membership sketch: build + probe + audit
# ---------------------------------------------------------------------------

_BLOOM_WORDS = 32   # 32 words x 32 bits = m = 1024 bits
_BLOOM_BITS = 32
_BLOOM_K = 3        # hash functions
_BLOOM_MEMBER_LANG = "de"  # the "blocked" member set


def _bloom_positions(dialect: str) -> list:
    """k = 3 independent 10-bit positions from md5(doc_id ':b' i) via
    the portable hex-alphabet hash (the bootstrap_ci family), mod
    m = 1024."""
    strtype = "STRING" if dialect == "spark" else "VARCHAR"

    def hexv(i: int, j: int) -> str:
        return (
            f"(instr('0123456789abcdef', substr(md5("
            f"CAST(doc_id AS {strtype}) || ':b{i}'"
            f"), {j}, 1)) - 1)"
        )

    return [
        f"(((({hexv(i, 1)} * 16 + {hexv(i, 2)}) * 16 + {hexv(i, 3)})"
        f" * 16 + {hexv(i, 4)}) % {_BLOOM_WORDS * _BLOOM_BITS})"
        for i in range(_BLOOM_K)
    ]


def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership audit: BUILD a 1024-bit / k=3 Bloom
    filter over the blocked member set (documents with lang = 'de')
    as a mergeable bit_or sketch, PROBE every document against it, and
    report the (is_member, bloom_pass) confusion cells — the
    seen-before / blocklist test every ingest edge runs before paying
    for an exact anti-join, with the false-positive mass measured
    instead of assumed.

    The filter state is 32 x 32-bit words (BIGINT-safe masks, no sign
    bit in play), built by a bounded-key ``bit_or`` partial agg — the
    mergeable-sketch property ``sketch_rollup`` pins for HLL holds
    here by construction (bit_or is associative/commutative).  Hash
    positions come from the portable md5 hex-alphabet hash, so build
    and probe are bit-identical on both engines; no false negative is
    possible and the test suite asserts that cell is empty.

    Scale: build = map-side explode of k positions -> 32-row bit_or
    agg; probe = k-position explode joined to the 32-row BROADCAST
    filter, then a per-doc bool_and and a 4-cell rollup.  The member
    table is never joined against the probe table — that is the whole
    point of carrying the sketch.
    """
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    )
    pos_exprs = _bloom_positions("spark")
    pos_array = "array(" + ", ".join(pos_exprs) + ")"
    members = d.where(F.col("lang") == _BLOOM_MEMBER_LANG)
    bloom = (
        members.select(F.explode(F.expr(pos_array)).alias("p"))
        .select(
            (F.col("p") / _BLOOM_BITS).cast("int").alias("word"),
            # shiftleft() takes a literal count in the Python API; the
            # SQL form accepts the column expression
            F.expr(f"CAST(shiftleft(1, p % {_BLOOM_BITS}) AS BIGINT)")
            .alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    probes = d.select(
        "doc_id",
        (F.col("lang") == _BLOOM_MEMBER_LANG).alias("is_member"),
        F.explode(F.expr(pos_array)).alias("p"),
    ).select(
        "doc_id",
        "is_member",
        (F.col("p") / _BLOOM_BITS).cast("int").alias("word"),
        F.expr(f"CAST(shiftleft(1, p % {_BLOOM_BITS}) AS BIGINT)")
        .alias("mask"),
    )
    checked = probes.join(F.broadcast(bloom), "word", "left").select(
        "doc_id",
        "is_member",
        (
            F.col("bits").isNotNull()
            & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"))
        ).alias("hit"),
    )
    per_doc = checked.groupBy("doc_id", "is_member").agg(
        F.min(F.col("hit").cast("int")).alias("all_hit")
    )
    return (
        per_doc.groupBy("is_member")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("all_hit").cast("bigint").alias("n_bloom_pass"),
        )
        .select(
            "is_member",
            "n_docs",
            "n_bloom_pass",
            (F.col("n_docs") - F.col("n_bloom_pass")).alias("n_bloom_reject"),
        )
    )


def _oracle_bloom_probe() -> str:
    pos = _bloom_positions("duckdb")
    pos_rows = " UNION ALL ".join(
        f"SELECT doc_id, lang, ({p}) AS p FROM d" for p in pos
    )
    return f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents),
pos AS ({pos_rows}),
bloom AS (
  SELECT CAST(p // {_BLOOM_BITS} AS INT) AS word,
         bit_or(CAST((1 << (p % {_BLOOM_BITS})) AS BIGINT)) AS bits
  FROM pos WHERE lang = '{_BLOOM_MEMBER_LANG}'
  GROUP BY 1),
probes AS (
  SELECT doc_id, lang = '{_BLOOM_MEMBER_LANG}' AS is_member,
         CAST(p // {_BLOOM_BITS} AS INT) AS word,
         CAST((1 << (p % {_BLOOM_BITS})) AS BIGINT) AS mask
  FROM pos),
checked AS (
  SELECT doc_id, is_member,
         (b.bits IS NOT NULL AND (b.bits & mask) = mask) AS hit
  FROM probes LEFT JOIN bloom b USING (word)),
per_doc AS (
  SELECT doc_id, is_member, min(CAST(hit AS INT)) AS all_hit
  FROM checked GROUP BY 1, 2)
SELECT is_member,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(all_hit) AS BIGINT) AS n_bloom_pass,
       CAST(count(*) - sum(all_hit) AS BIGINT) AS n_bloom_reject
FROM per_doc GROUP BY is_member
"""


ORACLE_BLOOM_PROBE = _oracle_bloom_probe()


SCALE_QUERIES = {
    "skew_join_salted": q_skew_join_salted,
    "bloom_probe": q_bloom_probe,
    "sql_udf_extract": q_sql_udf_extract,
    "incremental_extract": q_incremental_extract,
    "snapshot_diff": q_snapshot_diff,
    "data_quality_checks": q_data_quality_checks,
    "rolling_window": q_rolling_window,
    "bigram_pmi": q_bigram_pmi,
    "embed_quantize_int8": q_embed_quantize_int8,
    "cohort_retention": q_cohort_retention,
    "train_test_split": q_train_test_split,
    "chunk_documents": q_chunk_documents,
    "streaming_sessions": q_streaming_sessions,
    "heavy_hitters_cms": q_heavy_hitters_cms,
    "group_quantiles_dist": q_group_quantiles_dist,
    "event_props_json": q_event_props_json,
    "pagerank_bipartite": q_pagerank_bipartite,
    "bpe_merges": q_bpe_merges,
    "sparse_retrieval": q_sparse_retrieval,
    "pii_redact": q_pii_redact,
    "profile_table": q_profile_table,
    "zorder_cluster": q_zorder_cluster,
}

SCALE_ORACLES = {
    "skew_join_salted": ORACLE_SKEW_JOIN_SALTED,
    "sql_udf_extract": ORACLE_SQL_UDF_EXTRACT,
    "incremental_extract": ORACLE_INCREMENTAL_EXTRACT,
    "snapshot_diff": ORACLE_SNAPSHOT_DIFF,
    "data_quality_checks": ORACLE_DATA_QUALITY_CHECKS,
    "rolling_window": ORACLE_ROLLING_WINDOW,
    "bigram_pmi": ORACLE_BIGRAM_PMI,
    "embed_quantize_int8": ORACLE_EMBED_QUANTIZE_INT8,
    "cohort_retention": ORACLE_COHORT_RETENTION,
    "train_test_split": ORACLE_TRAIN_TEST_SPLIT,
    "chunk_documents": ORACLE_CHUNK_DOCUMENTS,
    "streaming_sessions": ORACLE_STREAMING_SESSIONS,
    "heavy_hitters_cms": ORACLE_HEAVY_HITTERS_CMS,
    "group_quantiles_dist": _q.ORACLE_GROUP_QUANTILES,
    "event_props_json": ORACLE_EVENT_PROPS_JSON,
    "pagerank_bipartite": ORACLE_PAGERANK_BIPARTITE,
    "bpe_merges": ORACLE_BPE_MERGES,
    "sparse_retrieval": ORACLE_SPARSE_RETRIEVAL,
    "pii_redact": ORACLE_PII_REDACT,
    "profile_table": ORACLE_PROFILE_TABLE,
    "zorder_cluster": _oracle_zorder(),
    "bloom_probe": ORACLE_BLOOM_PROBE,
}

_q.QUERIES.update(SCALE_QUERIES)
_q.ORACLES.update(SCALE_ORACLES)
