"""Driver-facing query catalog: Spark implementations + DuckDB oracle SQL.

Each entry exposes one operator family from SURVEY.md §2 (relational
shell of the extraction pipeline) or one large-scale training-data
pipeline operation (dedup / similarity / text analysis / multimodal),
implemented Spark-first and cross-checked against an ANSI-SQL twin run
by DuckDB on the same parquet tables.

Scale notes appear per query: every implementation is chosen for the
plan it produces at 100 TB (broadcast small dims, partial aggregation,
single-shuffle groupBys, no driver-side loops), not just for sf0.01
correctness.
"""

from __future__ import annotations

from typing import Callable, Dict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .pipeline_e2e import (
    _LSH_BAND_CAP,
    _MINHASH_BAND_ROWS,
    _MINHASH_SEEDS,
    _MINHASH_VERIFY_THRESH,
    _minhash_candidates,
    _shingles_of,
    _synth_transcripts,
    _verified_pairs,
)
from .queries_multimodal import FEATURE_DIM

_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


# Memoized table handles: `spark.read.parquet` re-reads the footer and
# re-infers the schema on every call (~80 ms driver time, measured) even
# though the resulting DataFrame is an immutable logical plan that every
# catalog entry can share — the same role the session catalog plays for
# metastore tables.  Keyed by (sf_dir, name) with the owning session
# held alongside so a new SparkSession rebuilds instead of reusing a
# handle bound to a stopped JVM.  Driver-only: execution plans are
# unchanged (scans stay pruned/pushed per query).
_TABLE_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ent = _TABLE_CACHE.get((sf_dir, name))
    if ent is not None and ent[0] is spark:
        return ent[1]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _TABLE_CACHE[(sf_dir, name)] = (spark, df)
    return df


def _register_views(spark: SparkSession, sf_dir: str, names=_TABLES) -> None:
    for n in names:
        _t(spark, sf_dir, n).createOrReplaceTempView(n)


# ---------------------------------------------------------------------------
# Cache lifetime management
#
# Two kinds of persisted state live in this catalog:
#
# 1. Per-query temporaries (an IVF assignment both join sides read, a
#    score table both rankings read).  The catalog functions return
#    LAZY plans that still reference the cache, so they cannot
#    unpersist before returning — without an external release, a
#    123-query bench session accumulates every such block (ADVICE r3).
#    `_persist_tracked` registers them; harnesses call
#    `release_persists()` after materializing each returned DataFrame.
#
# 2. The session-lifetime materialized index: the verified near-dup
#    pair set, which three downstream operators (dedup_groups,
#    cc_largestar via both, dedup_keep_canonical) consume as their
#    edge input.  In production this is a parquet/Iceberg table built
#    once per corpus snapshot; here it is memoized per (session,
#    sf_dir) so the bench measures each CC variant's own cost, not a
#    re-run of the whole minhash->verify chain (VERDICT r3 #3).  It is
#    deliberately NOT release-tracked; memory is O(near-dup pairs).
# ---------------------------------------------------------------------------

_TRACKED_PERSISTS: list = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    df = df.persist()
    _TRACKED_PERSISTS.append(df)
    return df


def release_persists() -> None:
    """Unpersist every per-query temporary registered since the last
    release.  Call after the returned DataFrame has been materialized
    (count / noop write / compare) — the plans reference the cached
    blocks until then."""
    while _TRACKED_PERSISTS:
        _TRACKED_PERSISTS.pop().unpersist()


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan fan-out (guide §2.5, "input skew: one huge
    unsplittable file ... repartition immediately after the read").

    CPU-heavy map-side work directly above a parquet scan inherits the
    scan's split count.  The local fixtures are single-row-group files
    (1 split -> 1 task -> 1 core of 32 busy); a production corpus can
    hit the same wall via one giant unsplittable file.  When the input
    already carries >= defaultParallelism splits — every healthy
    at-scale layout — this returns ``df`` UNCHANGED, so it never adds
    a shuffle where the scan parallelizes naturally.  Call it on a
    narrow projection (select the needed columns first) so only those
    bytes cross the exchange, and only in front of expensive per-row
    compute; the round-robin exchange is deterministic under retries
    (sortBeforeRepartition stays on).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


_PAIRS_MEMO: Dict[tuple, DataFrame] = {}


def _session_key(spark: SparkSession) -> str:
    return spark.sparkContext.applicationId


# ---------------------------------------------------------------------------
# Relational shell (Catalyst built-ins the extraction pipeline is made of)
# ---------------------------------------------------------------------------

def q_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 scan + predicate pushdown + column pruning (SURVEY §2 S1).

    Scale: filter and 3-column projection reach the parquet reader
    (PushedFilters / ReadSchema) — at 100 TB this is the difference
    between reading 3 columns of some row groups and the whole table.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        )
    )


ORACLE_SCAN_PRUNE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(sum(l_extendedprice) AS DOUBLE), 4) AS sum_price
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
"""


def q_filter_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/D4/D5 two-stage gating as relational filters.

    Mirrors the detector's filter ordering (area gate before score gate,
    dbnet_detector.py:146-155): cheap predicate first, then the derived
    score. Catalyst collapses both into one scan-level filter.
    """
    d = _t(spark, sf_dir, "documents")
    scored = d.where(F.col("n_chars") >= 38).withColumn(  # D4: MIN_AREA
        "score", F.round(F.length("text") / (F.col("n_chars") + F.lit(1.0)), 6)
    )
    return scored.where(F.col("score") > 0.52).select(  # D5: BOX_THRESH
        F.col("doc_id").cast("bigint").alias("doc_id"), "score"
    )


ORACLE_FILTER_GATES = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       round(CAST(length(text) AS DOUBLE) / (n_chars + 1.0), 6) AS score
FROM documents
WHERE n_chars >= 38
  AND round(CAST(length(text) AS DOUBLE) / (n_chars + 1.0), 6) > 0.52
"""


def q_dispatch_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 payload-kind dispatch as a CASE branch + count per class
    (pipeline.py:272-288 analog)."""
    d = _t(spark, sf_dir, "documents")
    kind = (
        F.when(F.col("text").startswith("{"), F.lit("pdf_text"))
        .when(F.col("text").contains("<"), F.lit("html"))
        .when(F.col("text").contains("```"), F.lit("markup"))
        .otherwise(F.lit("plain"))
    )
    return d.groupBy(kind.alias("kind")).agg(F.count("*").alias("n_docs"))


ORACLE_DISPATCH_CASE = """
SELECT CASE WHEN text LIKE '{%' THEN 'pdf_text'
            WHEN contains(text, '<') THEN 'html'
            WHEN contains(text, '```') THEN 'markup'
            ELSE 'plain' END AS kind,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY 1
"""


def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S6 flatten: tokenize + explode + aggregate (the page-explode /
    span-tree-walk analog).

    Scale: explode is map-side; the single shuffle is the groupBy with
    partial aggregation (map-side combine) — token counting at 100 TB is
    exactly this plan.
    """
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 100)
    )


ORACLE_EXPLODE_TOKENS = """
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
HAVING count(*) >= 100
"""


def q_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 reading-order sort as a window: stable per-key ordering
    (pipeline.py:76 / Window.partitionBy(conv_id).orderBy(turn_idx))."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select("user_id", "event_id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
    )


ORACLE_READING_ORDER = """
SELECT user_id, event_id, CAST(rn AS INT) AS rn
FROM (SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events)
WHERE rn <= 3
"""


def q_text_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 ordered text assembly: per-key sort + '\\n'-join
    (__init__.py:93-101 analog) via collect_list + array_sort.

    Scale: one shuffle on the group key; the sort is within-group
    (array_sort on the collected structs), never a global sort.
    """
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            "user_id",
            F.array_join(F.transform("evs", lambda s: s["event_type"]), "\n").alias(
                "assembled"
            ),
        )
    )


ORACLE_TEXT_ASSEMBLY = """
SELECT user_id,
       string_agg(event_type, chr(10) ORDER BY ts, event_id) AS assembled
FROM events
GROUP BY user_id
"""


def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 join analog: fact ⋈ dim with an explicit broadcast hint.

    Scale: customer is the small side — broadcasting it removes the
    shuffle of the orders fact entirely (the 100 TB-critical choice).
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )


ORACLE_JOIN_BROADCAST = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(o_totalprice) AS DOUBLE), 4) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_multi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join chain (TPC-H Q5 shape): fact joined through broadcast
    dims region→nation→customer, revenue per nation.

    Scale: all three dims broadcast; the only shuffle left is the final
    aggregation — Catalyst + AQE keep the fact table pipeline-local.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    )


ORACLE_MULTI_JOIN = """
SELECT n_name, r_name, round(CAST(sum(o_totalprice) AS DOUBLE), 4) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
"""


def q_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shape pricing summary: the canonical partial-agg plan
    (map-side combine before the single shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_GROUPBY_AGG = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(l_quantity) AS DOUBLE), 4) AS sum_qty,
       round(CAST(sum(l_extendedprice) AS DOUBLE), 4) AS sum_base_price,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 4) AS sum_disc_price,
       round(CAST(avg(l_quantity) AS DOUBLE), 6) AS avg_qty,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_order_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 order restore: global top-N by key with deterministic
    tie-break (pipeline.py:167-188 index-placement analog).

    Scale: TakeOrderedAndProject — per-partition top-N then a single
    driver merge of N×P rows; never a full sort.
    """
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", F.round("o_totalprice", 4).alias("total"))
        .limit(10)
    )


ORACLE_ORDER_RESTORE = """
SELECT o_orderkey, round(CAST(o_totalprice AS DOUBLE), 4) AS total
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (row_number ≤ k) — the per-conversation
    'first k turns' pattern."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .select("o_custkey", "o_orderkey", "rk")
    )


ORACLE_TOPK_PER_GROUP = """
SELECT o_custkey, o_orderkey, CAST(rk AS INT) AS rk
FROM (SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
WHERE rk <= 2
"""


def q_part_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dim fact join (lineitem ⋈ part ⋈ supplier): revenue by part
    brand and supplier nation — TPC-H Q9-shape without the order side.

    Scale: both dims broadcast (part and supplier are ~1/5000th of
    lineitem); the fact table streams through two broadcast joins with
    zero fact shuffles, then one aggregation exchange.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("p_brand", "s_nationkey")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
    )


ORACLE_PART_SUPPLIER_REVENUE = """
SELECT p_brand, s_nationkey,
       CAST(count(*) AS BIGINT) AS n_items,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 4) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY p_brand, s_nationkey
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join: customers with no orders (the 'unprocessed items'
    pattern of a resumable pipeline — find keys the sink doesn't have).

    Scale: Spark plans anti joins with a broadcast when the right side's
    distinct keys fit (here orders' keys are reduced before the join by
    Catalyst); the classic 100 TB shape is anti-joining the manifest of
    done keys (small) against the corpus (huge) — broadcastable.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


ORACLE_ANTI_JOIN = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
"""


def q_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: event counts at (day, type), (day), and grand
    total in one pass — the reporting rollup a curation pipeline emits.

    Scale: Spark expands rollup into grouping sets within the same
    single-shuffle aggregate (partial agg still applies); no extra pass
    per level.
    """
    e = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    return (
        e.rollup(day, F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            # rollup levels surface as NULL keys — coalesce to sentinels so
            # the output is total-orderable (and comparator-friendly)
            F.coalesce(F.col("day"), F.lit("1900-01-01").cast("timestamp")).alias("day"),
            F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
            "n",
        )
    )


ORACLE_ROLLUP_DAILY = """
SELECT coalesce(day, TIMESTAMP '1900-01-01') AS day,
       coalesce(event_type, '(all)') AS event_type,
       CAST(n AS BIGINT) AS n
FROM (SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
      FROM events
      GROUP BY ROLLUP(date_trunc('day', ts), event_type))
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-ish sessionization via lag + cumulative sum windows:
    a 30-minute inactivity gap starts a new session."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(0)
    sess = e.withColumn("new_sess", F.coalesce(gap, F.lit(0))).withColumn(
        "sess_id", F.sum("new_sess").over(w)
    )
    return sess.groupBy("user_id").agg(
        (F.max("sess_id") + 1).alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


ORACLE_SESSIONIZE = """
SELECT user_id,
       CAST(max(sess_id) + 1 AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess_id
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                THEN 1 ELSE 0 END AS new_sess
    FROM events))
GROUP BY user_id
"""


_EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]


def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation via F.window — the BATCH twin of the
    streaming turn-rate query (streaming/__init__.py:136: the same
    6-hour tumbling windows under a watermark).  Verifying it here
    pins the window-alignment semantics (epoch-aligned buckets) that
    the streaming path inherits.

    Scale: windows are computed map-side (a truncation, not a join);
    one partial-aggregated shuffle on (window, event_type).
    """
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
        )
    )


# Spark's tumbling windows are epoch-aligned; the oracle replays the
# same alignment arithmetically (DuckDB's time_bucket has a different
# origin, so floor-on-epoch is the portable form).
ORACLE_WINDOW_TUMBLING = """
SELECT CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600) AS TIMESTAMP) AS win_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
"""


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: daily event counts, one column per event type (the
    wide-format reporting rollup).

    Scale: the explicit value list turns pivot into a single-pass
    conditional aggregation (partial agg applies as usual, one shuffle
    on the day key) — without the list Spark needs an extra distinct
    scan to discover the pivot values.
    """
    e = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    p = e.groupBy(day).pivot("event_type", _EVENT_TYPES).count()
    return p.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in _EVENT_TYPES],
    )


ORACLE_PIVOT_EVENTS = f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       {", ".join(
           "CAST(coalesce(sum(CASE WHEN event_type = '" + t + "' THEN 1 END), 0)"
           " AS BIGINT) AS " + t
           for t in _EVENT_TYPES)}
FROM events
GROUP BY 1
"""


_PRICE_TIERS = [
    ("t0", 0.0, 100000.0),
    ("t1", 100000.0, 200000.0),
    ("t2", 200000.0, 350000.0),
    ("t3", 350000.0, 600000.0),
]
_TIER_BUCKET_W = 50000.0


def q_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join, bucketed: orders classified into price
    tiers defined as [lo, hi) intervals.

    The naive plan for `price >= lo AND price < hi` is a nested-loop
    over the fact table (O(facts × ranges) comparisons).  The scalable
    pattern: explode each range — map-side, on the tiny dim — into the
    fixed-width buckets it overlaps, compute each fact row's bucket
    map-side too, then EQUI-join on the bucket id with the interval
    test left as a residual filter.  Each fact row probes exactly one
    bucket key regardless of how many ranges exist.

    Scale: the exploded dim stays O(ranges × ranges_width/bucket_width)
    and broadcasts; the fact table is never shuffled and never
    nested-loop scanned — the plan survives a range dim with 10^6
    intervals, where the NLJ dies.
    """
    o = _t(spark, sf_dir, "orders")
    w = _TIER_BUCKET_W
    tiers = spark.createDataFrame(_PRICE_TIERS, "tier string, lo double, hi double")
    tiers_b = tiers.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / w).cast("int"),
                (F.ceil(F.col("hi") / w) - 1).cast("int"),
            )
        ),
    )
    fact = o.withColumn("bucket", F.floor(F.col("o_totalprice") / w).cast("int"))
    return (
        fact.join(F.broadcast(tiers_b), "bucket")
        .where(
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi"))
        )
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )


ORACLE_RANGE_JOIN_BUCKETED = f"""
WITH tiers(tier, lo, hi) AS (VALUES
  {", ".join("('" + t + "', " + str(lo) + ", " + str(hi) + ")"
             for t, lo, hi in _PRICE_TIERS)})
SELECT tier,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(o_totalprice) AS DOUBLE), 4) AS revenue
FROM orders JOIN tiers ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY tier
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase event, the most recent click of
    the same user at or before the purchase timestamp (attribution).

    Spark has no native ASOF JOIN; the naive translation is an
    inequality join (per-key O(clicks × purchases) pair explosion plus
    a max() to pick the winner).  The scalable pattern used here is
    union-both-sides + a single windowed forward-fill: tag click and
    purchase rows, sort per user by ts, and `last(click_id, ignorenulls)
    over (rows unbounded preceding → current)` carries the latest click
    forward onto each purchase row.

    Scale: ONE shuffle on user_id and a linear within-partition scan —
    no pair materialization at all; this is the canonical distributed
    as-of design (time-series joins at corpus scale).  DuckDB's native
    ASOF JOIN is the oracle.
    """
    e = _t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("bigint").alias("purchase_id"),
    )
    purch = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("bigint").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")  # (user_id, ts) is unique across the union
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = clicks.unionByName(purch).select(
        "user_id",
        "ts",
        "purchase_id",
        F.last("click_id", ignorenulls=True).over(w).alias("asof_click_id"),
        F.last(
            F.when(F.col("click_id").isNotNull(), F.col("ts")), ignorenulls=True
        ).over(w).alias("asof_click_ts"),
    )
    return filled.where(F.col("purchase_id").isNotNull()).select(
        "user_id",
        "purchase_id",
        F.col("ts").alias("purchase_ts"),
        # purchases before any click: sentinel keys the comparator can sort
        F.coalesce("asof_click_id", F.lit(-1)).alias("click_id"),
        F.coalesce(
            "asof_click_ts", F.lit("1900-01-01").cast("timestamp")
        ).alias("click_ts"),
    )


ORACLE_ASOF_JOIN = """
WITH clicks AS (SELECT user_id, ts, event_id AS click_id
                FROM events WHERE event_type = 'click'),
purch AS (SELECT user_id, ts, event_id AS purchase_id
          FROM events WHERE event_type = 'purchase')
SELECT p.user_id, p.purchase_id, p.ts AS purchase_ts,
       coalesce(c.click_id, -1) AS click_id,
       coalesce(c.ts, TIMESTAMP '1900-01-01') AS click_ts
FROM purch p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# ---------------------------------------------------------------------------
# Training-data pipeline: deduplication family
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content digest, keep min doc_id.

    Scale: md5 is computed map-side; the shuffle key is the digest so
    the group fan-in is tiny regardless of corpus size.
    """
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY md5(text)
"""


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): distinct 3-word shingles per document
    (:func:`pipeline_e2e._shingles_of` over the documents table)."""
    # _spread before the explode/concat pyramid: every minhash/ngram
    # family query inherits this head, and it inherits the scan's
    # split count (1 task on the single-row-group fixture; no-op at
    # scale — guide §2.5).
    return _shingles_of(
        _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: 3-word-shingle Jaccard over candidate pairs.

    Candidates = pairs sharing ≥1 shingle (the blocking join); Jaccard
    computed from per-doc distinct-shingle counts + shared counts.
    Pairs with J ≥ 0.5 are near-dups.

    Scale: never materializes the O(n²) pair space — only pairs that
    collide on a shingle; hot shingles (stopword runs) need a
    document-frequency cap, applied HERE as the `size(docs) <= 100`
    filter on the per-shingle doc-list.  One groupBy(sh) both caps the
    frequency and emits the doc-list whose in-array pair expansion is
    bounded by cap² — versus the previous count-over-window pre-pass,
    which shuffled every shingle a second time before the join's own
    shuffle.
    """
    sh = _shingles(spark, sf_dir)
    # ONE groupBy(sh) caps hot shingles AND materializes the doc-list;
    # pairs expand inside the array (bounded by cap²/2 per shingle), so
    # the self-join on `sh` — two more full-shingle shuffles — is gone.
    # Persisted: both the size rollup and the pair expansion read it;
    # unpersisted each re-ran the shingle pyramid + groupBy.
    groups = _persist_tracked(
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .where(F.size("docs") <= 100)
    )
    sizes = (
        groups.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"))
    )
    # docs is sorted ascending, so taking only later elements as partner
    # yields each unordered pair once with doc_a < doc_b.
    pair_structs = F.flatten(
        F.transform(
            "docs",
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + F.lit(2), F.size("docs")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    shared = (
        groups.where(F.size("docs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    # sizes is one row per document — DATA-SCALED, so no broadcast
    # hint: AQE picks broadcast when the runtime size is under the
    # threshold (small SF) and a shuffled join when it is not (the
    # sf1 sweep showed a forced hint OOM-ing a default-memory driver)
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared")), 6
            ),
        )
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


ORACLE_DEDUP_NGRAM_JACCARD = """
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
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       round(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared), 6) >= 0.5
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: shingle → minhash signature → band buckets
    → candidate pairs.

    MinHash h_k(doc) = min over shingles of md5(k || ':' || shingle)
    (lexicographic min over hex digests — deterministic, portable).
    8 hashes, 4 bands of 2 rows; pairs colliding on any band are
    candidates.

    Scale: the LSH path is THE 100 TB dedup design — candidate
    generation is a groupBy on (band, band_key), never a pairwise join;
    output is linear in the number of true near-dup pairs.
    """
    return _minhash_candidates(_shingles(spark, sf_dir))


ORACLE_DEDUP_MINHASH_LSH = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
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
  GROUP BY doc_id, CAST(seed // {_MINHASH_BAND_ROWS} AS INT)),
bands AS (
  SELECT doc_id, band, band_key FROM (
    SELECT doc_id, band, band_key,
           count(*) OVER (PARTITION BY band, band_key) AS bf
    FROM bands_all)
  WHERE bf <= {_LSH_BAND_CAP})
SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def q_dedup_minhash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full two-stage production dedup pipeline: MinHash-LSH
    candidate generation -> EXACT shingle-Jaccard verification -> keep
    pairs with J ≥ threshold.  LSH recalls the candidates cheaply; the
    exact pass removes band-collision false positives — the standard
    web-corpus design (candidates ≪ corpus, verification linear in
    candidates).

    Scale: the candidate set joins into the shingle scans WITHOUT a
    broadcast hint — AQE broadcasts it while it is small (true
    near-dup pairs are a vanishing fraction of a 100 TB corpus) and
    degrades to a shuffled join on doc_id the moment it is not, which
    is the behavior a data-dependent side needs (a forced hint turned
    into a driver OOM in the 10x sf1 sweep).

    The verified-pairs result is persisted AND memoized per
    (session, sf_dir): it is the edge set that THREE downstream
    operators consume (`dedup_groups`, `cc_largestar`,
    `dedup_keep_canonical`) — in production it is a materialized
    parquet/Iceberg table built once per corpus snapshot, so each CC
    variant's cost is its own iterations, not a re-run of this whole
    minhash->verify chain.  Memory is O(near-dup pairs), a vanishing
    fraction of the corpus; the memo lives for the session (see the
    cache-lifetime note at the top of this module).
    """
    key = (_session_key(spark), sf_dir)
    hit = _PAIRS_MEMO.get(key)
    if hit is not None:
        return hit
    out = _verified_pairs(_shingles(spark, sf_dir)).persist()
    _PAIRS_MEMO[key] = out
    return out


ORACLE_DEDUP_MINHASH_VERIFY = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
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
  GROUP BY doc_id, CAST(seed // {_MINHASH_BAND_ROWS} AS INT)),
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
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_shared
  FROM cands c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY c.doc_a, c.doc_b)
SELECT CAST(s.doc_a AS BIGINT) AS doc_a, CAST(s.doc_b AS BIGINT) AS doc_b,
       round(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared), 6) AS jaccard
FROM shared s
JOIN sizes sa ON sa.doc_id = s.doc_a
JOIN sizes sb ON sb.doc_id = s.doc_b
WHERE round(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared), 6)
      >= {_MINHASH_VERIFY_THRESH}
"""


# Oracles of two queries_ext entries that other catalog modules also read
# at import time.  They live here, above the import tail, so every reader
# finds them in a fully initialised module whatever the import order.

# dedup_groups.  Recursive-CTE twin: enumerate (node,
# reachable-smaller-label) pairs and take the min per node.  The
# `r.lbl < e.dst` guard prunes propagation to labels that could never win
# while keeping the component minimum (which is smaller than every other
# member) flowing everywhere.
ORACLE_DEDUP_GROUPS = f"""
WITH RECURSIVE pairs AS ({ORACLE_DEDUP_MINHASH_VERIFY}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs),
reach AS (
  SELECT CAST(doc_id AS BIGINT) AS node, CAST(doc_id AS BIGINT) AS lbl
  FROM documents
  UNION
  SELECT e.dst AS node, r.lbl
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.lbl < e.dst)
SELECT node AS doc_id, min(lbl) AS group_id
FROM reach GROUP BY node
"""

# group_quantiles (also group_quantiles_dist's oracle, in queries_scale)
ORACLE_GROUP_QUANTILES = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
       count(*) AS n_items
FROM lineitem
GROUP BY l_returnflag
"""


def _simhash_sql(dialect: str) -> str:
    """Shared 16-bit SimHash template, rendered per dialect.

    Per token: first 4 hex chars of md5 → 16 bits; per bit, +1/-1 vote;
    sign of the vote sum is the fingerprint bit.  Integer arithmetic
    only (floor/div/mod), so Spark SQL and DuckDB agree bit-for-bit.
    """
    if dialect == "spark":
        tok_src = (
            "SELECT doc_id, tok FROM "
            "(SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents) "
            "WHERE tok <> ''"
        )
        floordiv = lambda a, b: f"CAST(floor({a} / {b}) AS INT)"
    else:
        tok_src = (
            "SELECT doc_id, tok FROM "
            "(SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) "
            "WHERE tok <> ''"
        )
        floordiv = lambda a, b: f"CAST(floor({a} / {b}) AS INT)"
    # hex value of char j (1-based) of the md5 digest
    hexval = lambda j: f"(instr('0123456789abcdef', substr(md5(tok), {j}, 1)) - 1)"
    bit_votes = []
    for b in range(16):
        j = b // 4 + 1          # which hex char
        p = 2 ** (3 - b % 4)    # which bit within the char
        bit = f"({floordiv(hexval(j), p)} % 2)"
        bit_votes.append(
            f"sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS v{b}"
        )
    votes = ",\n         ".join(bit_votes)
    fingerprint = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(16)
    )
    return f"""
WITH toks AS ({tok_src}),
votes AS (
  SELECT doc_id,
         {votes}
  FROM toks
  GROUP BY doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST({fingerprint} AS BIGINT) AS simhash
FROM votes
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprinting (16-bit) — near-dup docs land on nearby
    fingerprints.  Candidate pairing at Hamming distance ≤ k is
    q_dedup_simhash_pairs (banded equi-join); this entry is the
    fingerprint table itself.

    Scale: one pass + one groupBy per doc; fingerprint comparison is an
    equi-join on the fingerprint, shuffle-light.
    """
    _register_views(spark, sf_dir, ["documents"])
    return spark.sql(_simhash_sql("spark"))


ORACLE_DEDUP_SIMHASH = _simhash_sql("duck")


_SIMHASH_HAM_K = 2
# k+1 = 3 bands covering the 16 fingerprint bits as (shift, width):
# any pair at Hamming distance <= k agrees exactly on >= 1 whole band
# (pigeonhole), so a per-band equi-join generates every candidate.
_SIMHASH_BANDS = ((0, 6), (6, 5), (11, 5))


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance ≤ k via banding.

    The 16-bit fingerprint splits into k+1 bands; candidates come from
    an equi-join on (band, band_value) — never a pairwise fingerprint
    scan — then the exact Hamming distance (bit_count of xor) verifies
    each candidate.  The Hamming-tolerant analog of the detector's
    unclip margin (near-misses still pair, dbnet_detector.py:110-121).

    Scale: the same LSH-band design as minhash — candidate volume is
    linear in true near-dups (plus band collisions), the join keys are
    16-to-64-value band buckets; at corpus scale widen the fingerprint
    and bands together (64-bit / 4×16) to keep buckets sparse.
    """
    _register_views(spark, sf_dir, ["documents"])
    fp = spark.sql(_simhash_sql("spark"))
    band_struct = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                (
                    F.shiftright(F.col("simhash"), shift) % F.lit(1 << width)
                ).alias("val"),
            )
            for i, (shift, width) in enumerate(_SIMHASH_BANDS)
        ]
    )
    # persisted: both sides of the band self-join read the band table —
    # unpersisted each re-ran the full simhash fingerprint pass
    bands = _persist_tracked(
        fp.select(
            "doc_id", "simhash", F.explode(band_struct).alias("b")
        ).select("doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    )
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= _SIMHASH_HAM_K)
        .distinct()
    )


_SIMHASH_BAND_CASE = " ".join(
    f"WHEN {i} THEN (simhash // {1 << shift}) % {1 << width}"
    for i, (shift, width) in enumerate(_SIMHASH_BANDS)
)

ORACLE_DEDUP_SIMHASH_PAIRS = f"""
WITH fp AS ({_simhash_sql("duck")}),
bands AS (
  SELECT doc_id, simhash, band,
         CASE band {_SIMHASH_BAND_CASE} END AS val
  FROM fp CROSS JOIN (SELECT unnest([{", ".join(str(i) for i in range(len(_SIMHASH_BANDS)))}]) AS band))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_HAM_K}
"""


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against a query vector (ANN baseline).

    The query vector is a single-row lookup (vec_id = 0) carried into
    the scorer's closure (O(dim) — a broadcast of one row, not a driver
    loop); scoring is one vectorized numpy pass per Arrow batch
    (_cos_vs_query_scorer); deterministic tie-break on vec_id.

    Scale: embarrassingly parallel scan + TakeOrdered; the IVF variant
    (q_ann_ivf_assign) is the pruned path.
    """
    e = _t(spark, sf_dir, "embeddings")
    qrow = e.where(F.col("vec_id") == 0).first()
    if qrow is None:  # empty corpus: no query vector, no matches
        return spark.createDataFrame([], "vec_id bigint, cos_sim double")
    qvec = [float(x) for x in qrow["embedding"]]
    return (
        e.where(F.col("vec_id") != 0)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .mapInPandas(
            _cos_vs_query_scorer(qvec, "emb"), "vec_id bigint, cos_sim double"
        )
        .select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


ORACLE_COSINE_TOPK = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         round(
           (SELECT sum(a * b) FROM (SELECT unnest(CAST(e.embedding AS DOUBLE[])) a,
                                           unnest(CAST(q.qe AS DOUBLE[])) b))
           / (sqrt((SELECT sum(a * a) FROM (SELECT unnest(CAST(e.embedding AS DOUBLE[])) a)))
              * sqrt((SELECT sum(b * b) FROM (SELECT unnest(CAST(q.qe AS DOUBLE[])) b)))),
           6) AS cos_sim
  FROM embeddings e, q
  WHERE e.vec_id <> 0)
SELECT vec_id, cos_sim
FROM scored
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


_IVF_K = 8


def q_ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style bucketing: assign every vector to its nearest of K
    fixed centroids (here: the first K vectors) — the coarse quantizer
    of an IVF ANN index.

    Scale: the K centroids ride the ``mapInPandas`` closure (O(K·dim))
    and the argmin is one vectorized numpy broadcast-subtract per Arrow
    batch INSIDE the scan stage (:func:`_ivf_assignment`) — no
    crossJoin row expansion, no per-vector window shuffle, no
    interpreted per-element lambda (the dense-math doctrine, SURVEY §4;
    the former zip_with/aggregate + crossJoin + window formulation ran
    the kernel in the JVM bytecode interpreter over n·K expanded rows
    and shuffled them all for the rank-1 window — VERDICT r2 #2).
    """
    return _ivf_assignment(
        spark, sf_dir, _embedding_dim(spark, sf_dir)
    ).select("vec_id", "centroid_id")


ORACLE_ANN_IVF_ASSIGN = f"""
WITH cents AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cvec
               FROM embeddings WHERE vec_id < {_IVF_K}),
dists AS (
  SELECT e.vec_id, c.centroid_id,
         (SELECT sum((a - b) * (a - b))
          FROM (SELECT unnest(CAST(e.embedding AS DOUBLE[])) a, unnest(c.cvec) b)) AS d2
  FROM embeddings e CROSS JOIN cents c),
ranked AS (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rk
  FROM dists)
SELECT vec_id, centroid_id FROM ranked WHERE rk = 1
"""


def _cos_vs_query_scorer(qvec, emb_col: str, norm_col=None, passthrough=("vec_id",)):
    """``mapInPandas`` scorer: RAW (unrounded) cosine of each row's
    vector against the closure-captured query vector.

    Dense math in Arrow-batched numpy, not Catalyst — a dim-length
    unrolled expression runs in the JVM's bytecode interpreter past the
    JIT method limits, and interpreted higher-order lambdas
    (zip_with/aggregate) pay per-element overhead; both measured ~10 µs
    per row at dim=64 (see _ivf_assignment).  Accumulation is
    left-to-right over dims — the oracle's ordered unnest-sum FP order —
    so the caller's JVM-side round(…, 6) matches the SQL twin
    bit-for-bit.  ``norm_col`` reuses a precomputed row norm; otherwise
    the norm accumulates in the same pass.
    """
    q = [float(v) for v in qvec]
    qn = 0.0
    for v in q:
        qn += v * v
    qn = qn ** 0.5

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf[emb_col].tolist(), dtype="float64")
            acc = np.zeros(len(m), dtype="float64")
            nrm = np.zeros(len(m), dtype="float64")
            for j in range(m.shape[1]):  # left-to-right, oracle FP order
                acc = acc + m[:, j] * q[j]
                nrm = nrm + m[:, j] * m[:, j]
            den = (
                pdf[norm_col].to_numpy() if norm_col else np.sqrt(nrm)
            ) * qn
            out = {c: pdf[c] for c in passthrough}
            out["cos_sim"] = acc / den
            yield pd.DataFrame(out)

    return score


_COS_DUP_THRESH = 0.4


def _ivf_assignment(spark: SparkSession, sf_dir: str, dim: int) -> DataFrame:
    """(vec_id, emb, norm, centroid_id): nearest of the K fixed centroids.

    The K centroids ride the ``mapInPandas`` closure as a (K, dim)
    numpy matrix (O(K·dim) — the quantizer invariant), and each Arrow
    batch does one vectorized broadcast-subtract argmin: no crossJoin,
    no per-vector window shuffle — the assignment is computed INSIDE
    the scan stage.  numpy argmin takes the first minimum and the
    matrix rows are ordered by centroid id, so ties break to the lowest
    cid, the same (d2, centroid_id) order as the oracle's row_number.

    Why not Catalyst for the distances: a dim-length unrolled distance
    expression generates a whole-stage method past the JVM's JIT
    thresholds, so it executes in the bytecode interpreter —
    measured ~10 µs per evaluation at dim=64 (2.7 s for 251k pairs)
    versus nanoseconds for the numpy batch path.  Dense linear algebra
    belongs in Arrow-batched numpy; the JVM keeps the plan shape
    (scan, partitioning, joins).

    The L2 norm is computed ONCE per vector here, before any pair join,
    accumulated left-to-right over dims — the same FP order as the
    oracle's ordered unnest-sum, so downstream rounded cosines match
    bit-for-bit.

    The scan is repartitioned to the session's parallelism BEFORE the
    batch work: the bench corpus is one small parquet file (one input
    split); at 100 TB the scan has thousands of splits and the
    repartition collapses to a cheap rebalance.
    """
    e = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    cents = sorted(
        (int(r["vec_id"]), [float(v) for v in r["emb"]])
        for r in _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < _IVF_K)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .collect()
    )
    cids = np.array([c for c, _ in cents], dtype="int64")
    cmat = np.array([v for _, v in cents], dtype="float64")

    def assign(batches):
        for pdf in batches:
            if not len(pdf) or not len(cmat):
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "emb": pdf["emb"],
                     "norm": np.zeros(len(pdf)), "centroid_id": pdf["vec_id"]}
                )
                continue
            m = np.array(pdf["emb"].tolist(), dtype="float64")
            d2 = ((m[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
            acc = np.zeros(len(m), dtype="float64")
            for j in range(m.shape[1]):  # left-to-right, oracle FP order
                acc = acc + m[:, j] * m[:, j]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "emb": pdf["emb"],
                    "norm": np.sqrt(acc),
                    "centroid_id": cids[d2.argmin(axis=1)],
                }
            )

    return e.mapInPandas(
        assign, "vec_id bigint, emb array<double>, norm double, centroid_id bigint"
    )


def _ivf_probe_assignment(
    spark: SparkSession, sf_dir: str, dim: int, nprobe: int
) -> DataFrame:
    """(vec_id, emb, norm, centroid_id): each vector listed under its
    ``nprobe`` NEAREST centroids — the multi-probe inverted lists.

    Same Arrow-batched numpy shape as :func:`_ivf_assignment` (the
    centroids ride the closure, O(K·dim)); the top-``nprobe`` argsort is
    ``kind="stable"`` so d2 ties keep matrix-row order = ascending
    centroid id, matching the oracle's ``ORDER BY d2, centroid_id``.
    Each vector's row is emitted ``nprobe`` times (one per probed list)
    — the deliberate multi-probe trade: ~nprobe× the shuffle volume
    buys cross-bucket recall that single-probe blocking misses.
    """
    e = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    cents = sorted(
        (int(r["vec_id"]), [float(v) for v in r["emb"]])
        for r in _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < _IVF_K)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .collect()
    )
    cids = np.array([c for c, _ in cents], dtype="int64")
    cmat = np.array([v for _, v in cents], dtype="float64")

    def assign(batches):
        for pdf in batches:
            if not len(pdf) or not len(cmat):
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "emb": pdf["emb"],
                     "norm": np.zeros(len(pdf)), "centroid_id": pdf["vec_id"]}
                )
                continue
            m = np.array(pdf["emb"].tolist(), dtype="float64")
            d2 = ((m[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
            k = min(nprobe, d2.shape[1])
            order = np.argsort(d2, axis=1, kind="stable")[:, :k]
            acc = np.zeros(len(m), dtype="float64")
            for j in range(m.shape[1]):  # left-to-right, oracle FP order
                acc = acc + m[:, j] * m[:, j]
            idx = np.repeat(np.arange(len(m)), k)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[idx],
                    "emb": pdf["emb"].to_numpy()[idx],
                    "norm": np.sqrt(acc)[idx],
                    "centroid_id": cids[order].ravel(),
                }
            )

    return e.mapInPandas(
        assign, "vec_id bigint, emb array<double>, norm double, centroid_id bigint"
    )


_IVF_ASSIGN_SQL = f"""
cents AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cvec
          FROM embeddings WHERE vec_id < {_IVF_K}),
dists AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, c.centroid_id,
         (SELECT sum((a - b) * (a - b))
          FROM (SELECT unnest(CAST(e.embedding AS DOUBLE[])) a, unnest(c.cvec) b)) AS d2
  FROM embeddings e CROSS JOIN cents c),
assign AS (
  SELECT vec_id, emb,
         sqrt((SELECT sum(x * x) FROM (SELECT unnest(emb) x))) AS norm,
         centroid_id
  FROM (
    SELECT vec_id, emb, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rk
    FROM dists)
  WHERE rk = 1)
"""


_COS_SUBBUCKETS = 8


def _embedding_dim(spark: SparkSession, sf_dir: str) -> int:
    """Vector dimensionality via a single-row pushed-limit parquet scan
    (NOT the full quantizer job); empty table -> 1, a harmless
    placeholder since every downstream plan is empty anyway."""
    row = _t(spark, sf_dir, "embeddings").select(F.size("embedding").alias("d")).head(1)
    return int(row[0]["d"]) if row else 1


def q_dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, IVF-blocked, sub-bucketed.

    Blocking = the IVF coarse quantizer: only pairs assigned to the SAME
    centroid are compared (never the O(n²) pair space), then cosine ≥
    threshold keeps true near-dups.  Missing cross-bucket pairs is the
    documented recall trade-off of blocked dedup; multi-probe raises it.

    Pair enumeration is a SHUFFLE join on (centroid_id, sub-bucket) —
    broadcast memory is O(K·dim) (the centroids inside _ivf_assignment),
    never O(n·dim): with only K distinct centroid ids a plain shuffle
    join would land each bucket's |bucket|² pair scan on ONE task, so
    each inverted list is split into s sub-buckets (chunk = vec_id mod
    s) and the left side is replicated once per sub-bucket, giving K·s
    join keys.  Each (centroid, j) task scans |bucket| × |bucket|/s
    rows; total work stays Σ|bucket|²  = n²/K, parallelism is K·s, and
    per-task memory is bounded by |bucket|/s build rows.  The cost is a
    deliberate s× shuffle of the left side — linear in the corpus,
    versus the O(n·dim) per-executor broadcast it replaces, which grows
    with the corpus and dies first at 100 TB.

    Scale: the standard semantic-dedup design (e.g. SemDeDup) with s
    sized so |bucket|/s rows fit an executor's join hash map.
    """
    dim = _embedding_dim(spark, sf_dir)
    # Persist the assignment: both join sides read it — without the
    # persist the whole quantizer runs twice.  At cluster scale this is
    # the materialized IVF index (a parquet table in production);
    # release-tracked so a long catalog session doesn't accumulate it.
    asg = _persist_tracked(_ivf_assignment(spark, sf_dir, dim))
    return (
        _subbucketed_pair_cosines(spark, asg, include_centroid=True)
        .withColumn("cos_sim", F.round("cos_sim", 6))
        .where(F.col("cos_sim") >= _COS_DUP_THRESH)
    )


def _subbucketed_pair_cosines(
    spark: SparkSession, asg: DataFrame, include_centroid: bool
) -> DataFrame:
    """Same-centroid pair enumeration + Arrow-batched cosine over an
    inverted-list assignment (vec_id, emb, norm, centroid_id) — the
    shared engine of the single- and multi-probe embed-dedup entries.
    Returns RAW (unrounded) ``cos_sim`` pairs prefiltered with a
    one-ulp-safe margin; callers apply the exact rounded threshold
    JVM-side."""
    s = _COS_SUBBUCKETS
    parallelism = spark.sparkContext.defaultParallelism
    chunked = asg.withColumn("chunk", F.pmod(F.col("vec_id"), F.lit(s)))
    # Explicit repartition on the join keys (types aligned: j is bigint
    # like chunk) — the join inherits this partitioning with no extra
    # exchange, and a user repartition is exempt from AQE partition
    # coalescing, which would otherwise see the small shuffle and fold
    # the pair scan — where all the n²/K cosine work happens — onto one
    # or two tasks (measured 2.3x on the bench corpus).
    arep = chunked.withColumn(
        "j", F.explode(F.array(*[F.lit(i).cast("bigint") for i in range(s)]))
    ).repartition(parallelism, "centroid_id", "j")
    bside = chunked.repartition(parallelism, "centroid_id", "chunk")
    pairs = (
        arep.alias("a")
        .join(
            # shuffle-hash hint: build side per key is |bucket|/s rows —
            # tiny and bounded; also pins the planner away from an AQE
            # auto-broadcast at bench scale so the recorded plan is the
            # 100 TB plan.
            bside.alias("b").hint("shuffle_hash"),
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.j") == F.col("b.chunk"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.centroid_id").alias("centroid_id"),
            F.col("a.emb").alias("emb_a"),
            F.col("b.emb").alias("emb_b"),
            F.col("a.norm").alias("norm_a"),
            F.col("b.norm").alias("norm_b"),
        )
    )
    extra = ("centroid_id",) if include_centroid else ()

    # The cosine kernel runs in Arrow-batched numpy, NOT a Catalyst
    # expression: the dim-length unrolled dot product exceeds the JVM's
    # JIT method limits and executes interpreted (~10 µs/pair measured;
    # see _ivf_assignment), and Catalyst additionally pushes the
    # threshold filter INTO the join condition, evaluating the dot
    # product twice per pair.  Here the JVM join enumerates candidates
    # (keys + vec_id inequality only), then one vectorized pass scores
    # each batch.  Accumulation is left-to-right over dims — the
    # oracle's ordered unnest-sum FP order.  Python prefilters with a
    # one-ulp-safe margin; the exact rounded threshold is applied
    # JVM-side so the kept-set semantics are identical to the SQL twin.
    thresh = _COS_DUP_THRESH

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            a = np.array(pdf["emb_a"].tolist(), dtype="float64")
            b = np.array(pdf["emb_b"].tolist(), dtype="float64")
            acc = np.zeros(n, dtype="float64")
            for j in range(a.shape[1]):  # left-to-right, oracle FP order
                acc = acc + a[:, j] * b[:, j]
            cos = acc / (pdf["norm_a"].to_numpy() * pdf["norm_b"].to_numpy())
            keep = cos >= thresh - 1e-6
            out = {"vec_a": pdf["vec_a"][keep], "vec_b": pdf["vec_b"][keep]}
            for c in extra:
                out[c] = pdf[c][keep]
            out["cos_sim"] = cos[keep]
            yield pd.DataFrame(out)

    schema = "vec_a bigint, vec_b bigint, " + "".join(
        f"{c} bigint, " for c in extra
    ) + "cos_sim double"
    return pairs.mapInPandas(score, schema)


_EMBED_MP_NPROBE = 2


def q_dedup_embed_cosine_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe embedding dedup: the recall raiser the single-probe
    entry's docstring promises (VERDICT r2 #6).

    Each vector is listed under its ``_EMBED_MP_NPROBE`` nearest
    centroids (:func:`_ivf_probe_assignment`); pairs sharing ANY probed
    list are compared.  Near-dups that straddle a Voronoi boundary —
    assigned to different nearest centroids but both probing the
    shared second-nearest — are recovered, at ~nprobe× the shuffle and
    pair-scan cost of single-probe.  A pair can collide on up to
    ``nprobe`` shared lists; the identically-rounded score makes the
    final ``distinct()`` an exact dedup.

    Scale: same sub-bucketed ShuffledHashJoin engine as the
    single-probe entry — broadcast stays O(K·dim), per-task build side
    stays |bucket|/s rows; only the list sizes grow by nprobe.
    """
    dim = _embedding_dim(spark, sf_dir)
    asg = _persist_tracked(
        _ivf_probe_assignment(spark, sf_dir, dim, _EMBED_MP_NPROBE)
    )
    return (
        _subbucketed_pair_cosines(spark, asg, include_centroid=False)
        .withColumn("cos_sim", F.round("cos_sim", 6))
        .where(F.col("cos_sim") >= _COS_DUP_THRESH)
        .distinct()
    )


# Probes from the SAME dists CTE the single-probe oracle ranks (rk <= 1
# there, rk <= nprobe here); pair emb/norm looked up from `assign`.
ORACLE_DEDUP_EMBED_COSINE_MP = f"""
WITH {_IVF_ASSIGN_SQL},
probes AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rk
    FROM dists)
  WHERE rk <= {_EMBED_MP_NPROBE}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM probes a JOIN probes b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
pairs AS (
  SELECT c.vec_a, c.vec_b,
         round(
           (SELECT sum(x * y) FROM (SELECT unnest(ea.emb) x, unnest(eb.emb) y))
           / (ea.norm * eb.norm), 6) AS cos_sim
  FROM cand c
  JOIN assign ea ON ea.vec_id = c.vec_a
  JOIN assign eb ON eb.vec_id = c.vec_b)
SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= {_COS_DUP_THRESH}
"""


ORACLE_DEDUP_EMBED_COSINE = f"""
WITH {_IVF_ASSIGN_SQL},
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.centroid_id,
         round(
           (SELECT sum(x * y) FROM (SELECT unnest(a.emb) x, unnest(b.emb) y))
           / (a.norm * b.norm), 6) AS cos_sim
  FROM assign a JOIN assign b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, centroid_id, cos_sim
FROM pairs WHERE cos_sim >= {_COS_DUP_THRESH}
"""


_IVF_NPROBE = 2


def q_ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed ANN search, multi-probe: the scale path of cosine_topk.

    Query = vec 0; probe its `nprobe` nearest centroids' inverted lists,
    then exact cosine top-5 within them.  At 100 TB the probed lists are
    ~nprobe/K of the corpus — scan cost drops by K/nprobe, and nprobe is
    the recall knob (nprobe=K degrades gracefully to brute force).

    Probe selection is DRIVER-side arithmetic over the K collected
    centroid rows (a K-row pushed-filter scan) — NOT a Spark job: the
    previous shape ran the full quantizer (crossJoin + window) once just
    to fetch the query's centroid, then recomputed it for the scan.
    The quantizer now runs exactly once, in the probed scan itself.
    """
    e = _t(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id") < _IVF_K).select("vec_id", "embedding").collect()
    qrow = e.where(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:  # empty corpus: no query vector, no matches
        return spark.createDataFrame(
            [], "vec_id bigint, centroid_id bigint, cos_sim double"
        )
    qvec = [float(x) for x in qrow["embedding"]]
    # Left-to-right float accumulation — the same FP order as the SQL
    # twins' ordered unnest-sum, so probe ranking matches bit-for-bit.
    def _d2(c):
        acc = 0.0
        for x, y in zip(qvec, c):
            acc += (x - y) * (x - y)
        return acc

    ranked = sorted(
        (_d2([float(v) for v in r["embedding"]]), int(r["vec_id"])) for r in cents
    )
    probes = [cid for _, cid in ranked[:_IVF_NPROBE]]
    return (
        _ivf_assignment(spark, sf_dir, len(qvec))
        .where(F.col("centroid_id").isin(probes) & (F.col("vec_id") != 0))
        .select("vec_id", "centroid_id", "emb", "norm")
        .mapInPandas(
            _cos_vs_query_scorer(
                qvec, "emb", norm_col="norm",
                passthrough=("vec_id", "centroid_id"),
            ),
            "vec_id bigint, centroid_id bigint, cos_sim double",
        )
        .select(
            "vec_id", "centroid_id", F.round("cos_sim", 6).alias("cos_sim")
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(5)
    )


ORACLE_ANN_IVF_SEARCH = f"""
WITH {_IVF_ASSIGN_SQL},
q AS (SELECT emb AS qe, norm AS qnorm FROM assign WHERE vec_id = 0),
probes AS (
  SELECT centroid_id FROM (
    SELECT c.centroid_id,
           row_number() OVER (ORDER BY
             (SELECT sum((a - b) * (a - b))
              FROM (SELECT unnest(c.cvec) a, unnest(q.qe) b)),
             c.centroid_id) AS rk
    FROM cents c, q)
  WHERE rk <= {_IVF_NPROBE}),
scored AS (
  SELECT a.vec_id, a.centroid_id,
         round(
           (SELECT sum(x * y) FROM (SELECT unnest(a.emb) x, unnest(q.qe) y))
           / (a.norm * q.qnorm), 6) AS cos_sim
  FROM assign a, q
  WHERE a.centroid_id IN (SELECT centroid_id FROM probes) AND a.vec_id <> 0)
SELECT vec_id, centroid_id, cos_sim
FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 5
"""


_ANN_EVAL_Q = 4        # query vectors: vec_id 0..Q-1
_ANN_EVAL_K = 10       # top-k depth evaluated


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF-probed ANN search vs exact brute-force top-k
    — the quality contract every production ANN index ships with (the
    sketch_rollup analog for similarity search): the index is only
    usable if its measured recall is known, and the measurement itself
    must be reproducible.

    For each of ``_ANN_EVAL_Q`` query vectors, compute (a) the exact
    cosine top-``_ANN_EVAL_K`` over the whole corpus and (b) the
    IVF-probed top-k (nprobe=``_IVF_NPROBE`` nearest centroid lists,
    the same quantizer as ``ann_ivf_search``), and emit per query the
    overlap ``hits`` and ``recall`` = hits/k.  Both engines rank by the
    identically-rounded cosine with a vec_id tie-break (a total order),
    so the two top-k sets — and therefore the recall numbers — are
    bit-deterministic, not a flaky statistical assertion.

    Scale shape: ALL Q queries are scored in ONE map-side pass over the
    IVF assignment scan — the (Q, dim) query matrix rides the closure
    (O(Q·dim), the batched-query analog of the single-vector scorer)
    and each Arrow batch does one vectorized (batch × Q) accumulation;
    per-query top-k is a rank window partitioned by query_id.  At
    production Q (thousands of eval queries) the window still
    parallelizes across queries; the exact side is the expensive leg by
    design — it is the ground truth, run on the eval slice only, while
    the probed side scans ~nprobe/K of the corpus.
    """
    dim = _embedding_dim(spark, sf_dir)
    asg = _ivf_assignment(spark, sf_dir, dim)
    qrows = sorted(
        (int(r["vec_id"]), [float(v) for v in r["emb"]], float(r["norm"]))
        for r in asg.where(F.col("vec_id") < _ANN_EVAL_Q)
        .select("vec_id", "emb", "norm")
        .collect()
    )
    if not qrows:
        return spark.createDataFrame(
            [], "query_id bigint, hits bigint, recall double"
        )
    qids = np.array([q for q, _, _ in qrows], dtype="int64")
    qmat = np.array([v for _, v, _ in qrows], dtype="float64")
    qnorm = np.array([n for _, _, n in qrows], dtype="float64")

    # Probe selection per query: driver-side arithmetic over the K
    # collected centroids (same left-to-right d2 accumulation as the
    # oracle's ordered unnest-sum — see q_ann_ivf_search).
    cents = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < _IVF_K)
        .select("vec_id", "embedding")
        .collect()
    )

    def _d2(qv, cv):
        acc = 0.0
        for x, y in zip(qv, cv):
            acc += (x - y) * (x - y)
        return acc

    probe_rows = []
    for qid, qv, _ in qrows:
        ranked = sorted((_d2(qv, cv), cid) for cid, cv in cents)
        probe_rows += [(qid, cid) for _, cid in ranked[:_IVF_NPROBE]]
    probes = spark.createDataFrame(
        probe_rows, "query_id bigint, centroid_id bigint"
    )

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            m = np.array(pdf["emb"].tolist(), dtype="float64")
            acc = np.zeros((n, len(qids)), dtype="float64")
            for j in range(m.shape[1]):  # left-to-right, oracle FP order
                acc = acc + m[:, j, None] * qmat[None, :, j]
            cos = acc / (pdf["norm"].to_numpy()[:, None] * qnorm[None, :])
            out = pd.DataFrame(
                {
                    "query_id": np.tile(qids, n),
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), len(qids)),
                    "centroid_id": np.repeat(
                        pdf["centroid_id"].to_numpy(), len(qids)
                    ),
                    "cos_sim": cos.reshape(-1),
                }
            )
            yield out[out.vec_id != out.query_id]

    scored = (
        asg.select("vec_id", "centroid_id", "emb", "norm")
        .mapInPandas(
            score,
            "query_id bigint, vec_id bigint, centroid_id bigint, cos_sim double",
        )
        .withColumn("cos_sim", F.round("cos_sim", 6))
    )
    scored = _persist_tracked(scored)  # ground truth AND probed ranking read it
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    exact = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _ANN_EVAL_K)
        .select("query_id", "vec_id")
    )
    ann = (
        scored.join(F.broadcast(probes), ["query_id", "centroid_id"])
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _ANN_EVAL_K)
        .select("query_id", "vec_id", F.lit(1).alias("hit"))
    )
    return (
        exact.join(ann, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.coalesce(F.sum("hit"), F.lit(0)).alias("hits"))
        .select(
            "query_id",
            "hits",
            F.round(F.col("hits") / F.lit(float(_ANN_EVAL_K)), 6).alias(
                "recall"
            ),
        )
    )


ORACLE_ANN_RECALL_EVAL = f"""
WITH {_IVF_ASSIGN_SQL},
qs AS (SELECT vec_id AS query_id, emb AS qe, norm AS qn
       FROM assign WHERE vec_id < {_ANN_EVAL_Q}),
scored AS (
  SELECT q.query_id, a.vec_id, a.centroid_id,
         round(
           (SELECT sum(x * y) FROM (SELECT unnest(a.emb) x, unnest(q.qe) y))
           / (a.norm * q.qn), 6) AS cos_sim
  FROM assign a, qs q
  WHERE a.vec_id <> q.query_id),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             (SELECT sum((a - b) * (a - b))
              FROM (SELECT unnest(c.cvec) a, unnest(q.qe) b)),
             c.centroid_id) AS rk
    FROM cents c, qs q)
  WHERE rk <= {_IVF_NPROBE}),
exact_topk AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id) AS rk
    FROM scored)
  WHERE rk <= {_ANN_EVAL_K}),
ann_topk AS (
  SELECT query_id, vec_id FROM (
    SELECT s.query_id, s.vec_id,
           row_number() OVER (PARTITION BY s.query_id
                              ORDER BY s.cos_sim DESC, s.vec_id) AS rk
    FROM scored s
    JOIN probes p ON s.query_id = p.query_id
                 AND s.centroid_id = p.centroid_id)
  WHERE rk <= {_ANN_EVAL_K})
SELECT e.query_id,
       count(a.vec_id) AS hits,
       round(count(a.vec_id) / {float(_ANN_EVAL_K)}, 6) AS recall
FROM exact_topk e
LEFT JOIN ann_topk a ON e.query_id = a.query_id AND e.vec_id = a.vec_id
GROUP BY e.query_id
"""


_LSH_PLANES = 8


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucketing for cosine ANN: signed random projections.

    Hyperplane j = (embedding of vec j) - (embedding of vec j+8) — a
    deterministic, roughly mean-free direction derived from the data
    itself; bit_j = sign(dot(e, h_j)); bucket = Σ bit_j << j.  Vectors
    in the same bucket are ANN candidates (Charikar SimHash for
    vectors).

    Scale: 8 planes broadcast; assignment is map-side; the only shuffle
    is the per-vector bit aggregation — candidate generation becomes an
    equi-join on `bucket` instead of an all-pairs scan.
    """
    return _lsh_buckets(spark, sf_dir, _LSH_PLANES)


def _lsh_buckets(spark: SparkSession, sf_dir: str, planes: int) -> DataFrame:
    """(vec_id, bucket): signed-random-projection LSH bucket per vector.

    The hyperplanes are data-derived (differences of the first 2·planes
    vectors — deterministic, no RNG) and ride the ``mapInPandas``
    closure as a (planes, dim) matrix, so the bucket id is computed in
    ONE map-side pass: no crossJoin row expansion, no per-vector
    groupBy shuffle (the previous shape paid both).  Sign accumulation
    is left-to-right over dims — the oracle's ordered unnest-sum FP
    order, so the >= 0 sign decisions match exactly.
    """
    e = _t(spark, sf_dir, "embeddings")
    rows = {
        int(r["vec_id"]): [float(v) for v in r["emb"]]
        for r in e.where(F.col("vec_id") < 2 * planes)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .collect()
    }
    if all(p in rows and p + planes in rows for p in range(planes)):
        hmat = np.array(
            [
                [a - b for a, b in zip(rows[p], rows[p + planes])]
                for p in range(planes)
            ],
            dtype="float64",
        )
    else:
        # degenerate corpus (< 2*planes seed vectors): no hyperplanes,
        # every vector lands in bucket 0
        hmat = np.zeros((0, 1), dtype="float64")
    shifts = (1 << np.arange(hmat.shape[0], dtype="int64"))

    def bucketize(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf["emb"].tolist(), dtype="float64")
            acc = np.zeros((len(m), hmat.shape[0]), dtype="float64")
            for j in range(m.shape[1]):  # left-to-right, oracle FP order
                acc = acc + m[:, j, None] * hmat[None, :, j]
            bucket = ((acc >= 0).astype("int64") * shifts[None, :]).sum(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "bucket": bucket.astype("int32")}
            )

    return e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).mapInPandas(bucketize, "vec_id bigint, bucket int")


ORACLE_ANN_LSH_BUCKETS = f"""
WITH lo AS (SELECT vec_id AS plane_id, CAST(embedding AS DOUBLE[]) AS pa
            FROM embeddings WHERE vec_id < {_LSH_PLANES}),
hi AS (SELECT vec_id - {_LSH_PLANES} AS plane_id, CAST(embedding AS DOUBLE[]) AS pb
       FROM embeddings WHERE vec_id >= {_LSH_PLANES} AND vec_id < {2 * _LSH_PLANES}),
planes AS (
  SELECT lo.plane_id,
         (SELECT list(a - b ORDER BY i)
          FROM (SELECT unnest(pa) a, unnest(pb) b,
                       generate_subscripts(pa, 1) i)) AS h
  FROM lo JOIN hi ON lo.plane_id = hi.plane_id),
bits AS (
  SELECT e.vec_id, p.plane_id,
         CASE WHEN (SELECT sum(x * y)
                    FROM (SELECT unnest(CAST(e.embedding AS DOUBLE[])) x,
                                 unnest(p.h) y)) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM embeddings e CROSS JOIN planes p)
SELECT vec_id, CAST(sum(bit << plane_id) AS INT) AS bucket
FROM bits GROUP BY vec_id
"""


_LSH_SEARCH_PLANES = 5


def q_ann_lsh_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN search: exact cosine top-5 within the query
    vector's bucket (the search twin of q_ann_lsh_buckets, like
    q_ann_ivf_search is to q_ann_ivf_assign).

    Scale: bucket assignment is map-side (broadcast planes); the
    query's bucket id is a broadcast single row, so the candidate scan
    is a pushed filter over ~n/2^planes vectors, then exact cosine +
    TakeOrdered.  More planes -> smaller buckets -> cheaper scans and
    lower recall: the knob mirrors nprobe (5 planes here keep the
    bench-scale bucket populated; the indexing entry uses 8).
    """
    e = _t(spark, sf_dir, "embeddings")
    buckets = _lsh_buckets(spark, sf_dir, _LSH_SEARCH_PLANES)
    qrow = e.where(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:  # empty corpus: no query vector, no matches
        return spark.createDataFrame(
            [], "vec_id bigint, bucket int, cos_sim double"
        )
    qvec = [float(x) for x in qrow["embedding"]]
    qb = buckets.where(F.col("vec_id") == 0).select(
        F.col("bucket").alias("qbucket")
    )
    return (
        buckets.join(F.broadcast(qb), F.col("bucket") == F.col("qbucket"))
        .where(F.col("vec_id") != 0)
        .join(e, "vec_id")
        .select(
            "vec_id", "bucket", F.col("embedding").cast("array<double>").alias("emb")
        )
        .mapInPandas(
            _cos_vs_query_scorer(qvec, "emb", passthrough=("vec_id", "bucket")),
            "vec_id bigint, bucket int, cos_sim double",
        )
        .select("vec_id", "bucket", F.round("cos_sim", 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(5)
    )


ORACLE_ANN_LSH_SEARCH = f"""
WITH lo AS (SELECT vec_id AS plane_id, CAST(embedding AS DOUBLE[]) AS pa
            FROM embeddings WHERE vec_id < {_LSH_SEARCH_PLANES}),
hi AS (SELECT vec_id - {_LSH_SEARCH_PLANES} AS plane_id, CAST(embedding AS DOUBLE[]) AS pb
       FROM embeddings
       WHERE vec_id >= {_LSH_SEARCH_PLANES} AND vec_id < {2 * _LSH_SEARCH_PLANES}),
planes AS (
  SELECT lo.plane_id,
         (SELECT list(a - b ORDER BY i)
          FROM (SELECT unnest(pa) a, unnest(pb) b,
                       generate_subscripts(pa, 1) i)) AS h
  FROM lo JOIN hi ON lo.plane_id = hi.plane_id),
bits AS (
  SELECT e.vec_id, p.plane_id,
         CASE WHEN (SELECT sum(x * y)
                    FROM (SELECT unnest(CAST(e.embedding AS DOUBLE[])) x,
                                 unnest(p.h) y)) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM embeddings e CROSS JOIN planes p),
buckets AS (
  SELECT vec_id, CAST(sum(bit << plane_id) AS INT) AS bucket
  FROM bits GROUP BY vec_id),
q AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT b.vec_id, b.bucket,
         round(
           (SELECT sum(x * y)
            FROM (SELECT unnest(CAST(e.embedding AS DOUBLE[])) x, unnest(qv.qe) y))
           / (sqrt((SELECT sum(x * x)
                    FROM (SELECT unnest(CAST(e.embedding AS DOUBLE[])) x)))
              * sqrt((SELECT sum(y * y) FROM (SELECT unnest(qv.qe) y)))),
           6) AS cos_sim
  FROM buckets b JOIN embeddings e ON e.vec_id = b.vec_id, q, qv
  WHERE b.bucket = q.qbucket AND b.vec_id <> 0)
SELECT vec_id, bucket, cos_sim
FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 5
"""


# ---------------------------------------------------------------------------
# Text analysis for training-data curation
# ---------------------------------------------------------------------------

# Stopword marker n-grams per language; dict order is the deterministic
# tie-break priority of the argmax.  ONE definition generates both the
# Spark expressions and the SQL twin, so the engines cannot drift.
_LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "es": [" el ", " los ", " las "],
    "fr": [" le ", " les ", " une "],
}


def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID (argmax over per-language stopword-marker counts)
    + quality scoring (token/char ratios) in one pass — the
    curation-filter pattern.

    Occurrence counting via length-difference arithmetic so Spark and
    ANSI SQL agree exactly; ties break by `_LANG_MARKERS` order, all
    marker scores hit zero -> 'unk'.  All floats rounded to 6.

    Scale: pure map-side string arithmetic, zero shuffle.
    """
    d = _t(spark, sf_dir, "documents")

    def occurrences(col, marker):
        return (
            (F.length(col) - F.length(F.replace(col, F.lit(marker), F.lit(""))))
            / len(marker)
        ).cast("bigint")

    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    scores = {
        lang: sum(occurrences(padded, m) for m in ms)
        for lang, ms in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, F.lit("unk"))
    for lang in _LANG_MARKERS:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    n_tokens = F.size(F.split("text", " "))
    avg_tok_len = F.round(F.length("text") / n_tokens, 6)
    return d.select(
        "doc_id",
        *[scores[lang].alias(f"{lang}_markers") for lang in _LANG_MARKERS],
        pred.alias("lang_pred"),
        n_tokens.cast("bigint").alias("n_tokens"),
        avg_tok_len.alias("avg_tok_len"),
        F.round(n_tokens / (F.col("n_chars") + F.lit(1.0)), 6).alias("token_ratio"),
    )


def _lang_score_sql(markers) -> str:
    return " + ".join(
        f"(length(p) - length(replace(p, '{m}', ''))) / {len(m)}" for m in markers
    )


_LANG_SCORE_SQL = {l: _lang_score_sql(ms) for l, ms in _LANG_MARKERS.items()}
_LANG_GREATEST = "greatest(" + ", ".join(
    _LANG_SCORE_SQL[l] for l in _LANG_MARKERS
) + ")"
_LANG_PRED_SQL = (
    f"CASE WHEN {_LANG_GREATEST} = 0 THEN 'unk' "
    + " ".join(
        f"WHEN ({_LANG_SCORE_SQL[l]}) = {_LANG_GREATEST} THEN '{l}'"
        for l in _LANG_MARKERS
    )
    + " END"
)

ORACLE_LANG_QUALITY = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {", ".join(f"CAST({_LANG_SCORE_SQL[l]} AS BIGINT) AS {l}_markers" for l in _LANG_MARKERS)},
       {_LANG_PRED_SQL} AS lang_pred,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6) AS avg_tok_len,
       round(CAST(len(string_split(text, ' ')) AS DOUBLE) / (n_chars + 1.0), 6) AS token_ratio
FROM (SELECT doc_id, text, n_chars, ' ' || text || ' ' AS p FROM documents)
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, three estimators per doc: whitespace tokens, a
    BPE-ish regex tokenization (word runs + lone punctuation,
    `\\w+|[^\\w\\s]` — the GPT-2-style pre-tokenizer shape), and the
    chars/4 subword estimate.  All map-side string ops, zero shuffle."""
    d = _t(spark, sf_dir, "documents")
    words = F.size(F.split("text", " ")).cast("bigint")
    regex_toks = F.size(
        F.expr(r"regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)")
    ).cast("bigint")
    bpe_est = F.ceil(F.length("text") / 4).cast("bigint")
    return d.select(
        "doc_id",
        words.alias("n_words"),
        regex_toks.alias("n_regex_tokens"),
        bpe_est.alias("n_bpe_est"),
        F.greatest(words, bpe_est).alias("n_tokens_budget"),
    )


ORACLE_TOKEN_COUNT = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       CAST(len(regexp_extract_all(text, '\w+|[^\w\s]', 0)) AS BIGINT) AS n_regex_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est,
       CAST(greatest(len(string_split(text, ' ')), CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS n_tokens_budget
FROM documents
"""


_STOPWORDS = ["the", "and", "of", "a", "to", "in"]


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation quality scoring: stopword ratio + punctuation ratio +
    length gates -> keep/drop flag (the C4/Gopher-rules pattern).

    Token and stopword counts via higher-order array functions
    (size(filter(split(...)))) — pure map-side string arithmetic like
    q_lang_quality, no explode, NO shuffle at all.  The previous
    explode + groupBy shape carried the full text column on every token
    row through a doc_id shuffle (corpus × tokens-per-doc shuffle
    volume) just to reconstitute it with first(); at 100 TB that shuffle
    was the whole cost of the query for zero benefit.
    """
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    staged = d.select("doc_id", "text", toks.alias("toks"))
    n_tokens = F.size("toks").cast("bigint")
    n_stop = F.size(F.filter("toks", lambda t: t.isin(_STOPWORDS)))
    punct_ratio = F.round(
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
        )
        / F.length("text"),
        6,
    )
    stop_ratio = F.round(n_stop / n_tokens, 6)
    return staged.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        punct_ratio.alias("punct_ratio"),
        (
            (stop_ratio >= 0.01) & (punct_ratio <= 0.2) & (n_tokens >= 10)
        ).alias("keep"),
    )


_STOPWORD_IN = ", ".join("'" + s + "'" for s in _STOPWORDS)

ORACLE_QUALITY_SCORE = f"""
WITH per_doc AS (
  SELECT doc_id, text,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
         len(list_filter(string_split(text, ' '),
             t -> t <> '' AND t IN ({_STOPWORD_IN}))) AS n_stop
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
       round(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
             / length(text), 6) AS punct_ratio,
       (round(CAST(n_stop AS DOUBLE) / n_tokens, 6) >= 0.01
        AND round(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                  / length(text), 6) <= 0.2
        AND n_tokens >= 10) AS keep
FROM per_doc
"""


_FP_WINDOW = 8
_FP_BASE = 31


_SAMPLE_FULL_SOURCES = ("src0", "src1", "src2", "src3", "src4")
_SAMPLE_DEFAULT_PERMILLE = 250


def _sample_sql(dialect: str = "duck") -> str:
    """Deterministic stratified sampling, one SQL for both dialects.

    Keep a document iff hash16(doc_id) mod 1000 < rate(source), where
    hash16 is the first 4 hex chars of md5 decoded with pure string
    arithmetic (instr over the hex alphabet) — identical integers on
    Spark SQL and DuckDB, unlike rand()/sampleBy which can never be
    oracle-checked.  Hash-based (not modulo-on-id) so the sample is
    stable under id renumbering and uncorrelated with insertion order —
    the training-data downsampling pattern (per-source quality tiers
    keep different fractions).

    Scale: pure map-side arithmetic, zero shuffles; the decision
    depends only on the row itself.
    """
    strtype = "STRING" if dialect == "spark" else "VARCHAR"
    hexv = (
        lambda j: f"(instr('0123456789abcdef', substr(md5(CAST(doc_id AS {strtype})), {j}, 1)) - 1)"
    )
    h16 = f"((({hexv(1)} * 16 + {hexv(2)}) * 16 + {hexv(3)}) * 16 + {hexv(4)})"
    full = ", ".join(f"'{s}'" for s in _SAMPLE_FULL_SOURCES)
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, source
FROM documents
WHERE {h16} % 1000 <
      CASE WHEN source IN ({full}) THEN 1000 ELSE {_SAMPLE_DEFAULT_PERMILLE} END
"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir, ["documents"])
    return spark.sql(_sample_sql("spark"))


q_sample_stratified.__doc__ = _sample_sql.__doc__

ORACLE_SAMPLE_STRATIFIED = _sample_sql()


_TFIDF_TOPK = 3


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k salient terms by TF·(N/df) — the rational-form
    TF-IDF (no log, so Spark and DuckDB agree bit-for-bit on the
    weights; the ranking is the same monotone transform).

    Scale: one explode + groupBy(doc_id, tok) with partial aggregation
    for TF; document frequency is a second groupBy on tok; the df join
    shuffles on tok (co-partitioned with the tf table's natural key
    suffix); the final top-k is a per-doc window, never a global sort.
    N joins in as a broadcast 1-row aggregate — computed inside the
    same job (a column-less count-star scan, parquet row-group counts
    only), not a separate driver-blocking ``.count()`` pass (VERDICT r2
    nit); in production it comes free from the metastore.
    """
    d = _t(spark, sf_dir, "documents")
    n_df = d.groupBy().agg(F.count("*").alias("n_docs"))
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("weight").desc(), F.col("tok")
    )
    return (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n_df))
        .withColumn(
            "weight", F.round(F.col("tf") * F.col("n_docs") / F.col("df"), 6)
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TFIDF_TOPK)
        .select("doc_id", "tok", "weight", F.col("rk").cast("int").alias("rk"))
    )


# N (document count) must match the literal the Spark side uses; the
# oracle derives it from the same table, so both are count(documents).
ORACLE_TFIDF_TOPK = f"""
WITH n AS (SELECT count(*) AS n_docs FROM documents),
tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY doc_id, tok),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
weighted AS (
  SELECT tf.doc_id, tf.tok,
         round(tf.tf * n.n_docs / dfreq.df, 6) AS weight
  FROM tf JOIN dfreq ON tf.tok = dfreq.tok, n),
ranked AS (
  SELECT doc_id, tok, weight,
         row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, tok) AS rk
  FROM weighted)
SELECT CAST(doc_id AS BIGINT) AS doc_id, tok, weight, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {_TFIDF_TOPK}
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: winnowing-style — the minimum hash over
    all 8-char rolling windows.

    The window hash is a base-31 polynomial over the character codes
    (Σ code(c_j)·31^j — the Rabin-Karp shape, exact in BIGINT),
    computed as one integer ``np.correlate`` against the weight vector
    per document (dense-math doctrine, SURVEY §4: Catalyst higher-order
    lambdas are interpreted per element — the previous
    transform-over-offsets form paid ~30 interpreted expression nodes
    per character).  Per-row transient is the int64 code array
    (8 B/char), streamed batch by batch.

    Scale: map-side only — no explode (one row per character of the
    corpus) and NO shuffle at all.
    """
    d = _t(spark, sf_dir, "documents")

    def fp(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fingerprint": _rolling_fingerprints(pdf["text"]),
                }
            )

    # _spread: the Python fingerprint kernel otherwise inherits the
    # scan's single local split (no-op at scale — guide §2.5)
    return _spread(d.select("doc_id", "text")).mapInPandas(
        fp, "doc_id bigint, fingerprint bigint"
    )


def _rolling_fingerprints(texts) -> "np.ndarray":
    """Minimum base-31 polynomial over all ``_FP_WINDOW``-char windows
    of each text, exact in int64 (property-tested against the naive
    per-window polynomial in tests/test_kernels.py)."""
    weights = np.array([_FP_BASE ** j for j in range(_FP_WINDOW)], dtype="int64")
    out = np.zeros(len(texts), dtype="int64")
    for i, t in enumerate(texts):
        t = t or ""
        b = t.encode("utf-8")
        if len(b) == len(t):  # pure ASCII: bytes ARE the codes
            codes = np.frombuffer(b, dtype="uint8").astype("int64")
        else:
            codes = np.array([ord(c) for c in t], dtype="int64")
        if len(codes) < _FP_WINDOW:
            # short doc: one zero-padded window at offset 0 — the
            # oracle's CASE ... ELSE 0 terms
            codes = np.pad(codes, (0, _FP_WINDOW - len(codes)))
        # correlate = Σ codes[i+j]·B^j per offset: the rolling
        # polynomial over every window, exact in int64
        out[i] = np.correlate(codes, weights).min()
    return out


_FP_TERMS = " + ".join(
    f"(CASE WHEN i + {j} <= length(text) THEN ascii(substr(text, i + {j}, 1)) ELSE 0 END)"
    f" * CAST({_FP_BASE ** j} AS BIGINT)"
    for j in range(_FP_WINDOW)
)

ORACLE_DOC_FINGERPRINT = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(min({_FP_TERMS}) AS BIGINT) AS fingerprint
FROM (SELECT doc_id, text,
             unnest(CASE WHEN length(text) >= {_FP_WINDOW}
                         THEN generate_series(1, length(text) - {_FP_WINDOW - 1})
                         ELSE [1] END) AS i
      FROM documents)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Extraction pipeline entries (the flagship; real UDF path)
# ---------------------------------------------------------------------------

def q_extract_plain_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL extraction UDF run over the documents table (payloads are
    plain text, so the extracted text is SQL-expressible: trimmed
    content lines) — every document goes through the ``mapInArrow``
    kernel, cross-checked against the DuckDB oracle."""
    from .job import extract_detailed

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        "text",
    )
    ext = extract_detailed(d)
    return ext.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "method",
        F.col("text").alias("extracted"),
    )


ORACLE_EXTRACT_PLAIN_DOCS = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'plain' AS method,
       trim(text) AS extracted
FROM documents
"""


def q_extract_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: synthesize transcript payloads from the documents table
    (deterministic wrapping by doc_id), run the full extraction pipeline
    with salting + lineage, return per-turn rows.

    SQL-expressible for these payloads (see ORACLE_EXTRACT_TRANSCRIPTS):
    the pdf_text/markup/plain branches reduce to trim + whitespace
    canonicalization, and the HTML branch's detection gates (D3-D5) are
    computable in SQL because the fixed ``<p>…</p>`` wrap contributes
    zero links and zero inline tags (score = 1.0).  The full parser
    behavior (entity decode, nested tags, fallback) stays pinned by the
    pytest golden fixtures (tests/test_golden_spark.py).
    """
    from .job import extract_detailed

    t = _synth_transcripts(_t(spark, sf_dir, "documents"))
    return extract_detailed(t, num_partitions=0, salt_buckets=4, src_snapshot_id=1).select(
        "conv_id", "turn_idx", "method", F.col("text").alias("extracted")
    )


# DuckDB twin of the flagship.  Per payload branch (doc_id % 4):
#   1 pdf_text: the JSON template embeds `text` as the single span; the
#     documents corpus contains no '"' or '\\', so the JSON always parses
#     and the extracted line is trim(text).
#   2 markup:   the fenced region's content is `text` + newline -> trim.
#   3 plain:    one non-blank line -> trim(text).
#   0 html:     the <p> block has link_density = 0 and tag_density = 0,
#     so the D2 score is 1.0 > THRESHOLD (D3) unconditionally; the two
#     remaining gates ARE encoded below: length >= MIN_AREA (D4) and
#     mean per-token alnum ratio >= BOX_THRESH (D5).  A gated-out block
#     yields extracted = '' (the "\n".join of zero blocks).
# `raw` replays the parser's " ".join(split()) whitespace
# canonicalization (collapse runs of spaces + trim; the corpus has no
# tabs/newlines, so ' +' covers all whitespace runs).
ORACLE_EXTRACT_TRANSCRIPTS = """
WITH base AS (
  SELECT 'conv-' || CAST(doc_id // 10 AS VARCHAR) AS conv_id,
         CAST(doc_id % 10 AS INT) AS turn_idx,
         doc_id % 4 AS branch,
         trim(regexp_replace(text, ' +', ' ', 'g')) AS raw
  FROM documents),
gated AS (
  SELECT conv_id, turn_idx, branch, raw,
         CASE WHEN branch <> 0 THEN TRUE ELSE
           (length(raw) >= 38  -- D4 MIN_AREA
            AND list_avg(list_transform(string_split(raw, ' '),
                  t -> CAST(length(regexp_replace(t, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE)
                       / length(t))) >= 0.52)  -- D5 BOX_THRESH
         END AS keep
  FROM base)
SELECT conv_id, turn_idx,
       CASE branch WHEN 0 THEN 'html' WHEN 1 THEN 'pdf_text'
                   WHEN 2 THEN 'markup' ELSE 'plain' END AS method,
       CASE WHEN keep THEN raw ELSE '' END AS extracted
FROM gated
"""


def q_assemble_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-conversation assembly through the REAL extraction path:
    synthesize plain-text turns from documents, extract via the Arrow UDF,
    then `conversation_text` (groupBy + array_sort on (turn_idx, text) —
    the cross-turn analog of the reference's page-list assembly,
    __init__.py:91-95).  Plain payloads keep the oracle SQL-expressible:
    assembled text == string_agg(trim(text)) ordered by turn_idx.

    Scale: one shuffle keyed by conv_id; ordering is within-group
    (array_sort), never a global sort.
    """
    from .job import conversation_text, extract_detailed

    d = _t(spark, sf_dir, "documents")
    t = d.select(
        F.concat(
            F.lit("conv-"), (F.col("doc_id") / 10).cast("bigint").cast("string")
        ).alias("conv_id"),
        (F.col("doc_id") % 10).cast("int").alias("turn_idx"),
        "text",
    )
    ext = extract_detailed(t, num_partitions=0, salt_buckets=2)
    return conversation_text(ext).select(
        "conv_id", F.col("text").alias("conv_text"), F.col("n_turns").cast("int").alias("n_turns")
    )


ORACLE_ASSEMBLE_CONVERSATIONS = """
SELECT 'conv-' || CAST(doc_id // 10 AS VARCHAR) AS conv_id,
       string_agg(trim(text), chr(10) ORDER BY doc_id % 10) AS conv_text,
       CAST(count(*) AS INT) AS n_turns
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary columns + stubbed decode via mapInPandas)
# ---------------------------------------------------------------------------

def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: treat content as an opaque binary
    column, run a mapInPandas 'decode' over Arrow batches producing
    typed metadata.  The decode itself is a deterministic stand-in
    (real image/audio libs absent — see queries_multimodal.py), but
    the schema, batching, and UDF signature are the real thing.
    """
    from .queries_multimodal import decode_meta

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return decode_meta(d)


ORACLE_MULTIMODAL_META = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       CAST(length(text) % 640 AS INT) AS width,
       CAST(length(text) % 480 AS INT) AS height,
       CASE WHEN length(text) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
FROM documents
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through the mapInPandas 1->N row-expansion UDF:
    one 'video' (binary payload) row becomes one row per sampled frame.
    Payloads here are ASCII bytes, so the DuckDB twin can express the
    chunking with substr arithmetic — cross-checking the expansion
    contract itself (count, indices, content)."""
    from .queries_multimodal import sample_frames

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    out = sample_frames(d, every_n=2)
    return out.select(
        "doc_id", "frame_idx", F.decode(F.col("frame"), "UTF-8").alias("frame_text")
    )


ORACLE_MULTIMODAL_FRAMES = """
SELECT doc_id, CAST(k AS INT) AS frame_idx,
       substr(text, k * 256 + 1, 256) AS frame_text
FROM (
  SELECT doc_id, text,
         unnest(generate_series(0, greatest(1, CAST(ceil(length(text) / 256.0) AS INT)) - 1)) AS k
  FROM documents)
WHERE k % 2 = 0
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads (byte-bucket histogram
    stand-in for a vision encoder), canonicalized to scalar rows.

    The kernel emits ``array<float>`` (queries_multimodal.extract_features);
    array columns are unsortable by generic rows-only comparators, so
    the catalog entry posexplodes to ``(doc_id, dim_idx, value)`` — one
    row per feature dimension, every column scalar.  The float32 value
    is cast to double (exact) and rounded; the oracle replays the same
    double -> float32 -> double chain with ``CAST(... AS REAL)`` so both
    engines round through identical IEEE bits.
    """
    from .queries_multimodal import extract_features

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    feats = extract_features(d)
    return feats.select(
        "doc_id", F.posexplode("features").alias("dim_idx", "value")
    ).select(
        "doc_id",
        F.col("dim_idx").cast("int").alias("dim_idx"),
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


# The payloads are UTF-8 encodings of the ASCII `documents.text` column,
# so byte == code point and n_bytes == length(text); the kernel's
# `byte >> 5` bucket is `ascii(char) // 32`.  hist/sum is computed in
# float64 then cast float32 in the kernel — replayed here as
# DOUBLE -> REAL -> DOUBLE before the final round.
ORACLE_MULTIMODAL_FEATURES = f"""
WITH chars AS (
  SELECT doc_id, ascii(substr(text, i, 1)) // 32 AS bucket
  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
        FROM documents)),
hist AS (SELECT doc_id, bucket, count(*) AS c FROM chars GROUP BY doc_id, bucket),
tot AS (SELECT doc_id, count(*) AS t FROM chars GROUP BY doc_id),
dims AS (SELECT unnest(generate_series(0, {FEATURE_DIM - 1})) AS dim_idx)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(dims.dim_idx AS INT) AS dim_idx,
       round(CAST(CAST(CAST(coalesce(h.c, 0) AS DOUBLE) / t.t AS REAL) AS DOUBLE), 6) AS value
FROM tot t CROSS JOIN dims
LEFT JOIN hist h ON h.doc_id = t.doc_id AND h.bucket = dims.dim_idx
"""


# ---------------------------------------------------------------------------
# Catalog
# ---------------------------------------------------------------------------

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "scan_prune": q_scan_prune,
    "filter_gates": q_filter_gates,
    "dispatch_case": q_dispatch_case,
    "explode_tokens": q_explode_tokens,
    "reading_order": q_reading_order,
    "text_assembly": q_text_assembly,
    "join_broadcast": q_join_broadcast,
    "multi_join": q_multi_join,
    "groupby_agg": q_groupby_agg,
    "order_restore": q_order_restore,
    "topk_per_group": q_topk_per_group,
    "part_supplier_revenue": q_part_supplier_revenue,
    "anti_join": q_anti_join,
    "rollup_daily": q_rollup_daily,
    "sessionize": q_sessionize,
    "asof_join": q_asof_join,
    "window_tumbling": q_window_tumbling,
    "pivot_events": q_pivot_events,
    "range_join_bucketed": q_range_join_bucketed,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_verify": q_dedup_minhash_verify,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_embed_cosine": q_dedup_embed_cosine,
    "dedup_embed_cosine_mp": q_dedup_embed_cosine_mp,
    "cosine_topk": q_cosine_topk,
    "ann_ivf_assign": q_ann_ivf_assign,
    "ann_ivf_search": q_ann_ivf_search,
    "ann_recall_eval": q_ann_recall_eval,
    "ann_lsh_buckets": q_ann_lsh_buckets,
    "ann_lsh_search": q_ann_lsh_search,
    "lang_quality": q_lang_quality,
    "quality_score": q_quality_score,
    "token_count": q_token_count,
    "sample_stratified": q_sample_stratified,
    "tfidf_topk": q_tfidf_topk,
    "doc_fingerprint": q_doc_fingerprint,
    "extract_plain_docs": q_extract_plain_docs,
    "extract_transcripts": q_extract_transcripts,
    "assemble_conversations": q_assemble_conversations,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_frames": q_multimodal_frames,
    "multimodal_features": q_multimodal_features,
}

ORACLES: Dict[str, str] = {
    "scan_prune": ORACLE_SCAN_PRUNE,
    "filter_gates": ORACLE_FILTER_GATES,
    "dispatch_case": ORACLE_DISPATCH_CASE,
    "explode_tokens": ORACLE_EXPLODE_TOKENS,
    "reading_order": ORACLE_READING_ORDER,
    "text_assembly": ORACLE_TEXT_ASSEMBLY,
    "join_broadcast": ORACLE_JOIN_BROADCAST,
    "multi_join": ORACLE_MULTI_JOIN,
    "groupby_agg": ORACLE_GROUPBY_AGG,
    "order_restore": ORACLE_ORDER_RESTORE,
    "topk_per_group": ORACLE_TOPK_PER_GROUP,
    "part_supplier_revenue": ORACLE_PART_SUPPLIER_REVENUE,
    "anti_join": ORACLE_ANTI_JOIN,
    "rollup_daily": ORACLE_ROLLUP_DAILY,
    "sessionize": ORACLE_SESSIONIZE,
    "asof_join": ORACLE_ASOF_JOIN,
    "window_tumbling": ORACLE_WINDOW_TUMBLING,
    "pivot_events": ORACLE_PIVOT_EVENTS,
    "range_join_bucketed": ORACLE_RANGE_JOIN_BUCKETED,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_ngram_jaccard": ORACLE_DEDUP_NGRAM_JACCARD,
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH_LSH,
    "dedup_minhash_verify": ORACLE_DEDUP_MINHASH_VERIFY,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
    "dedup_simhash_pairs": ORACLE_DEDUP_SIMHASH_PAIRS,
    "dedup_embed_cosine": ORACLE_DEDUP_EMBED_COSINE,
    "dedup_embed_cosine_mp": ORACLE_DEDUP_EMBED_COSINE_MP,
    "cosine_topk": ORACLE_COSINE_TOPK,
    "ann_ivf_assign": ORACLE_ANN_IVF_ASSIGN,
    "ann_ivf_search": ORACLE_ANN_IVF_SEARCH,
    "ann_recall_eval": ORACLE_ANN_RECALL_EVAL,
    "ann_lsh_buckets": ORACLE_ANN_LSH_BUCKETS,
    "ann_lsh_search": ORACLE_ANN_LSH_SEARCH,
    "lang_quality": ORACLE_LANG_QUALITY,
    "quality_score": ORACLE_QUALITY_SCORE,
    "token_count": ORACLE_TOKEN_COUNT,
    "sample_stratified": ORACLE_SAMPLE_STRATIFIED,
    "tfidf_topk": ORACLE_TFIDF_TOPK,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "extract_plain_docs": ORACLE_EXTRACT_PLAIN_DOCS,
    "extract_transcripts": ORACLE_EXTRACT_TRANSCRIPTS,
    "assemble_conversations": ORACLE_ASSEMBLE_CONVERSATIONS,
    "multimodal_meta": ORACLE_MULTIMODAL_META,
    "multimodal_frames": ORACLE_MULTIMODAL_FRAMES,
    "multimodal_features": ORACLE_MULTIMODAL_FEATURES,
}


# Catalog extensions (dedup groups, k-means, streaming entries)
# self-register into QUERIES/ORACLES on import.  The oracles several of
# them read at import time are defined above this line, so queries_ext
# and queries_pipeline may each be imported before this module.
from . import queries_ext as _queries_ext  # noqa: E402,F401
from . import queries_pipeline as _queries_pipeline  # noqa: E402,F401
from . import queries_scale as _queries_scale  # noqa: E402,F401
from . import queries_curation as _queries_curation  # noqa: E402,F401
from . import queries_transcript as _queries_transcript  # noqa: E402,F401
from . import queries_retrieval as _queries_retrieval  # noqa: E402,F401
from . import queries_mining as _queries_mining  # noqa: E402,F401
from . import queries_warehouse as _queries_warehouse  # noqa: E402,F401
from . import queries_analytics as _queries_analytics  # noqa: E402,F401
from . import queries_round4 as _queries_round4  # noqa: E402,F401
from . import queries_drift as _queries_drift  # noqa: E402,F401
from . import queries_training as _queries_training  # noqa: E402,F401
from . import queries_quality as _queries_quality  # noqa: E402,F401
from . import queries_maintenance as _queries_maintenance  # noqa: E402,F401
from . import queries_evalharness as _queries_evalharness  # noqa: E402,F401
from . import queries_corpus as _queries_corpus  # noqa: E402,F401
from . import queries_selection as _queries_selection  # noqa: E402,F401
from . import queries_dedupqa as _queries_dedupqa  # noqa: E402,F401
from . import queries_rankstats as _queries_rankstats  # noqa: E402,F401
from . import queries_audit as _queries_audit  # noqa: E402,F401
from . import queries_shape as _queries_shape  # noqa: E402,F401
from . import queries_fidelity as _queries_fidelity  # noqa: E402,F401
from . import queries_payoff as _queries_payoff  # noqa: E402,F401
from . import queries_regression as _queries_regression  # noqa: E402,F401
from . import queries_mlprep as _queries_mlprep  # noqa: E402,F401
from . import queries_experiment as _queries_experiment  # noqa: E402,F401
from . import queries_coreset as _queries_coreset  # noqa: E402,F401
from . import queries_calibration as _queries_calibration  # noqa: E402,F401
from . import queries_nonparam as _queries_nonparam  # noqa: E402,F401
from . import queries_estimation as _queries_estimation  # noqa: E402,F401
from . import queries_spectral as _queries_spectral  # noqa: E402,F401
from . import queries_dependence as _queries_dependence  # noqa: E402,F401
from . import queries_design as _queries_design  # noqa: E402,F401
from . import queries_distfit as _queries_distfit  # noqa: E402,F401
from . import queries_clustereval as _queries_clustereval  # noqa: E402,F401
from . import queries_diagnostics as _queries_diagnostics  # noqa: E402,F401
from . import queries_inference as _queries_inference  # noqa: E402,F401
from . import queries_regdiag as _queries_regdiag  # noqa: E402,F401
from . import queries_abtest as _queries_abtest  # noqa: E402,F401
from . import queries_ragops as _queries_ragops  # noqa: E402,F401
from . import queries_retrieval2 as _queries_retrieval2  # noqa: E402,F401
from . import queries_threshold as _queries_threshold  # noqa: E402,F401
from . import queries_transcript2 as _queries_transcript2  # noqa: E402,F401
from . import queries_inequality as _queries_inequality  # noqa: E402,F401
from . import queries_planner as _queries_planner  # noqa: E402,F401
from . import queries_cache as _queries_cache  # noqa: E402,F401
from . import queries_forecast as _queries_forecast  # noqa: E402,F401
from . import queries_robustscale as _queries_robustscale  # noqa: E402,F401
from . import queries_shuffle as _queries_shuffle  # noqa: E402,F401
from . import queries_resample as _queries_resample  # noqa: E402,F401
from . import queries_contract as _queries_contract  # noqa: E402,F401
from . import queries_extractqa as _queries_extractqa  # noqa: E402,F401
from . import queries_checksum as _queries_checksum  # noqa: E402,F401
from . import queries_quantsurface as _queries_quantsurface  # noqa: E402,F401
from . import queries_eventtime as _queries_eventtime  # noqa: E402,F401
from . import queries_sampling2 as _queries_sampling2  # noqa: E402,F401
from . import queries_sre as _queries_sre  # noqa: E402,F401
from . import queries_causal as _queries_causal  # noqa: E402,F401
from . import queries_spans as _queries_spans  # noqa: E402,F401
from . import queries_attribution as _queries_attribution  # noqa: E402,F401
from . import queries_procmine as _queries_procmine  # noqa: E402,F401
from . import queries_lifecycle as _queries_lifecycle  # noqa: E402,F401
from . import queries_planted as _queries_planted  # noqa: E402,F401
from . import queries_extractsem as _queries_extractsem  # noqa: E402,F401
from . import queries_pipelinecert as _queries_pipelinecert  # noqa: E402,F401
from . import queries_embedqual as _queries_embedqual  # noqa: E402,F401
from . import queries_convcert as _queries_convcert  # noqa: E402,F401
from . import queries_ratelimit as _queries_ratelimit  # noqa: E402,F401
from . import queries_weighted as _queries_weighted  # noqa: E402,F401
from . import queries_aqp as _queries_aqp  # noqa: E402,F401
from . import queries_robustscale_dist as _queries_robustscale_dist  # noqa: E402,F401
