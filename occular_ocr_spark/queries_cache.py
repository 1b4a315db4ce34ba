"""Access-pattern / cache-planning catalog, round 4 (wave 62): five
operators that replay Mattson's classic stack-analysis toolkit over
the events trace — the math behind sizing a hot-partition cache, an
executor-side broadcast cache, or a shuffle-service buffer at 100 TB.

The trace is deterministic on both engines: accesses are the events
rows keyed by ``event_type || '#' || (⌊value⌋ mod {_CK_MOD})`` (5×7 =
35 reusable keys), ordered per user by the total order (ts, event_id)
→ a 1-based position column, so every window below is tie-free.

* ``stack_distance_hist`` — LRU stack distance of every access: the
  number of DISTINCT keys touched strictly between an access and the
  previous access of the same (user, key); cold first touches are the
  distance = -1 row.  The distance histogram is THE reuse profile a
  cache simulation consumes (Mattson et al., IBM Sys J 1970).
* ``lru_hit_curve`` — exact LRU hit counts for cache sizes
  {_LRU_SIZES}: an access hits a size-C LRU iff its stack distance
  ≤ C-1.  Computed from the bounded distance histogram (≤ #keys
  rows), never the raw trace — the scale-correct cumulative shape.
* ``working_set_hist`` — Denning working-set sizes: distinct keys per
  (user, block of {_WS_BLOCK} consecutive accesses), histogrammed
  with half-up micro shares.
* ``reuse_gap_stats`` — per event_type re-access gaps in trace
  positions: count, min, max, half-up micro mean, and the exact lower
  median via the rank-selection idiom (no percentile function — the
  engines disagree on interpolation).
* ``lfu_topk_hits`` — static-LFU ceiling: hits if the cache pinned
  the c globally most-frequent keys (freq desc, key asc tie-break)
  for c in {_LFU_SIZES} — the frequency-skew upper bound an LRU
  curve is judged against.

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus plan assertions in tests/test_cache_wave.py.

Cross-engine float policy: positions, distances, gaps, counts are
exact integers end-to-end (⌊value⌋ is exact on doubles < 2^53);
ratios are single half-up micro divisions.

Scale notes: the trace windows partition by user_id (the natural
shard); the distance self-join is equi on user_id with a position
band — per-user sequential at fixture scale, and the docstringed
production form is the single-pass per-user Mattson stack
(applyInPandas over the same partitioning, one ordered scan).  The
hit curves and histograms aggregate frames bounded by #keys or
#blocks, never the raw trace.

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import queries as _q
from .queries import _t

_CK_MOD = 7
_WS_BLOCK = 16
_LRU_SIZES = [1, 2, 4, 8, 16, 32]
_LFU_SIZES = [1, 2, 4, 8, 16]

_KEY_EXPR = (
    "concat(coalesce(event_type, ''), '#', CAST(CAST(floor("
    f"coalesce(value, -{_CK_MOD})) AS BIGINT) % {_CK_MOD} AS STRING))"
)
_KEY_SQL = (
    "coalesce(event_type, '') || '#' || CAST(CAST(floor("
    f"coalesce(value, -{_CK_MOD})) AS BIGINT) % {_CK_MOD} AS VARCHAR)"
)


def _trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, event_type, key, pos, prev_pos): the per-user access
    trace with 1-based tie-free positions and the previous position
    of the same key (NULL on cold first touch)."""
    return (
        _t(spark, sf_dir, "events")
        .selectExpr(
            "user_id", "event_id", "event_type", f"{_KEY_EXPR} AS key", "ts"
        )
        .selectExpr(
            "user_id",
            "event_type",
            "key",
            "row_number() OVER (PARTITION BY user_id"
            " ORDER BY ts, event_id) AS pos",
        )
        .selectExpr(
            "user_id",
            "event_type",
            "key",
            "pos",
            "lag(pos) OVER (PARTITION BY user_id, key"
            " ORDER BY pos) AS prev_pos",
        )
    )


_TRACE_SQL = f"""
trace AS (
  SELECT user_id, event_type, key, pos,
         lag(pos) OVER (PARTITION BY user_id, key ORDER BY pos) AS prev_pos
  FROM (
    SELECT user_id, event_type, {_KEY_SQL} AS key,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS pos
    FROM events) base)
"""


def _distances(spark: SparkSession, sf_dir: str, tr=None) -> DataFrame:
    """Per re-access LRU stack distance: DISTINCT keys strictly
    between prev_pos and pos within the same user's trace.  Callers
    that also read the trace pass their persisted copy via ``tr`` so
    the windowed trace build runs once per query, not per branch."""
    if tr is None:
        tr = _q._persist_tracked(_trace(spark, sf_dir))
    re = tr.where("prev_pos IS NOT NULL").selectExpr(
        "user_id AS r_user", "pos AS r_pos", "prev_pos AS r_prev"
    )
    mid = tr.selectExpr("user_id AS m_user", "pos AS m_pos", "key AS m_key")
    return (
        re.join(
            mid,
            (F.col("m_user") == F.col("r_user"))
            & (F.col("m_pos") > F.col("r_prev"))
            & (F.col("m_pos") < F.col("r_pos")),
            "left",
        )
        .groupBy("r_user", "r_pos")
        .agg(F.countDistinct("m_key").cast("long").alias("distance"))
    )


_DIST_SQL = f"""
{_TRACE_SQL},
dist AS (
  SELECT r.user_id, r.pos,
         CAST(count(DISTINCT m.key) AS BIGINT) AS distance
  FROM trace r
  LEFT JOIN trace m
    ON m.user_id = r.user_id AND m.pos > r.prev_pos AND m.pos < r.pos
  WHERE r.prev_pos IS NOT NULL
  GROUP BY r.user_id, r.pos)
"""


# ---------------------------------------------------------------------------
# stack_distance_hist
# ---------------------------------------------------------------------------


def q_stack_distance_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LRU stack-distance histogram; distance -1 = cold first touch.

    Scale: the self-join is equi on user_id (the shard key) with a
    position band; output is bounded by #keys+1 rows.  Production
    form at 10^12 accesses: one ordered pass per user partition
    maintaining the LRU stack (applyInPandas), same histogram.
    """
    # one persisted trace feeds the cold branch AND the distance join
    # (was two full windowed trace builds)
    tr = _q._persist_tracked(_trace(spark, sf_dir))
    cold = tr.where("prev_pos IS NULL").agg(
        F.lit(-1).cast("long").alias("distance"),
        F.count("*").cast("long").alias("n_accesses"),
    )
    warm = (
        _distances(spark, sf_dir, tr)
        .groupBy("distance")
        .agg(F.count("*").cast("long").alias("n_accesses"))
    )
    return warm.unionAll(cold)


ORACLE_STACK_DISTANCE_HIST = f"""
WITH {_DIST_SQL}
SELECT distance, CAST(count(*) AS BIGINT) AS n_accesses
FROM dist GROUP BY distance
UNION ALL
SELECT CAST(-1 AS BIGINT) AS distance,
       CAST(count(*) AS BIGINT) AS n_accesses
FROM trace WHERE prev_pos IS NULL
"""


# ---------------------------------------------------------------------------
# lru_hit_curve
# ---------------------------------------------------------------------------


def q_lru_hit_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact LRU hit count + half-up micro hit ratio per cache size:
    hit iff stack distance ≤ C-1; misses include all cold touches.

    Scale: cumulates the ≤#keys-row distance histogram against a
    6-row size frame — the raw trace is touched once.
    """
    # one persisted trace feeds the distance join AND the access total
    # (was two full windowed trace builds)
    tr = _q._persist_tracked(_trace(spark, sf_dir))
    hist = _q._persist_tracked(
        _distances(spark, sf_dir, tr)
        .groupBy("distance")
        .agg(F.count("*").cast("long").alias("n"))
    )
    total = tr.agg(F.count("*").cast("long").alias("accesses"))
    sizes = spark.createDataFrame(
        [(c,) for c in _LRU_SIZES], "cache_size int"
    )
    return (
        sizes.crossJoin(F.broadcast(hist))
        .groupBy("cache_size")
        .agg(
            F.sum(
                F.when(F.col("distance") <= F.col("cache_size") - 1, F.col("n"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("hits")
        )
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "cache_size",
            "hits",
            "accesses",
            "CAST((2000000 * hits + accesses) DIV (2 * accesses) AS BIGINT)"
            " AS hit_micro",
        )
    )


ORACLE_LRU_HIT_CURVE = f"""
WITH {_DIST_SQL},
hist AS (
  SELECT distance, CAST(count(*) AS BIGINT) AS n FROM dist GROUP BY distance),
total AS (
  SELECT CAST(count(*) AS BIGINT) AS accesses FROM trace),
sizes AS (SELECT unnest(ARRAY{_LRU_SIZES}) AS cache_size)
SELECT CAST(s.cache_size AS INT) AS cache_size,
       CAST(coalesce(sum(CASE WHEN h.distance <= s.cache_size - 1
                              THEN h.n ELSE 0 END), 0) AS BIGINT) AS hits,
       t.accesses,
       CAST(CAST(2000000 * coalesce(sum(CASE WHEN h.distance <=
                 s.cache_size - 1 THEN h.n ELSE 0 END), 0)
                 + t.accesses AS HUGEINT)
            // CAST(2 * t.accesses AS HUGEINT) AS BIGINT) AS hit_micro
FROM sizes s CROSS JOIN total t CROSS JOIN hist h
GROUP BY s.cache_size, t.accesses
"""


# ---------------------------------------------------------------------------
# working_set_hist
# ---------------------------------------------------------------------------


def q_working_set_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denning working-set histogram: distinct keys per (user, block
    of {_WS_BLOCK} accesses), with half-up micro block shares.

    Scale: block id is pure arithmetic on the per-user position; the
    distinct is a partial agg on (user, block); histogram ≤#keys rows.
    """
    ws = (
        _trace(spark, sf_dir)
        .selectExpr("user_id", f"(pos - 1) DIV {_WS_BLOCK} AS block", "key")
        .groupBy("user_id", "block")
        .agg(F.countDistinct("key").cast("long").alias("ws_size"))
    )
    hist = ws.groupBy("ws_size").agg(
        F.count("*").cast("long").alias("n_blocks")
    )
    total = ws.agg(F.count("*").cast("long").alias("t"))
    return hist.crossJoin(F.broadcast(total)).selectExpr(
        "ws_size",
        "n_blocks",
        "CAST((2000000 * n_blocks + t) DIV (2 * t) AS BIGINT)"
        " AS share_micro",
    )


ORACLE_WORKING_SET_HIST = f"""
WITH {_TRACE_SQL},
ws AS (
  SELECT user_id, (pos - 1) // {_WS_BLOCK} AS block,
         CAST(count(DISTINCT key) AS BIGINT) AS ws_size
  FROM trace GROUP BY user_id, (pos - 1) // {_WS_BLOCK}),
hist AS (
  SELECT ws_size, CAST(count(*) AS BIGINT) AS n_blocks
  FROM ws GROUP BY ws_size),
total AS (SELECT CAST(count(*) AS BIGINT) AS t FROM ws)
SELECT ws_size, n_blocks,
       CAST(CAST(2000000 * n_blocks + t AS HUGEINT)
            // CAST(2 * t AS HUGEINT) AS BIGINT) AS share_micro
FROM hist, total
"""


# ---------------------------------------------------------------------------
# reuse_gap_stats
# ---------------------------------------------------------------------------


def q_reuse_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type re-access gap (trace positions) profile: count,
    min, max, half-up micro mean, exact lower median by rank
    selection.

    Scale: gaps are window arithmetic on the sharded trace; the
    median rank window partitions by the 5-value event_type —
    bounded per-group sort, and the production form is the
    two-pass histogram selection of group_quantiles_dist.
    """
    gaps = _q._persist_tracked(
        _trace(spark, sf_dir)
        .where("prev_pos IS NOT NULL")
        .selectExpr("event_type", "pos - prev_pos AS gap")
    )
    # lower median off (event_type, gap)-compressed cumulative counts
    # instead of ranking raw gap rows in ≤5 fixed event_type partitions
    # (the same fix as median_polish); the windows below run over
    # distinct gap values only
    med = (
        gaps.groupBy("event_type", "gap")
        .agg(F.count("*").alias("_n"))
        .selectExpr(
            "event_type",
            "gap",
            "_n",
            "sum(_n) OVER (PARTITION BY event_type ORDER BY gap) AS _cum",
            "(sum(_n) OVER (PARTITION BY event_type) + 1) DIV 2 AS _tgt",
        )
        .where("_cum >= _tgt AND _cum - _n < _tgt")
        .selectExpr("event_type", "gap AS median_gap")
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_reuses"),
            F.min("gap").cast("long").alias("min_gap"),
            F.max("gap").cast("long").alias("max_gap"),
            F.sum("gap").cast("long").alias("s"),
        )
        .join(med, "event_type")
        .selectExpr(
            "event_type",
            "n_reuses",
            "min_gap",
            "max_gap",
            "CAST((2000000 * s + n_reuses) DIV (2 * n_reuses) AS BIGINT)"
            " AS mean_gap_micro",
            "median_gap",
        )
    )


ORACLE_REUSE_GAP_STATS = f"""
WITH {_TRACE_SQL},
gaps AS (
  SELECT event_type, pos - prev_pos AS gap
  FROM trace WHERE prev_pos IS NOT NULL),
med AS (
  SELECT event_type, gap AS median_gap FROM (
    SELECT event_type, gap,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY gap, event_type) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM gaps) WHERE rk = (n + 1) // 2),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_reuses,
         CAST(min(gap) AS BIGINT) AS min_gap,
         CAST(max(gap) AS BIGINT) AS max_gap,
         CAST(sum(gap) AS BIGINT) AS s
  FROM gaps GROUP BY event_type)
SELECT a.event_type, a.n_reuses, a.min_gap, a.max_gap,
       CAST(CAST(2000000 * a.s + a.n_reuses AS HUGEINT)
            // CAST(2 * a.n_reuses AS HUGEINT) AS BIGINT)
         AS mean_gap_micro,
       m.median_gap
FROM agg a JOIN med m ON m.event_type = a.event_type
"""


# ---------------------------------------------------------------------------
# lfu_topk_hits
# ---------------------------------------------------------------------------


def q_lfu_topk_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static-LFU ceiling: hit count + half-up micro ratio if the c
    most-frequent keys (freq desc, key asc) were pinned, c in
    {_LFU_SIZES}.

    Scale: key frequencies are one partial agg (≤35 rows here, ≤#keys
    in general); the rank window runs over that bounded frame only.
    """
    freq = (
        _trace(spark, sf_dir)
        .groupBy("key")
        .agg(F.count("*").cast("long").alias("f"))
        .selectExpr(
            "key",
            "f",
            "row_number() OVER (ORDER BY f DESC, key) AS rk",
        )
    )
    freq = _q._persist_tracked(freq)
    total = freq.agg(F.sum("f").cast("long").alias("total"))
    sizes = spark.createDataFrame(
        [(c,) for c in _LFU_SIZES], "cache_keys int"
    )
    return (
        sizes.crossJoin(F.broadcast(freq))
        .groupBy("cache_keys")
        .agg(
            F.sum(
                F.when(F.col("rk") <= F.col("cache_keys"), F.col("f"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("hits")
        )
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "cache_keys",
            "hits",
            "total",
            "CAST((2000000 * hits + total) DIV (2 * total) AS BIGINT)"
            " AS hit_micro",
        )
    )


ORACLE_LFU_TOPK_HITS = f"""
WITH {_TRACE_SQL},
freq AS (
  SELECT key, CAST(count(*) AS BIGINT) AS f,
         row_number() OVER (ORDER BY count(*) DESC, key) AS rk
  FROM trace GROUP BY key),
total AS (SELECT CAST(sum(f) AS BIGINT) AS total FROM freq),
sizes AS (SELECT unnest(ARRAY{_LFU_SIZES}) AS cache_keys)
SELECT CAST(s.cache_keys AS INT) AS cache_keys,
       CAST(coalesce(sum(CASE WHEN fr.rk <= s.cache_keys
                              THEN fr.f ELSE 0 END), 0) AS BIGINT) AS hits,
       t.total,
       CAST(CAST(2000000 * coalesce(sum(CASE WHEN fr.rk <= s.cache_keys
                 THEN fr.f ELSE 0 END), 0) + t.total AS HUGEINT)
            // CAST(2 * t.total AS HUGEINT) AS BIGINT) AS hit_micro
FROM sizes s CROSS JOIN total t CROSS JOIN freq fr
GROUP BY s.cache_keys, t.total
"""


CACHE_QUERIES = {
    "stack_distance_hist": q_stack_distance_hist,
    "lru_hit_curve": q_lru_hit_curve,
    "working_set_hist": q_working_set_hist,
    "reuse_gap_stats": q_reuse_gap_stats,
    "lfu_topk_hits": q_lfu_topk_hits,
}

CACHE_ORACLES = {
    "stack_distance_hist": ORACLE_STACK_DISTANCE_HIST,
    "lru_hit_curve": ORACLE_LRU_HIT_CURVE,
    "working_set_hist": ORACLE_WORKING_SET_HIST,
    "reuse_gap_stats": ORACLE_REUSE_GAP_STATS,
    "lfu_topk_hits": ORACLE_LFU_TOPK_HITS,
}

_q.QUERIES.update(CACHE_QUERIES)
_q.ORACLES.update(CACHE_ORACLES)
