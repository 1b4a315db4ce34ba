"""The composed end-to-end curation pipeline (round 5, VERDICT r4 #1):
ONE job chaining the catalog's stages into the artifact the north rule
describes — extracted → quality-gated → exact-deduped → near-deduped
(minhash→verify→CC keep-canonical) → decontaminated → split → packed →
sharded training manifest — materialized stage-by-stage with atomic
per-stage manifests so a killed run resumes mid-chain and produces
bit-identical shards.

Stage chain (each stage's semantics = the standalone catalog entry it
composes; constants are imported from those modules, never copied):

== ==============  ==========================================  =================
#  stage           semantics of                                catalog twin
== ==============  ==========================================  =================
1  extract         payload wrap + full extraction pipeline,    extract_transcripts
                   written through CheckpointedParquetSink
                   (range-level checkpoint/resume + lineage)
2  quality         per-doc Gopher gates on EXTRACTED text      gopher_rules
3  dedup_exact     md5 groupBy, keep min doc_id                dedup_exact
4  dedup_near      shingle→minhash→LSH→exact-verify→CC,        dedup_minhash_verify,
                   keep canonical (doc_id == component min)    dedup_keep_canonical
5  decontaminate   drop docs sharing a 3-shingle with the      decontaminate
                   held-out eval set (raw docs 0..9)
6  split           conversation-aware md5-bucket train/test    train_test_split
7  pack            per-split two-level prefix-sum packing      pack_sequences
8  shard           round-robin bins across shards + manifest   shard_interleave
== ==============  ==========================================  =================

Checkpoint/resume contract: stage 1 goes through
:class:`sink.CheckpointedParquetSink` (bucket-range manifest — a kill
mid-extract resumes at range granularity); stages 2..8 each write
parquet + commit a JSON manifest by atomic rename (the same tmp+rename
barrier the sink uses), recording row count, an order-insensitive
additive digest, the stage's upstream digest, and lineage
(src_snapshot_id, extractor_version, PIPELINE_VERSION).  ``run_pipeline``
on a directory with committed stages re-reads them instead of
recomputing — a resumed run is therefore bit-identical by construction
(verified by tests/test_pipeline_e2e.py's kill-and-resume).

Scale: every stage is the catalog twin's plan — partial-agg shuffles,
broadcast only for O(K) sides (the eval shingle set, LSH seeds),
capped LSH buckets, two-level prefix sums, no windows over unbounded
partitions.  Stage materialization is what makes 100 TB runs
OPERABLE: each stage is one restartable Spark job writing a bucketed
parquet/Iceberg table, and the manifest digests give per-stage
equality checks across reruns.

Catalog entry: ``pipeline_e2e`` runs the whole chain (session-memoized
per sf_dir) and returns the per-(split, shard) manifest; its DuckDB
oracle replays ALL EIGHT stages as one WITH-chain (recursive CTE for
the CC stage) — the composition is value-hash-gated end to end.

Reference parity: the reference engine is a per-document extractor
(ocr_skel/pipeline.py); the curation chain downstream of extraction is
axis-B net-new (SURVEY.md §2 "LLM-data pipeline ops").
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from .extraction import core
from .queries import _minhash_candidates, _t
from .queries_pipeline import _DECON_BENCH_DOCS, _DECON_MIN_OVERLAP, _PACK_BLOCK, _PACK_CAP
from .queries_quality import (
    _GR_ALPHA_DEN,
    _GR_ALPHA_NUM,
    _GR_MAX_WORDS,
    _GR_MIN_STOP,
    _GR_MIN_WORDS,
    _GR_MWL_HI,
    _GR_MWL_LO,
    _GR_STOPWORDS,
)
from .queries_scale import _SPLIT_TRAIN_BUCKETS
from .sink import CheckpointedParquetSink

PIPELINE_VERSION = "e2e/1"
N_SHARDS = 8
_CC_MAX_ROUNDS = 12

#: stage order; each is a directory name under the pipeline out_dir
STAGES = (
    "extract",
    "quality",
    "dedup_exact",
    "dedup_near",
    "decontaminate",
    "split",
    "pack",
    "shard",
)

_SEP = chr(31)


# ---------------------------------------------------------------------------
# stage persistence: parquet + atomic JSON manifest per stage
# ---------------------------------------------------------------------------


def _stage_dir(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, f"stage_{STAGES.index(stage) + 1:02d}_{stage}")


def _manifest_path(out_dir: str, stage: str) -> str:
    return os.path.join(_stage_dir(out_dir, stage), "_MANIFEST.json")


def stage_manifest(out_dir: str, stage: str) -> Optional[dict]:
    p = _manifest_path(out_dir, stage)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return None


def _digest_col(cols: List[str]):
    """Order-insensitive additive row digest over ``cols`` — the
    portable conv(md5[0:8]) idiom shared with queries_checksum."""
    row = F.concat_ws(_SEP, *[F.col(c).cast("string") for c in cols])
    return F.conv(F.substring(F.md5(row), 1, 8), 16, 10).cast("bigint")


def _commit_stage(
    spark: SparkSession,
    out_dir: str,
    stage: str,
    df: DataFrame,
    digest_cols: List[str],
    upstream_digest: Optional[int],
    src_snapshot_id: int,
) -> DataFrame:
    """Write a stage's parquet, then commit its manifest by atomic
    rename — the same barrier the sink uses: data is never trusted
    without its manifest, so a kill between write and commit simply
    re-runs the stage."""
    sdir = _stage_dir(out_dir, stage)
    data = os.path.join(sdir, "data")
    df.write.mode("overwrite").parquet(data)
    back = spark.read.parquet(data)
    agg = back.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(_digest_col(digest_cols)), F.lit(0)).alias("dig"),
    ).collect()[0]
    entry = {
        "stage": stage,
        "n_rows": int(agg["n"]),
        "digest_sum": int(agg["dig"]),
        "digest_cols": digest_cols,
        "upstream_digest": upstream_digest,
        "src_snapshot_id": src_snapshot_id,
        "extractor_version": core.EXTRACTOR_VERSION,
        "pipeline_version": PIPELINE_VERSION,
    }
    fd, tmp = tempfile.mkstemp(dir=sdir, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(entry, f)
    os.replace(tmp, _manifest_path(out_dir, stage))
    return back


def _release_checkpoint(df: DataFrame) -> None:
    """Release a localCheckpoint'ed DataFrame's storage blocks.  The
    checkpoint blocks belong to the LogicalRDD's RDD, which
    ``Dataset.unpersist`` (cache-manager only) never touches."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — best-effort storage reclaim
        pass


def _read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(_stage_dir(out_dir, stage), "data"))


# ---------------------------------------------------------------------------
# stage transforms (DataFrame -> DataFrame; semantics = catalog twins)
# ---------------------------------------------------------------------------


def _synth_transcripts(docs: DataFrame) -> DataFrame:
    """The flagship's deterministic payload wrap (queries.py
    q_extract_transcripts): doc_id%4 selects html / pdf-json / fenced
    markup / plain; doc_id//10 groups turns into conversations."""
    payload = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit('{"blocks": [{"type": 0, "lines": [{"bbox": [72, 100, 540, 112], '
                      '"spans": [{"text": "'),
                F.col("text"),
                F.lit('"}]}]}]}'),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("preamble\n```\n"), F.col("text"), F.lit("\n```")),
        )
        .otherwise(F.col("text"))
    )
    return docs.select(
        F.concat(F.lit("conv-"), (F.col("doc_id") / 10).cast("bigint")).alias("conv_id"),
        (F.col("doc_id") % 10).cast("int").alias("turn_idx"),
        payload.alias("text"),
    )


def _ws(col: str):
    return F.expr(f"filter(split(coalesce({col}, ''), ' '), w -> w <> '')")


def _quality_keep() -> F.Column:
    """Per-doc Gopher keep on the ``ws`` token array column — integer
    cross-multiplied thresholds, identical to gopher_rules."""
    n = F.expr("CAST(size(ws) AS BIGINT)")
    sum_len = F.expr("aggregate(ws, 0L, (acc, w) -> acc + CAST(length(w) AS BIGINT))")
    n_alpha = F.expr("CAST(size(filter(ws, w -> w rlike '[A-Za-z]')) AS BIGINT)")
    stop_hits = F.expr(
        " + ".join(f"CAST(array_contains(ws, '{s}') AS INT)" for s in _GR_STOPWORDS)
    )
    return (
        (n >= _GR_MIN_WORDS)
        & (n <= _GR_MAX_WORDS)
        & (F.lit(_GR_MWL_LO) * n <= sum_len)
        & (sum_len <= F.lit(_GR_MWL_HI) * n)
        & (F.lit(_GR_ALPHA_DEN) * n_alpha >= F.lit(_GR_ALPHA_NUM) * n)
        & (stop_hits >= F.lit(_GR_MIN_STOP))
    )


def _shingles_of(df: DataFrame) -> DataFrame:
    """(doc_id, sh) distinct 3-word shingles over an arbitrary
    (doc_id, text) frame — queries._shingles generalized off the raw
    documents table."""
    toks = df.select("doc_id", F.split("text", " ").alias("l"))
    return (
        toks.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("l") >= 3, F.sequence(F.lit(1), F.size("l") - 2)
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
            "l",
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.element_at("l", F.col("i")),
                F.element_at("l", F.col("i") + 1),
                F.element_at("l", F.col("i") + 2),
            ).alias("sh"),
        )
        .distinct()
    )


def _near_dup_canonical(df: DataFrame) -> DataFrame:
    """minhash→LSH→exact-verify→min-label CC over (doc_id, text); keep
    rows whose doc_id IS its component minimum (dedup_keep_canonical's
    action applied to the stage frame).  Plans mirror the catalog
    twins: capped band buckets, candidate-broadcast verify, per-round
    checkpointed label propagation with a loud convergence cap."""
    sh = _shingles_of(df).persist()
    cands = _minhash_candidates(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # candidates/sizes are data-scaled — no broadcast hints (AQE
    # decides), mirroring q_dedup_minhash_verify's round-5 fix
    a_sh = sh.join(cands, sh.doc_id == cands.doc_a).select(
        "doc_a", "doc_b", "sh"
    )
    b_sh = sh.select(F.col("doc_id").alias("doc_b_r"), F.col("sh").alias("sh_b"))
    shared = (
        a_sh.join(b_sh, (a_sh.sh == b_sh.sh_b) & (a_sh.doc_b == b_sh.doc_b_r))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    pairs = (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            F.round(
                F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared")), 6
            )
            >= _q._MINHASH_VERIFY_THRESH
        )
        .select("doc_a", "doc_b")
    )
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .persist()
    )
    labels = df.select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    ).withColumn("lbl", F.col("doc_id")).localCheckpoint(eager=True)
    sum_expr = F.sum(F.col("lbl").cast("decimal(38,0)"))
    prev_sum = labels.agg(sum_expr).collect()[0][0]
    converged = False
    # +1 like queries_ext.q_dedup_groups: a diameter-_CC_MAX_ROUNDS
    # component needs that many changing rounds plus one no-change
    # round to CONFIRM the fixpoint (ADVICE r5: the loop bound and the
    # error message used to disagree)
    for _ in range(_CC_MAX_ROUNDS + 1):
        prop = labels.join(edges, labels.doc_id == edges.src).select(
            F.col("dst").alias("doc_id"), F.col("lbl")
        )
        prev_labels = labels
        labels = (
            labels.union(prop)
            .groupBy("doc_id")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
        # the new checkpoint no longer reads the previous round's
        # blocks — release them instead of accumulating one copy of
        # the label table per round in executor storage (ADVICE r5).
        # Dataset.unpersist() only touches the cache manager, not
        # checkpoint blocks; the LogicalRDD's own rdd must be released.
        _release_checkpoint(prev_labels)
        cur_sum = labels.agg(sum_expr).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    sh.unpersist()
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"pipeline_e2e dedup_near: CC did not converge in "
            f"{_CC_MAX_ROUNDS} changing rounds (+1 confirm round) — see "
            "queries_ext.q_dedup_groups"
        )
    keep = labels.where(F.col("doc_id") == F.col("lbl")).select("doc_id")
    return df.join(keep, "doc_id")


# ---------------------------------------------------------------------------
# the chain
# ---------------------------------------------------------------------------


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    stop_after: Optional[str] = None,
    src_snapshot_id: int = 1,
) -> Dict[str, dict]:
    """Run (or resume) the composed pipeline.  ``stop_after`` ends the
    run after that stage commits (the kill-injection hook for the
    resume test).  Returns {stage: manifest} for all committed stages.
    """
    os.makedirs(out_dir, exist_ok=True)
    # a stage manifest is only trusted when its recorded chain matches
    # this run (ADVICE r5) — inconsistent suffixes recompute below
    _invalidate_inconsistent(out_dir, src_snapshot_id)
    docs = _t(spark, sf_dir, "documents")

    def done(stage: str) -> bool:
        return stage_manifest(out_dir, stage) is not None

    def upstream_digest(stage: str) -> Optional[int]:
        m = stage_manifest(out_dir, stage)
        return None if m is None else m["digest_sum"]

    # -- stage 1: extract, THROUGH the checkpointed sink (range resume);
    # the sink's bucketed layout lives under the stage dir, the stage's
    # doc-keyed projection is then sealed next to it --
    sink = CheckpointedParquetSink(
        os.path.join(_stage_dir(out_dir, "extract"), "sink"),
        num_buckets=16,
        num_ranges=4,
    )
    if not done("extract"):
        sink.write(_synth_transcripts(docs), src_snapshot_id=src_snapshot_id)
        ext = sink.read(spark).select(
            (
                F.expr("CAST(substring(conv_id, 6) AS BIGINT)") * 10
                + F.col("turn_idx")
            ).alias("doc_id"),
            F.col("text").alias("extracted"),
            "method",
        )
        # the sink's own range manifests already checkpoint the write;
        # the stage manifest seals the chain-level digest on top
        _commit_stage(
            spark, out_dir, "extract",
            ext, ["doc_id", "extracted", "method"], None, src_snapshot_id,
        )
    if stop_after == "extract":
        return manifests(out_dir)

    # -- stage 2: quality gate on extracted text + metadata re-attach --
    if not done("quality"):
        ext = _read_stage(spark, out_dir, "extract")
        meta = docs.select("doc_id", "lang", "source")
        gated = (
            ext.where(F.col("extracted") != "")
            .withColumnRenamed("extracted", "text")
            .withColumn("ws", _ws("text"))
            .where(_quality_keep())
            .drop("ws")
            .join(meta, "doc_id")
            .select("doc_id", "text", "lang", "source")
        )
        _commit_stage(
            spark, out_dir, "quality",
            gated, ["doc_id", "text"], upstream_digest("extract"), src_snapshot_id,
        )
    if stop_after == "quality":
        return manifests(out_dir)

    # -- stage 3: exact dedup (md5 groupBy, keep min doc_id) --
    if not done("dedup_exact"):
        d = _read_stage(spark, out_dir, "quality")
        keep = (
            d.groupBy(F.md5("text").alias("h"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        _commit_stage(
            spark, out_dir, "dedup_exact",
            d.join(keep, "doc_id"), ["doc_id", "text"],
            upstream_digest("quality"), src_snapshot_id,
        )
    if stop_after == "dedup_exact":
        return manifests(out_dir)

    # -- stage 4: near dedup, keep component canonicals --
    if not done("dedup_near"):
        d = _read_stage(spark, out_dir, "dedup_exact")
        _commit_stage(
            spark, out_dir, "dedup_near",
            _near_dup_canonical(d), ["doc_id", "text"],
            upstream_digest("dedup_exact"), src_snapshot_id,
        )
    if stop_after == "dedup_near":
        return manifests(out_dir)

    # -- stage 5: decontaminate vs the held-out eval set (raw docs 0..9) --
    if not done("decontaminate"):
        d = _read_stage(spark, out_dir, "dedup_near")
        bench = (
            _shingles_of(docs.where(F.col("doc_id") < _DECON_BENCH_DOCS))
            .select("sh")
            .distinct()
        )
        flagged = (
            _shingles_of(d)
            .join(F.broadcast(bench), "sh")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_overlap"))
            .where(F.col("n_overlap") >= _DECON_MIN_OVERLAP)
            .select("doc_id")
        )
        clean = d.where(F.col("doc_id") >= _DECON_BENCH_DOCS).join(
            flagged, "doc_id", "left_anti"
        )
        _commit_stage(
            spark, out_dir, "decontaminate",
            clean, ["doc_id", "text"], upstream_digest("dedup_near"), src_snapshot_id,
        )
    if stop_after == "decontaminate":
        return manifests(out_dir)

    # -- stage 6: conversation-aware md5-bucket split --
    if not done("split"):
        d = _read_stage(spark, out_dir, "decontaminate")
        grp = (F.col("doc_id") / 10).cast("bigint")
        bucket = F.conv(
            F.substring(F.md5(grp.cast("string")), 1, 2), 16, 10
        ).cast("int")
        split = F.when(bucket < _SPLIT_TRAIN_BUCKETS, "train").otherwise("test")
        _commit_stage(
            spark, out_dir, "split",
            d.withColumn("split", split), ["doc_id", "text", "split"],
            upstream_digest("decontaminate"), src_snapshot_id,
        )
    if stop_after == "split":
        return manifests(out_dir)

    # -- stage 7: per-split packing (two-level distributed prefix sum) --
    if not done("pack"):
        d = _read_stage(spark, out_dir, "split").withColumn(
            "n_tok", F.size(F.split("text", " ")).cast("bigint")
        ).withColumn("blk", F.floor(F.col("doc_id") / _PACK_BLOCK).cast("bigint"))
        blocks = d.groupBy("split", "blk").agg(F.sum("n_tok").alias("blk_tok"))
        wb = (
            Window.partitionBy("split")
            .orderBy("blk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        prefix = blocks.select(
            "split", "blk",
            F.coalesce(F.sum("blk_tok").over(wb), F.lit(0)).alias("blk_prefix"),
        )
        wd = (
            Window.partitionBy("split", "blk")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        packed = (
            d.withColumn("in_blk", F.coalesce(F.sum("n_tok").over(wd), F.lit(0)))
            .join(F.broadcast(prefix), ["split", "blk"])
            .select(
                "doc_id", "text", "lang", "source", "split", "n_tok",
                F.floor((F.col("blk_prefix") + F.col("in_blk")) / _PACK_CAP)
                .cast("bigint")
                .alias("bin_id"),
                ((F.col("blk_prefix") + F.col("in_blk")) % _PACK_CAP)
                .cast("bigint")
                .alias("bin_offset"),
            )
        )
        _commit_stage(
            spark, out_dir, "pack",
            packed, ["doc_id", "text", "split", "bin_id", "bin_offset"],
            upstream_digest("split"), src_snapshot_id,
        )
    if stop_after == "pack":
        return manifests(out_dir)

    # -- stage 8: round-robin bins across shards; final training rows --
    if not done("shard"):
        d = _read_stage(spark, out_dir, "pack")
        sharded = d.select(
            "doc_id", "text", "lang", "source", "split", "n_tok",
            "bin_id", "bin_offset",
            F.pmod(F.col("bin_id"), F.lit(N_SHARDS)).cast("bigint").alias("shard_id"),
            F.floor(F.col("bin_id") / N_SHARDS).cast("bigint").alias("shard_pos"),
            F.lit(src_snapshot_id).cast("bigint").alias("src_snapshot_id"),
            F.lit(core.EXTRACTOR_VERSION).alias("extractor_version"),
            F.lit(PIPELINE_VERSION).alias("pipeline_version"),
        )
        _commit_stage(
            spark, out_dir, "shard",
            sharded, ["doc_id", "text", "split", "shard_id", "shard_pos"],
            upstream_digest("pack"), src_snapshot_id,
        )
    return manifests(out_dir)


def _invalidate_inconsistent(out_dir: str, src_snapshot_id: int) -> None:
    """Resume must not trust manifest PRESENCE alone (ADVICE r5): a
    committed stage is reusable only if its recorded chain still holds —
    same snapshot, extractor version and pipeline version as the
    requested run, and its ``upstream_digest`` equal to the previous
    stage's ``digest_sum``.
    The first stage that fails the check (or any stage committed after
    a missing one — unverifiable orphans) has its manifest removed, so
    ``run_pipeline`` recomputes from there instead of silently reusing
    stages built from a different input."""
    prev_digest: Optional[int] = None
    broken: Optional[str] = None
    for s in STAGES:
        m = stage_manifest(out_dir, s)
        if m is None:
            broken = s  # later manifests (if any) are orphans
            break
        if (
            m.get("src_snapshot_id") != src_snapshot_id
            or m.get("extractor_version") != core.EXTRACTOR_VERSION
            or m.get("pipeline_version") != PIPELINE_VERSION
            or m.get("upstream_digest") != prev_digest
        ):
            broken = s
            break
        prev_digest = m["digest_sum"]
    if broken is not None:
        for s in STAGES[STAGES.index(broken):]:
            p = _manifest_path(out_dir, s)
            if os.path.exists(p):
                os.remove(p)


def manifests(out_dir: str) -> Dict[str, dict]:
    return {
        s: m for s in STAGES if (m := stage_manifest(out_dir, s)) is not None
    }


def is_complete(out_dir: str) -> bool:
    return all(stage_manifest(out_dir, s) is not None for s in STAGES)


def shard_manifest_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """The final artifact summary: per (split, shard) doc/token/bin
    counts plus the additive content digest — bounded rows (≤ 2×N_SHARDS),
    and any upstream bit flip anywhere in the chain changes it."""
    d = _read_stage(spark, out_dir, "shard")
    dig = F.conv(
        F.substring(
            F.md5(F.concat_ws(_SEP, F.col("doc_id").cast("string"), "text")), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    return d.groupBy("split", "shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.countDistinct("bin_id").cast("bigint").alias("n_bins"),
        F.sum(dig).cast("bigint").alias("digest_sum"),
    )


# ---------------------------------------------------------------------------
# catalog entry + composition oracle
# ---------------------------------------------------------------------------

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
seeds AS (SELECT unnest(generate_series(0, {_q._MINHASH_SEEDS - 1})) AS seed),
sig AS (
  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
  FROM sh4 CROSS JOIN seeds GROUP BY doc_id, seed),
bands_all AS (
  SELECT doc_id, CAST(seed // {_q._MINHASH_BAND_ROWS} AS INT) AS band,
         string_agg(mh, '|' ORDER BY seed) AS band_key
  FROM sig GROUP BY doc_id, CAST(seed // {_q._MINHASH_BAND_ROWS} AS INT)),
bands AS (
  SELECT doc_id, band, band_key FROM (
    SELECT doc_id, band, band_key,
           count(*) OVER (PARTITION BY band, band_key) AS bf
    FROM bands_all) t
  WHERE bf <= {_q._LSH_BAND_CAP}),
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
        >= {_q._MINHASH_VERIFY_THRESH}),
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

_q.QUERIES.update({"pipeline_e2e": q_pipeline_e2e})
_q.ORACLES.update({"pipeline_e2e": ORACLE_PIPELINE_E2E})
