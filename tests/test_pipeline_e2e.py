"""Kill-and-resume tests for the composed curation pipeline (round 5,
VERDICT r4 #1): a run stopped mid-chain must resume from its committed
stage manifests and produce BIT-IDENTICAL final shards vs a single-shot
run; the extract stage must also resume at the sink's range
granularity.  The value-hash gate for the composition semantics is the
``pipeline_e2e`` catalog entry (scripts/check_queries.py)."""

from __future__ import annotations

import os

from occular_ocr_spark import pipeline_e2e as P
from occular_ocr_spark.sink import CheckpointedParquetSink, load_manifest

SF = "/root/testdata/sf0.001"


def _final_rows(spark, out_dir):
    df = P._read_stage(spark, out_dir, "shard")
    return sorted(
        (r["doc_id"], r["text"], r["split"], r["shard_id"], r["shard_pos"],
         r["bin_id"], r["bin_offset"], r["n_tok"])
        for r in df.collect()
    )


def _manifest_digests(out_dir):
    return {s: m["digest_sum"] for s, m in P.manifests(out_dir).items()}


def test_kill_and_resume_bit_identical(spark, tmp_path):
    one_shot = str(tmp_path / "oneshot")
    resumed = str(tmp_path / "resumed")

    P.run_pipeline(spark, SF, one_shot)
    assert P.is_complete(one_shot)

    # kill after stage 4: only four manifests exist, later stages absent
    P.run_pipeline(spark, SF, resumed, stop_after="dedup_near")
    got = P.manifests(resumed)
    assert list(got) == ["extract", "quality", "dedup_exact", "dedup_near"]
    assert not P.is_complete(resumed)

    # resume: completes the remaining stages without recomputing the
    # committed ones (their manifests are byte-identical objects)
    before = _manifest_digests(resumed)
    P.run_pipeline(spark, SF, resumed)
    assert P.is_complete(resumed)
    after = _manifest_digests(resumed)
    assert all(after[s] == d for s, d in before.items())

    # the artifact itself is bit-identical to the single-shot run
    assert _final_rows(spark, resumed) == _final_rows(spark, one_shot)
    assert _manifest_digests(resumed) == _manifest_digests(one_shot)


def test_extract_stage_resumes_at_range_granularity(spark, tmp_path):
    """A kill INSIDE stage 1 (some sink ranges committed, some not)
    resumes without rewriting committed ranges and seals the same
    stage digest as an uninterrupted run."""
    out_dir = str(tmp_path / "rangeresume")
    sink_dir = os.path.join(P._stage_dir(out_dir, "extract"), "sink")

    # simulate the mid-extract kill: write only 2 of 4 ranges
    from occular_ocr_spark.queries import _t

    docs = _t(spark, SF, "documents")
    sink = CheckpointedParquetSink(sink_dir, num_buckets=16, num_ranges=4)
    first = sink.write(P._synth_transcripts(docs), src_snapshot_id=1, max_ranges=2)
    assert len(first) == 2 and not sink.is_complete()
    assert P.stage_manifest(out_dir, "extract") is None  # chain sees: not done

    # resume the chain: stage 1 re-enters the sink, which skips the two
    # committed ranges and writes only the remaining two
    P.run_pipeline(spark, SF, out_dir, stop_after="extract")
    done = load_manifest(sink_dir)
    assert len(done) == 4 and sink.is_complete()
    assert {e["range_id"] for e in first} <= set(done)
    assert P.stage_manifest(out_dir, "extract") is not None

    # digest equals an uninterrupted stage-1 run
    clean = str(tmp_path / "clean")
    P.run_pipeline(spark, SF, clean, stop_after="extract")
    assert (
        P.stage_manifest(out_dir, "extract")["digest_sum"]
        == P.stage_manifest(clean, "extract")["digest_sum"]
    )


def test_manifest_lineage_chain(spark, tmp_path):
    """Every stage manifest records its upstream stage's digest and the
    lineage triple (snapshot, extractor version, pipeline version)."""
    out_dir = str(tmp_path / "lineage")
    P.run_pipeline(spark, SF, out_dir, src_snapshot_id=77)
    ms = P.manifests(out_dir)
    assert list(ms) == list(P.STAGES)
    prev = None
    for s in P.STAGES:
        m = ms[s]
        assert m["src_snapshot_id"] == 77
        assert m["extractor_version"] and m["pipeline_version"] == P.PIPELINE_VERSION
        assert m["upstream_digest"] == (None if prev is None else prev["digest_sum"])
        prev = m
    # final rows carry the lineage columns
    row = P._read_stage(spark, out_dir, "shard").first()
    assert row["src_snapshot_id"] == 77 and row["pipeline_version"] == P.PIPELINE_VERSION


def test_monotone_row_counts(spark, tmp_path):
    """Each filtering stage can only shrink the doc set; pack/shard
    preserve it."""
    out_dir = str(tmp_path / "mono")
    P.run_pipeline(spark, SF, out_dir)
    ms = P.manifests(out_dir)
    n = {s: ms[s]["n_rows"] for s in P.STAGES}
    assert n["extract"] >= n["quality"] >= n["dedup_exact"] >= n["dedup_near"]
    assert n["dedup_near"] >= n["decontaminate"]
    assert n["decontaminate"] == n["split"] == n["pack"] == n["shard"]
    assert n["shard"] > 0


def test_crash_between_write_and_commit_recomputes_stage(spark, tmp_path):
    """The atomic-rename barrier: stage data written but manifest NOT
    committed (a kill in the gap) must be treated as not-done — the
    resumed run overwrites the orphan data and seals the normal
    digest."""
    import shutil

    ref = str(tmp_path / "ref")
    P.run_pipeline(spark, SF, ref)

    crashed = str(tmp_path / "crashed")
    P.run_pipeline(spark, SF, crashed, stop_after="quality")
    # simulate the gap-kill at stage 3: copy stage data, no manifest
    src = os.path.join(P._stage_dir(ref, "dedup_exact"), "data")
    dst = os.path.join(P._stage_dir(crashed, "dedup_exact"), "data")
    shutil.copytree(src, dst)
    assert P.stage_manifest(crashed, "dedup_exact") is None

    P.run_pipeline(spark, SF, crashed)
    assert P.is_complete(crashed)
    assert _manifest_digests(crashed) == _manifest_digests(ref)
    assert _final_rows(spark, crashed) == _final_rows(spark, ref)


def test_shard_round_robin_balance(spark, tmp_path):
    """Bins round-robin across N_SHARDS: within each split, shard bin
    counts differ by at most one (the interleave contract)."""
    out_dir = str(tmp_path / "balance")
    P.run_pipeline(spark, SF, out_dir)
    rows = P.shard_manifest_df(spark, out_dir).collect()
    by_split = {}
    for r in rows:
        by_split.setdefault(r["split"], []).append(r["n_bins"])
    for split, counts in by_split.items():
        assert max(counts) - min(counts) <= 1, (split, counts)


def test_resume_rejects_inconsistent_manifest_chain(spark, tmp_path):
    """ADVICE r5: resume must verify the manifest CHAIN, not just
    presence — a re-run into the same out_dir with a different snapshot
    recomputes instead of silently reusing stale stages, and a stage
    whose upstream digest no longer matches invalidates its suffix."""
    out_dir = str(tmp_path / "chain")
    P.run_pipeline(spark, SF, out_dir, src_snapshot_id=1)
    before = P.manifests(out_dir)
    assert all(m["src_snapshot_id"] == 1 for m in before.values())

    # same snapshot: every stage reuses its committed manifest
    P.run_pipeline(spark, SF, out_dir, src_snapshot_id=1)
    assert P.manifests(out_dir) == before

    # different snapshot: the whole chain is recomputed under the new id
    P.run_pipeline(spark, SF, out_dir, src_snapshot_id=2)
    after = P.manifests(out_dir)
    assert all(m["src_snapshot_id"] == 2 for m in after.values())

    # tampered mid-chain digest: the downstream suffix is invalidated
    # and recommitted against the (tampered) upstream value
    import json as _json

    qpath = P._manifest_path(out_dir, "quality")
    with open(qpath) as f:
        qman = _json.load(f)
    qman["digest_sum"] += 1
    with open(qpath, "w") as f:
        _json.dump(qman, f)
    P._invalidate_inconsistent(out_dir, src_snapshot_id=2)
    left = P.manifests(out_dir)
    assert set(left) == {"extract", "quality"}

    # orphan manifests (a missing mid-chain stage) are also invalidated
    os.remove(P._manifest_path(out_dir, "quality"))
    P.run_pipeline(spark, SF, out_dir, src_snapshot_id=2)
    full = P.manifests(out_dir)
    assert set(full) == set(P.STAGES)
    assert all(m["src_snapshot_id"] == 2 for m in full.values())


def test_resume_rejects_other_extractor_version(spark, tmp_path, monkeypatch):
    """An extractor upgrade invalidates the chain from stage 1: stage
    manifests built by another ``EXTRACTOR_VERSION`` are not reused, and
    the re-run recommits stage 1 and every sink range under the new
    version."""
    from occular_ocr_spark.extraction import core

    out_dir = str(tmp_path / "version")
    sink_dir = os.path.join(P._stage_dir(out_dir, "extract"), "sink")
    P.run_pipeline(spark, SF, out_dir, stop_after="quality")
    P._invalidate_inconsistent(out_dir, src_snapshot_id=1)
    assert set(P.manifests(out_dir)) == {"extract", "quality"}

    monkeypatch.setattr(core, "EXTRACTOR_VERSION", "occular-ocr-spark/bumped")
    P._invalidate_inconsistent(out_dir, src_snapshot_id=1)
    assert P.manifests(out_dir) == {}

    P.run_pipeline(spark, SF, out_dir, stop_after="extract")
    assert P.stage_manifest(out_dir, "extract")["extractor_version"] == (
        "occular-ocr-spark/bumped"
    )
    ranges = load_manifest(sink_dir)
    assert len(ranges) == 4
    assert {e["extractor_version"] for e in ranges.values()} == {"occular-ocr-spark/bumped"}


def test_min_label_components_releases_earlier_round_checkpoints(spark):
    """After the CC loop returns, the only checkpoint it leaves in RDD
    storage is its result's: every earlier round's is released."""
    import time

    jsc = spark.sparkContext._jsc.sc()

    def stored():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    before = stored()
    # a path 0-1-2-3-4-5 needs five changing rounds; 6 and 7 are singletons
    nodes = spark.range(8).toDF("doc_id")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(5)], "doc_a long, doc_b long")
    labels = P._min_label_components(nodes, pairs)
    assert dict(labels.collect()) == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 6: 6, 7: 7}

    final = labels._jdf.queryExecution().analyzed().rdd().id()
    deadline = time.time() + 30  # blocks are released asynchronously
    while (left := stored() - before) != {final} and time.time() < deadline:
        time.sleep(0.2)
    assert left == {final}
