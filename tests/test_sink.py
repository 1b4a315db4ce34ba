"""Checkpoint/resume semantics of the extraction sink (SURVEY.md §5.4):
kill after k ranges, re-run, assert the final table is identical to a
clean single-shot write — including the uncommitted-range crash case
(data written but manifest not committed)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from occular_ocr_spark import sink as sink_mod
from occular_ocr_spark.extraction import core
from occular_ocr_spark.fixtures import transcripts_pandas
from occular_ocr_spark.sink import CheckpointedParquetSink, IcebergSink, load_manifest

N_BUCKETS = 16
N_RANGES = 4


@pytest.fixture(scope="module")
def transcripts(spark):
    df = spark.createDataFrame(transcripts_pandas(n_convs=40, seed=7))
    df.cache().count()
    yield df
    df.unpersist()


def _rows(spark, sink):
    out = sink.read(spark).select(
        "conv_id", "turn_idx", "method", "text", "src_snapshot_id",
        "extractor_version", "part_bucket",
    )
    return sorted(tuple(r) for r in out.collect())


def test_clean_write_then_partial_resume_match(spark, transcripts, tmp_path_factory):
    clean_dir = str(tmp_path_factory.mktemp("clean"))
    resume_dir = str(tmp_path_factory.mktemp("resumed"))

    clean = CheckpointedParquetSink(clean_dir, N_BUCKETS, N_RANGES)
    committed = clean.write(transcripts, src_snapshot_id=99)
    assert len(committed) == N_RANGES
    assert clean.is_complete()

    # "Kill" after 2 of 4 ranges.
    part = CheckpointedParquetSink(resume_dir, N_BUCKETS, N_RANGES)
    first = part.write(transcripts, src_snapshot_id=99, max_ranges=2)
    assert len(first) == 2 and not part.is_complete()
    partial_rows = _rows(spark, part)
    assert 0 < len(partial_rows) < len(_rows(spark, clean))

    # Resume: only the 2 uncommitted ranges run.
    second = part.write(transcripts, src_snapshot_id=99)
    assert len(second) == 2 and part.is_complete()
    assert {e["range_id"] for e in first} | {e["range_id"] for e in second} == set(
        range(N_RANGES)
    )
    assert _rows(spark, part) == _rows(spark, clean)


def test_completed_write_is_noop(spark, transcripts, tmp_path):
    sink = CheckpointedParquetSink(str(tmp_path), N_BUCKETS, N_RANGES)
    sink.write(transcripts, src_snapshot_id=1)
    before = _rows(spark, sink)
    assert sink.write(transcripts, src_snapshot_id=1) == []
    assert _rows(spark, sink) == before


def test_crash_between_data_and_manifest_is_idempotent(spark, transcripts, tmp_path):
    """Worst-case crash window: range data fully written, manifest commit
    lost.  The re-run must overwrite (not duplicate) that range."""
    sink = CheckpointedParquetSink(str(tmp_path), N_BUCKETS, N_RANGES)
    sink.write(transcripts, src_snapshot_id=5, max_ranges=1)
    manifest = load_manifest(str(tmp_path))
    assert list(manifest) == [0]
    # simulate the lost commit
    os.remove(os.path.join(str(tmp_path), "_manifest", "range-00000.json"))
    assert load_manifest(str(tmp_path)) == {}

    sink.write(transcripts, src_snapshot_id=5)
    rows = _rows(spark, sink)
    keys = [(r[0], r[1]) for r in rows]
    assert len(keys) == len(set(keys)), "duplicate (conv_id, turn_idx) after resume"
    assert sink.is_complete()

    clean_dir = str(tmp_path) + "-clean"
    try:
        clean = CheckpointedParquetSink(clean_dir, N_BUCKETS, N_RANGES)
        clean.write(transcripts, src_snapshot_id=5)
        assert rows == _rows(spark, clean)
    finally:
        shutil.rmtree(clean_dir, ignore_errors=True)


def test_manifest_lineage_and_metrics(spark, transcripts, tmp_path):
    sink = CheckpointedParquetSink(str(tmp_path), N_BUCKETS, N_RANGES)
    entries = sink.write(transcripts, src_snapshot_id=77)
    total = sink.read(spark).count()
    assert sum(e["metrics"]["n_rows"] for e in entries) == total
    for e in entries:
        m = e["metrics"]
        assert e["src_snapshot_id"] == 77
        assert e["extractor_version"].startswith("occular-ocr-spark/")
        assert m["n_html"] + m["n_pdf"] + m["n_markup"] + m["n_plain"] == m["n_rows"]
        assert 0 < m["n_convs"] <= m["n_rows"]
    # bucket ranges tile [0, N_BUCKETS) exactly
    covered = sorted(
        b for e in entries for b in range(e["bucket_lo"], e["bucket_hi"] + 1)
    )
    assert covered == list(range(N_BUCKETS))


def test_one_file_per_bucket_and_exact_range_metrics(spark, transcripts, tmp_path):
    """The bucket-aligned write leaves one parquet file per non-empty
    bucket, and each range's manifest counts equal an exact recount of
    the rows read back (``n_convs`` within HLL error)."""
    sink = CheckpointedParquetSink(str(tmp_path), N_BUCKETS, N_RANGES)
    entries = sink.write(transcripts, src_snapshot_id=3)
    assert [e["range_id"] for e in entries] == list(range(N_RANGES))

    bucket_dirs = [d for d in os.listdir(sink.data_dir) if d.startswith("part_bucket=")]
    assert bucket_dirs
    for d in bucket_dirs:
        files = [f for f in os.listdir(os.path.join(sink.data_dir, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)

    step = N_BUCKETS // N_RANGES
    exact = {
        r["range_id"]: r
        for r in sink.read(spark)
        .groupBy((F.col("part_bucket") / step).cast("int").alias("range_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("conv_id").alias("n_convs"),
            *[
                F.sum((F.col("method") == m).cast("long")).alias(k)
                for k, m in sink_mod._METHOD_METRICS.items()
            ],
        )
        .collect()
    }
    for e in entries:
        m, want = e["metrics"], exact.get(e["range_id"])
        if want is None:
            assert m["n_rows"] == 0
            continue
        for k in ("n_rows", *sink_mod._METHOD_METRICS):
            assert m[k] == want[k], (e["range_id"], k)
        assert abs(m["n_convs"] - want["n_convs"]) <= max(1, 0.1 * want["n_convs"])


def test_pending_ranges_without_rows_commit_zero_metrics(spark, transcripts, tmp_path):
    """Pending ranges that get no input row still run, commit, and
    record zero counts: an empty input, then ranges one at a time."""
    sink = CheckpointedParquetSink(str(tmp_path / "empty"), N_BUCKETS, N_RANGES)
    entries = sink.write(transcripts.limit(0), src_snapshot_id=6)
    assert [e["range_id"] for e in entries] == list(range(N_RANGES))
    assert all(set(e["metrics"].values()) == {0} for e in entries)

    one_conv = transcripts.where(F.col("conv_id") == transcripts.first()["conv_id"])
    sink = CheckpointedParquetSink(str(tmp_path / "one"), N_BUCKETS, N_RANGES)
    rows = [sink.write(one_conv, src_snapshot_id=6, max_ranges=1)[0]["metrics"]["n_rows"]
            for _ in range(N_RANGES)]
    assert sink.is_complete()
    assert sorted(rows)[:-1] == [0] * (N_RANGES - 1) and sum(rows) == one_conv.count()


def _recount(spark, data_dir, num_buckets, num_ranges):
    """Each range's manifest metrics, recounted exactly from the rows
    read back; ranges without rows are absent."""
    step = num_buckets // num_ranges
    return {
        r["range_id"]: r.asDict()
        for r in spark.read.parquet(data_dir)
        .groupBy((F.col("part_bucket") / step).cast("int").alias("range_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("conv_id").alias("n_convs"),
            *[
                F.sum((F.col("method") == m).cast("long")).alias(k)
                for k, m in sink_mod._METHOD_METRICS.items()
            ],
        )
        .collect()
    }


def test_n_convs_is_exact_when_no_bucket_is_split(spark, transcripts, tmp_path):
    """No bucket of the fixture is large enough for AQE to split, so each
    is read by one task and ``n_convs`` equals the distinct conversations
    of the range's rows read back."""
    sink = CheckpointedParquetSink(str(tmp_path), N_BUCKETS, N_RANGES)
    entries = sink.write(transcripts, src_snapshot_id=3)
    exact = _recount(spark, sink.data_dir, N_BUCKETS, N_RANGES)
    assert {e["range_id"]: e["metrics"]["n_convs"] for e in entries} == {
        r: exact[r]["n_convs"] if r in exact else 0 for r in range(N_RANGES)
    }


# A Python worker module whose first attempt of partition 0 fails after
# some Arrow batches went out.  The daemon imports a worker module only
# if its name starts with "pyspark".
_RETRY_WORKER = """
from pyspark import TaskContext
from pyspark.worker import main  # noqa: F401

from occular_ocr_spark.extraction import core

_extract = core.extract_turn_raw
_calls = {{}}


def _fail_first_attempt(payload, force_ocr=False):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        n = _calls[ctx.taskAttemptId()] = _calls.get(ctx.taskAttemptId(), 0) + 1
        if n == 50:
            open({marker!r}, "w").close()
            raise RuntimeError("injected failure of a first task attempt")
    return _extract(payload, force_ocr)


core.extract_turn_raw = _fail_first_attempt
"""

_RETRY_DRIVER = """
import json, sys
from pyspark.sql import SparkSession
from occular_ocr_spark.sink import CheckpointedParquetSink

inp, out = sys.argv[1:]
spark = (
    SparkSession.builder.master("local[2,2]")  # a task may fail once
    .config("spark.python.worker.module", "pyspark_sink_retry_worker")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
entries = CheckpointedParquetSink(out, 16, 4).write(
    spark.read.parquet(inp), src_snapshot_id=8
)
print(json.dumps(entries))
spark.stop()
"""


def test_retried_task_keeps_metrics_exact(spark, tmp_path):
    """A sink UDF task that fails midway through its first attempt and is
    retried adds its counts once: every manifest metric equals an exact
    recount of the rows written, and no (conv_id, turn_idx) is written
    twice.  Runs in its own session, where a task may fail once."""
    import json
    import subprocess
    import sys

    from occular_ocr_spark.fixtures import write_transcripts_parquet

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    marker = str(tmp_path / "failed-once")
    (tmp_path / "pyspark_sink_retry_worker.py").write_text(
        _RETRY_WORKER.format(marker=marker)
    )
    driver = tmp_path / "driver.py"
    driver.write_text(_RETRY_DRIVER)
    inp, out = str(tmp_path / "turns.parquet"), str(tmp_path / "sink")
    write_transcripts_parquet(inp, n_convs=40, seed=7)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([str(tmp_path), repo]))
    r = subprocess.run(
        [sys.executable, str(driver), inp, out],
        capture_output=True, text=True, cwd=repo, env=env, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert os.path.exists(marker), "no task attempt failed"
    entries = json.loads(r.stdout.strip().splitlines()[-1])

    exact = _recount(spark, os.path.join(out, "data"), 16, 4)
    for e in entries:
        want = exact.get(e["range_id"], dict.fromkeys(e["metrics"], 0))
        assert e["metrics"] == {k: want[k] for k in e["metrics"]}, e["range_id"]
    rows = spark.read.parquet(os.path.join(out, "data")).select("conv_id", "turn_idx")
    assert rows.count() == rows.distinct().count() == spark.read.parquet(inp).count()


def test_crash_during_multi_range_commit(spark, transcripts, tmp_path_factory, monkeypatch):
    """A kill after the job committed its data and after the first of
    four manifest commits: the re-run commits only the missing ranges
    and its rows equal a clean write, with no duplicate key."""
    out_dir = str(tmp_path_factory.mktemp("crashed"))
    sink = CheckpointedParquetSink(out_dir, N_BUCKETS, N_RANGES)
    real_commit = sink_mod._commit

    def commit_once(target, entry):
        if load_manifest(target):
            raise RuntimeError("killed during manifest commit")
        real_commit(target, entry)

    monkeypatch.setattr(sink_mod, "_commit", commit_once)
    with pytest.raises(RuntimeError, match="killed"):
        sink.write(transcripts, src_snapshot_id=5)
    monkeypatch.setattr(sink_mod, "_commit", real_commit)
    assert list(load_manifest(out_dir)) == [0]

    resumed = sink.write(transcripts, src_snapshot_id=5)
    assert [e["range_id"] for e in resumed] == list(range(1, N_RANGES))
    assert sink.is_complete()
    rows = _rows(spark, sink)
    keys = [(r[0], r[1]) for r in rows]
    assert len(keys) == len(set(keys)), "duplicate (conv_id, turn_idx) after resume"
    clean = CheckpointedParquetSink(str(tmp_path_factory.mktemp("clean")), N_BUCKETS, N_RANGES)
    clean.write(transcripts, src_snapshot_id=5)
    assert rows == _rows(spark, clean)


def test_snapshot_change_recomputes_every_range(spark, transcripts, tmp_path):
    """Lineage-checked skip: manifests of snapshot 1 are not reused by a
    snapshot-2 write whose payloads differ for the same keys, so no
    snapshot-1 text or snapshot id survives in the read-back."""
    snap2 = transcripts.withColumn(
        "text", F.concat(F.lit("snapshot-2 turn "), F.col("turn_idx").cast("string"))
    )
    sink = CheckpointedParquetSink(str(tmp_path), N_BUCKETS, N_RANGES)
    sink.write(transcripts, src_snapshot_id=1)
    assert {e["src_snapshot_id"] for e in load_manifest(str(tmp_path)).values()} == {1}

    second = sink.write(snap2, src_snapshot_id=2)
    assert [e["range_id"] for e in second] == list(range(N_RANGES))
    assert {e["src_snapshot_id"] for e in load_manifest(str(tmp_path)).values()} == {2}
    rows = _rows(spark, sink)
    assert len(rows) == transcripts.count()
    assert {r[4] for r in rows} == {2}
    assert all(r[3].startswith("snapshot-2 turn ") for r in rows)


def test_snapshot_change_drops_buckets_left_empty(spark, transcripts, tmp_path):
    """A snapshot that drops every conversation of one bucket leaves no
    stale rows there: the read-back equals the new snapshot exactly."""
    bucket = sink_mod._bucket_col(N_BUCKETS)
    gone = transcripts.select(bucket.alias("b")).first()["b"]
    snap2 = transcripts.where(bucket != gone)
    n_gone = transcripts.count() - snap2.count()
    assert n_gone > 0

    sink = CheckpointedParquetSink(str(tmp_path), N_BUCKETS, N_RANGES)
    sink.write(transcripts, src_snapshot_id=1)
    sink.write(snap2, src_snapshot_id=2)
    rows = _rows(spark, sink)
    assert len(rows) == transcripts.count() - n_gone
    assert {r[4] for r in rows} == {2}
    assert gone not in {r[6] for r in rows}


def test_failed_bucket_removal_raises(spark, transcripts, tmp_path, monkeypatch):
    """A stale bucket the sink cannot remove fails the write and leaves
    the sink incomplete; a re-run once removal works again reads back
    only the new snapshot."""
    bucket = sink_mod._bucket_col(N_BUCKETS)
    gone = transcripts.select(bucket.alias("b")).first()["b"]
    snap2 = transcripts.where(bucket != gone)

    sink = CheckpointedParquetSink(str(tmp_path), N_BUCKETS, N_RANGES)
    sink.write(transcripts, src_snapshot_id=1)
    unlink = os.unlink

    def deny_parquet(path, *args, **kwargs):
        if str(path).endswith(".parquet"):
            raise PermissionError(13, "Permission denied", str(path))
        return unlink(path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(os, "unlink", deny_parquet)
        with pytest.raises(OSError):
            sink.write(snap2, src_snapshot_id=2)
    assert not sink.is_complete()

    sink.write(snap2, src_snapshot_id=2)
    rows = _rows(spark, sink)
    assert len(rows) == snap2.count()
    assert {r[4] for r in rows} == {2}
    assert gone not in {r[6] for r in rows}


def test_is_complete_checks_lineage(spark, transcripts, tmp_path, monkeypatch):
    """A sink whose ranges record different snapshots, or another
    extractor version, is not complete, though every range has a manifest."""
    sink = CheckpointedParquetSink(str(tmp_path), N_BUCKETS, N_RANGES)
    sink.write(transcripts, src_snapshot_id=1)
    assert sink.is_complete()
    sink.write(transcripts, src_snapshot_id=2, max_ranges=2)
    assert len(load_manifest(str(tmp_path))) == N_RANGES
    assert not sink.is_complete()
    sink.write(transcripts, src_snapshot_id=2)
    assert sink.is_complete()
    monkeypatch.setattr(core, "EXTRACTOR_VERSION", "occular-ocr-spark/bumped")
    assert not sink.is_complete()


def test_extractor_version_bump_recomputes_every_range(spark, transcripts, tmp_path, monkeypatch):
    """Manifests written by another extractor version are not reused."""
    sink = CheckpointedParquetSink(str(tmp_path), N_BUCKETS, N_RANGES)
    sink.write(transcripts, src_snapshot_id=4, max_ranges=2)
    monkeypatch.setattr(core, "EXTRACTOR_VERSION", "occular-ocr-spark/bumped")
    redone = sink.write(transcripts, src_snapshot_id=4)
    assert [e["range_id"] for e in redone] == list(range(N_RANGES))
    assert {e["extractor_version"] for e in load_manifest(str(tmp_path)).values()} == {
        "occular-ocr-spark/bumped"
    }
    assert sink.write(transcripts, src_snapshot_id=4) == []


def test_failed_manifest_write_leaves_no_tmp_file(tmp_path, monkeypatch):
    """A manifest write that fails mid-dump re-raises and removes its tmp
    file instead of leaving it beside the committed manifests."""
    mdir = tmp_path / "_manifest"
    mdir.mkdir()

    def boom(obj, f):
        f.write('{"range_id": ')
        raise OSError("disk full")

    monkeypatch.setattr(sink_mod.json, "dump", boom)
    with pytest.raises(OSError, match="disk full"):
        sink_mod._write_json_atomic(str(mdir / "range-00000.json"), {"range_id": 0})
    assert os.listdir(mdir) == []


def test_stray_tmp_manifest_is_ignored_on_snapshot_change(spark, transcripts, tmp_path):
    """A torn ``.tmp`` left in ``_manifest/`` by an interrupted commit is
    not read as a manifest: the snapshot-2 write recomputes every range,
    completes, and keeps no snapshot-1 row or text."""
    snap2 = transcripts.withColumn(
        "text", F.concat(F.lit("snapshot-2 turn "), F.col("turn_idx").cast("string"))
    )
    sink = CheckpointedParquetSink(str(tmp_path), N_BUCKETS, N_RANGES)
    sink.write(transcripts, src_snapshot_id=1)
    stray = os.path.join(str(tmp_path), "_manifest", "tmpk3x9q2.tmp")
    with open(stray, "w") as f:
        f.write('{"range_id": 0, "src_snapshot_id": 2, "extractor_ver')
    assert set(load_manifest(str(tmp_path))) == set(range(N_RANGES))

    second = sink.write(snap2, src_snapshot_id=2)
    assert [e["range_id"] for e in second] == list(range(N_RANGES))
    assert sink.is_complete()
    assert {e["src_snapshot_id"] for e in load_manifest(str(tmp_path)).values()} == {2}
    rows = _rows(spark, sink)
    assert len(rows) == transcripts.count()
    assert {r[4] for r in rows} == {2}
    assert all(r[3].startswith("snapshot-2 turn ") for r in rows)


def test_resume_with_other_range_layout_raises(spark, transcripts, tmp_path):
    """A sink directory started with 8 ranges and resumed with 4 must not
    count its range 0 (buckets 0-1) as the 4-range layout's range 0
    (buckets 0-3): that resume would commit ranges 1-3 and report the
    sink complete with buckets 2 and 3 never written.  Both calls raise
    and leave the data already written untouched."""
    out = str(tmp_path)
    CheckpointedParquetSink(out, N_BUCKETS, 8).write(
        transcripts, src_snapshot_id=1, max_ranges=1
    )
    manifest = load_manifest(out)
    before = _rows(spark, CheckpointedParquetSink(out, N_BUCKETS, 8))

    resumed = CheckpointedParquetSink(out, N_BUCKETS, 4)
    with pytest.raises(ValueError, match="buckets 0-1 of num_buckets=16.*buckets 0-3"):
        resumed.write(transcripts, src_snapshot_id=1)
    with pytest.raises(ValueError, match="bucket layout mismatch"):
        resumed.is_complete()
    assert load_manifest(out) == manifest
    assert manifest[0]["num_buckets"] == N_BUCKETS
    assert _rows(spark, resumed) == before


def test_resume_with_other_num_buckets_raises(spark, transcripts, tmp_path):
    """16 buckets in 8 ranges and 8 buckets in 4 ranges both make range 0
    buckets 0-1, but bucket 0 holds other conversations under each; only
    the recorded ``num_buckets`` tells them apart."""
    out = str(tmp_path)
    CheckpointedParquetSink(out, 16, 8).write(
        transcripts, src_snapshot_id=1, max_ranges=1
    )
    other = CheckpointedParquetSink(out, 8, 4)
    with pytest.raises(ValueError, match="num_buckets=16.*num_buckets=8"):
        other.write(transcripts, src_snapshot_id=1)
    with pytest.raises(ValueError, match="num_buckets=16.*num_buckets=8"):
        other.is_complete()


def test_manifest_without_num_buckets_is_checked_on_bounds(tmp_path):
    """Entries that predate the ``num_buckets`` field still resume under
    the layout whose bounds they record, and raise under any other."""
    out = str(tmp_path)
    for r, (lo, hi) in enumerate(sink_mod._ranges(N_BUCKETS, N_RANGES)):
        sink_mod._commit(out, {
            "range_id": r, "bucket_lo": lo, "bucket_hi": hi, "src_snapshot_id": 3,
            "extractor_version": core.EXTRACTOR_VERSION, "metrics": {},
        })
    assert CheckpointedParquetSink(out, N_BUCKETS, N_RANGES).is_complete()
    with pytest.raises(ValueError, match="bucket layout mismatch"):
        CheckpointedParquetSink(out, N_BUCKETS, 8).is_complete()


def test_layout_without_buckets_or_ranges_raises(tmp_path):
    """A layout with no buckets or no ranges is refused when the sink is
    built, before any write: 0 buckets cannot be split into ranges, and
    negative buckets would write ``part_bucket`` values that stale-bucket
    removal never visits."""
    for num_buckets, num_ranges in ((0, 8), (-4, 8), (16, 0), (16, -1)):
        with pytest.raises(ValueError, match="at least 1"):
            CheckpointedParquetSink(str(tmp_path), num_buckets, num_ranges)


def test_extracted_ddl_matches_extracted_schema(spark):
    """The Iceberg table DDL declares the extraction job's schema: same
    column names and types, nested fields included (a DDL column list
    leaves every column nullable)."""
    from occular_ocr_spark.job import EXTRACTED_SCHEMA

    ddl = spark.createDataFrame([], sink_mod._EXTRACTED_DDL).schema
    assert [(f.name, f.dataType.simpleString()) for f in ddl.fields] == [
        (f.name, f.dataType.simpleString()) for f in EXTRACTED_SCHEMA.fields
    ]
    assert all(f.nullable for f in ddl.fields)


def test_iceberg_sink_raises_without_runtime(spark):
    """Detect-and-use: without the iceberg-spark-runtime jar the sink
    must fail at construction with a pointer to the parquet twin."""
    from occular_ocr_spark.sink import iceberg_runtime_available

    if iceberg_runtime_available(spark):
        pytest.skip("iceberg runtime present; covered by the iceberg-marked test")
    with pytest.raises(NotImplementedError, match="CheckpointedParquetSink"):
        IcebergSink(spark, "cat.db.extracted")


@pytest.mark.iceberg
def test_iceberg_sink_merge_contract(spark, tmp_path):
    """Runs ONLY on a jar-equipped box (pytest -m iceberg): create the
    bucket-partitioned table, MERGE twice (idempotence), read back."""
    from occular_ocr_spark.sink import iceberg_runtime_available

    if not iceberg_runtime_available(spark):
        pytest.skip("iceberg-spark-runtime jar not on classpath")
    spark.conf.set(
        "spark.sql.catalog.occtest", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.occtest.type", "hadoop")
    spark.conf.set("spark.sql.catalog.occtest.warehouse", str(tmp_path / "wh"))
    sink = IcebergSink(spark, "occtest.db.extracted", num_buckets=8)
    df = spark.createDataFrame(
        [("c1", 0, "hello world"), ("c1", 1, "second turn"), ("c2", 0, "other")],
        "conv_id string, turn_idx int, text string",
    )
    sink.write(df, src_snapshot_id=7)
    assert sink.read().count() == 3
    sink.write(df, src_snapshot_id=7)  # MERGE idempotence: no dup rows
    assert sink.read().count() == 3
    row = sink.read().where("conv_id = 'c1' AND turn_idx = 0").collect()[0]
    assert row["text"] == "hello world" and row["src_snapshot_id"] == 7
