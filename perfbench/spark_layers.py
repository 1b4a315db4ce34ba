"""Spark side of the benchmark: sessions, the three end-to-end paths, the
nested layer plans of the traced run, and the event-log parser.

Every plan calls the product's public functions (``sources``, ``job``,
``sink``); the only code of the benchmark's own that runs inside Spark is
the warm-up UDF and the pass-through ``mapInArrow`` body of the Arrow
plan.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time
from typing import Dict, List, Optional

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession, functions as F

from occular_ocr_spark import job, sources
from occular_ocr_spark.sink import CheckpointedParquetSink

SALT_BUCKETS = 8
PARTITIONS_PER_CPU = 4  # spark.sql.shuffle.partitions per cpu
# Exchange width 0: a column-only salted repartition whose width comes from
# spark.sql.shuffle.partitions and AQE coalescing, the setting
# job.repartition_salted documents for production.
EXCHANGE_PARTITIONS = 0
DRIVER_MEMORY = "2g"


def _identity(batches):
    yield from batches


def passthrough(batches):
    """The benchmark's ``mapInArrow`` body: key columns and the payload go
    in and come back out under ``EXTRACTED_SCHEMA`` with empty blocks, so
    the plan pays Arrow transfer both ways and the Python worker loop but
    runs no kernel."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arrow_block = pa.struct([
        ("span", pa.struct([("start", pa.int32()), ("end", pa.int32()), ("y", pa.int32())])),
        ("text", pa.string()),
        ("confidence", pa.float64()),
    ])
    names = [f.name for f in job.EXTRACTED_SCHEMA.fields]
    for rb in batches:
        n = rb.num_rows
        empty = pa.ListArray.from_arrays(
            pa.array([0] * (n + 1), pa.int32()), pa.array([], arrow_block)
        )
        yield pa.RecordBatch.from_arrays(
            [
                rb.column(rb.schema.get_field_index("conv_id")),
                rb.column(rb.schema.get_field_index("turn_idx")),
                pa.array(["plain"] * n, pa.string()),
                empty,
                pc.fill_null(rb.column(rb.schema.get_field_index("text")), ""),
                pa.array([-1] * n, pa.int64()),
                pa.array([-1] * n, pa.int32()),
                pa.array(["passthrough"] * n, pa.string()),
            ],
            names=names,
        )


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _key_columns(df: DataFrame) -> DataFrame:
    # the projection extract_detailed applies before its exchange
    return df.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("text").cast("string").alias("text"),
    )


class SparkRunner:
    """Owns the SparkSession and the JVM behind it."""

    def __init__(self, cpus: int, work_dir: str):
        self.cpus = cpus
        self.work_dir = work_dir
        self.spark: Optional[SparkSession] = None

    def start(self, event_log_dir: Optional[str] = None) -> float:
        """Start a session and run the warm-up pass that spawns the
        Python workers; returns the seconds both took."""
        t0 = time.perf_counter()
        b = (
            SparkSession.builder.master(f"local[{self.cpus}]")
            .appName("perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", DRIVER_MEMORY)
            # a fully committed, pre-touched heap keeps the JVM's resident
            # size independent of when G1 grows the heap, so peak_rss_mb
            # moves with off-heap and Python-worker memory
            .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
            .config("spark.sql.shuffle.partitions", str(PARTITIONS_PER_CPU * self.cpus))
            .config("spark.local.dir", os.path.join(self.work_dir, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work_dir, "warehouse"))
            .config("spark.eventLog.enabled", "true" if event_log_dir else "false")
        )
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            b = b.config("spark.eventLog.dir", "file://" + event_log_dir).config(
                "spark.eventLog.compress", "false"
            ).config("spark.eventLog.rolling.enabled", "false")
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        noop(
            self.spark.range(self.cpus * 16, numPartitions=self.cpus).mapInArrow(
                _identity, "id long"
            )
        )
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        gw = SparkContext._gateway
        self.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def read(self, path: str) -> DataFrame:
        return sources.read_transcripts(self.spark, path)

    def extract(self, df: DataFrame, **kw) -> DataFrame:
        return job.extract_detailed(
            df, num_partitions=EXCHANGE_PARTITIONS, salt_buckets=SALT_BUCKETS, **kw
        )

    def noop_extract(self, input_path: str) -> None:
        noop(self.extract(self.read(input_path)))

    # --- the end-to-end paths ------------------------------------------------

    def run_path(self, workload: str, input_path: str, seed: int, sink_dir: str) -> int:
        """One closed-loop pass of the workload's path.  The caller's clock
        brackets this call: it starts at ``read_transcripts`` and ends when
        the result is committed.  Returns the rows the sink committed (0
        for the noop paths)."""
        df = self.read(input_path)
        if workload == "web_mix":
            entries = CheckpointedParquetSink(sink_dir).write(
                df,
                src_snapshot_id=seed,
                num_partitions=EXCHANGE_PARTITIONS,
                salt_buckets=SALT_BUCKETS,
            )
            return sum(e["metrics"]["n_rows"] for e in entries)
        ext = self.extract(df)
        noop(job.conversation_text(ext) if workload == "chat_short" else ext)
        return 0

    def check_pass(self, workload: str, input_path: str, seed: int, out_dir: str):
        """The workload's path once, untimed, writing what it produces so
        it can be joined against the oracle: returns (per-turn output
        path, per-conversation output path or None).  ``web_mix`` runs its
        real path, whose sink commits the output; the noop paths write the
        extracted turns (and ``chat_short`` the assembled conversations)
        to parquet instead."""
        if workload == "web_mix":
            sink_dir = os.path.join(out_dir, "sink")
            self.run_path(workload, input_path, seed, sink_dir)
            return os.path.join(sink_dir, "data"), None
        turns = os.path.join(out_dir, "turns")
        self.extract(self.read(input_path)).write.mode("overwrite").parquet(turns)
        if workload != "chat_short":
            return turns, None
        convs = os.path.join(out_dir, "convs")
        job.conversation_text(self.spark.read.parquet(turns)).write.mode(
            "overwrite"
        ).parquet(convs)
        return turns, convs


# --- tracing ----------------------------------------------------------------

class Tracer:
    """In-memory spans, one around each call into a layer.  The spans are
    flat: each is a child of the traced run.  Each span also names the
    Spark job group of the jobs it starts, which maps event-log stages
    back to spans."""

    def __init__(self, sc: SparkContext):
        self.sc = sc
        self.t0 = time.perf_counter()
        self.spans: List[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "start": time.perf_counter() - self.t0, "end": None, **attrs}
        self.spans.append(rec)
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, name: str) -> List[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def last(self, name: str) -> dict:
        return [s for s in self.spans if s["name"] == name][-1]


def layer_plans(runner: SparkRunner, tracer: Tracer, input_path: str,
                seed: int, reps: int, work_dir: str) -> Dict[str, int]:
    """Time the nested plans, each ``reps`` times, as spans; then commit
    the sink one range at a time.  Returns the sink's file count and
    bytes."""
    P = EXCHANGE_PARTITIONS  # the exchange of every plan below
    for _ in range(reps):
        with tracer.span("sources.scan"):
            noop(runner.read(input_path))
        with tracer.span("job.exchange"):
            noop(job.repartition_salted(_key_columns(runner.read(input_path)), P, SALT_BUCKETS))
        with tracer.span("job.arrow"):
            noop(
                job.repartition_salted(_key_columns(runner.read(input_path)), P, SALT_BUCKETS)
                .mapInArrow(passthrough, schema=job.EXTRACTED_SCHEMA)
            )
        with tracer.span("job.extract_no_fastpath"):
            noop(runner.extract(runner.read(input_path), jvm_plain_fast_path=False))
        with tracer.span("job.extract"):
            runner.noop_extract(input_path)
        runner.spark.catalog.clearCache()

    extracted = os.path.join(work_dir, "extracted")
    with tracer.span("prep.extracted"):
        runner.extract(runner.read(input_path)).write.mode("overwrite").parquet(extracted)
    for _ in range(reps):
        with tracer.span("job.assembly"):
            noop(job.conversation_text(runner.spark.read.parquet(extracted)))

    sink_dir = os.path.join(work_dir, "sink-ranges")
    shutil.rmtree(sink_dir, ignore_errors=True)
    sink = CheckpointedParquetSink(sink_dir)
    while not sink.is_complete():
        with tracer.span("sink.range") as rec:
            entries = sink.write(
                runner.read(input_path),
                src_snapshot_id=seed,
                num_partitions=P,
                salt_buckets=SALT_BUCKETS,
                max_ranges=1,
            )
            rec["rows"] = sum(e["metrics"]["n_rows"] for e in entries)
    files = [os.path.join(d, f) for d, _, fs in os.walk(sink.data_dir)
             for f in fs if f.endswith(".parquet")]
    return {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}


# --- event log --------------------------------------------------------------

def parse_event_log(log_dir: str) -> Dict[str, List[dict]]:
    """Per-stage task metrics grouped by job group:
    ``{group: [{"stage": id, "tasks": [{...}]}]}``."""
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
            if not f.endswith(".inprogress")]
    stage_group: Dict[int, str] = {}
    tasks: Dict[int, List[dict]] = {}
    for path in logs:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "duration_ms": info["Finish Time"] - info["Launch Time"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "shuffle_read_records": sr.get("Total Records Read", 0),
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "peak_exec_mem": m.get("Peak Execution Memory", 0),
                    })
    out: Dict[str, List[dict]] = {}
    for sid in sorted(tasks):
        out.setdefault(stage_group.get(sid), []).append({"stage": sid, "tasks": tasks[sid]})
    return out


def stage_summary(stages: List[dict]) -> List[dict]:
    return [{
        "stage": s["stage"],
        "tasks": len(s["tasks"]),
        "run_s": sum(t["run_ms"] for t in s["tasks"]) / 1000.0,
        "task_s_max": max(t["duration_ms"] for t in s["tasks"]) / 1000.0,
        "shuffle_read_mb": sum(t["shuffle_read_bytes"] for t in s["tasks"]) / 2**20,
        "shuffle_write_mb": sum(t["shuffle_write_bytes"] for t in s["tasks"]) / 2**20,
        "spill_mb": sum(t["spill_bytes"] for t in s["tasks"]) / 2**20,
        "peak_exec_mem_mb": max(t["peak_exec_mem"] for t in s["tasks"]) / 2**20,
    } for s in stages]


def layer_metrics(tracer: Tracer, stages_by_group: Dict[str, List[dict]],
                  sink_out: Dict[str, int]) -> Dict[str, float]:
    med = lambda name: statistics.median(tracer.durations(name))  # noqa: E731

    def group_stages(name: str) -> List[dict]:
        return stages_by_group.get(f"span-{tracer.last(name)['id']}", [])

    # tasks after the exchange: those that read shuffle records
    ext_tasks = [t for s in group_stages("job.extract") for t in s["tasks"]
                 if t["shuffle_read_records"] > 0]
    records = [t["shuffle_read_records"] for t in ext_tasks] or [0]
    durations = [t["duration_ms"] / 1000.0 for t in ext_tasks] or [0.0]
    ranges = tracer.durations("sink.range")
    return {
        "sources.scan_s": med("sources.scan"),
        "job.exchange_s": med("job.exchange") - med("sources.scan"),
        "job.exchange_skew": max(records) / max(statistics.median(records), 1),
        "job.shuffle_mb": sum(
            t["shuffle_write_bytes"] for s in group_stages("job.exchange") for t in s["tasks"]
        ) / 2**20,
        "job.arrow_s": med("job.arrow") - med("job.exchange"),
        "job.kernel_s": med("job.extract_no_fastpath") - med("job.arrow"),
        "job.fastpath_s": med("job.extract") - med("job.extract_no_fastpath"),
        "job.task_s_max": max(durations),
        "job.task_s_p50": statistics.median(durations),
        "job.assembly_s": med("job.assembly"),
        "sink.range_s_p50": statistics.median(ranges),
        "sink.range_s_max": max(ranges),
        "sink.mb_written": sink_out["bytes"] / 2**20,
        "sink.files_written": float(sink_out["files"]),
    }
