#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, one line of metrics.

    python3 perfbench/run.py --workload web_mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  With ``--trace 0`` it reports the
end-to-end metrics of the workload's path (``turns_per_s``, ``cpu_s``,
``peak_rss_mb``, ``setup_s``); with ``--trace 1`` it reports the per-layer
metrics from a traced session and writes the spans to
``perfbench/out/trace-<workload>-s<seed>.json``.  Either way it first
runs the path once untimed and joins that output against the oracle.
``--smoke`` shrinks every workload to a few dozen turns.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is a ``{"report": ...}`` object with every
metric, its unit and the run's context (cpus, host steal, load, seed,
input size).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
OUT = os.path.join(ROOT, "perfbench", "out")

WORKLOADS = ("web_mix", "chat_short", "long_pages")
SETUPS = 3      # session starts per untraced run; setup_s is their median
LAYER_REPS = 2  # runs of each layer plan in a traced run; the median counts

E2E_UNITS = {"turns_per_s": "turns/s", "cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}
LAYER_UNITS = {
    "sources.scan_s": "s",
    "job.exchange_s": "s",
    "job.exchange_skew": "ratio",
    "job.shuffle_mb": "MB",
    "job.arrow_s": "s",
    "job.kernel_s": "s",
    "job.fastpath_s": "s",
    "job.task_s_max": "s",
    "job.task_s_p50": "s",
    "job.rows.html": "count",
    "job.rows.pdf_text": "count",
    "job.rows.markup": "count",
    "job.rows.plain": "count",
    "job.assembly_s": "s",
    "job.framework_efficiency": "ratio",
    "core.html.us_per_turn": "us",
    "core.pdf_text.us_per_turn": "us",
    "core.markup.us_per_turn": "us",
    "core.plain.us_per_turn": "us",
    "core.dispatch.us_per_turn": "us",
    "core.slowest_turn_ms": "ms",
    "core.slowest_turn_kb": "KB",
    "core.ceiling_turns_per_s": "turns/s",
    "sink.range_s_p50": "s",
    "sink.range_s_max": "s",
    "sink.mb_written": "MB",
    "sink.files_written": "count",
    "trace.overhead_pct": "%",
}


def _environment(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout and make the
    product importable here and in Spark's Python workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(run_dir, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _timed_passes(runner, args, fx, n_turns, run_dir):
    """Closed-loop passes of the workload's path until ``--seconds`` is
    spent, at least one."""
    from perfbench.procfs import RssSampler, tree_cpu_s

    passes = []
    deadline = time.perf_counter() + args.seconds
    with RssSampler() as rss:
        while not passes or time.perf_counter() < deadline:
            sink_dir = os.path.join(run_dir, "sink")
            shutil.rmtree(sink_dir, ignore_errors=True)
            rss.reset()
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            committed = runner.run_path(args.workload, fx.input, args.seed, sink_dir)
            wall = time.perf_counter() - t0
            passes.append({
                "wall_s": wall,
                "cpu_s": tree_cpu_s() - cpu0,
                "peak_rss_mb": rss.peak_mb,
                "processes": len(rss.pids_seen),
                "lost_rows": abs(committed - n_turns) if args.workload == "web_mix" else 0,
            })
            runner.spark.catalog.clearCache()
    return passes


def _slowest_candidates(fx, n=3):
    import pyarrow.parquet as pq

    inp = pq.read_table(fx.input, columns=["conv_id", "turn_idx"])
    index = {k: i for i, k in enumerate(zip(inp.column(0).to_pylist(), inp.column(1).to_pylist()))}
    orc = pq.read_table(fx.oracle_turns, columns=["conv_id", "turn_idx", "kernel_us"])
    rows = sorted(zip(orc.column(2).to_pylist(), orc.column(0).to_pylist(), orc.column(1).to_pylist()),
                  reverse=True)[:n]
    return [index[(c, t)] for _, c, t in rows]


def run(args) -> int:
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _environment(run_dir)

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from perfbench import check, procfs, workloads
    from perfbench.spark_layers import SparkRunner, Tracer, layer_plans

    cpus = len(os.sched_getaffinity(0))
    fx = workloads.Fixture(args.workload, args.seed, args.smoke)
    gen_s = fx.ensure(cpus)
    texts = pq.read_table(fx.input, columns=["text"]).column(0)
    n_turns = len(texts)

    load_start = procfs.load_1m()
    ticks0 = procfs.host_cpu_ticks()
    runner = SparkRunner(cpus, run_dir)
    setups, passes = [], []
    try:
        setups.append(runner.start())
        if not args.trace:
            for _ in range(SETUPS - 1):
                runner.stop()
                setups.append(runner.start())
        # untimed: the path once, writing its output for the oracle check
        outputs = runner.check_pass(args.workload, fx.input, args.seed,
                                    os.path.join(run_dir, "check"))
        runner.spark.catalog.clearCache()
        if args.trace:
            runner.stop()
            runner.start(event_log_dir=os.path.join(run_dir, "eventlog"))
            tracer = Tracer(runner.spark.sparkContext)
            sink_out = layer_plans(runner, tracer, fx.input, args.seed,
                                   reps=LAYER_REPS, work_dir=run_dir)
            runner.stop()  # closes the event log
            # the tracing reference: the same extraction plan as the traced
            # job.extract spans, in a new session with tracing off, after
            # one untimed run so that it is as warm as they are
            runner.start()
            untraced_extract_s = []
            for _ in range(LAYER_REPS + 1):
                t0 = time.perf_counter()
                runner.noop_extract(fx.input)
                untraced_extract_s.append(time.perf_counter() - t0)
            del untraced_extract_s[0]
        else:
            # the path once more, untimed, exactly as it will be timed:
            # the JIT is still warming up after the check pass, and a
            # second pass used 10-20% less CPU than the first
            runner.run_path(args.workload, fx.input, args.seed, os.path.join(run_dir, "sink"))
            runner.spark.catalog.clearCache()
            passes = _timed_passes(runner, args, fx, n_turns, run_dir)
    finally:
        runner.shutdown()
    result = check.compare(fx, *outputs)
    failed = (result["missing"] + result["duplicated"] + result["mismatched"]
              + sum(p["lost_rows"] for p in passes))
    metrics = {"turn_error_rate": {"value": failed / n_turns, "unit": "ratio"}}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "host_steal_pct": procfs.steal_pct(ticks0, procfs.host_cpu_ticks()),
        "load_1m_start": load_start, "load_1m_end": procfs.load_1m(),
        "input_turns": n_turns, "payload_mb": pc.sum(pc.binary_length(texts)).as_py() / 2**20,
        "fixture_gen_s": gen_s, "setups_s": setups, "passes": passes, "check": result,
    }
    if args.trace:
        layer = _layer_metrics(args, fx, cpus, texts, result, tracer, sink_out,
                               untraced_extract_s, run_dir, report)
        metrics.update({k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layer.items()})
        final = {k: metrics[k] for k in LAYER_UNITS}
    else:
        e2e = {
            "turns_per_s": statistics.median(n_turns / p["wall_s"] for p in passes),
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in passes),
            "setup_s": statistics.median(setups),
        }
        metrics.update({k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()})
        final = {k: metrics[k] for k in E2E_UNITS}
    report["metrics"] = metrics
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"report": report}))
    failed += result["conv_errors"]
    print(json.dumps({"correct": failed == 0, "attempted": n_turns,
                      "failed": failed, "metrics": final}))
    return 0


def _layer_metrics(args, fx, cpus, texts, result, tracer, sink_out,
                   untraced_extract_s, run_dir, report):
    """Per-layer metrics of a traced run; writes the trace file."""
    from perfbench import kernel
    from perfbench.spark_layers import layer_metrics, parse_event_log, stage_summary

    stages = parse_event_log(os.path.join(run_dir, "eventlog"))
    layer = layer_metrics(tracer, stages, sink_out)
    extract_s = statistics.median(tracer.durations("job.extract"))
    layer["trace.overhead_pct"] = 100.0 * (
        extract_s / statistics.median(untraced_extract_s) - 1.0)
    for m in kernel.METHODS:
        layer[f"job.rows.{m}"] = float(result["rows"].get(m, 0))
    payloads = texts.to_pylist()
    budget = 0.5 if args.smoke else 4.0
    layer.update(kernel.core_passes(payloads, _slowest_candidates(fx), budget))
    report["core_sample_turns"] = layer.pop("core.sample_turns")
    layer["core.ceiling_turns_per_s"] = kernel.ceiling_turns_per_s(payloads, cpus)
    layer["job.framework_efficiency"] = (
        len(payloads) / extract_s / layer["core.ceiling_turns_per_s"])

    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"trace-{args.workload}-s{args.seed}.json")
    by_span = {s["name"]: [] for s in tracer.spans}
    for s in tracer.spans:
        by_span[s["name"]].extend(stage_summary(stages.get(f"span-{s['id']}", [])))
    with open(path, "w") as f:
        json.dump({"report": report, "layer_metrics": layer, "spans": tracer.spans,
                   "stages_by_span": by_span}, f, indent=1)
    report["trace_file"] = os.path.relpath(path, ROOT)
    return layer


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=20261)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "occular_ocr_spark", "__init__.py")):
        print(f"perfbench: the occular_ocr_spark package is not under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import procfs

    procfs.become_subreaper()
    try:
        return run(args)
    finally:
        procfs.reap_children()


if __name__ == "__main__":
    sys.exit(main())
