"""Self-test of the benchmark at tiny sizes.

Each workload (the ones BENCHMARK.json names, plus ``chat_short``) runs
once untraced and once traced with ``--smoke``; the final line must carry
exactly the metrics BENCHMARK.json names, with their units, and the
output must match the oracle, and no process the run started may
outlive it.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
from perfbench import procfs  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(cwd, *args):
    """Run the benchmark with this process as the subreaper of its
    descendants: a process the run leaves behind becomes a child of this
    one, alive or a zombie, however soon it exits after the run."""
    procfs.become_subreaper()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    left = procfs.children()
    procfs.reap_children(grace_s=0)
    assert left == [], "a process outlived the run"
    return proc


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_reports_every_metric(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", str(trace), "--smoke")
    assert proc.returncode == 0, proc.stderr[-4000:]
    *_, report_line, final_line = proc.stdout.strip().splitlines()
    report, final = json.loads(report_line)["report"], json.loads(final_line)

    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert final["correct"] is True and final["failed"] == 0
    assert final["attempted"] == report["input_turns"] > 0
    wanted = BENCH["per_layer" if trace else "end_to_end"]
    assert set(final["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = final["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    assert report["metrics"]["turn_error_rate"]["value"] == 0
    for key in ("cpus", "host_steal_pct", "load_1m_start", "load_1m_end",
                "seed", "input_turns", "payload_mb"):
        assert key in report


def test_benchmark_json_names_known_workloads():
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)


def test_fails_without_the_product(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", "out", "__pycache__"))
    proc = _run(tmp_path, "--workload", "web_mix", "--seed", "3", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout == ""
