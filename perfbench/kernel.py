"""The kernel layer alone: single-process passes of ``extraction.core`` over
the workload's own payloads, and the kernel ceiling under bare
``multiprocessing``."""

from __future__ import annotations

import multiprocessing as mp
import time
from typing import Dict, List

from occular_ocr_spark.extraction import core

from perfbench.workloads import stride_order

METHODS = (core.METHOD_HTML, core.METHOD_PDF_TEXT, core.METHOD_MARKUP, core.METHOD_PLAIN)


def core_passes(payloads: List[str], slowest_candidates: List[int], budget_s: float) -> Dict[str, float]:
    """µs per turn of ``dispatch`` and of each method's full per-turn
    extraction, plus the slowest turn.

    Payloads are visited in size order through ``stride_order``, so when
    ``budget_s`` runs out the turns done so far are a stratified sample.
    ``slowest_candidates`` are indices of the turns the oracle pass found
    slowest; each is timed again here and the slowest is reported."""
    by_size = sorted(range(len(payloads)), key=lambda i: len(payloads[i] or ""))
    visit = [by_size[k] for k in stride_order(len(by_size))]
    clock = time.perf_counter_ns

    n_dispatch, ns_dispatch = 0, 0
    deadline = time.perf_counter() + budget_s / 4
    for i in visit:
        t0 = clock()
        core.dispatch(payloads[i])
        ns_dispatch += clock() - t0
        n_dispatch += 1
        if time.perf_counter() > deadline:
            break

    count = dict.fromkeys(METHODS, 0)
    ns = dict.fromkeys(METHODS, 0)
    deadline = time.perf_counter() + budget_s
    for i in visit:
        t0 = clock()
        method, _, _ = core.extract_turn_raw(payloads[i])
        ns[method] += clock() - t0
        count[method] += 1
        if time.perf_counter() > deadline:
            break

    slow_ms, slow_kb = 0.0, 0.0
    for i in slowest_candidates:
        t0 = clock()
        core.extract_turn_raw(payloads[i])
        ms = (clock() - t0) / 1e6
        if ms > slow_ms:
            slow_ms, slow_kb = ms, len((payloads[i] or "").encode()) / 1024
    out = {f"core.{m}.us_per_turn": ns[m] / count[m] / 1000 if count[m] else 0.0 for m in METHODS}
    out["core.dispatch.us_per_turn"] = ns_dispatch / max(n_dispatch, 1) / 1000
    out["core.sample_turns"] = float(sum(count.values()))
    out["core.slowest_turn_ms"] = slow_ms
    out["core.slowest_turn_kb"] = slow_kb
    return out


def ceiling_turns_per_s(payloads: List[str], cpus: int) -> float:
    """Turns/s of the bare kernel over every payload at ``cpus`` worker
    processes, with no Spark, no Arrow and no shuffle."""
    from scripts.bench_scaling import _ceiling_worker

    # largest first, one chunk per task, so the pool balances itself
    ordered = sorted(payloads, key=lambda p: -len(p or ""))
    n_chunks = cpus * 4
    chunks = [ordered[k::n_chunks] for k in range(n_chunks)]
    with mp.get_context("spawn").Pool(cpus) as pool:
        pool.map(_ceiling_worker, [[""]] * cpus, chunksize=1)  # import core in each worker
        t0 = time.perf_counter()
        total = sum(pool.map(_ceiling_worker, chunks, chunksize=1))
        return total / (time.perf_counter() - t0)
