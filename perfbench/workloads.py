"""Workload inputs and their oracle digests.

Each workload is a transcript parquet file made from ``--seed`` plus two
oracle tables computed from it with ``extraction.core.extract_turn``:
one digest of ``text`` + ``blocks`` per turn, and one digest of the
assembled conversation text per conversation.  Both are cached beside the
fixture, keyed by the workload, its size, the seed and a hash of the
source files that define the inputs and the oracle, so a run pays for
generation only the first time it sees a seed.

Sizes are fixed per workload (turn count, kind mix, page sizes); the seed
only chooses content and order.  That keeps the work per run the same
across seeds, so run-to-run spread is the system's, not the sample's.
"""

from __future__ import annotations

import hashlib
import math
import multiprocessing as mp
import os
import random
import shutil
import time
from typing import Dict, List, Tuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, "perfbench", ".cache")
MAX_CACHED = 36

_WORDS = (
    "spark query data table scan filter join window group sort merge batch"
    " stream row key value hash order line part customer supplier nation"
    " region fast slow big small the a of and extraction pipeline turn"
    " transcript agent tool model content block span text density layout"
).split()

# Sizes of the full and the --smoke variants of each workload.
SIZES = {
    "web_mix": {"full": 1500, "smoke": 40},        # fixtures n_convs
    "chat_short": {"full": 10000, "smoke": 50},    # conversations of 12 turns
    "long_pages": {"full": 96, "smoke": 6},        # HTML pages
}
CHAT_TURNS_PER_CONV = 12
PAGE_KB_MIN, PAGE_KB_MAX = 5, 550
MALFORMED_EVERY = 40  # one malformed page per this many pages


# --- generators -------------------------------------------------------------

def _sentence(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choices(_WORDS, k=rng.randint(lo, hi)))


def _chat_turn(rng: random.Random, kind: str) -> str:
    if kind == "plain":
        return "\n".join(_sentence(rng, 3, 10) for _ in range(rng.randint(1, 3)))
    if kind == "markup":
        pre = _sentence(rng, 3, 8)
        inner = "\n".join(_sentence(rng, 3, 8) for _ in range(rng.randint(1, 2)))
        if rng.random() < 0.5:
            return f"{pre}\n```text\n{inner}\n```"
        return f"{pre}\n<output>\n{inner}\n</output>"
    return f"<div><p>{_sentence(rng, 12, 20)}</p><a href='/x'>{rng.choice(_WORDS)}</a></div>"


# Per 25 turns: 15 plain, 8 markup, 2 small HTML.
_CHAT_KINDS = ["plain"] * 15 + ["markup"] * 8 + ["html"] * 2


def chat_short_rows(n_convs: int, seed: int) -> List[Dict]:
    rng = random.Random(seed)
    rows = []
    i = 0
    for c in range(n_convs):
        conv_id = f"chat-{c:07d}"
        for t in range(CHAT_TURNS_PER_CONV):
            kind = _CHAT_KINDS[i % len(_CHAT_KINDS)]
            i += 1
            rows.append({"conv_id": conv_id, "turn_idx": t,
                         "role": "user" if t % 2 == 0 else "assistant",
                         "text": _chat_turn(rng, kind)})
    rng.shuffle(rows)
    return rows


def _page(rng: random.Random, size: int) -> str:
    parts = ["<html><head><title>", _sentence(rng, 2, 5),
             "</title><script>var t = 0;</script></head><body>\n<nav>"]
    parts += [f'<a href="/{w}">{w}</a> ' for w in rng.choices(_WORDS, k=6)]
    parts.append("</nav>\n")
    n = sum(map(len, parts))
    while n < size:
        if rng.random() < 0.15:
            blk = "<div>" + " ".join(
                f'<a href="#">{w}</a>' for w in rng.choices(_WORDS, k=rng.randint(3, 6))
            ) + "</div>\n"
        else:
            blk = f"<p>{_sentence(rng, 20, 40)}</p>\n"
        parts.append(blk)
        n += len(blk)
    parts.append("<footer>end</footer></body></html>")
    return "".join(parts)


def _malformed_page(rng: random.Random, size: int) -> str:
    # unclosed tags: every "<a x" opens a tag that never ends
    head = f"<html><body><p>{_sentence(rng, 10, 20)}</p>"
    return head + "<a x" * max(1, (size - len(head)) // 4)


def page_sizes(n_pages: int) -> List[int]:
    """Page sizes in bytes on a geometric grid from PAGE_KB_MIN to
    PAGE_KB_MAX, the same for every seed."""
    if n_pages == 1:
        return [PAGE_KB_MIN * 1024]
    ratio = PAGE_KB_MAX / PAGE_KB_MIN
    return [int(PAGE_KB_MIN * 1024 * ratio ** (i / (n_pages - 1))) for i in range(n_pages)]


def long_pages_rows(n_pages: int, seed: int) -> List[Dict]:
    rng = random.Random(seed)
    texts = [_page(rng, s) for s in page_sizes(n_pages)]
    n_bad = max(1, n_pages // MALFORMED_EVERY)
    texts += [_malformed_page(rng, 3072 + 1024 * (i % 4)) for i in range(n_bad)]
    # Two pages per conversation, keyed by size rank, so every seed puts
    # the same page sizes in the same exchange partitions and the
    # straggler does not change with the seed; only the file order does.
    rows = [{"conv_id": f"site-{i // 2:05d}", "turn_idx": i % 2,
             "role": "tool", "text": t} for i, t in enumerate(texts)]
    rng.shuffle(rows)
    return rows


def _write_rows(rows: List[Dict], path: str, row_group_size: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "conv_id": pa.array([r["conv_id"] for r in rows], pa.string()),
        "turn_idx": pa.array([r["turn_idx"] for r in rows], pa.int32()),
        "role": pa.array([r["role"] for r in rows], pa.string()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
    })
    pq.write_table(table, path, row_group_size=row_group_size)


def write_input(workload: str, size: int, seed: int, path: str) -> None:
    if workload == "web_mix":
        from occular_ocr_spark import fixtures

        fixtures.write_transcripts_parquet(path, n_convs=size, seed=seed)
    elif workload == "chat_short":
        rows = chat_short_rows(size, seed)
        _write_rows(rows, path, row_group_size=max(1, len(rows) // 8))
    elif workload == "long_pages":
        _write_rows(long_pages_rows(size, seed), path, row_group_size=8)
    else:
        raise ValueError(f"unknown workload {workload!r}")


# --- oracle -----------------------------------------------------------------

def digest(value) -> int:
    """Signed 64-bit digest of a value's repr (ints, floats, strings and
    tuples of them repr identically on both sides of the comparison)."""
    h = hashlib.blake2b(repr(value).encode("utf-8", "surrogatepass"), digest_size=8)
    return int.from_bytes(h.digest(), "little", signed=True)


def _oracle_chunk(convs: List[Tuple[str, List[Tuple[int, str]]]]):
    """Worker: oracle digests for whole conversations.  Returns per-turn
    (conv_id, turn_idx, method, digest, kernel_us) and per-conversation
    (conv_id, n_turns, digest of the turn-ordered joined text)."""
    from occular_ocr_spark.extraction import core

    turns, conv_out = [], []
    clock = time.perf_counter_ns
    for conv_id, items in convs:
        texts = []
        for turn_idx, payload in sorted(items):
            t0 = clock()
            rec = core.extract_turn(payload)
            us = (clock() - t0) / 1000.0
            blocks = tuple(
                (b["span"]["start"], b["span"]["end"], b["span"]["y"], b["text"], b["confidence"])
                for b in rec["blocks"]
            )
            turns.append((conv_id, turn_idx, rec["method"], digest((rec["text"], blocks)), us))
            texts.append(rec["text"])
        conv_out.append((conv_id, len(texts), digest("\n".join(texts))))
    return turns, conv_out


def _compute_oracle(input_path: str, turns_path: str, convs_path: str, cpus: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(input_path, columns=["conv_id", "turn_idx", "text"])
    by_conv: Dict[str, list] = {}
    for c, i, p in zip(t.column(0).to_pylist(), t.column(1).to_pylist(), t.column(2).to_pylist()):
        by_conv.setdefault(c, []).append((i, p))
    # chunk by payload bytes so the pool stays balanced on long pages
    convs = sorted(by_conv.items(), key=lambda kv: -sum(len(p or "") for _, p in kv[1]))
    n_chunks = max(1, min(len(convs), cpus * 8))
    chunks = [convs[k::n_chunks] for k in range(n_chunks)]
    with mp.get_context("spawn").Pool(cpus) as pool:
        results = pool.map(_oracle_chunk, chunks)
    turns = [r for res in results for r in res[0]]
    conv_rows = [r for res in results for r in res[1]]
    pq.write_table(pa.table({
        "conv_id": [r[0] for r in turns],
        "turn_idx": pa.array([r[1] for r in turns], pa.int32()),
        "method": [r[2] for r in turns],
        "digest": pa.array([r[3] for r in turns], pa.int64()),
        "kernel_us": pa.array([r[4] for r in turns], pa.float64()),
    }), turns_path)
    pq.write_table(pa.table({
        "conv_id": [r[0] for r in conv_rows],
        "n_turns": pa.array([r[1] for r in conv_rows], pa.int64()),
        "digest": pa.array([r[2] for r in conv_rows], pa.int64()),
    }), convs_path)


# --- cache ------------------------------------------------------------------

_KEY_FILES = (
    "occular_ocr_spark/extraction/core.py",
    "occular_ocr_spark/fixtures.py",
    "perfbench/workloads.py",
)


def _source_key() -> str:
    h = hashlib.sha1()
    for rel in _KEY_FILES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


class Fixture:
    """Paths of one workload's cached input and oracle tables."""

    def __init__(self, workload: str, seed: int, smoke: bool):
        self.workload = workload
        self.seed = seed
        self.size = SIZES[workload]["smoke" if smoke else "full"]
        self.dir = os.path.join(
            CACHE_DIR, f"{workload}-n{self.size}-s{seed}-{_source_key()}"
        )
        self.input = os.path.join(self.dir, "input.parquet")
        self.oracle_turns = os.path.join(self.dir, "oracle_turns.parquet")
        self.oracle_convs = os.path.join(self.dir, "oracle_convs.parquet")

    def ensure(self, cpus: int) -> float:
        """Build the input and oracle unless cached; returns seconds spent."""
        done = os.path.join(self.dir, "_DONE")
        if os.path.exists(done):
            os.utime(self.dir)
            return 0.0
        t0 = time.perf_counter()
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        write_input(self.workload, self.size, self.seed, self.input)
        _compute_oracle(self.input, self.oracle_turns, self.oracle_convs, cpus)
        open(done, "w").close()
        _prune_cache()
        return time.perf_counter() - t0


def _prune_cache() -> None:
    entries = [os.path.join(CACHE_DIR, d) for d in os.listdir(CACHE_DIR)]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[MAX_CACHED:]:
        shutil.rmtree(old, ignore_errors=True)


def stride_order(n: int) -> List[int]:
    """0..n-1 in bit-reversed order: every prefix spreads evenly over the
    range, so a time-bounded prefix of a size-sorted list is a stratified
    sample."""
    bits = max(1, math.ceil(math.log2(max(n, 2))))
    order = []
    for k in range(1 << bits):
        r = int(format(k, f"0{bits}b")[::-1], 2)
        if r < n:
            order.append(r)
    return order
