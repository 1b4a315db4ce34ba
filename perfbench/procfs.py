"""Process-tree CPU and memory, host steal and load, read from /proc, and
the reaping of every child process before exit.

The tree is this process and every descendant: the Spark JVM started by
the py4j gateway and the Python workers it forks.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import threading
import time
from typing import Dict, List, Optional, Set, Tuple

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may hold spaces and parentheses; fields follow the last ")"
    return raw[raw.rindex(")") + 2:].split()


def _tree() -> Dict[int, list]:
    """{pid: stat fields} for this process and all its descendants."""
    fields, children = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            st = _stat(int(name))
        except (FileNotFoundError, ProcessLookupError):
            continue
        fields[int(name)] = st
        children.setdefault(int(st[1]), []).append(int(name))
    me = os.getpid()
    out, todo = {}, [me]
    while todo:
        pid = todo.pop()
        if pid in fields:
            out[pid] = fields[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by the tree, including reaped children.

    A process that exits between two reads moves its time into its
    parent's child counters, so the difference of two reads is the CPU
    the tree used in between."""
    # fields after the command: utime=11, stime=12, cutime=13, cstime=14
    return sum(
        int(st[11]) + int(st[12]) + int(st[13]) + int(st[14]) for st in _tree().values()
    ) / _TICK


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _resident_kb(pid: int) -> int:
    """Proportional set size of a Python process, so that pages the
    forked Python workers share count once; resident set size of the
    JVM, which shares next to nothing with them.  Reading the JVM's PSS
    from ``smaps_rollup`` walks the page tables of its heap, which takes
    35-150 ms and holds its memory-map lock meanwhile; ``statm`` costs
    microseconds."""
    with open(f"/proc/{pid}/comm") as f:
        jvm = f.read().strip() == "java"
    if jvm:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB
    with open(f"/proc/{pid}/smaps_rollup") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("Pss:"))


def tree_rss_mb(seen: Optional[Set[int]] = None) -> float:
    """Resident memory of the tree: the JVM's RSS plus the PSS of every
    other process in it.  Adds the pids of the tree to ``seen``."""
    kb = 0
    tree = _tree()
    if seen is not None:
        seen.update(tree)
    for pid in tree:
        try:
            kb += _resident_kb(pid)
        except (FileNotFoundError, ProcessLookupError, IndexError, StopIteration):
            continue
    return kb / 1024


class RssSampler:
    """Samples the tree's resident memory on a thread; ``peak_mb`` is the
    largest sample since the last ``reset``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.pids_seen: Set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pids_seen))
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        self.pids_seen = set()
        self.peak_mb = tree_rss_mb(self.pids_seen)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant, such as
    the Python workers whose Spark daemon exits before they do, so that
    ``reap_children`` can wait for them too."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def children() -> List[int]:
    """Pids of this process's children, zombies included."""
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if int(_stat(int(name))[1]) == me:
                    out.append(int(name))
            except (FileNotFoundError, ProcessLookupError):
                continue
    return out


def reap_children(grace_s: float = 20.0) -> None:
    """Return once this process has no child left.

    multiprocessing's resource tracker lives until its pipe closes, which
    would be after this process exits, so it is stopped first.  Children
    still running after ``grace_s`` are killed."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(child, signal.SIGKILL)
        time.sleep(0.05)


def host_cpu_ticks() -> Tuple[int, int]:
    """(steal ticks, total ticks) of the whole host since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


def steal_pct(start: Tuple[int, int], end: Tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


def load_1m() -> float:
    return os.getloadavg()[0]
