"""The catalog still serves every name its callers depend on.

``__spark_entry__._ordered()`` silently drops a pinned name that is not
registered, and ``bench.warmup`` indexes ``QUERIES`` by name, so a
catalog entry deleted from under either would only show up as a smaller
gate window or a bench ``KeyError``.  These checks need no Spark
session."""

import ast
import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402
import bench  # noqa: E402


def _warmup_entries() -> list:
    """The names ``bench.warmup`` runs, read from its ``for`` loop."""
    tree = ast.parse(inspect.getsource(bench.warmup))
    loop = next(n for n in ast.walk(tree) if isinstance(n, ast.For))
    return list(ast.literal_eval(loop.iter))


def test_pinned_head_is_registered():
    missing = [n for n in entry._PINNED_HEAD if n not in entry.queries()]
    assert missing == []


def test_bench_warmup_entries_are_registered():
    names = _warmup_entries()
    assert names
    assert [n for n in names if n not in entry.queries()] == []


def test_catalog_fills_the_gate_window():
    assert len(entry.queries()) >= entry._GATE_WINDOW
