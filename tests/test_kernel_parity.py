"""Differential tests of the linear-time tag and region scans against the
patterns they replace, which are kept here verbatim.

The kernel's output may only change together with ``EXTRACTOR_VERSION``,
so each scan must yield exactly what the original pattern's ``finditer``
yields, on any payload.  The payload soup is weighted toward the
characters and tags that steer those patterns: ``<``, ``>``, quotes, ``/``,
tag names and the markup region tags.
"""

import re

from hypothesis import HealthCheck, example, given, settings, strategies as st

from occular_ocr_spark.extraction import core

# The patterns and the markup path as they were before the linear scans.
SEED_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9-]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)(/?)>")
# The seed pattern in the form the HTML body takes: its "(/?)" before the
# ">" never captures (the attribute group takes the "/"), so capturing the
# ">" there instead changes no match.
SEED_TAG_BODY_RE = re.compile(SEED_TAG_RE.pattern[: -len("(/?)>")] + "(>)")
SEED_MARKUP_FENCE_RE = re.compile(r"```(?:[a-zA-Z0-9_+-]*)\n(.*?)```", re.DOTALL)
SEED_MARKUP_TAG_RE = re.compile(
    r"<(output|result|tool_result|stdout|stderr)>(.*?)</\1>", re.DOTALL | re.IGNORECASE
)


def seed_dispatch(payload):
    s = payload or ""
    stripped = s.lstrip()
    if stripped.startswith("{") and '"blocks"' in s:
        return core.METHOD_PDF_TEXT
    if SEED_MARKUP_FENCE_RE.search(s) or SEED_MARKUP_TAG_RE.search(s):
        return core.METHOD_MARKUP
    if core._HTML_HINT_RE.search(s):
        return core.METHOD_HTML
    return core.METHOD_PLAIN


def seed_extract_markup(payload):
    regions = []
    for m in SEED_MARKUP_FENCE_RE.finditer(payload):
        regions.append((m.start(1), m.group(1)))
    for m in SEED_MARKUP_TAG_RE.finditer(payload):
        regions.append((m.start(2), m.group(2)))
    regions.sort(key=lambda r: r[0])
    out = []
    for start, content in regions:
        text = content.strip()
        if not text:
            continue
        lead = len(content) - len(content.lstrip())
        lo = start + lead
        out.append(core._make_block(lo, lo + len(text), payload.count("\n", 0, lo), text, 1.0))
    return out


def tag_tuples(matches):
    return [(m.start(), m.end(), m.group(1), m.group(2), m.group(3)) for m in matches]


_pieces = st.sampled_from([
    "<", "<", "<", ">", ">", '"', '"', "'", "'", "/", " ", "=", "x", "-", "1", "\n",
    "a", "p", "br", "div", "script", "<a", "</a", "<p>", "</p>", "<br/>",
    "<script>", "</script>", "<script/>", "<a href=\"", "' >", "\" >",
    "<output>", "</output>", "</output>", "<OUTPUT>", "</Output>", "<stdout>",
    "</stdout>", "<ſtdout>", "</ſtdout>", "<result>", "</result>",
    "<tool_result>", "</tool_result>", "<stderr>", "</STDERR>",
    "```", "```py\n", "```\n", "&amp;", "extraction pipeline turn words ",
])
soup = st.lists(st.one_of(_pieces, st.text(max_size=4)), max_size=80).map("".join)
_settings = settings(max_examples=600, deadline=None,
                     suppress_health_check=[HealthCheck.too_slow])


def fast_scan_tags(payload):
    """The tags the fast scan hands to the HTML body, or None where the
    body falls back to ``_exact_tags`` (mirrors ``_html_blocks``)."""
    out = []
    for m in core._TAG_SCAN_RE.finditer(payload):
        attrs, gt = m.group(3), m.group(4)
        if not gt:
            if '"' in attrs or "'" in attrs:
                return None
            continue
        out.append(m)
    return out


@_settings
@given(soup)
def test_exact_tags_equal_seed_finditer(payload):
    assert tag_tuples(core._exact_tags(payload)) == tag_tuples(SEED_TAG_RE.finditer(payload))


@_settings
@given(soup)
def test_fast_scan_equals_seed_finditer_unless_it_falls_back(payload):
    fast = fast_scan_tags(payload)
    if fast is not None:
        assert tag_tuples(fast) == tag_tuples(SEED_TAG_RE.finditer(payload))


@_settings
@given(soup)
# "<a" cannot close, and the "<script>" in its quoted string hides the rest
@example("<p>visible words long enough to pass every gate</p>"
         "<a \"<script>\" ' hidden words long enough to pass every gate")
def test_extract_html_equals_body_over_seed_tags(payload):
    assert tag_tuples(SEED_TAG_BODY_RE.finditer(payload)) == tag_tuples(SEED_TAG_RE.finditer(payload))
    assert core.extract_html(payload) == core._html_blocks(payload, SEED_TAG_BODY_RE.finditer(payload))


@_settings
@given(soup)
@example("<output><output>inner</output>")  # an open tag inside a region
def test_markup_regions_equal_seed(payload):
    seed = [m.span(2) for m in SEED_MARKUP_TAG_RE.finditer(payload)]
    assert core._markup_tag_regions(payload) == seed
    assert core.dispatch(payload) == seed_dispatch(payload)
    assert core.extract_markup(payload) == seed_extract_markup(payload)


def test_quote_in_dead_end_run_takes_the_exact_path():
    # "<a" cannot close (the last quote is unclosed); the "<b>" inside
    # its quoted string is a tag, which skipping the run would lose.
    payload = "<a \"<b>\" '"
    assert fast_scan_tags(payload) is None
    assert tag_tuples(core._exact_tags(payload)) == [(4, 7, "", "b", "")]


def test_self_closing_script_opens_a_skip_region():
    # "<script/>" parses as <script> with attribute "/", so the text after
    # it is skipped like any script body.  Changing that changes output
    # and needs an EXTRACTOR_VERSION bump.
    m = core._TAG_SCAN_RE.match("<br/>")
    assert m.group(3) == "/"
    visible = "visible text before the script tag, long enough to keep"
    hidden = "hidden text after the self-closing script tag, also long"
    blocks = core.extract_html(f"<p>{visible}</p><script/><p>{hidden}</p>")
    assert [b[3] for b in blocks] == [visible]
