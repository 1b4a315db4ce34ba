"""Shared extraction core — the single source of truth for per-turn semantics.

This module is imported BOTH by the pure-Python golden oracle
(`occular_ocr_spark.oracle`) and by the Spark pandas/Arrow UDFs
(`occular_ocr_spark.job`).  Sharing one implementation is how we get
bit-exact per-turn text equality between the distributed job and the
reference extractor (SURVEY.md §7 "hard part (a)").

Semantics replayed from the reference (Bodhi42/Occular-ocr):

* Dispatch by payload kind            -> reference suffix dispatch,
  ``ocr_skel/pipeline.py:272-288``.
* Dual-path short-circuit (try the cheap "text layer" first, fall back
  to heuristic extraction)            -> ``ocr_skel/pipeline.py:146-151``.
* PDF text-layer parse: block/line/span tree walk, blank-line skip,
  bbox -> quad with confidence 1.0    -> ``ocr_skel/pipeline.py:192-226``.
* Detection gates on the heuristic (HTML) path, with the reference's
  exact hyperparameter constants      -> ``ocr_skel/dbnet_detector.py:13-17``:
    - THRESHOLD   (prob-map binarize)  -> block-score gate          (D3)
    - MIN_AREA    (contour area gate)  -> min block chars           (D4)
    - BOX_THRESH  (mean-prob gate)     -> mean token-score gate     (D5)
    - UNCLIP_RATIO (polygon expansion) -> span expansion margin     (D6)
  followed by clamp to source bounds  -> ``dbnet_detector.py:162-167`` (D7).
* Confidence = min over per-token scores (the CTC best-path confidence
  ``min_T(max_V prob)``)              -> ``ocr_skel/models/crnn_mobilenet.py:135-161``.
* Empty-input guard -> ``("", 0.0)``  -> ``ocr_skel/recognizer.py:66-68``.
* Y-stable sort of blocks, then ``"\\n".join``
                                      -> ``ocr_skel/pipeline.py:76``,
                                         ``ocr_skel/__init__.py:93-101``.

Everything here is deterministic pure Python (stdlib only) so the same
function runs inside an Arrow batch on an executor and in the oracle loop
on the driver.
"""

from __future__ import annotations

import html as _html
import json
import re
from bisect import bisect_left
from typing import Dict, List, Optional

# --- Hyperparameters (named + valued exactly like dbnet_detector.py:13-17,
# --- re-interpreted for text blocks; see module docstring for the mapping).
THRESHOLD = 0.252     # block-score gate: keep block iff score > THRESHOLD
UNCLIP_RATIO = 2.44   # span expansion ratio (distance = area*ratio/length)
BOX_THRESH = 0.52     # mean token-score gate: drop block iff mean < BOX_THRESH
MIN_AREA = 38         # minimum block length in characters

EXTRACTOR_VERSION = "occular-ocr-spark/0.1.0"

METHOD_HTML = "html"
METHOD_PDF_TEXT = "pdf_text"
METHOD_MARKUP = "markup"
METHOD_PLAIN = "plain"

# Tags that terminate a text block (the "contour boundary" of the DOM).
_BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li ul ol nav header footer article section"
    " aside main table tr td th br hr title body html head blockquote pre"
    " form fieldset figure figcaption".split()
)
_SKIP_CONTENT_TAGS = frozenset(("script", "style", "noscript", "template"))

# Every path below grows linearly with payload size (the exact tag path
# adds a log factor), so no payload can stall a task.
#
# Tags.  A tag is ``<(/?)([a-zA-Z][a-zA-Z0-9-]*)((?:"[^"]*"|'[^']*'|[^>"'])*)>``:
# its attribute scan skips quoted strings and ends at the first ">" outside
# them.  As a plain ``finditer`` that pattern is quadratic: from every
# "<name" that cannot reach a ">" it scans to the end of the payload and
# fails, and the next "<name" scans the same characters again.
# ``_TAG_SCAN_RE`` makes the ">" optional.  Where the tag closes it matches
# exactly what the tag pattern matches (group 4 is ">"); where it cannot,
# the greedy attribute scan stops at an unclosed quote or the payload's
# end and the match is the run that scan covered (group 4 is empty).  If
# that run holds no quote, every "<name" inside it scans the same
# characters to the same dead end, so the whole run is text and the scan
# goes on after it: one pass, and each character is scanned once.  If the
# run holds a quote, a "<name" inside a quoted string may close where the
# outer one could not; ``_exact_tags`` then finds every tag of the
# payload from a table of where each scan ends.  The attribute group is
# written as unquoted runs between quoted strings, which matches the same
# text a run at a time instead of a character at a time.
_TAG_SCAN_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9-]*)([^>\"']*(?:(?:\"[^\"]*\"|'[^']*')[^>\"']*)*)(>?)"
)
_TAG_START_RE = re.compile(r"</?[a-zA-Z]")
_TAG_STOP_RE = re.compile(r"[>\"']")
_HTML_HINT_RE = re.compile(
    r"<(?:!doctype|html|head|body|div|p|nav|header|footer|h[1-6]|ul|ol|li|a|span|"
    r"table|article|section|title|br|em|strong|b|i)\b",
    re.IGNORECASE,
)
_MARKUP_FENCE_RE = re.compile(r"```(?:[a-zA-Z0-9_+-]*)\n(.*?)```", re.DOTALL)
# Tagged regions are the matches of
# ``<(output|result|tool_result|stdout|stderr)>(.*?)</\1>`` (DOTALL,
# IGNORECASE).  Searched as one pattern, every open tag without a close tag
# scans to the end of the payload, so ``_markup_tag_regions`` finds the
# same matches from the open and close tags alone.
_MARKUP_OPEN_RE = re.compile(r"<(output|result|tool_result|stdout|stderr)>", re.IGNORECASE)
_MARKUP_CLOSE_RE = re.compile(r"</(output|result|tool_result|stdout|stderr)>", re.IGNORECASE)
# Characters swallowed by span expansion (the "whitespace/punctuation margin").
_EXPANDABLE = " \t.,;:!?-–—'\"()[]"


def dispatch(payload: Optional[str]) -> str:
    """Classify a raw payload into an extraction method.

    The analog of the reference's suffix dispatch (``pipeline.py:272-288``:
    ``.pdf`` -> PDF path, else image path) extended to the four transcript
    payload kinds of BASELINE.json's input_hint.
    """
    return _dispatch(payload or "")[0]


def _dispatch(s: str):
    """``(method, tagged regions)``.  The markup test finds the tagged
    regions, so ``extract_turn_raw`` hands them on to ``extract_markup``."""
    stripped = s.lstrip()
    if stripped.startswith("{") and '"blocks"' in s:
        return METHOD_PDF_TEXT, None
    tag_regions = _markup_tag_regions(s) if "</" in s else []
    if tag_regions or _MARKUP_FENCE_RE.search(s):
        return METHOD_MARKUP, tag_regions
    if _HTML_HINT_RE.search(s):
        return METHOD_HTML, None
    return METHOD_PLAIN, None


def _token_score(token: str) -> float:
    """Per-token quality score in [0, 1]: fraction of alphanumeric chars.

    Stands in for the per-timestep ``max_V prob`` of the CTC decoder
    (``crnn_mobilenet.py:146-150``); the block confidence below takes the
    min over these, exactly like ``min_T(max_V prob)``.

    Fast path: a fully-alphanumeric token (the overwhelmingly common
    case) is one C-level ``str.isalnum`` call instead of a per-char scan
    — value-identical to the general branch.
    """
    if not token:
        return 0.0
    if token.isalnum():
        return 1.0
    return sum(map(str.isalnum, token)) / len(token)


def _confidence(tokens: List[str]) -> float:
    """CTC-style block confidence: min over token scores.

    Empty token list -> 0.0 (the empty-crop guard of ``recognizer.py:66-68``).
    """
    if not tokens:
        return 0.0
    return min(_token_score(t) for t in tokens)


def _mean_token_score(tokens: List[str]) -> float:
    if not tokens:
        return 0.0
    return sum(_token_score(t) for t in tokens) / len(tokens)


def _expand_span(payload: str, start: int, end: int) -> (int, int):
    """Span expansion + clamp: the unclip analog (D6/D7).

    distance = area * UNCLIP_RATIO / length, with area = span length in
    chars and length = closed-polygon perimeter ``2*(len+1)`` — mirrors
    ``dbnet_detector.py:110-121``; degenerate spans pass through unchanged
    (the ``poly.area < 1`` guard).  Expansion only swallows adjacent
    whitespace/punctuation, then the result is clamped to
    ``[0, len(payload)]`` (``dbnet_detector.py:166-167``).
    """
    n = end - start
    if n < 1:  # degenerate-polygon guard (dbnet_detector.py:112-114)
        return start, end
    distance = n * UNCLIP_RATIO / (2.0 * (n + 1))
    margin = int(distance + 0.5)
    lo, hi = start, end
    for _ in range(margin):
        if lo > 0 and payload[lo - 1] in _EXPANDABLE:
            lo -= 1
        if hi < len(payload) and payload[hi] in _EXPANDABLE:
            hi += 1
    lo = max(0, min(lo, len(payload)))
    hi = max(0, min(hi, len(payload)))
    return lo, hi


def _make_block(start: int, end: int, y: int, text: str, confidence: float):
    """Internal block record: a flat (start, end, y, text, confidence)
    tuple.  The dict shape of the public contract (span struct + text +
    confidence, the reference's result record, pipeline.py:69-73) is
    applied once at the API boundary (`extract_turn`); the Arrow UDF
    consumes the tuples directly, skipping three dict allocations per
    block on the hot path."""
    return (int(start), int(end), int(y), text, float(confidence))


def _block_dict(b) -> Dict:
    return {
        "span": {"start": b[0], "end": b[1], "y": b[2]},
        "text": b[3],
        "confidence": b[4],
    }


# ---------------------------------------------------------------------------
# HTML path — streaming DOM tokenizer + text/link-density block classifier.
# Stands in for the DBNet detection stack (dbnet_detector.py:47-177): the
# per-block score is the "probability map", the four gates replay D3-D7.
# ---------------------------------------------------------------------------

def extract_html(payload: str) -> List[Dict]:
    blocks = _html_blocks(payload, _TAG_SCAN_RE.finditer(payload))
    if blocks is None:  # a dead-end run held a quote: scan tags exactly
        blocks = _html_blocks(payload, _exact_tags(payload))
    return blocks


def _exact_tags(payload: str):
    """Yield each tag of ``payload`` in ``finditer`` order, in O(n log n).

    The attribute scan of a "<name" meets nothing but ">", '"' and "'"
    ("stops") that can change its course, so where it ends depends only on
    the first stop after the "<".  ``close[i]`` is the ">" that ends a scan
    arriving at ``stops[i]`` outside quotes, or -1 where it cannot end:
    a ">" ends it; a quote jumps to the next same quote and continues at
    the stop after that.  One right-to-left pass fills the table, and each
    "<name" then costs a bisect plus a bounded match of its own tag."""
    stops = [m.start() for m in _TAG_STOP_RE.finditer(payload)]
    close = [-1] * (len(stops) + 1)
    next_quote = {'"': -1, "'": -1}
    for i in range(len(stops) - 1, -1, -1):
        ch = payload[stops[i]]
        if ch == ">":
            close[i] = stops[i]
        else:
            j = next_quote[ch]
            if j >= 0:
                close[i] = close[j + 1]
            next_quote[ch] = i
    pos = 0
    for m in _TAG_START_RE.finditer(payload):
        start = m.start()
        if start >= pos:
            end = close[bisect_left(stops, start)]
            if end >= 0:
                yield _TAG_SCAN_RE.match(payload, start, end + 1)
                pos = end + 1


def _html_blocks(payload: str, tags) -> Optional[List[Dict]]:
    """The HTML blocks of ``payload`` given its ``_TAG_SCAN_RE`` matches;
    None if a dead-end run holds a quote (see ``_TAG_SCAN_RE``)."""
    blocks: List[Dict] = []
    # Current-block accumulator state.
    cur_parts: List[str] = []       # decoded text runs
    cur_start = -1                  # source offset of first contributing char
    cur_end = -1                    # source offset past last contributing char
    cur_link_chars = 0              # decoded chars that came from inside <a>
    cur_text_chars = 0              # all decoded chars
    cur_tag_count = 0               # inline tags seen inside the block
    link_depth = 0
    skip_depth = 0                  # inside <script>/<style>/...
    # Layout Y of offset line_pos.  Blocks flush in source order, so each
    # newline is counted once.
    line_pos = 0
    line_no = 0

    def flush() -> None:
        nonlocal cur_parts, cur_start, cur_end, cur_link_chars, cur_text_chars, cur_tag_count
        nonlocal line_pos, line_no
        if not cur_parts:  # nothing accumulated: only the tag counter can
            cur_tag_count = 0  # be non-zero — reset it and skip the join
            return
        if not cur_text_chars:
            # whitespace-only accumulation: raw would collapse to "" —
            # skip the join/split entirely (value-identical; this is the
            # common case between consecutive block tags)
            cur_parts = []
            cur_start = -1
            cur_end = -1
            cur_link_chars = 0
            cur_tag_count = 0
            return
        raw = " ".join("".join(cur_parts).split())
        if raw:  # blank-line skip (pipeline.py:204)
            tokens = raw.split(" ")
            link_density = cur_link_chars / max(cur_text_chars, 1)
            tag_density = cur_tag_count / max(len(tokens), 1)
            # The "probability" of this block being content (D2 stand-in).
            score = (1.0 - link_density) / (1.0 + tag_density)
            if score > THRESHOLD:                       # D3 binarize gate
                if len(raw) >= MIN_AREA:                # D4 area filter
                    # score each token ONCE; mean feeds D5, min feeds R5
                    tscores = [_token_score(t) for t in tokens]
                    if sum(tscores) / len(tscores) >= BOX_THRESH:  # D5 score filter
                        lo, hi = _expand_span(payload, cur_start, cur_end)  # D6/D7
                        line_no += payload.count("\n", line_pos, cur_start)
                        line_pos = cur_start
                        blocks.append(
                            _make_block(lo, hi, line_no, raw, min(tscores))
                        )
        cur_parts = []
        cur_start = -1
        cur_end = -1
        cur_link_chars = 0
        cur_text_chars = 0
        cur_tag_count = 0

    pos = 0
    for m in tags:
        closing, name, attrs, gt = m.groups()
        if not gt:  # dead-end run: text, unless it holds a quote
            if '"' in attrs or "'" in attrs:
                return None
            continue
        text_run = payload[pos : m.start()]
        if text_run and skip_depth == 0:
            # unescape only when an entity can exist — value-identical
            decoded = _html.unescape(text_run) if "&" in text_run else text_run
            stripped_len = len(decoded.strip())
            if stripped_len:
                if cur_start < 0:
                    lead = len(text_run) - len(text_run.lstrip())
                    cur_start = pos + lead
                trail = len(text_run) - len(text_run.rstrip())
                cur_end = m.start() - trail
            cur_parts.append(decoded)
            cur_text_chars += stripped_len
            if link_depth > 0:
                cur_link_chars += stripped_len
        name = name.lower()
        if name in _SKIP_CONTENT_TAGS:
            # "<script/>" opens a region too: its "/" is an attribute
            if closing:
                skip_depth = max(0, skip_depth - 1)
            else:
                skip_depth += 1
        elif name in _BLOCK_TAGS:
            # inlined empty-flush guard: block tags outnumber text blocks
            # ~20:1, so skipping the call for empty accumulators is a
            # measurable share of the HTML path (value-identical: flush
            # on empty state only resets the tag counter)
            if cur_parts:
                flush()
            else:
                cur_tag_count = 0
        else:
            if name == "a":
                if closing:
                    link_depth = max(0, link_depth - 1)
                else:
                    link_depth += 1
            cur_tag_count += 1
        pos = m.end()
    tail = payload[pos:]
    if tail and skip_depth == 0:
        decoded = _html.unescape(tail) if "&" in tail else tail
        stripped_len = len(decoded.strip())
        if stripped_len:
            if cur_start < 0:
                cur_start = pos + (len(tail) - len(tail.lstrip()))
            cur_end = len(payload) - (len(tail) - len(tail.rstrip()))
        cur_parts.append(decoded)
        cur_text_chars += stripped_len
        if link_depth > 0:
            cur_link_chars += stripped_len
    flush()
    return blocks


# ---------------------------------------------------------------------------
# PDF text-layer path — the exact tree walk of pipeline.py:192-226 over the
# page.get_text("dict") shape: blocks[type==0] -> lines -> spans, blank-line
# skip, bbox -> layout Y, confidence 1.0.  Span offsets index the *assembled*
# text (the quad analog is a layout coordinate, not a byte offset).
# ---------------------------------------------------------------------------

def extract_pdf_text(payload: str) -> Optional[List[Dict]]:
    """Returns None when the payload has no parseable text layer — the
    dual-path fallback trigger (pipeline.py:148-151 returning None)."""
    try:
        doc = json.loads(payload)
    except (ValueError, TypeError):
        return None
    if not isinstance(doc, dict):
        return None
    blocks_in = doc.get("blocks")
    if not isinstance(blocks_in, list):
        return None
    out: List[Dict] = []
    offset = 0
    for block in blocks_in:
        if not isinstance(block, dict) or block.get("type") != 0:
            continue
        for line in block.get("lines", []) or []:
            if not isinstance(line, dict):
                continue
            line_text = ""
            for span in line.get("spans", []) or []:
                if isinstance(span, dict):
                    line_text += span.get("text", "") or ""
            if line_text.strip():  # blank-line skip (pipeline.py:204)
                bbox = line.get("bbox") or [0, 0, 0, 0]
                y = int(bbox[1]) if len(bbox) > 1 else 0
                text = line_text.strip()
                out.append(_make_block(offset, offset + len(text), y, text, 1.0))
                offset += len(text) + 1
    if not out:
        return None
    return out


# ---------------------------------------------------------------------------
# Markup path — tool-output markup: fenced ``` blocks and <output>-style
# tagged regions; trusted content, confidence 1.0 (the text-layer analog).
# ---------------------------------------------------------------------------

def _markup_tag_regions(payload: str) -> List[tuple]:
    """``(start, end)`` of the content of each tagged region, in the
    order ``finditer`` meets them.

    A region's close tag is the first one after its open tag with the same
    name.  The pattern's backreference compares names by lowercase under
    IGNORECASE, so the close tags are indexed by ``str.lower`` of their
    name (equal for the characters these names match, "ſ" included).  Each
    open tag then costs one bisect, and each character is scanned twice."""
    closes: Dict[str, List[int]] = {}
    for m in _MARKUP_CLOSE_RE.finditer(payload):
        closes.setdefault(m.group(1).lower(), []).append(m.start())
    regions = []
    if closes:
        pos = 0
        for m in _MARKUP_OPEN_RE.finditer(payload):
            starts = closes.get(m.group(1).lower())
            if starts and m.start() >= pos:
                i = bisect_left(starts, m.end())
                if i < len(starts):
                    regions.append((m.end(), starts[i]))
                    pos = starts[i] + len(m.group(1)) + 3  # past "</name>"
    return regions


def extract_markup(payload: str, tag_regions: Optional[List[tuple]] = None) -> List[Dict]:
    """Blocks of the fenced and tagged regions.  ``tag_regions`` is
    ``_markup_tag_regions(payload)`` when the caller has found it already."""
    regions = [m.span(1) for m in _MARKUP_FENCE_RE.finditer(payload)]
    regions += _markup_tag_regions(payload) if tag_regions is None else tag_regions
    regions.sort(key=lambda r: r[0])
    out: List[Dict] = []
    # Layout Y of offset line_pos, counted forward only.  lo never steps
    # back, even where a fence and a tagged region nest: a later region's
    # content starts after its own open tag, and an open tag ("```", ">")
    # cannot sit in the leading whitespace that an earlier region skips.
    line_pos = 0
    line_no = 0
    for start, end in regions:
        content = payload[start:end]
        text = content.strip()
        if not text:  # blank skip
            continue
        lead = len(content) - len(content.lstrip())
        lo = start + lead
        line_no += payload.count("\n", line_pos, lo)
        line_pos = lo
        out.append(_make_block(lo, lo + len(text), line_no, text, 1.0))
    return out


# ---------------------------------------------------------------------------
# Plain path — pass-through: each non-blank line is a block, confidence 1.0.
# ---------------------------------------------------------------------------

def extract_plain(payload: str) -> List[Dict]:
    out: List[Dict] = []
    offset = 0
    for idx, line in enumerate(payload.split("\n")):
        text = line.strip()
        if text:  # blank-line skip (pipeline.py:204)
            lead = len(line) - len(line.lstrip())
            lo = offset + lead
            out.append(_make_block(lo, lo + len(text), idx, text, 1.0))
        offset += len(line) + 1
    return out


def extract_turn_raw(payload: Optional[str], force_ocr: bool = False):
    """Extract one turn to flat tuples: dispatch -> parse -> gate ->
    Y-sort -> assemble.  Returns ``(method, blocks, text)`` where blocks
    are ``(start, end, y, text, confidence)`` tuples — the hot-path form
    the Arrow UDF consumes (``job.extract_detailed``).

    The per-turn analog of ``OCRPipeline.process`` (pipeline.py:272-288)
    plus the result assembly of ``pipeline.py:67-77``.  ``force_ocr``
    mirrors the reference flag (pipeline.py:147): skip the trusted
    text-layer parse and run the heuristic path instead.
    """
    s = payload or ""
    method, tag_regions = _dispatch(s)
    if method == METHOD_PDF_TEXT:
        parsed = None if force_ocr else extract_pdf_text(s)
        if parsed is None:
            # Dual-path fallback (pipeline.py:153-162): no/forced-off text
            # layer -> heuristic ("ocr") path over the raw payload.
            method = METHOD_HTML
            blocks = extract_html(s)
        else:
            blocks = parsed
    elif method == METHOD_MARKUP:
        blocks = extract_markup(s, tag_regions)
    elif method == METHOD_HTML:
        blocks = extract_html(s)
    else:
        blocks = extract_plain(s)
    # Stable Y-sort (pipeline.py:76 / :220 / :242 — key is Y only; ties keep
    # detection order because Python's sort is stable).
    blocks.sort(key=lambda b: b[2])
    text = "\n".join(b[3] for b in blocks)  # __init__.py:93-101
    return method, blocks, text


def extract_turn(payload: Optional[str], force_ocr: bool = False) -> Dict:
    """Public per-turn API: the reference's record contract
    (``{"method", "blocks": [{"span", "text", "confidence"}...], "text"}``)
    over :func:`extract_turn_raw`."""
    method, blocks, text = extract_turn_raw(payload, force_ocr=force_ocr)
    return {"method": method, "blocks": [_block_dict(b) for b in blocks], "text": text}
