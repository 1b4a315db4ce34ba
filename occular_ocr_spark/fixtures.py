"""Deterministic seeded transcript-fixture generator (FIXTURES.md §1).

Synthesizes the ``transcripts`` table of BASELINE.json's ``input_hint``:
``(conv_id string, turn_idx int32, role string, text string, tool string,
ts timestamp)``.  Mirrors the reference's synthetic-test approach (a white
canvas with rendered text, ``tests/test_smoke.py:16-33``; a black
rectangle, ``tests/test_dbnet.py:18-24``; a blank input,
``tests/test_dbnet.py:38-45``): content is generated, never scraped, and
every edge case the extractor's guards cover appears in the mix.

Zipf-skewed turn counts create a few "mega-conversations" so salted
repartitioning (the north rule's skew requirement) is actually exercised.
Rows are emitted SHUFFLED so stable ``(conv_id, turn_idx)`` ordering is a
real assertion, not an accident of generation order.

Scale knob: ``n_convs`` only — per-turn content distribution is identical
across scales, keeping throughput comparisons apples-to-apples
(FIXTURES.md §4).
"""

from __future__ import annotations

import datetime as _dt
import json
import random
from typing import Dict, List

_WORDS = (
    "spark query data table scan filter join window group sort merge batch"
    " stream row key value hash order line part customer supplier nation"
    " region fast slow big small the a of and extraction pipeline turn"
    " transcript agent tool model content block span text density layout"
).split()

_TOOLS = ["search", "browser", "calculator", "python", "bash"]
_ROLES = ["user", "assistant", "tool"]

_BASE_TS = _dt.datetime(2026, 1, 1, 0, 0, 0)


def _sentence(rng: random.Random, lo: int = 4, hi: int = 12) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _gen_html(rng: random.Random) -> str:
    """Synthetic page: nav/header/footer link-dense boilerplate around 1-6
    content blocks; entities and nested inline tags (FIXTURES.md kind=html)."""
    parts = ["<html><head><title>", _sentence(rng, 2, 4), "</title>"]
    parts.append("<script>var x = 1; /* noise */</script></head><body>")
    parts.append("<nav>")
    for _ in range(rng.randint(2, 5)):
        parts.append(f'<a href="/{rng.choice(_WORDS)}">{_sentence(rng, 1, 2)}</a> ')
    parts.append("</nav>\n<header><a href='/'>" + _sentence(rng, 1, 3) + "</a></header>\n")
    n_content = rng.randint(1, 6)
    for _ in range(n_content):
        body = _sentence(rng, 10, 25)
        if rng.random() < 0.4:
            # nested inline tags + an entity
            ws = body.split(" ")
            k = rng.randrange(len(ws))
            ws[k] = "<em>" + ws[k] + "</em>"
            body = " ".join(ws) + " &amp; more"
        tag = rng.choice(["p", "div", "p", "p"])
        parts.append(f"<{tag}>{body}</{tag}>\n")
        if rng.random() < 0.3:
            # an ad-ish link-dense block that the classifier must drop
            parts.append(
                "<div>"
                + " ".join(
                    f'<a href="#">{rng.choice(_WORDS)}</a>' for _ in range(rng.randint(3, 6))
                )
                + "</div>\n"
            )
    parts.append("<footer>")
    for _ in range(rng.randint(2, 4)):
        parts.append(f'<a href="/f">{rng.choice(_WORDS)}</a> ')
    parts.append("</footer></body></html>")
    return "".join(parts)


def _gen_pdf_text(rng: random.Random) -> str:
    """JSON-encoded span tree — the exact shape of page.get_text('dict')
    (reference pipeline.py:194)."""
    blocks = []
    y = 40.0
    for _ in range(rng.randint(1, 4)):
        lines = []
        for _ in range(rng.randint(1, 5)):
            n_spans = rng.randint(1, 3)
            spans = [{"text": _sentence(rng, 2, 6) + (" " if i < n_spans - 1 else "")}
                     for i in range(n_spans)]
            lines.append({"bbox": [72.0, y, 540.0, y + 12.0], "spans": spans})
            y += 14.0
        blocks.append({"type": 0, "lines": lines})
        if rng.random() < 0.3:
            blocks.append({"type": 1, "image": "..."})  # image block, skipped
        y += 10.0
    if rng.random() < 0.2:
        # out-of-order blocks: exercises the Y-sort (pipeline.py:220)
        rng.shuffle(blocks)
    return json.dumps({"blocks": blocks})


def _gen_markup(rng: random.Random) -> str:
    pre = _sentence(rng, 3, 8)
    inner = "\n".join(_sentence(rng, 3, 8) for _ in range(rng.randint(1, 3)))
    if rng.random() < 0.5:
        return f"{pre}\n```text\n{inner}\n```\ntrailing {rng.choice(_WORDS)}"
    return f"{pre}\n<output>\n{inner}\n</output>"


def _gen_plain(rng: random.Random) -> str:
    n = rng.randint(1, 4)
    lines = []
    for _ in range(n):
        lines.append(_sentence(rng, 3, 10))
        if rng.random() < 0.2:
            lines.append("")  # blank line, skipped by the extractor
    return "\n".join(lines)


def _gen_edge(rng: random.Random) -> str:
    """Degenerate inputs the guards must cover (FIXTURES.md edge cases)."""
    choice = rng.randrange(6)
    if choice == 0:
        return ""  # empty payload (blank image analog, test_dbnet.py:38-45)
    if choice == 1:
        return "   \n\t \n  "  # whitespace-only
    if choice == 2:
        return "<p></p>\n<div>   </div>"  # blank-line-only HTML
    if choice == 3:
        return f"<p>{_sentence(rng, 1, 2)}</p>"  # below MIN_AREA chars
    if choice == 4:
        return json.dumps({"blocks": []})  # PDF with no text layer -> fallback
    return "```\n\n```"  # markup with empty fenced region


_KIND_GENS = [
    ("html", _gen_html, 0.35),
    ("pdf_text", _gen_pdf_text, 0.20),
    ("markup", _gen_markup, 0.15),
    ("plain", _gen_plain, 0.20),
    ("edge", _gen_edge, 0.10),
]


def _pick_kind(rng: random.Random):
    r = rng.random()
    acc = 0.0
    for name, gen, w in _KIND_GENS:
        acc += w
        if r < acc:
            return name, gen
    return _KIND_GENS[-1][0], _KIND_GENS[-1][1]


def generate_transcripts(
    n_convs: int = 100,
    turns_per_conv_mean: int = 8,
    zipf_s: float = 1.3,
    seed: int = 42,
) -> List[Dict]:
    """Generate transcript rows (shuffled). Deterministic for fixed args."""
    rng = random.Random(seed)
    rows: List[Dict] = []
    # Zipf-skewed turn counts: conversation i gets ~ mean * n_convs^? ... we
    # use rank-based Zipf so conv 0 is a mega-conversation.
    for i in range(n_convs):
        zipf_w = (1.0 / (i + 1) ** zipf_s)
        n_turns = max(1, int(turns_per_conv_mean * (1 + zipf_w * n_convs * 0.5)))
        conv_id = f"conv-{i:06d}"
        t0 = _BASE_TS + _dt.timedelta(minutes=i * 7)
        for t in range(n_turns):
            role = _ROLES[t % 3]
            kind, gen = _pick_kind(rng)
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": t,
                    "role": role,
                    "text": gen(rng),
                    "tool": rng.choice(_TOOLS) if role == "tool" else None,
                    "ts": t0 + _dt.timedelta(seconds=t * 13),
                }
            )
    rng.shuffle(rows)  # stable ordering must be earned, not inherited
    return rows


def transcripts_pandas(n_convs: int = 100, turns_per_conv_mean: int = 8,
                       zipf_s: float = 1.3, seed: int = 42):
    """Same rows as a pandas DataFrame with the input_hint dtypes."""
    import pandas as pd

    rows = generate_transcripts(n_convs, turns_per_conv_mean, zipf_s, seed)
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["ts"] = pd.to_datetime(df["ts"])
    return df


def _gen_conversation(conv_i: int, turns_per_conv_mean: int, zipf_s: float,
                      seed: int, skew_cap: int) -> List[Dict]:
    """Generate one conversation's turns, seeded by (seed, conv_i) only.

    Per-conversation seeding makes the output deterministic regardless of
    how conversations are sharded across tasks — the property that lets
    the *distributed* generator below produce the same corpus at any
    parallelism level (generation itself scales like the extraction job).
    ``skew_cap`` bounds the mega-conversation size so turn counts don't
    grow linearly with corpus size (conv 0 ≈ mean * skew_cap / 2 turns).
    """
    rng = random.Random((seed << 32) ^ (conv_i * 2654435761 & 0xFFFFFFFF))
    zipf_w = 1.0 / (conv_i + 1) ** zipf_s
    n_turns = max(1, int(turns_per_conv_mean * (1 + zipf_w * skew_cap * 0.5)))
    conv_id = f"conv-{conv_i:08d}"
    t0 = _BASE_TS + _dt.timedelta(minutes=conv_i * 7)
    rows: List[Dict] = []
    for t in range(n_turns):
        role = _ROLES[t % 3]
        kind, gen = _pick_kind(rng)
        rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": t,
                "role": role,
                "text": gen(rng),
                "tool": rng.choice(_TOOLS) if role == "tool" else None,
                "ts": t0 + _dt.timedelta(seconds=t * 13),
            }
        )
    return rows


def transcripts_spark(
    spark,
    n_convs: int,
    turns_per_conv_mean: int = 8,
    zipf_s: float = 1.3,
    seed: int = 42,
    skew_cap: int = 2000,
    num_partitions: int = 64,
):
    """Distributed fixture generator: Spark generates the corpus itself.

    ``spark.range(n_convs)`` fans conversation ids over the cluster; each
    task synthesizes its conversations inside ``mapInPandas`` with the
    per-conversation RNG above.  This is how a 10^12-turn test corpus
    would actually be materialized — the driver never holds a row.
    """
    import pandas as pd

    mean, s, sd, cap = turns_per_conv_mean, zipf_s, seed, min(n_convs, skew_cap)

    def gen(batches):
        for pdf in batches:
            rows: List[Dict] = []
            for conv_i in pdf["id"]:
                rows.extend(_gen_conversation(int(conv_i), mean, s, sd, cap))
            out = pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
            )
            out["turn_idx"] = out["turn_idx"].astype("int32")
            out["ts"] = pd.to_datetime(out["ts"])
            yield out

    schema = (
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )
    return spark.range(0, n_convs, numPartitions=num_partitions).mapInPandas(
        gen, schema=schema
    )


def write_transcripts_parquet(path: str, n_convs: int = 100,
                              turns_per_conv_mean: int = 8,
                              zipf_s: float = 1.3, seed: int = 42) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = transcripts_pandas(n_convs, turns_per_conv_mean, zipf_s, seed)
    schema = pa.schema(
        [
            pa.field("conv_id", pa.string()),
            pa.field("turn_idx", pa.int32()),
            pa.field("role", pa.string()),
            pa.field("text", pa.string()),
            pa.field("tool", pa.string()),
            pa.field("ts", pa.timestamp("us")),
        ]
    )
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)
    return path


# Worst-case shapes for the per-turn kernel: unclosed tags, quote soups
# and payloads with many blocks or regions.  Each unit repeats until the
# payload is about ``size`` characters, so one shape at two sizes shows
# how kernel time grows with payload size.
_ADVERSARIAL_UNITS = {
    "unclosed_tags": ("<html><p>", "<a x", ""),
    "unclosed_then_quote": ("", "<a x", '">'),
    "quote_soup": ("", "<a \"<b '", '"'),
    "many_blocks": ("<html><body>\n", "<p>extraction pipeline turn transcript agent</p>\n", ""),
    "unclosed_output": ("", "<output>", ""),
    "many_output_regions": ("", "<output>\nscan filter join window\n</output>\n", ""),
    "many_fences": ("", "```text\nstream row key value hash\n```\n", ""),
    "script_self_close": ("<p>visible text before the script tag here</p><script/>",
                          "<p>hidden text inside the open script region</p>\n", ""),
    "mixed_quote_attrs": ("<div>", "<a href=\"x'y\" t='q\"r'>link text</a> plain words <b ", "</div>"),
    "case_folded_markup": ("", "<OUTPUT>\nfirst\n</output><ſtdout>\nlong s\n</stdout><Stderr>x</STDERR>\n", ""),
    "nested_markup": ("", "<output>\n   \n```\ninner fence\n```\n</output>\n", ""),
}


def adversarial_payloads(size: int) -> Dict[str, str]:
    """Adversarial payloads of about ``size`` characters, keyed by shape."""
    out = {}
    for name, (head, unit, tail) in _ADVERSARIAL_UNITS.items():
        n = max(1, (size - len(head) - len(tail)) // len(unit))
        out[name] = head + unit * n + tail
    return out
