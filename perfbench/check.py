"""Join the job's output against the oracle digests."""

from __future__ import annotations

from typing import Dict, Optional

from perfbench.workloads import digest


def _read(path: str, columns):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def turn_digests(table):
    """Yield (conv_id, turn_idx, method, digest) for each output row."""
    blocks = table.column("blocks").combine_chunks()
    offs = blocks.offsets.to_pylist()
    span, btext, bconf = blocks.values.flatten()
    starts, ends, ys = (a.to_pylist() for a in span.flatten())
    btext, bconf = btext.to_pylist(), bconf.to_pylist()
    cols = [table.column(c).to_pylist() for c in ("conv_id", "turn_idx", "method", "text")]
    for r, (conv_id, turn_idx, method, text) in enumerate(zip(*cols)):
        lo, hi = offs[r], offs[r + 1]
        bl = tuple(zip(starts[lo:hi], ends[lo:hi], ys[lo:hi], btext[lo:hi], bconf[lo:hi]))
        yield conv_id, turn_idx, method, digest((text, bl))


def compare(fixture, turns_path: str, convs_path: Optional[str]) -> Dict[str, int]:
    """Counts of missing, duplicated and mismatched turns (an output turn
    absent from the input counts as mismatched), of mismatched
    conversations, and output rows per method."""
    import pyarrow.parquet as pq

    oracle = pq.read_table(fixture.oracle_turns, columns=["conv_id", "turn_idx", "digest"])
    expected = dict(zip(
        zip(oracle.column(0).to_pylist(), oracle.column(1).to_pylist()),
        oracle.column(2).to_pylist(),
    ))
    seen = set()
    dup = mismatched = 0
    rows: Dict[str, int] = {}
    out = _read(turns_path, ["conv_id", "turn_idx", "method", "text", "blocks"])
    for conv_id, turn_idx, method, dg in turn_digests(out):
        rows[method] = rows.get(method, 0) + 1
        key = (conv_id, turn_idx)
        if key in seen:
            dup += 1
            continue
        seen.add(key)
        if expected.get(key) != dg:
            mismatched += 1
    missing = sum(1 for k in expected if k not in seen)

    conv_errors = 0
    if convs_path is not None:
        oc = pq.read_table(fixture.oracle_convs)
        want = dict(zip(oc.column("conv_id").to_pylist(),
                        zip(oc.column("n_turns").to_pylist(), oc.column("digest").to_pylist())))
        got = _read(convs_path, ["conv_id", "n_turns", "text"])
        n_got = 0
        for conv_id, n, text in zip(*(got.column(c).to_pylist() for c in ("conv_id", "n_turns", "text"))):
            n_got += 1
            if want.get(conv_id) != (n, digest(text)):
                conv_errors += 1
        conv_errors += max(0, len(want) - n_got)
    return {"missing": missing, "duplicated": dup, "mismatched": mismatched,
            "conv_errors": conv_errors, "rows": rows}
