"""Compare the extraction kernel at a git revision with the working tree.

Loads ``occular_ocr_spark/extraction/core.py`` as it is at ``--base`` and
runs its ``extract_turn_raw`` and the working tree's over the same
payloads: every turn of the perfbench ``web_mix``, ``long_pages`` and
``chat_short`` generators at ``--seed``, plus the adversarial shapes of
``fixtures.adversarial_payloads``.  Prints the mismatch count and the
µs/turn of each method on both sides, and exits 1 on any mismatch.

    python scripts/kernel_diff.py --base HEAD~1
    python scripts/kernel_diff.py --base HEAD~1 --smoke

``--write-golden PATH`` instead writes the digests that
``tests/test_kernel_golden.py`` checks, computed with the ``--base``
kernel.  Regenerate them only together with a bump of
``EXTRACTOR_VERSION``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time
import types
from typing import Dict, List, Tuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from occular_ocr_spark import fixtures  # noqa: E402
from occular_ocr_spark.extraction import core  # noqa: E402

CORE_PATH = "occular_ocr_spark/extraction/core.py"
ADVERSARIAL_SIZES = (2048, 3072, 4096)
GOLDEN_SEED = 1913
GOLDEN_N_CONVS = 150


def load_core(rev: str) -> types.ModuleType:
    """``extraction/core.py`` at git revision ``rev``, as a module."""
    src = subprocess.run(
        ["git", "-C", ROOT, "show", f"{rev}:{CORE_PATH}"],
        check=True, capture_output=True, text=True,
    ).stdout
    mod = types.ModuleType(f"core_at_{rev}")
    mod.__file__ = f"{rev}:{CORE_PATH}"
    exec(compile(src, mod.__file__, "exec"), mod.__dict__)
    return mod


def adversarial_set() -> List[Tuple[str, str]]:
    return [
        (f"{name}@{size}", payload)
        for size in ADVERSARIAL_SIZES
        for name, payload in fixtures.adversarial_payloads(size).items()
    ]


def golden_payloads() -> List[Tuple[str, str]]:
    """The payloads of the frozen golden digests, keyed."""
    rows = fixtures.generate_transcripts(n_convs=GOLDEN_N_CONVS, seed=GOLDEN_SEED)
    turns = [(f"{r['conv_id']}/{r['turn_idx']}", r["text"]) for r in rows]
    return sorted(turns) + adversarial_set()


def turn_digest(raw) -> str:
    """Digest of one ``extract_turn_raw`` result ``(method, blocks, text)``."""
    method, blocks, text = raw
    value = repr((method, text, [tuple(b) for b in blocks]))
    return hashlib.sha256(value.encode("utf-8", "surrogatepass")).hexdigest()[:16]


def workload_payloads(seed: int, smoke: bool) -> Dict[str, List[str]]:
    from perfbench.workloads import SIZES, chat_short_rows, long_pages_rows

    def size(name):
        return SIZES[name]["smoke" if smoke else "full"]

    return {
        "web_mix": [r["text"] for r in fixtures.generate_transcripts(n_convs=size("web_mix"), seed=seed)],
        "long_pages": [r["text"] for r in long_pages_rows(size("long_pages"), seed)],
        "chat_short": [r["text"] for r in chat_short_rows(size("chat_short"), seed)],
        "adversarial": [p for _, p in adversarial_set()],
    }


def compare(base, head, payloads: List[str]):
    """Mismatch count and per-method ``[turns, ns]`` of both sides.  The
    two kernels alternate which runs first, so drift hits both alike."""
    clock = time.perf_counter_ns
    stats = {"base": {}, "head": {}}
    mismatches = 0
    for i, payload in enumerate(payloads):
        order = (("base", base), ("head", head)) if i % 2 == 0 else (("head", head), ("base", base))
        out = {}
        for side, mod in order:
            t0 = clock()
            out[side] = mod.extract_turn_raw(payload)
            ns = clock() - t0
            acc = stats[side].setdefault(out[side][0], [0, 0])
            acc[0] += 1
            acc[1] += ns
        if out["base"] != out["head"]:
            mismatches += 1
    return mismatches, stats


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", required=True, help="git revision of the reference kernel")
    p.add_argument("--seed", type=int, default=20261, help="seed of the workload generators")
    p.add_argument("--smoke", action="store_true", help="use the workloads' smoke sizes")
    p.add_argument("--write-golden", metavar="PATH",
                   help="write the base kernel's golden digests to PATH and exit")
    args = p.parse_args(argv)
    base = load_core(args.base)

    if args.write_golden:
        digests = {key: turn_digest(base.extract_turn_raw(payload))
                   for key, payload in golden_payloads()}
        with open(args.write_golden, "w") as f:
            json.dump({"extractor_version": base.EXTRACTOR_VERSION,
                       "fixture_seed": GOLDEN_SEED, "fixture_n_convs": GOLDEN_N_CONVS,
                       "adversarial_sizes": list(ADVERSARIAL_SIZES),
                       "digests": digests}, f, indent=0, sort_keys=True)
            f.write("\n")
        print(f"wrote {len(digests)} digests from {args.base} to {args.write_golden}")
        return 0

    total = 0
    print(f"base={args.base} seed={args.seed} smoke={args.smoke}")
    print(f"{'workload':<12} {'method':<9} {'turns':>7} {'base us/turn':>13} {'head us/turn':>13} {'ratio':>6}")
    for name, payloads in workload_payloads(args.seed, args.smoke).items():
        mismatches, stats = compare(base, core, payloads)
        total += mismatches
        for method in sorted(set(stats["base"]) | set(stats["head"])):
            nb, tb = stats["base"].get(method, (0, 0))
            nh, th = stats["head"].get(method, (0, 0))
            ub = tb / nb / 1000 if nb else float("nan")
            uh = th / nh / 1000 if nh else float("nan")
            print(f"{name:<12} {method:<9} {nh:>7} {ub:>13.1f} {uh:>13.1f} {ub / uh if uh else float('nan'):>6.2f}")
        print(f"{name:<12} mismatches={mismatches} of {len(payloads)}")
    print(f"total mismatches={total}")
    return 1 if total else 0


if __name__ == "__main__":
    sys.exit(main())
