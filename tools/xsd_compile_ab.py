"""In-process A/B timing of the XSD compilers of two checkouts.

Loads ``xsd2json_spark/spec/xsd_compiler.py`` from checkouts A and B
into one interpreter and compiles the seeded ``xsd_compile`` corpus
(``perfbench/xsd_corpus``) with both, taking turns schema by schema and
flipping which side goes first on every schema, so a drift in the
host's speed hits both sides alike. Separate processes of the same code
spread too widely to resolve a gain of a few tens of percent.

For every rep and seed it prints the parse (``XsdCompiler(source)``),
compile (``.compile()``) and total seconds of each side, the B/A ratio
of each, and the number of schemas whose outputs differ as JSON text
(key order included; checked outside the timed windows).

    python tools/xsd_compile_ab.py --a /path/to/parent [--b .] [--seeds 1 2] [--reps 3]
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.xsd_corpus import corpus  # noqa: E402

MODULE = os.path.join("xsd2json_spark", "spec", "xsd_compiler.py")


def load_compiler(checkout: str, tag: str):
    """The ``XsdCompiler`` class of one checkout, as a module of its own."""
    spec = importlib.util.spec_from_file_location(f"xsd_compiler_{tag}", os.path.join(checkout, MODULE))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.XsdCompiler


def run_pair(compilers: dict, sources: list) -> "tuple[dict, int]":
    """Seconds of parse and compile per side, and the count of differing outputs."""
    secs = {side: {"parse": 0.0, "compile": 0.0} for side in compilers}
    differ = 0
    order = list(compilers)
    for source in sources:
        outs = {}
        for side in order:
            t0 = time.perf_counter()
            comp = compilers[side](source)
            t1 = time.perf_counter()
            outs[side] = comp.compile()
            t2 = time.perf_counter()
            secs[side]["parse"] += t1 - t0
            secs[side]["compile"] += t2 - t1
        differ += len({json.dumps(o) for o in outs.values()}) > 1
        order.reverse()
    return secs, differ


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--a", required=True, help="checkout A (the baseline)")
    ap.add_argument("--b", default=ROOT, help="checkout B (default: this one)")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    compilers = {"A": load_compiler(args.a, "a"), "B": load_compiler(args.b, "b")}
    print("| rep | seed | parse A / B (s) | compile A / B (s) | total A / B (s) | ratio parse / compile / total | outputs differ |")
    print("|---|---|---|---|---|---|---|")
    for rep in range(1, args.reps + 1):
        for seed in args.seeds:
            secs, differ = run_pair(compilers, [case.source for case in corpus(seed)])
            for side in secs:
                secs[side]["total"] = secs[side]["parse"] + secs[side]["compile"]
            cells = [f"{secs['A'][k]:.2f} / {secs['B'][k]:.2f}" for k in ("parse", "compile", "total")]
            ratios = " / ".join(f"{secs['B'][k] / secs['A'][k]:.3f}" for k in ("parse", "compile", "total"))
            print(f"| {rep} | {seed} | {' | '.join(cells)} | {ratios} | {differ} |", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
