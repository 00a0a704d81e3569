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

``--cold N`` times cold starts instead: fresh interpreters of A and B
in turns, flipping which side goes first every round, for two commands
on corpus seed 1's first schema: the ``xsd_compile`` set-up command
(``perfbench/wl_xsd_compile.py`` ``Workload.setup``) and
``python -m xsd2json_spark.cli`` on that schema written to a file. Each
side's checkout is its ``PYTHONPATH`` and every run's cwd is a temp dir:
``-m`` puts the cwd first on ``sys.path``, so a run from inside a
checkout would time that checkout on both sides. One untimed round goes
first (it writes bytecode when caching is on). It prints the median and
quartiles in ms per side and command, and fails if the CLI outputs of
the two sides differ.

    python tools/xsd_compile_ab.py --a /path/to/parent [--b .] [--seeds 1 2] [--reps 3]
    python tools/xsd_compile_ab.py --a /path/to/parent --cold 30
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.xsd_corpus import corpus  # noqa: E402

MODULE = os.path.join("xsd2json_spark", "spec", "xsd_compiler.py")
#: the code string of ``perfbench/wl_xsd_compile.py`` ``Workload.setup``
SETUP_CODE = (
    "import sys; sys.path.insert(0, sys.argv[1]);"
    "from xsd2json_spark.spec.xsd_compiler import xsd_to_json_schema;"
    "xsd_to_json_schema(sys.argv[2])"
)


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


def cold_start(checkouts: dict, rounds: int) -> int:
    """Fresh-interpreter A/B of the set-up command and the CLI."""
    source = corpus(1)[0].source
    with tempfile.TemporaryDirectory() as cwd:
        path = os.path.join(cwd, "schema.xsd")
        with open(path, "w") as fh:
            fh.write(source)
        commands = {
            "setup": lambda root: [sys.executable, "-c", SETUP_CODE, root, source],
            "cli": lambda root: [sys.executable, "-m", "xsd2json_spark.cli", path],
        }
        ms = {cmd: {side: [] for side in checkouts} for cmd in commands}
        order = list(checkouts)
        for rnd in range(rounds + 1):
            for cmd, argv in commands.items():
                outs = {}
                for side in order:
                    root = checkouts[side]
                    t0 = time.perf_counter()
                    proc = subprocess.run(argv(root), cwd=cwd, env={**os.environ, "PYTHONPATH": root},
                                          capture_output=True, text=True, check=True)
                    if rnd:
                        ms[cmd][side].append((time.perf_counter() - t0) * 1e3)
                    outs[side] = proc.stdout
                if cmd == "cli" and len(set(outs.values())) > 1:
                    print("CLI outputs differ between A and B", file=sys.stderr)
                    return 1
            order.reverse()
    print("| command | A median (q1–q3) ms | B median (q1–q3) ms | B/A median | rounds |")
    print("|---|---|---|---|---|")
    for cmd, sides in ms.items():
        cells, medians = [], []
        for side in checkouts:
            q1, med, q3 = statistics.quantiles(sides[side], n=4)
            cells.append(f"{med:.1f} ({q1:.1f}–{q3:.1f})")
            medians.append(med)
        print(f"| {cmd} | {' | '.join(cells)} | {medians[1] / medians[0]:.3f} | {rounds} |")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--a", required=True, help="checkout A (the baseline)")
    ap.add_argument("--b", default=ROOT, help="checkout B (default: this one)")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cold", type=int, metavar="N", help="time N rounds of cold starts instead")
    args = ap.parse_args()
    if args.cold:
        return cold_start({"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}, args.cold)
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
