"""Per-query A/B timing of two checkouts' ``queries()`` entries.

Both trees define ``xsd2json_spark`` and ``__spark_entry__``, so they
cannot share one interpreter: each checkout gets a worker process of
its own (this script with ``--worker``), with the checkout first on
``sys.path``, a temp dir outside both trees as its cwd, and one warm
Spark session (``local[cores]``, ``cores`` shuffle partitions). A
worker first runs every named query once, untimed. Then the sides take
turns round by round, flipping which side goes first every round, and
only one side runs at a time. In its turn a side takes ``--collects``
samples of each query, the queries interleaved; one sample clears
Spark's cache, builds the DataFrame through ``queries()`` and
``collect()``s it, and is timed from build to the last row.

It prints, per query, the median and quartiles in seconds of each
side over all rounds, the B/A ratio of the medians and the rounds in
which B's median was lower, and fails if the two sides' results differ
(an order-insensitive hash of the rows).

    python tools/query_ab.py --a /path/to/parent [--b .] [--collects 15] [--rounds 4] \\
        [--cores 4] [--sf-dir perfbench/data/sf0.01] cv_drift_chi2_stat cv_drift_psi_stat

Run the same checkout on both sides (``--a . --b .``) for the noise
floor of a host.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker(checkout: str, sf_dir: str, cores: int) -> None:
    """Serve sample requests on stdin, one JSON line each: {"queries",
    "collects"} -> {"secs": {query: [seconds...]}, "hashes": {query:
    hash}}. Spark's own output goes to stderr."""
    sys.path.insert(0, checkout)
    import __spark_entry__ as entry
    from xsd2json_spark.session import get_spark

    spark = get_spark(app_name="query_ab", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    def sample(name: str) -> "tuple[float, str]":
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        rows = qs[name](spark, sf_dir).collect()
        secs = time.perf_counter() - t0
        return secs, hashlib.sha256("\n".join(sorted(map(repr, rows))).encode()).hexdigest()

    print(json.dumps({"ready": True}), flush=True)
    for line in sys.stdin:
        req = json.loads(line)
        secs = {q: [] for q in req["queries"]}
        hashes = {}
        for _ in range(req["collects"]):
            for q in req["queries"]:
                s, hashes[q] = sample(q)
                secs[q].append(s)
        print(json.dumps({"secs": secs, "hashes": hashes}), flush=True)
    spark.stop()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--a", help="checkout A (e.g. the parent)")
    ap.add_argument("--b", default=ROOT, help="checkout B (default: this tree)")
    ap.add_argument("--collects", type=int, default=15, help="samples per query per round")
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--sf-dir", default=os.path.join(ROOT, "perfbench", "data", "sf0.01"))
    ap.add_argument("--worker", metavar="CHECKOUT", help=argparse.SUPPRESS)
    args = ap.parse_args()
    sf_dir = os.path.abspath(args.sf_dir)
    if args.worker:
        worker(args.worker, sf_dir, args.cores)
        return 0
    if not args.a or not args.queries:
        ap.error("--a and at least one query are required")

    checkouts = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    secs = {q: {side: [] for side in checkouts} for q in args.queries}
    b_wins = {q: 0 for q in args.queries}
    hashes = {}
    with tempfile.TemporaryDirectory() as cwd:
        procs = {}
        for side, root in checkouts.items():
            argv = [sys.executable, os.path.abspath(__file__), "--worker", root,
                    "--sf-dir", sf_dir, "--cores", str(args.cores)]
            procs[side] = subprocess.Popen(argv, cwd=cwd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                           stderr=subprocess.DEVNULL, text=True)
        try:
            def reply(side: str) -> dict:
                """The worker's next JSON line (the JVM shares its stdout)."""
                for line in procs[side].stdout:
                    if line.startswith("{"):
                        return json.loads(line)
                raise RuntimeError(f"worker {side} ({checkouts[side]}) exited")

            def ask(side: str, collects: int) -> dict:
                procs[side].stdin.write(json.dumps({"queries": args.queries, "collects": collects}) + "\n")
                procs[side].stdin.flush()
                return reply(side)

            for side in checkouts:
                reply(side)  # ready
                hashes[side] = ask(side, 1)["hashes"]  # warm-up, untimed
            order = list(checkouts)
            for _ in range(args.rounds):
                rnd = {}
                for side in order:
                    rnd[side] = ask(side, args.collects)
                    for q in args.queries:
                        secs[q][side] += rnd[side]["secs"][q]
                        if rnd[side]["hashes"][q] != hashes[side][q]:
                            raise RuntimeError(f"{q}: side {side} gave different results across samples")
                for q in args.queries:
                    b_wins[q] += statistics.median(rnd["B"]["secs"][q]) < statistics.median(rnd["A"]["secs"][q])
                order.reverse()
        finally:
            for p in procs.values():
                p.stdin.close()
                p.wait()

    print(f"{args.collects} collects x {args.rounds} rounds per side, local[{args.cores}], {sf_dir}")
    print("| query | A median (q1–q3) s | B median (q1–q3) s | B/A median | B faster in rounds |")
    print("|---|---|---|---|---|")
    for q, sides in secs.items():
        cells, medians = [], []
        for side in checkouts:
            q1, med, q3 = statistics.quantiles(sides[side], n=4)
            cells.append(f"{med:.3f} ({q1:.3f}–{q3:.3f})")
            medians.append(med)
        print(f"| `{q}` | {cells[0]} | {cells[1]} | {medians[1] / medians[0]:.3f} | {b_wins[q]}/{args.rounds} |")
    differ = [q for q in args.queries if hashes["A"][q] != hashes["B"][q]]
    if differ:
        print(f"results differ between A and B: {', '.join(differ)}", file=sys.stderr)
        return 1
    print("results identical on both sides")
    return 0


if __name__ == "__main__":
    sys.exit(main())
