"""Two-parallelism scaling evidence (BASELINE.md measurement plan).

The north rule's N -> 4N executor criterion can't use a real cluster in
this sandbox, so: run the SAME validation job on the SAME materialized
input at N=8 cores and 4N=32 cores, each in a fresh JVM, warmed up, and
report throughput at both plus scaling efficiency
eff = (thr_4N / thr_N) / 4. Writes BENCH/BASELINE.md.

Fidelity choices (each matters on a shared 32-core VM):
- The 8-core child is CPU-PINNED with `taskset -c 0-7`: a real 8-core
  executor node has 8 cores for EVERYTHING — GC threads, the JVM's
  availableProcessors-derived pools, memory traffic. Without pinning,
  local[8] silently gets 32-core GC + full memory-controller
  parallelism, overstating N throughput and understating efficiency.
- Children interleave A/B/A/B so slow host phases hit both levels.
- Each child does 1 JIT warm-up + TIMED_RUNS timed runs; the report
  states exactly how many samples back each number.
- The child also times the two dominant actions (verdict agg pass,
  violation scan) so the report carries a per-phase efficiency
  decomposition from the SAME runs.

Usage: python tools/scaling_bench.py [n_rows] [--no-pin]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMED_RUNS = 2  # per child; 2 children per level -> 4 samples per level

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from xsd2json_spark.session import get_spark
from xsd2json_spark import spec_from_dict
from xsd2json_spark.engine import ValidationEngine
from xsd2json_spark.sources.synth import repos_dim
from bench import FILES_SPEC

cores = int(sys.argv[1]); path = sys.argv[2]; n_rows = int(sys.argv[3]); timed = int(sys.argv[4])
# equal 48g heap at BOTH levels (measured: 8g heap costs local[32]
# ~45% throughput via GC pressure; equal heaps also avoid handicapping
# either level)
spark = get_spark(app_name=f"scale{{cores}}", master=f"local[{{cores}}]", shuffle_partitions=cores,
                  extra_conf={{"spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
                               "spark.driver.memory": "48g"}})
df = spark.read.parquet(path)
df.count()

def one_run():
    eng = ValidationEngine(spark, spec_from_dict(FILES_SPEC), dims={{"repos_dim": repos_dim(spark)}})
    t0 = time.perf_counter()
    res = eng.run(df)
    res.verdicts.collect()
    t1 = time.perf_counter()
    res.violations.count()
    t2 = time.perf_counter()
    res.unpersist()
    return t2 - t0, t1 - t0, t2 - t1   # total, agg+verdict phase, violation-count phase

one_run()  # JIT warm-up (off the clock)
times = [one_run() for _ in range(timed)]
best = min(t[0] for t in times)
print("RESULT " + json.dumps({{"cores": cores, "sec": round(best, 3),
    "all_times": [round(t[0], 3) for t in times],
    "agg_phase": [round(t[1], 3) for t in times],
    "viol_phase": [round(t[2], 3) for t in times],
    "files_per_sec": round(n_rows / best)}}))
"""


def run_child(cores: int, path: str, n_rows: int, pin: bool) -> dict:
    script = CHILD.format(repo=REPO)
    cmd = [sys.executable, "-c", script, str(cores), path, str(n_rows), str(TIMED_RUNS)]
    if pin and shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=3600,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"child local[{cores}] failed:\n{out.stdout[-2000:]}\n{out.stderr[-3000:]}")


BURN = r"""
import sys, time
from multiprocessing import Pool

def burn(n):
    x = 0
    for _ in range(n):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return x

if __name__ == "__main__":
    workers = int(sys.argv[1]); per = 30_000_000
    with Pool(workers) as p:
        p.map(burn, [per // 10] * workers)
        t0 = time.perf_counter()
        p.map(burn, [per] * workers)
        dt = time.perf_counter() - t0
    print(f"BURN {workers * per / dt / 1e6:.1f}")
"""


def measure_burn(cores: int, pin: bool) -> float:
    """Pure-CPU multiprocessing burn (no Spark, register arithmetic
    only) at `cores` workers, measured INTERLEAVED with the Spark
    children: this is the host's thread-scaling ceiling at that moment.
    On a shared/virtualized box the 8->32 burn efficiency itself sits
    well under 1.0 (CPU steal / all-core frequency), and no job can
    scale better than the host it runs on — the report normalizes the
    job's efficiency by this ceiling."""
    cmd = [sys.executable, "-c", BURN, str(cores)]
    if pin and cores < (os.cpu_count() or 32) and shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    for line in out.stdout.splitlines():
        if line.startswith("BURN "):
            return float(line.split()[1])
    raise RuntimeError(f"burn at {cores} failed: {out.stderr[-500:]}")


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    pin = "--no-pin" not in sys.argv
    # --levels lo,hi picks the N and 4N core counts (default 8,32). The
    # north rule fixes the RATIO (4x), not N itself; lower levels (e.g.
    # 4,16) leave headroom below the host's own thread-scaling ceiling,
    # which at 32 threads measured as low as 0.70 on this shared VM.
    lo, hi = 8, 32
    for a in sys.argv[1:]:
        if a == "--levels" or a.startswith("--levels="):
            if "=" in a:
                lv = a.split("=", 1)[1]
            else:
                idx = sys.argv.index(a)
                if idx + 1 >= len(sys.argv):
                    sys.exit("usage: --levels LO,HI (e.g. --levels 4,16)")
                lv = sys.argv[idx + 1]
            try:
                lo, hi = (int(x) for x in lv.split(","))
            except ValueError:
                sys.exit(f"usage: --levels LO,HI (got {lv!r})")
            args = [x for x in args if x != lv]
        elif a.startswith("--levels"):
            sys.exit(f"unknown flag {a!r}; use --levels LO,HI or --levels=LO,HI")
    n_rows = int(args[0]) if args else 16_000_000
    path = f"/tmp/bench_files_{n_rows}.parquet"
    if not os.path.exists(path):
        # materialize once with a separate session so both children read identical bytes
        sys.path.insert(0, REPO)
        from xsd2json_spark.session import get_spark
        from xsd2json_spark.sources.synth import files_table

        spark = get_spark(app_name="gen")
        # 64 files at 64M rows (~82MB each): tried 256 smaller files for
        # smoother task waves at 32 cores — measurement was noise-
        # dominated (97-152s vs 75s best), no reproducible win
        files_table(spark, n_rows=n_rows, partitions=64).write.mode("overwrite").parquet(path)
        spark.stop()

    # interleave N/4N children (A/B/A/B) so slow host phases (this is a
    # shared VM — single-run outliers of 4-8x were observed) hit both
    # levels equally; keep the best run per level. SCALE_CHILD_PAIRS
    # fresh JVMs per level (more children samples host phases better
    # than more runs inside one JVM).
    pairs = int(os.environ.get("SCALE_CHILD_PAIRS", "3"))
    results = {lo: [], hi: []}
    burns = {lo: [], hi: []}
    for cores in (lo, hi) * pairs:
        r = run_child(cores, path, n_rows, pin=pin)
        print(f"child local[{cores}]: {r['all_times']} s (agg {r['agg_phase']}, viol {r['viol_phase']})")
        results[cores].append(r)
        b = measure_burn(cores, pin)
        burns[cores].append(b)
        print(f"host burn at {cores} threads: {b:.1f} Mops/s")

    def fold(level):
        rs = results[level]
        best = min(rs, key=lambda r: r["sec"])
        return {
            "cores": level,
            "sec": best["sec"],
            "files_per_sec": best["files_per_sec"],
            "all_times": sorted(t for r in rs for t in r["all_times"]),
            "agg_best": min(t for r in rs for t in r["agg_phase"]),
            "viol_best": min(t for r in rs for t in r["viol_phase"]),
        }

    n, n4 = fold(lo), fold(hi)
    eff = (n4["files_per_sec"] / n["files_per_sec"]) / 4.0
    agg_eff = (n["agg_best"] / n4["agg_best"]) / 4.0
    viol_eff = (n["viol_best"] / n4["viol_best"]) / 4.0
    host_ceiling = (max(burns[hi]) / max(burns[lo])) / 4.0 if burns[lo] and burns[hi] else None
    samples = len(n["all_times"])
    report = {
        "n_rows": n_rows,
        "pinned": pin,
        f"local[{lo}]": n,
        f"local[{hi}]": n4,
        f"scaling_efficiency_{lo}_to_{hi}": round(eff, 3),
        "agg_phase_efficiency": round(agg_eff, 3),
        "violation_phase_efficiency": round(viol_eff, 3),
        "host_burn_mops": {str(lo): burns[lo], str(hi): burns[hi]},
        "host_thread_scaling_ceiling": round(host_ceiling, 3) if host_ceiling else None,
        "normalized_efficiency": round(eff / host_ceiling, 3) if host_ceiling else None,
        "target": 0.8,
    }
    print(json.dumps(report, indent=2))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    pin_note = (
        f"the N={lo} child is CPU-pinned (`taskset -c 0-{lo - 1}`) so GC threads and\n"
        f"memory traffic see {lo} cores, as a real {lo}-core executor node would"
        if pin else "NOT CPU-pinned (--no-pin)"
    )
    # non-default levels get their own report file so the curated
    # BASELINE.md (which carries hand-written attribution sections) is
    # never clobbered by an alternate-level run
    out_name = "BASELINE.md" if (lo, hi) == (8, 32) else f"SCALING_{lo}to{hi}.md"
    with open(os.path.join(REPO, "BENCH", out_name), "w") as fh:
        fh.write(f"""# BENCH baseline — two-parallelism scaling evidence

Per BASELINE.md's measurement plan: the same full-constraint validation
job (bench.py FILES_SPEC: 6 row-level constraints + unique + FK +
cardinality + 3-column sketch; engine mode: two-pass;
hash-unique + broadcast anti-join) over the SAME deterministic synthetic
(repo,path,commit,lang,content) parquet ({n_rows:,} rows), at N={lo} and
4N={hi} cores in fresh JVMs (ParallelGC), JIT-warmed, children
interleaved A/B/A/B; {pin_note}.
Each number is the best of {samples} timed runs ({TIMED_RUNS} per JVM); all
samples listed below.

| parallelism | wall-clock (s) | validated files/sec |
|---|---|---|
| {lo} cores (N) | {n["sec"]} | {n["files_per_sec"]:,} |
| {hi} cores (4N) | {n4["sec"]} | {n4["files_per_sec"]:,} |

**Scaling efficiency (N -> 4N)** = (thr_4N / thr_N) / 4 =
**{eff:.3f}** (target >= 0.8).

Host thread-scaling ceiling, measured INTERLEAVED with the children by
a pure-CPU multiprocessing burn (register arithmetic, no Spark, no
memory traffic): {lo}(pinned) {max(burns[lo]):.0f} Mops/s vs {hi}
{max(burns[hi]):.0f} Mops/s -> **ceiling {host_ceiling:.3f}**. No job can
scale better than the host it runs on; **normalized efficiency
(job / host ceiling) = {eff / host_ceiling:.3f}**.

Per-phase decomposition from the same runs (best sample per level):

| phase | {lo}-core (s) | {hi}-core (s) | efficiency |
|---|---|---|---|
| verdict agg pass | {n["agg_best"]} | {n4["agg_best"]} | {agg_eff:.3f} |
| violation count | {n["viol_best"]} | {n4["viol_best"]} | {viol_eff:.3f} |

All samples (s): {lo}-core {n["all_times"]}, {hi}-core {n4["all_times"]}.

Caveats: single machine — the two levels share one memory subsystem and
parquet page cache, which a real 2-cluster comparison would not;
shuffle partitions are set to the core count in each run.
""")
    print(f"wrote BENCH/{out_name}")


if __name__ == "__main__":
    main()
