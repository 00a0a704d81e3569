"""Per-phase scaling decomposition (companion to scaling_bench.py).

The end-to-end job interleaves four plans in one action; this bench
times each engine phase as its OWN job at 8 and 32 cores (pinned,
fresh JVMs, warmed, interleaved) so the per-phase scaling efficiency is
measured directly:

  agg     — the wide verdict-counter + sketch aggregation pass
  viol    — the violation scan (failed-ids array -> filter -> explode)
  unique  — hash-compressed key-uniqueness (8-byte shuffle)
  fk      — broadcast anti-join against repos_dim

Usage: python tools/phase_scaling_bench.py [n_rows]
Appends a section to BENCH/BASELINE.md and prints one JSON report.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from xsd2json_spark.session import get_spark
from xsd2json_spark import spec_from_dict
from xsd2json_spark.engine import ValidationEngine
from xsd2json_spark.sources.synth import repos_dim
from xsd2json_spark.spec.constraints import ForeignKey, Unique
from bench import FILES_SPEC

cores = int(sys.argv[1]); path = sys.argv[2]
spark = get_spark(app_name=f"phase{{cores}}", master=f"local[{{cores}}]", shuffle_partitions=cores,
                  extra_conf={{"spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
                               "spark.driver.memory": "48g"}})
df = spark.read.parquet(path)
df.count()
spec = spec_from_dict(FILES_SPEC)
eng = ValidationEngine(spark, spec, dims={{"repos_dim": repos_dim(spark)}})
uq = next(c for c in spec.constraints if isinstance(c, Unique))
fk = next(c for c in spec.constraints if isinstance(c, ForeignKey))

def t_agg():
    t0 = time.perf_counter(); eng.row_verdicts_and_stats(df)[0].collect(); return time.perf_counter() - t0
def t_viol():
    t0 = time.perf_counter(); eng.row_violations(df).count(); return time.perf_counter() - t0
def t_unique():
    t0 = time.perf_counter(); eng.unique_violations(df, uq).count(); return time.perf_counter() - t0
def t_fk():
    t0 = time.perf_counter(); eng.fk_violations(df, fk).count(); return time.perf_counter() - t0

phases = {{"agg": t_agg, "viol": t_viol, "unique": t_unique, "fk": t_fk}}
for f in phases.values():
    f()  # JIT + cache warm-up, off the clock
out = {{name: round(min(f() for _ in range(2)), 3) for name, f in phases.items()}}
print("RESULT " + json.dumps({{"cores": cores, "phases": out}}))
"""


def run_child(cores: int, path: str) -> dict:
    cmd = [sys.executable, "-c", CHILD.format(repo=REPO), str(cores), path]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=3600,
                         env={**os.environ, "PYTHONPATH": REPO})
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"child local[{cores}] failed:\n{out.stdout[-1500:]}\n{out.stderr[-2500:]}")


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 64_000_000
    path = f"/tmp/bench_files_{n_rows}.parquet"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        sys.path.insert(0, REPO)
        from xsd2json_spark.session import get_spark
        from xsd2json_spark.sources.synth import files_table

        spark = get_spark(app_name="gen")
        files_table(spark, n_rows=n_rows, partitions=64).write.mode("overwrite").parquet(path)
        spark.stop()

    results = {8: [], 32: []}
    for cores in (8, 32, 8, 32):
        r = run_child(cores, path)
        print(f"local[{cores}]: {r['phases']}")
        results[cores].append(r)

    best = {
        c: {p: min(r["phases"][p] for r in rs) for p in rs[0]["phases"]}
        for c, rs in results.items()
    }
    eff = {p: round((best[8][p] / best[32][p]) / 4.0, 3) for p in best[8]}
    report = {"n_rows": n_rows, "best_8": best[8], "best_32": best[32], "phase_efficiency": eff}
    print(json.dumps(report, indent=2))

    lines = [
        "",
        f"## Per-phase decomposition at {n_rows:,} rows (each phase its own job; pinned, warmed, best of 4)",
        "",
        "| phase | 8-core (s) | 32-core (s) | efficiency |",
        "|---|---|---|---|",
    ]
    for p in ("agg", "viol", "unique", "fk"):
        lines.append(f"| {p} | {best[8][p]} | {best[32][p]} | {eff[p]} |")
    lines.append("")
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as fh:
        fh.write("\n".join(lines))
    print("appended to BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
