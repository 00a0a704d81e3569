"""Bytes-per-validated-row instrumentation (round-4 verdict item #3).

The executor-scaling gate on this VM is MEMORY-BANDWIDTH bound
(BENCH/EXECUTOR_SCALING.md attribution probe), and bandwidth-per-row is
the binding resource on a real cluster too — so the constructive lever
is to reduce the validation job's own bytes moved per row, then show the
reduction with Spark's stage metrics rather than assert it from a plan.

Method: run the FULL FILES_SPEC validation (same job as bench.py /
scaling_bench.py) once per engine mode on the same materialized parquet,
and sum the stage-level inputBytes / shuffle read+write / spill for
exactly the stages each run submitted (REST API stage delta, UI enabled
for this tool only). Reports per-mode totals and bytes/row plus wall
time, writes BENCH/BYTES_PER_ROW.md.

Modes:
  two_pass — the pre-round-5 default: one agg+sketch scan, one
             violation scan (content decompressed twice).
  fused    — round-5: one codegen'd scan -> narrow cached derivative
             (fail flags + sketch inputs + keys); agg, violations and
             key-only table checks read the cache (content once).

Usage: python tools/bytes_per_row.py [n_rows]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from xsd2json_spark.session import get_spark  # noqa: E402
from xsd2json_spark import spec_from_dict  # noqa: E402
from xsd2json_spark.engine import EngineConfig, ValidationEngine  # noqa: E402
from xsd2json_spark.sources.synth import files_table, repos_dim  # noqa: E402
from bench import FILES_SPEC  # noqa: E402

BYTE_KEYS = ("inputBytes", "shuffleReadBytes", "shuffleWriteBytes",
             "memoryBytesSpilled", "diskBytesSpilled")


def _stages(ui: str, app_id: str) -> dict:
    url = f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as r:
        data = json.load(r)
    out = {}
    for s in data:
        out[(s["stageId"], s["attemptId"])] = {k: s.get(k, 0) for k in BYTE_KEYS}
    return out


def measure(spark, df, spec, dims, cfg, n_rows: int) -> dict:
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    before = _stages(ui, app_id)
    eng = ValidationEngine(spark, spec, dims=dims, config=cfg)
    t0 = time.perf_counter()
    res = eng.run(df)
    res.verdicts.collect()
    n_viol = res.violations.count()
    dt = time.perf_counter() - t0
    res.unpersist()
    time.sleep(1.0)  # let the status store catch up
    after = _stages(ui, app_id)
    new = {k: v for k, v in after.items() if k not in before}
    totals = {k: sum(s[k] for s in new.values()) for k in BYTE_KEYS}
    return {
        "sec": round(dt, 3),
        "files_per_sec": round(n_rows / dt),
        "violations": n_viol,
        "stages": len(new),
        **{k: totals[k] for k in BYTE_KEYS},
        "scan_bytes_per_row": round(totals["inputBytes"] / n_rows, 1),
        "shuffle_bytes_per_row": round(
            (totals["shuffleReadBytes"] + totals["shuffleWriteBytes"]) / n_rows, 1
        ),
    }


def main():
    # --wide K: repeat the content column K times (~70 B -> ~70*K B),
    # emulating real repository files (KB-scale blobs) — the domain
    # EngineConfig.fused is designed for. Default narrow (the
    # north-star synthetic table as benched).
    argv = list(sys.argv[1:])
    wide = 0
    if "--wide" in argv:
        i = argv.index("--wide")
        wide = int(argv[i + 1])
        del argv[i:i + 2]
    n_rows = int(argv[0]) if argv else 16_000_000
    spark = get_spark(
        app_name="bytes_per_row",
        extra_conf={"spark.ui.enabled": "true",
                    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")},
    )
    tag = f"_w{wide}" if wide else ""
    path = f"/tmp/bench_files_{n_rows}{tag}.parquet"
    if not os.path.exists(path):
        from pyspark.sql import functions as F

        base = files_table(spark, n_rows=n_rows)
        if wide:
            base = base.withColumn(
                "content",
                F.when(
                    F.col("content").isNotNull(),
                    F.concat_ws("\n", F.array_repeat(F.col("content"), wide)),
                ),
            )
        base.write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    spec = spec_from_dict(FILES_SPEC)
    dims = {"repos_dim": repos_dim(spark)}

    modes = {
        "two_pass": EngineConfig(fused=False),
        "fused": EngineConfig(fused=True),
    }
    results = {}
    for name, cfg in modes.items():
        measure(spark, df, spec, dims, cfg, n_rows)  # warm-up (JIT + page cache)
        results[name] = measure(spark, df, spec, dims, cfg, n_rows)
        print(name, json.dumps(results[name]))

    on_disk = sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet")
    )
    report = {
        "n_rows": n_rows,
        "wide": wide,
        "parquet_bytes": on_disk,
        "parquet_bytes_per_row": round(on_disk / n_rows, 1),
        "modes": results,
    }
    out = os.path.join(REPO, "BENCH", f"bytes_per_row{tag}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=2)

    md = [
        f"# Bytes moved per validated row (FILES_SPEC{', content x' + str(wide) if wide else ''})",
        "",
        f"Input: synthetic files table{f', content repeated {wide}x (KB-wide rows)' if wide else ''}, "
        f"{n_rows:,} rows, "
        f"{on_disk/1e9:.2f} GB parquet ({on_disk/n_rows:.0f} B/row on disk).",
        "Stage-metric totals over exactly the stages each run submitted",
        "(Spark REST API delta); 1 warm-up + 1 measured run per mode.",
        "",
        "| mode | sec | files/s | scan B/row | shuffle B/row | spill B | stages |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, r in results.items():
        spill = r["memoryBytesSpilled"] + r["diskBytesSpilled"]
        md.append(
            f"| {name} | {r['sec']} | {r['files_per_sec']:,} | {r['scan_bytes_per_row']} "
            f"| {r['shuffle_bytes_per_row']} | {spill:,} | {r['stages']} |"
        )
    md += [
        "",
        "`scan B/row` = stage inputBytes (parquet read + cache read) / rows;",
        "`shuffle B/row` = (shuffle read + write) / rows.",
        "",
        "The fused mode reads the wide `content` column ONCE per run into a",
        "narrow cached derivative (fail flags + sketch inputs + keys), so its",
        "scan bytes should approach 1x the parquet size + the narrow cache,",
        "vs ~2x parquet for two_pass. See EngineConfig.fused in",
        "`xsd2json_spark/engine/validate.py`.",
    ]
    md_path = os.path.join(REPO, "BENCH", f"BYTES_PER_ROW{'_WIDE' if wide else ''}.md")
    with open(md_path, "w") as f:
        f.write("\n".join(md) + "\n")
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
