"""spark-submit entry point: validate a table against a constraint spec.

    spark-submit --py-files xsd2json_spark.zip jobs/validate.py \\
        --input /data/files.parquet \\
        --spec specs/files_v1.json \\
        --output /data/audit \\
        --dim repos_dim=/data/repos_dim.parquet \\
        [--resume --run-id r42 --buckets 64] [--partitions 2048] \
        [--incremental-prev /data/prev.parquet \
         --prev-verdicts /data/audit_prev/verdicts]

Writes <output>/verdicts, <output>/violations, <output>/stats (parquet;
point --output at an Iceberg-backed location + table names in a real
deployment — see xsd2json_spark.sources.io). Exits 1 if any constraint
failed, 0 otherwise (CI-gate style).

--incremental-prev switches to snapshot-delta validation
(engine/incremental.py): row-level constraint counters compose from the
previous snapshot's persisted verdicts plus counters over the keyed
delta only. A table-level check recomputes on the current snapshot
UNLESS --state-dir holds the previous snapshot's count state for it
(one parquet subdir per constraint id, any Hadoop path: file://,
hdfs://, s3a://), in which case its verdict COMPOSES from state + delta
(incremental.compose_state) and never rescans the current snapshot.
--write-state-dir persists the current snapshot's states for the next
run (incremental.build_states; each is key/category/grid-cardinality-
sized). Only <output>/verdicts is written in incremental mode
(violations/stats are full-run products).
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import SparkSession

from xsd2json_spark.engine import ValidationEngine
from xsd2json_spark.plans.audit import ResumableRunner
from xsd2json_spark.spec.loader import load_spec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="input table (parquet path)")
    ap.add_argument("--spec", required=True, help="constraint spec file (JSON/YAML)")
    ap.add_argument("--output", required=True, help="audit output directory")
    ap.add_argument("--dim", action="append", default=[], metavar="NAME=PATH",
                    help="dimension table for foreign_key constraints")
    ap.add_argument("--resume", action="store_true", help="resume via bucket-lineage audit")
    ap.add_argument("--run-id", default="run1")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--baselines", default=None,
                    help="drift-baseline JSON written by jobs/snapshot.py")
    ap.add_argument("--incremental-prev", default=None, metavar="PATH",
                    help="previous snapshot (parquet) for delta validation")
    ap.add_argument("--prev-verdicts", default=None, metavar="PATH",
                    help="previous run's verdicts (parquet), required with --incremental-prev")
    ap.add_argument("--state-dir", default=None, metavar="PATH",
                    help="previous snapshot's table-check states (one parquet "
                         "subdir per constraint id, written by --write-state-dir): "
                         "with --incremental-prev, unique/FK/cardinality/drift "
                         "verdicts COMPOSE from these states instead of "
                         "re-shuffling the current snapshot's keys")
    ap.add_argument("--write-state-dir", default=None, metavar="PATH",
                    help="write the CURRENT snapshot's table-check states here "
                         "for the next incremental run")
    args = ap.parse_args(argv)

    spark = SparkSession.builder.appName(f"validate:{os.path.basename(args.spec)}").getOrCreate()
    spec = load_spec(args.spec)
    dims = {}
    for d in args.dim:
        name, path = d.split("=", 1)
        dims[name] = spark.read.parquet(path)
    baselines = {}
    if args.baselines:
        import json

        with open(args.baselines) as fh:
            baselines = json.load(fh)
    engine = ValidationEngine(spark, spec, dims=dims, baselines=baselines)
    df = spark.read.parquet(args.input)

    if args.incremental_prev:
        from xsd2json_spark.engine.incremental import incremental_verdicts
        from xsd2json_spark.sources import fsutil

        if not args.prev_verdicts:
            ap.error("--incremental-prev requires --prev-verdicts")
        if args.resume:
            ap.error("--incremental-prev and --resume are mutually exclusive")
        prev_df = spark.read.parquet(args.incremental_prev)
        prev_v = spark.read.parquet(args.prev_verdicts)
        states = {}
        if args.state_dir:
            for c in spec.table_level():
                p = os.path.join(args.state_dir, c.id)
                if fsutil.exists(spark, p):
                    states[c.id] = spark.read.parquet(p)
        verdicts = incremental_verdicts(
            spark, spec, prev_df, df, prev_v, dims=dims,
            baselines=baselines, states=states,
        )
        verdicts.write.mode("overwrite").parquet(os.path.join(args.output, "verdicts"))
    elif args.resume:
        runner = ResumableRunner(engine, args.output, run_id=args.run_id, n_buckets=args.buckets)
        runner.run(df)
        verdicts = runner.global_verdicts()
        verdicts.write.mode("overwrite").parquet(os.path.join(args.output, "global_verdicts"))
    else:
        res = engine.run(df)
        res.verdicts.write.mode("overwrite").parquet(os.path.join(args.output, "verdicts"))
        res.violations.write.mode("overwrite").parquet(os.path.join(args.output, "violations"))
        res.stats.write.mode("overwrite").parquet(os.path.join(args.output, "stats"))
        verdicts = res.verdicts

    if args.write_state_dir:
        from xsd2json_spark.engine.incremental import build_states

        for cid, st in build_states(df, spec, baselines=baselines).items():
            st.write.mode("overwrite").parquet(os.path.join(args.write_state_dir, cid))

    verdict_rows = verdicts.collect()
    failed = [r for r in verdict_rows if not r["passed"]]
    for r in sorted(failed, key=lambda r: r["constraint_id"]):
        print(f"FAIL {r['constraint_id']} partition={r['partition_key']} violations={r['violation_count']}")
    print(f"validated: {len(verdict_rows)} verdict rows, {len(failed)} failed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
