"""spark-submit entry point: build drift-baseline snapshots for a spec.

    spark-submit --py-files xsd2json_spark.zip jobs/snapshot.py \\
        --input /data/files.parquet \\
        --spec specs/files_v1.json \\
        --output /data/baselines.json

For every Drift constraint in the spec, computes the matching baseline
of its value (``expr`` when set, else ``column``) over the input table:
categorical counts for chi2, a quantile-grid ECDF for ks, per group
when group_by is set. Each is read off the constraint's own count
state, so the baseline counts what the verdict counts. Writes ONE JSON
file keyed by the constraints' baseline names — the file
jobs/validate.py consumes via --baselines. This is the "snapshot then
compare future runs against it" loop of the north star, runnable
entirely through spark-submit.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession

from xsd2json_spark.engine.drift import make_categorical_baseline, make_numeric_baseline
from xsd2json_spark.spec.constraints import Drift
from xsd2json_spark.spec.loader import load_spec


def build_baselines(spark: SparkSession, df, spec) -> dict:
    out: dict = {}
    for c in spec.constraints:
        if not isinstance(c, Drift) or c.baseline in out:
            continue
        make = make_categorical_baseline if c.test == "chi2" else make_numeric_baseline
        out[c.baseline] = make(df, c.expr or c.column, group_by=c.group_by)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="input table (parquet path)")
    ap.add_argument("--spec", required=True, help="constraint spec file (JSON/YAML)")
    ap.add_argument("--output", required=True, help="baselines JSON file to write")
    args = ap.parse_args(argv)

    spark = SparkSession.builder.appName("drift-snapshot").getOrCreate()
    spec = load_spec(args.spec)
    df = spark.read.parquet(args.input)
    baselines = build_baselines(spark, df, spec)
    if not baselines:
        print("spec has no drift constraints; nothing to snapshot")
        return 1
    with open(args.output, "w") as fh:
        json.dump(baselines, fh)
    print(f"wrote {len(baselines)} baseline(s) to {args.output}: {sorted(baselines)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
