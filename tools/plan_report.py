"""Physical-plan review artifact: dump .explain("formatted")-style
evidence for the headline queries into PLANS.md — pushed filters,
column pruning (ReadSchema), join strategies, aggregate modes, and any
Python in the plan. This is the 'is the plan the one you'd want at
100 TB' audit (SURVEY §4).

Usage: python tools/plan_report.py           # writes PLANS.md
       python tools/plan_report.py --engine  # prints engine plans
       python tools/plan_report.py --drift   # prints drift query plans
       python tools/plan_report.py --dedup   # prints dedup/ANN query plans

--engine prints the optimized logical plans of the ValidationEngine
run (verdicts / violations / stats) of bench.FILES_SPEC over
files_table(n_rows=2000) under EngineConfig(), EngineConfig(exact=True)
and EngineConfig(fused=True), then of incremental_verdicts over the
same spec, and last the verdicts plan of a four-drift-check spec over
a synthetic frame and its baseline snapshots (drift_plans), with
expression ids (#12, #34L) normalised to '#', lambda variables (x_3)
to 'x_' and exchange ids (plan_id=7) to 'plan_id='. Run it on two
checkouts and diff the outputs to show a refactor left the plans
unchanged.

--drift prints, the same way, the optimized plans of the in-plan drift
queries (DRIFT_QUERIES) over SF_DIR; --dedup those of the dedup, ANN
and BPE queries (DEDUP_QUERIES).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from xsd2json_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

AUDITED = [
    "cv_verdicts",
    "cv_violations",
    "cv_unique_violations",
    "cv_fk_violations",
    "lineitem_pricing_summary",
    "top_revenue_orders",
    "events_user_activity",
    "doc_ngram_jaccard",
    "doc_minhash_dups",
    "doc_simhash_pairs_md5",
    "doc_langid_ngram",
    "cv_cube_drilldown",
    "cv_drift_chi2_stat",
    "emb_knn_brute",
    "emb_knn_lsh_pruned",
    "emb_knn_ivf",
    "emb_near_dups",
    "cv_drift_psi_stat",
    "cv_quantile_violations",
    "doc_top_terms",
    "doc_simhash",
    "brand_revenue",
    "cv_drift_chi2",
    "media_image_features_ppm",
    "doc_split_counts",
    "doc_contamination",
    "doc_packing",
    "cv_incremental_verdicts",
    "cv_incremental_unique",
    "cv_incremental_fk",
    "doc_pii_redaction",
    "cv_suggested_spec",
    "media_image_features_png",
    "media_image_features_jpeg",
    "media_video_frames_mjpg",
    "cv_fd_violations",
    "cv_ratio_verdicts",
    "cv_drift_ks",
    "cv_incremental_drift",
    "emb_knn_pq",
    "cv_metric_anomaly",
    "emb_knn_ivfpq",
]

DRIFT_QUERIES = [
    "cv_drift_chi2",
    "cv_drift_by_lang",
    "cv_drift_chi2_stat",
    "cv_drift_chi2_by_stat",
    "cv_drift_psi_stat",
    "cv_drift_ks",
    "cv_drift_ks_stat",
    "cv_drift_ks_by_stat",
]

DEDUP_QUERIES = [
    "doc_minhash_dups",
    "doc_minhash_dups_xx",
    "doc_simhash",
    "doc_simhash_pairs",
    "doc_simhash_pairs_md5",
    "emb_near_dups",
    "emb_knn_lsh",
    "emb_knn_lsh_pruned",
    "emb_knn_ivf",
    "emb_knn_ivfpq",
    "doc_bpe_token_stats",
]


def audit(plan: str) -> list:
    notes = []
    bhj = plan.count("BroadcastHashJoin")
    smj = plan.count("SortMergeJoin")
    if bhj:
        notes.append(f"{bhj} broadcast hash join(s) — no shuffle on the big side")
    if smj:
        notes.append(f"{smj} sort-merge join(s) — shuffle both sides (AQE may demote at runtime)")
    if "PushedFilters: [" in plan:
        pf = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        nonempty = [p for p in pf if p.strip()]
        if nonempty:
            notes.append(f"filters pushed to parquet scan: {nonempty[0][:120]}")
    rs = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    if rs:
        notes.append(f"column-pruned scan: reads only <{rs[0][:120]}>")
    pjf = re.findall(r"PartitionFilters: \[([^\]]+)\]", plan)
    nonempty_pf = [p for p in pjf if p.strip()]
    if nonempty_pf:
        notes.append(f"PARTITION-PRUNED scan: {nonempty_pf[0][:120]}")
    ha = plan.count("HashAggregate")
    oha = plan.count("ObjectHashAggregate")
    sa = plan.count("SortAggregate")
    if ha or oha:
        notes.append(f"hash aggregates: {ha} codegen + {oha} object (partial+final pairs)")
    if sa:
        notes.append(f"WARNING: {sa} SortAggregate(s) — check for var-length agg buffers")
    if "TakeOrderedAndProject" in plan:
        notes.append("top-k via TakeOrderedAndProject (no global sort)")
    if ("Python" in plan or "ArrowEval" in plan or "BatchEval" in plan
            or "InPandas" in plan):  # MapInPandas / FlatMapGroupsInPandas etc.
        notes.append("NOTE: Python/Arrow stage present")
        # A Python stage printed under InMemoryRelation is the cached
        # subtree echoed once per consumer — it executes ONCE when the
        # cache populates; consumers read InMemoryTableScan.
        n_py = sum(plan.count(t) for t in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"))
        n_cached_scans = plan.count("InMemoryTableScan")
        if n_py > 1 and n_cached_scans:
            notes.append(
                f"  ({n_py} Python node(s) printed, {n_cached_scans} InMemoryTableScan(s): "
                "nodes under InMemoryRelation run once at cache population, not per consumer)")
    else:
        notes.append("no Python in the plan — fully JVM-side")
    wsc = len(set(re.findall(r"\*\((\d+)\)", plan)))
    if wsc:
        notes.append(f"{wsc} WholeStageCodegen span(s)")
    return notes


def _plan(df) -> str:
    # PySpark numbers lambda variables (x_3) and Spark the exchanges of a
    # cached plan (plan_id=7) from process-wide counters, so they depend
    # on what ran before; normalised like expression ids
    plan = re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    return re.sub(r"(lambda [a-z]+)_\d+", r"\1_", plan)


def _plan_session():
    # pinned so the printed plans do not depend on the host's core count
    spark = get_spark(app_name="plan_report", master="local[2]", shuffle_partitions=4)
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    return spark


def query_plans(names):
    spark = _plan_session()
    qs = entrymod.queries()
    for name in names:
        print(f"=== {name}")
        print(_plan(qs[name](spark, SF_DIR)))


def engine_plans():
    from pyspark.sql import functions as F

    from bench import FILES_SPEC
    from xsd2json_spark import spec_from_dict
    from xsd2json_spark.engine import EngineConfig, ValidationEngine
    from xsd2json_spark.engine.incremental import incremental_verdicts
    from xsd2json_spark.sources.synth import files_table, repos_dim

    spark = _plan_session()
    spec = spec_from_dict(FILES_SPEC)
    dims = {"repos_dim": repos_dim(spark)}
    df = files_table(spark, n_rows=2000)
    for name, cfg in (("default", EngineConfig()), ("exact", EngineConfig(exact=True)),
                      ("fused", EngineConfig(fused=True))):
        res = ValidationEngine(spark, spec, dims=dims, config=cfg).run(df)
        for part in ("verdicts", "violations", "stats"):
            print(f"=== {name} {part}")
            print(_plan(getattr(res, part)))
        res.unpersist()
    prev = ValidationEngine(spark, spec, dims=dims).run(df).verdicts
    cur = df.filter(F.abs(F.xxhash64("repo", "path", "commit")) % 31 != 0)
    print("=== incremental_verdicts")
    print(_plan(incremental_verdicts(spark, spec, df, cur, prev, dims=dims)))
    drift_plans(spark)


def drift_plans(spark):
    """The engine's verdicts plan of a not_null + four-drift-check spec
    (chi2 and KS, global and per group) over a 2,000-row synthetic
    frame, read against baseline snapshots of that frame, with one
    group shifted."""
    from pyspark.sql import functions as F

    from xsd2json_spark import spec_from_dict
    from xsd2json_spark.engine import ValidationEngine
    from xsd2json_spark.engine.drift import make_categorical_baseline, make_numeric_baseline

    base = spark.createDataFrame(
        [(i, "g%d" % (1 + i % 2), "x" if i % 5 < 3 else "y", float(i * 7 % 100)) for i in range(2000)],
        "id long, g string, cat string, v double",
    )
    checks = [("c", "cat", "chi2", []), ("cg", "cat", "chi2", ["g"]), ("k", "v", "ks", []), ("kg", "v", "ks", ["g"])]
    baselines = {
        cid: (make_categorical_baseline if test == "chi2" else make_numeric_baseline)(base, col, group_by=gb)
        for cid, col, test, gb in checks
    }
    spec = spec_from_dict({"name": "drift", "key_columns": ["id"], "constraints": [
        {"kind": "not_null", "id": "nn", "column": "g"},
        *({"kind": "drift", "id": cid, "column": col, "test": test, "baseline": cid, "group_by": gb}
          for cid, col, test, gb in checks)]})
    shifted = F.col("g") == "g2"
    cur = base.withColumn("cat", F.when(shifted, F.lit("y")).otherwise(F.col("cat"))).withColumn(
        "v", F.when(shifted, F.col("v") + 50.0).otherwise(F.col("v")))
    res = ValidationEngine(spark, spec, baselines=baselines).run(cur)
    print("=== drift verdicts")
    print(_plan(res.verdicts))
    res.unpersist()


def main():
    if "--engine" in sys.argv[1:]:
        return engine_plans()
    if "--drift" in sys.argv[1:]:
        return query_plans(DRIFT_QUERIES)
    if "--dedup" in sys.argv[1:]:
        return query_plans(DEDUP_QUERIES)
    spark = get_spark(app_name="plan_report")
    qs = entrymod.queries()
    out = ["# PLANS — physical-plan audit of headline queries",
           "",
           f"Generated by tools/plan_report.py over {SF_DIR}. For each query:",
           "the scale-relevant properties extracted from the executed plan,",
           "then the plan itself (AQE initial plan; runtime may improve it).",
           ""]
    for name in AUDITED:
        df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"## {name}\n")
        for n in audit(plan):
            out.append(f"- {n}")
        # clamp pathological single lines (e.g. a constant-folded literal
        # map serializes its whole contents into the plan string)
        lines = [(ln[:400] + " ...<line truncated>") if len(ln) > 400 else ln for ln in plan.splitlines()]
        clipped = "\n".join(lines)
        out.append("\n```\n" + clipped[:4000] + ("\n... (truncated)" if len(clipped) > 4000 else "") + "\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md for", len(AUDITED), "queries")


if __name__ == "__main__":
    main()
