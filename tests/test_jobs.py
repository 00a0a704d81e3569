"""spark-submit job entry points exercised in-process: the snapshot ->
validate drift loop (jobs/snapshot.py + jobs/validate.py --baselines)
and the CI-gate exit codes."""

import json

from pyspark.sql import functions as F

from xsd2json_spark.sources.synth import files_table


def _write_spec(tmp_path, constraints):
    spec = {
        "name": "jobs_t",
        "key_columns": ["repo", "path", "commit"],
        "constraints": constraints,
    }
    p = str(tmp_path / "spec.json")
    with open(p, "w") as fh:
        json.dump(spec, fh)
    return p


def test_snapshot_then_validate_drift_loop(spark, tmp_path):
    """Full spark-submit-shaped drift loop: snapshot a baseline from the
    reference input, validate the same input (passes, exit 0), then a
    shifted input (drift detected, exit 1)."""
    from jobs.snapshot import main as snap_main
    from jobs.validate import main as val_main

    files = files_table(spark, n_rows=3000)
    inp = str(tmp_path / "in.parquet")
    files.write.parquet(inp)
    spec_path = _write_spec(
        tmp_path,
        [
            {"kind": "drift", "id": "lang_drift", "column": "lang",
             "test": "chi2", "baseline": "lang_base", "alpha": 0.01},
            {"kind": "drift", "id": "len_drift", "column": "content",
             "expr": "length(content)", "test": "ks", "baseline": "len_base",
             "alpha": 0.01},
        ],
    )
    bl = str(tmp_path / "baselines.json")
    assert snap_main(["--input", inp, "--spec", spec_path, "--output", bl]) == 0
    with open(bl) as fh:
        snap = json.load(fh)
    assert set(snap) == {"lang_base", "len_base"}

    out1 = str(tmp_path / "audit1")
    assert val_main(["--input", inp, "--spec", spec_path, "--output", out1,
                     "--baselines", bl]) == 0  # self-drift passes

    shifted = files.withColumn(
        "lang", F.when(F.col("lang") == "python", F.lit("java")).otherwise(F.col("lang"))
    )
    inp2 = str(tmp_path / "in2.parquet")
    shifted.write.parquet(inp2)
    out2 = str(tmp_path / "audit2")
    assert val_main(["--input", inp2, "--spec", spec_path, "--output", out2,
                     "--baselines", bl]) == 1  # drift detected -> CI gate fails


def test_snapshot_baselines_the_drift_expr(spark, tmp_path):
    """A drift check with an ``expr`` is snapshotted on that expr, as
    its verdict counts it: validating the snapshotted table passes."""
    from jobs.snapshot import main as snap_main
    from jobs.validate import main as val_main

    inp = str(tmp_path / "in.parquet")
    files_table(spark, n_rows=500).write.parquet(inp)
    spec_path = _write_spec(tmp_path, [
        {"kind": "drift", "id": "c", "column": "lang", "expr": "upper(lang)",
         "test": "chi2", "baseline": "b", "alpha": 0.01},
    ])
    bl = str(tmp_path / "baselines.json")
    assert snap_main(["--input", inp, "--spec", spec_path, "--output", bl]) == 0
    with open(bl) as fh:
        counts = json.load(fh)["b"]["counts"]
    assert counts and all(k == k.upper() for k in counts)
    assert val_main(["--input", inp, "--spec", spec_path, "--output", str(tmp_path / "audit"),
                     "--baselines", bl]) == 0


def test_snapshot_without_drift_constraints_errors(spark, tmp_path):
    from jobs.snapshot import main as snap_main

    files = files_table(spark, n_rows=200)
    inp = str(tmp_path / "in.parquet")
    files.write.parquet(inp)
    spec_path = _write_spec(tmp_path, [{"kind": "not_null", "id": "nn", "column": "content"}])
    assert snap_main(["--input", inp, "--spec", spec_path,
                      "--output", str(tmp_path / "b.json")]) == 1


def test_incremental_job_matches_full_run(spark, tmp_path):
    """jobs/validate.py --incremental-prev: the delta-composed verdicts
    parquet equals a full run's verdicts on the mutated snapshot, and
    the CI exit code reflects the composed result."""
    from jobs.validate import main as val_main

    files = files_table(spark, n_rows=3000)
    a_path = str(tmp_path / "a.parquet")
    files.write.parquet(a_path)
    h = F.abs(F.xxhash64("repo", "path", "commit"))
    b = files.filter(h % 31 != 0).withColumn(
        "content", F.when(h % 17 == 0, F.lit(None)).otherwise(F.col("content"))
    )
    b_path = str(tmp_path / "b.parquet")
    b.write.parquet(b_path)
    spec_path = _write_spec(
        tmp_path,
        [
            {"kind": "not_null", "id": "c_nn", "column": "content"},
            {"kind": "unique", "id": "pk", "columns": ["repo", "path", "commit"]},
        ],
    )
    out_a = str(tmp_path / "audit_a")
    out_b_full = str(tmp_path / "audit_b_full")
    out_b_inc = str(tmp_path / "audit_b_inc")
    # full run on A (exit 1 — synthetic table has planted violations)
    assert val_main(["--input", a_path, "--spec", spec_path, "--output", out_a]) == 1
    # full run on B and incremental A->B must agree row-for-row
    assert val_main(["--input", b_path, "--spec", spec_path, "--output", out_b_full]) == 1
    assert val_main([
        "--input", b_path, "--spec", spec_path, "--output", out_b_inc,
        "--incremental-prev", a_path, "--prev-verdicts", out_a + "/verdicts",
    ]) == 1
    full = {
        (r["partition_key"], r["constraint_id"]): (r["violation_count"], r["passed"])
        for r in spark.read.parquet(out_b_full + "/verdicts").collect()
    }
    inc = {
        (r["partition_key"], r["constraint_id"]): (r["violation_count"], r["passed"])
        for r in spark.read.parquet(out_b_inc + "/verdicts").collect()
    }
    assert inc == full and len(inc) == 2


def test_incremental_job_with_state_dir(spark, tmp_path):
    """--write-state-dir on run A, --state-dir on the incremental A->B
    run: composed table-check verdicts equal the full run's, and the
    state round-trips through parquet."""
    from jobs.validate import main as val_main

    files = files_table(spark, n_rows=3000)
    a_path = str(tmp_path / "a.parquet")
    files.write.parquet(a_path)
    h = F.abs(F.xxhash64("repo", "path", "commit"))
    b = files.filter(h % 31 != 0)
    b_path = str(tmp_path / "b.parquet")
    b.write.parquet(b_path)
    spec_path = _write_spec(
        tmp_path,
        [
            {"kind": "not_null", "id": "c_nn", "column": "content"},
            {"kind": "unique", "id": "pk", "columns": ["repo", "path", "commit"]},
            {"kind": "cardinality", "id": "card", "group_by": ["repo"], "min": 1, "max": 2000},
        ],
    )
    out_a = str(tmp_path / "audit_a")
    out_b_full = str(tmp_path / "audit_b_full")
    out_b_inc = str(tmp_path / "audit_b_inc")
    state = str(tmp_path / "state_a")
    assert val_main(["--input", a_path, "--spec", spec_path, "--output", out_a,
                     "--write-state-dir", state]) == 1
    import os as _os
    assert sorted(_os.listdir(state)) == ["card", "pk"]
    assert val_main(["--input", b_path, "--spec", spec_path, "--output", out_b_full]) == 1
    assert val_main([
        "--input", b_path, "--spec", spec_path, "--output", out_b_inc,
        "--incremental-prev", a_path, "--prev-verdicts", out_a + "/verdicts",
        "--state-dir", state,
    ]) == 1
    full = {
        (r["partition_key"], r["constraint_id"]): (r["violation_count"], r["passed"])
        for r in spark.read.parquet(out_b_full + "/verdicts").collect()
    }
    inc = {
        (r["partition_key"], r["constraint_id"]): (r["violation_count"], r["passed"])
        for r in spark.read.parquet(out_b_inc + "/verdicts").collect()
    }
    assert inc == full and len(inc) == 3


def test_incremental_job_reads_state_dir_uri(spark, tmp_path):
    """--state-dir given as a file:// URI is probed through the Hadoop
    FileSystem, so the supplied state is READ: a doctored pk state that
    claims a duplicate the current snapshot does not have surfaces in
    the composed verdict (a full run on B finds no duplicate)."""
    from jobs.validate import main as val_main
    from xsd2json_spark import spec_from_dict
    from xsd2json_spark.engine.incremental import state_of

    doc = {"name": "jobs_uri", "key_columns": ["doc_id"],
           "constraints": [{"kind": "unique", "id": "pk", "columns": ["doc_id"]}]}
    spec_path = str(tmp_path / "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(doc, fh)
    a = spark.range(100).select(F.col("id").alias("doc_id"), F.lit("x").alias("text"))
    a_path, b_path = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    a.write.parquet(a_path)
    a.filter("doc_id < 90").write.parquet(b_path)
    out_a, out_b = str(tmp_path / "audit_a"), str(tmp_path / "audit_b")
    assert val_main(["--input", a_path, "--spec", spec_path, "--output", out_a]) == 0
    pk = spec_from_dict(doc).constraints[0]
    doctored = state_of(a, pk).withColumn(
        "n", F.when(F.col("doc_id") == 5, F.lit(2)).otherwise(F.col("n")).cast("long"))
    doctored.write.parquet(str(tmp_path / "state" / "pk"))
    assert val_main([
        "--input", b_path, "--spec", spec_path, "--output", out_b,
        "--incremental-prev", a_path, "--prev-verdicts", out_a + "/verdicts",
        "--state-dir", "file://" + str(tmp_path / "state"),
    ]) == 1
    inc = {r["constraint_id"]: (r["violation_count"], r["passed"])
           for r in spark.read.parquet(out_b + "/verdicts").collect()}
    assert inc == {"pk": (1, False)}


def test_snapshot_numeric_baseline_of_empty_table_raises_spec_error(spark):
    """A KS baseline over a table with no value of its expr raises a
    SpecError naming the expr, global and grouped alike: a global one
    must not fail with a bare KeyError, and a grouped one must not
    return an empty group map that fails every later group as
    unseen."""
    import pytest

    from jobs.snapshot import build_baselines
    from xsd2json_spark import spec_from_dict
    from xsd2json_spark.spec.constraints import SpecError

    empty = files_table(spark, n_rows=50).limit(0)
    for extra in ({}, {"group_by": ["lang"]}):
        spec = spec_from_dict({
            "name": "empty_t",
            "key_columns": ["repo", "path", "commit"],
            "constraints": [
                {"kind": "drift", "id": "len_drift", "column": "content",
                 "expr": "length(content)", "test": "ks", "baseline": "len_base",
                 "alpha": 0.01, **extra},
            ],
        })
        with pytest.raises(SpecError, match=r"length\(content\)"):
            build_baselines(spark, empty, spec)
