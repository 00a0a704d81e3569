"""Fixture `resume_checkpoint`: kill after bucket k, resume; verdicts
identical to an uninterrupted run; completed buckets not re-processed."""

import pytest
from pyspark.sql import functions as F

from xsd2json_spark.engine.validate import ValidationEngine
from xsd2json_spark.plans.audit import ResumableRunner
from xsd2json_spark.sources.synth import files_table
from xsd2json_spark.spec.constraints import Enum, NotNull, Spec, Unique

SPEC = Spec(
    name="resume_t",
    key_columns=["repo", "path", "commit"],
    constraints=[
        NotNull(id="nn", column="content"),
        Enum(id="en", column="lang", values=["python", "java", "scala", "go", "js", "sql"]),
        Unique(id="uq", columns=["repo", "path", "commit"]),
    ],
)


def _verdict_map(df):
    return {
        (r["partition_key"], r["constraint_id"]): (r["violation_count"], r["passed"])
        for r in df.collect()
    }


def test_crash_and_resume(spark, tmp_path):
    files = files_table(spark, n_rows=4000).cache()
    files.count()

    # ground truth: uninterrupted run
    clean = ResumableRunner(ValidationEngine(spark, SPEC), str(tmp_path / "clean"), run_id="r1", n_buckets=8)
    clean.run(files)
    truth = _verdict_map(clean.global_verdicts())

    # crashing run: dies after bucket 3
    crash_dir = str(tmp_path / "crash")
    runner = ResumableRunner(ValidationEngine(spark, SPEC), crash_dir, run_id="r1", n_buckets=8)
    with pytest.raises(RuntimeError, match="simulated crash"):
        runner.run(files, fail_after_bucket=3)
    done_after_crash = runner.completed_buckets()
    assert 0 < len(done_after_crash) < 8

    # resume: a fresh runner over the same audit dir
    resumed = ResumableRunner(ValidationEngine(spark, SPEC), crash_dir, run_id="r1", n_buckets=8)
    processed = resumed.run(files)
    assert processed == set(range(8)) - done_after_crash  # completed buckets skipped
    assert resumed.completed_buckets() == set(range(8))

    assert _verdict_map(resumed.global_verdicts()) == truth
    # violations identical too (order-insensitive)
    a = clean.global_violations()
    b = resumed.global_violations()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    files.unpersist()


def test_crash_before_manifest_is_idempotent(spark, tmp_path):
    """The nastier crash window: bucket data committed but manifest row
    missing. The resumed run must OVERWRITE the bucket partition (dynamic
    partition overwrite), not append a second copy."""
    files = files_table(spark, n_rows=3000).cache()
    files.count()

    clean = ResumableRunner(ValidationEngine(spark, SPEC), str(tmp_path / "clean"), run_id="r1", n_buckets=4)
    clean.run(files)
    truth = _verdict_map(clean.global_verdicts())
    truth_viol = clean.global_violations().count()

    crash_dir = str(tmp_path / "crash")
    runner = ResumableRunner(ValidationEngine(spark, SPEC), crash_dir, run_id="r1", n_buckets=4)
    with pytest.raises(RuntimeError, match="before manifest"):
        runner.run(files, fail_before_manifest=1)
    # bucket 1's data was written but NOT marked complete
    assert 1 not in runner.completed_buckets()

    resumed = ResumableRunner(ValidationEngine(spark, SPEC), crash_dir, run_id="r1", n_buckets=4)
    processed = resumed.run(files)
    assert 1 in processed  # re-processed, not skipped
    assert _verdict_map(resumed.global_verdicts()) == truth  # no double-count
    assert resumed.global_violations().count() == truth_viol  # no duplicate rows
    files.unpersist()


def test_resume_drift_runs_once_globally(spark, tmp_path):
    """Drift is excluded from the per-bucket loop and evaluated once over
    the full input — identical to a single-shot engine run."""
    from xsd2json_spark.engine.drift import make_categorical_baseline
    from xsd2json_spark.spec.constraints import Drift

    files = files_table(spark, n_rows=2000).cache()
    files.count()
    base = make_categorical_baseline(files, "lang")
    spec = Spec(
        name="resume_drift",
        key_columns=["repo", "path", "commit"],
        constraints=[
            NotNull(id="nn", column="content"),
            Drift(id="lang_drift", column="lang", test="chi2", baseline="b", alpha=0.01),
        ],
    )
    eng = ValidationEngine(spark, spec, baselines={"b": base})
    single = eng.run(files)
    single_drift = {
        (r["partition_key"], r["constraint_id"]): (r["violation_count"], r["passed"])
        for r in single.verdicts.filter(F.col("constraint_id") == "lang_drift").collect()
    }
    single.unpersist()

    runner = ResumableRunner(
        ValidationEngine(spark, spec, baselines={"b": base}),
        str(tmp_path / "drift"), run_id="r1", n_buckets=4,
    )
    runner.run(files)
    gv = runner.global_verdicts()
    drift_rows = gv.filter(F.col("constraint_id") == "lang_drift").collect()
    assert len(drift_rows) == 1  # exactly one global drift verdict, not one per bucket
    got = {(r["partition_key"], r["constraint_id"]): (r["violation_count"], r["passed"]) for r in drift_rows}
    assert got == single_drift
    # self-drift passes
    assert drift_rows[0]["passed"]
    files.unpersist()


def test_audit_applies_max_fail_ratio_like_single_shot(spark, tmp_path):
    """The bucket fold re-derives ``passed`` from the summed counts with
    the engine's verdict rule: a max_fail_ratio constraint that passes a
    single-shot run passes the audit too (and strict ones still fail)."""
    files = files_table(spark, n_rows=4000).cache()
    files.count()
    spec = Spec(
        name="resume_ratio",
        key_columns=["repo", "path", "commit"],
        constraints=[
            # ids divisible by 997 have NULL content: 5 of 4000 rows
            NotNull(id="nn_tol", column="content", max_fail_ratio=0.01),
            Enum(id="en", column="lang", values=["python", "java", "scala", "go", "js", "sql"]),
            Unique(id="uq", columns=["repo", "path", "commit"]),
        ],
    )

    def vmap(df):
        return {
            (r["partition_key"], r["constraint_id"]): (r["violation_count"], r["evaluated_count"], r["passed"])
            for r in df.collect()
        }

    single = ValidationEngine(spark, spec).run(files)
    truth = vmap(single.verdicts)
    single.unpersist()
    assert truth[("ALL", "nn_tol")] == (5, 4000, True)  # tolerated, not clean
    assert not truth[("ALL", "en")][2]

    runner = ResumableRunner(ValidationEngine(spark, spec), str(tmp_path / "ratio"), run_id="r1", n_buckets=4)
    runner.run(files)
    assert vmap(runner.global_verdicts()) == truth
    files.unpersist()


def test_staging_partition_pruning(spark, tmp_path):
    """The per-bucket read is a partition-pruned scan of the staged
    layout (PartitionFilters on __bucket), not a full-table filter."""
    files = files_table(spark, n_rows=2000)
    runner = ResumableRunner(ValidationEngine(spark, SPEC), str(tmp_path / "a"), run_id="r1", n_buckets=4)
    runner.run(files)
    staged = runner._staged()
    plan = staged.filter(F.col("__bucket") == 1)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__bucket" in plan.split("PartitionFilters")[1][:200]
    # staging holds every bucket exactly once
    import os as _os

    bucket_dirs = [d for d in _os.listdir(runner._staging_path) if d.startswith("__bucket=")]
    assert sorted(bucket_dirs) == [f"__bucket={b}" for b in range(4)]


def test_new_run_id_restages_fresh_input(spark, tmp_path):
    """A staged copy is bound to its run_id: a NEW run_id against the
    same audit_dir must re-stage from the live input, not silently
    validate the previous run's stale copy."""
    audit = str(tmp_path / "a")
    clean = files_table(spark, n_rows=1000)
    r1 = ResumableRunner(ValidationEngine(spark, SPEC), audit, run_id="r1", n_buckets=4)
    r1.run(clean)
    nn_before = [v for (pk, cid), v in _verdict_map(r1.global_verdicts()).items() if cid == "nn"][0][0]

    # second run, NEW run_id, input now nulls out far more content rows
    dirty = clean.withColumn(
        "content", F.when(F.xxhash64("path") % 3 == 0, F.lit(None)).otherwise(F.col("content"))
    )
    expected = dirty.filter("content is null").count()
    assert expected > nn_before
    r2 = ResumableRunner(ValidationEngine(spark, SPEC), audit, run_id="r2", n_buckets=4)
    r2.run(dirty)
    nn_after = [v for (pk, cid), v in _verdict_map(r2.global_verdicts()).items() if cid == "nn"][0][0]
    assert nn_after == expected  # new input's nulls seen -> staged copy was refreshed


def test_same_run_id_reuses_staging(spark, tmp_path):
    """Same run_id: the staged copy is reused verbatim (zero re-stage)."""
    import os as _os

    audit = str(tmp_path / "a")
    files = files_table(spark, n_rows=500)
    r1 = ResumableRunner(ValidationEngine(spark, SPEC), audit, run_id="r1", n_buckets=2)
    r1.run(files)
    before = sorted(_os.listdir(_os.path.join(audit, "staging", "__bucket=0")))
    r2 = ResumableRunner(ValidationEngine(spark, SPEC), audit, run_id="r1", n_buckets=2)
    r2.run(files)
    after = sorted(_os.listdir(_os.path.join(audit, "staging", "__bucket=0")))
    assert before == after  # same part files -> not rewritten


def test_staged_input_path_fast_path(spark, tmp_path):
    """An already bucket-partitioned input (the Iceberg
    bucket-partitioned-table shape) skips the staging write entirely and
    produces identical verdicts."""
    import os as _os

    files = files_table(spark, n_rows=2000).cache()
    files.count()

    normal = ResumableRunner(ValidationEngine(spark, SPEC), str(tmp_path / "n"), run_id="r1", n_buckets=4)
    normal.run(files)
    truth = _verdict_map(normal.global_verdicts())

    # pre-bucket the input exactly like staging would (same bucket expr)
    pre = str(tmp_path / "prebucketed")
    (
        files.withColumn("__bucket", normal._bucket_expr())
        .repartition("__bucket")
        .write.partitionBy("__bucket")
        .parquet(pre)
    )
    audit = str(tmp_path / "a")
    fast = ResumableRunner(
        ValidationEngine(spark, SPEC), audit, run_id="r1", n_buckets=4,
        staged_input_path=pre,
    )
    fast.run(files)  # df arg is ignored on the fast path
    assert _verdict_map(fast.global_verdicts()) == truth
    assert not _os.path.exists(_os.path.join(audit, "staging"))  # no staging write
    files.unpersist()


# ---------------------------------------------------------------------------
# checks whose groups span buckets: every repo is distinct and buckets hash
# repo, so a group keyed off path or commit lands in several buckets
# ---------------------------------------------------------------------------

SPAN_CASES = ["uq_span", "card_span", "fd_span", "q_global", "drift_chi2", "q_by_repo", "uq_aligned", "fk", "nn"]


def _span_spec():
    from xsd2json_spark.spec.constraints import (
        Cardinality, Drift, ForeignKey, FunctionalDependency, Quantile,
    )

    return Spec(
        name="resume_span",
        key_columns=["repo"],
        constraints=[
            NotNull(id="nn", column="repo"),
            Unique(id="uq_span", columns=["path", "commit"]),
            Cardinality(id="card_span", group_by=["path"], max=4),
            FunctionalDependency(id="fd_span", determinants=["commit"], dependent="path"),
            Quantile(id="q_global", column="x", p=0.5, min=20, max=21, approx=False),
            Drift(id="drift_chi2", column="lang", test="chi2", baseline="b", alpha=0.01),
            Quantile(id="q_by_repo", column="x", p=0.5, max=38, approx=False, group_by=["repo"]),
            Unique(id="uq_aligned", columns=["repo", "path"]),
            ForeignKey(id="fk", columns=["repo"], ref_table="repos"),
        ],
    )


def _span_engine(spark, files):
    from xsd2json_spark.engine.drift import make_categorical_baseline

    repos = spark.createDataFrame([(f"r{i}",) for i in range(30)], "repo string")
    return ValidationEngine(
        spark, _span_spec(), dims={"repos": repos},
        baselines={"b": make_categorical_baseline(files, "lang")},
    )


def _span_result(verdicts, violations):
    """(verdicts, violation-row multiset) keyed by constraint id."""
    from collections import Counter

    by_id = {
        r["constraint_id"]: (r["partition_key"], r["violation_count"], r["evaluated_count"], r["passed"])
        for r in verdicts.collect()
    }
    rows: dict = {}
    for r in violations.collect():
        rows.setdefault(r["constraint_id"], Counter())[tuple(r)] += 1
    return by_id, rows


@pytest.fixture(scope="module")
def span_files(spark):
    rows = [(f"r{i}", f"p{i % 5}", f"c{i % 3}", float(i), "abc"[i % 3]) for i in range(40)]
    rows += [(None, "p0", "c9", 40.0, "a"), (None, "p0", "c9", 41.0, "b")]  # NULL repo: one bucket
    files = spark.createDataFrame(rows, "repo string, path string, commit string, x double, lang string").cache()
    files.count()
    single = _span_engine(spark, files).run(files)
    truth = _span_result(single.verdicts, single.violations)
    single.unpersist()
    yield files, truth
    files.unpersist()


@pytest.fixture(scope="module")
def span_audit(spark, span_files, tmp_path_factory):
    files, _ = span_files
    audit = str(tmp_path_factory.mktemp("span"))
    runner = ResumableRunner(_span_engine(spark, files), audit, run_id="r1", n_buckets=4)
    runner.run(files)
    return _span_result(runner.global_verdicts(), runner.global_violations())


@pytest.mark.parametrize("cid", SPAN_CASES)
def test_audit_equals_single_shot_when_groups_span_buckets(span_files, span_audit, cid):
    """Unique, cardinality and FD groups keyed off a non-bucket column,
    and quantiles, must not be judged per bucket and summed: each
    check's global verdict and violation rows equal a single-shot run."""
    truth_v, truth_rows = span_files[1]
    got_v, got_rows = span_audit
    assert got_v[cid] == truth_v[cid]
    assert got_rows.get(cid) == truth_rows.get(cid)


def test_span_audit_crash_and_resume_commit_one_global_unit(spark, span_files, tmp_path):
    files, truth = span_files
    audit = str(tmp_path / "span")
    runner = ResumableRunner(_span_engine(spark, files), audit, run_id="r1", n_buckets=4)
    with pytest.raises(RuntimeError, match="simulated crash"):
        runner.run(files, fail_after_bucket=1)
    resumed = ResumableRunner(_span_engine(spark, files), audit, run_id="r1", n_buckets=4)
    assert resumed.run(files) == {2, 3}
    assert resumed.run(files) == set()  # a finished run commits nothing more
    assert _span_result(resumed.global_verdicts(), resumed.global_violations()) == truth
    manifest = spark.read.parquet(f"{audit}/manifest")
    assert manifest.filter(F.col("bucket") == -1).count() == 1
    assert resumed.completed_buckets() == {0, 1, 2, 3}
