"""End-to-end engine tests over the deterministic synthetic files table.

These mirror the reference's facet fixtures (FIXTURES.md) — each
constraint kind gets a pass AND a fail case with exactly countable
injected violations.
"""

import pytest
from pyspark.sql import functions as F

from xsd2json_spark.engine.validate import EngineConfig, ValidationEngine
from xsd2json_spark.sources.synth import FK_MISSING_REPOS, commits_dim, files_table, repos_dim
from xsd2json_spark.spec.constraints import (
    AllOf,
    AnyOf,
    Cardinality,
    Constant,
    Dtype,
    Enum,
    ForeignKey,
    Length,
    NotNull,
    Pattern,
    Range,
    Spec,
    Unique,
)

N = 10_000


@pytest.fixture(scope="module")
def files(spark):
    df = files_table(spark, n_rows=N).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def dims(spark, files):
    return {"repos_dim": repos_dim(spark), "commits_dim": commits_dim(spark, files)}


def _expected_count(modulus, n=N, skip_zero=False):
    c = len(range(0, n, modulus))
    return c - 1 if skip_zero else c


def verdict_map(result):
    return {r["constraint_id"]: r for r in result.verdicts.collect()}


def test_not_null_fixture(spark, files):
    spec = Spec(name="t", key_columns=["repo", "path", "commit"], constraints=[NotNull(id="nn", column="content")])
    res = ValidationEngine(spark, spec).run(files)
    v = verdict_map(res)["nn"]
    # ids 0, 997, 1994, ... have NULL content
    assert v["violation_count"] == _expected_count(997)
    assert not v["passed"]
    assert res.violations.filter(F.col("constraint_id") == "nn").count() == _expected_count(997)


def test_enum_fixture(spark, files):
    spec = Spec(
        name="t",
        key_columns=["repo", "path", "commit"],
        constraints=[Enum(id="lang_enum", column="lang", values=["python", "java", "scala", "go", "js", "sql"])],
    )
    res = ValidationEngine(spark, spec).run(files)
    assert verdict_map(res)["lang_enum"]["violation_count"] == _expected_count(499)


def test_pattern_and_length_fixture(spark, files):
    spec = Spec(
        name="t",
        key_columns=["repo", "path", "commit"],
        constraints=[
            Pattern(id="commit_hex", column="commit", patterns=["[0-9a-f]{40}"]),
            Length(id="commit_len", column="commit", min=40, max=40),
        ],
    )
    res = ValidationEngine(spark, spec).run(files)
    vm = verdict_map(res)
    # 39-char commits fail both the anchored pattern and the exact length
    assert vm["commit_hex"]["violation_count"] == _expected_count(739)
    assert vm["commit_len"]["violation_count"] == _expected_count(739)


def test_pattern_multi_or(spark, files):
    # fixture `pattern_multi_or`: .py OR .java paths; everything else violates
    spec = Spec(
        name="t",
        key_columns=["repo", "path", "commit"],
        constraints=[Pattern(id="p", column="path", patterns=[r".*\.py", r".*\.java"])],
    )
    res = ValidationEngine(spark, spec).run(files)
    expected = files.filter(~(F.col("path").endswith(".py") | F.col("path").endswith(".java"))).count()
    assert verdict_map(res)["p"]["violation_count"] == expected
    assert expected > 0


def test_range_exclusive_on_expr(spark, files):
    # analog of positiveInteger (exclusive min 0) on length(content)
    spec = Spec(
        name="t",
        key_columns=["repo", "path", "commit"],
        constraints=[Range(id="r", column="content", expr="length(content)", min=0, exclusive_min=True)],
    )
    res = ValidationEngine(spark, spec).run(files)
    assert verdict_map(res)["r"]["violation_count"] == 0  # NULLs pass; no empty strings


def test_length_oversize(spark, files):
    spec = Spec(
        name="t",
        key_columns=["repo", "path", "commit"],
        constraints=[Length(id="sz", column="content", min=1, max=65536)],
    )
    res = ValidationEngine(spark, spec).run(files)
    # oversize rows: id % 1499 == 0, but id 0 is NULL (passes), id 4497/8994 also % 997? no:
    expected = files.filter(F.length("content") > 65536).count()
    assert verdict_map(res)["sz"]["violation_count"] == expected
    assert expected > 0


def test_constant_fixture(spark):
    spark_df = repos_dim(spark)
    spec = Spec(name="t", key_columns=["repo"], constraints=[Constant(id="cb", column="default_branch", value="main")])
    res = ValidationEngine(spark, spec).run(spark_df)
    assert verdict_map(res)["cb"]["passed"]
    res2 = ValidationEngine(spark, spec).run(spark_df.withColumn("default_branch", F.lit("trunk")))
    assert not verdict_map(res2)["cb"]["passed"]


def test_dtype_lexical(spark):
    df = spark.createDataFrame(
        [("1",), ("200",), ("-5",), ("abc",), (None,)], schema="x string"
    )
    spec = Spec(name="t", key_columns=["x"], constraints=[Dtype(id="d", column="x", type="unsignedByte")])
    res = ValidationEngine(spark, spec).run(df)
    v = verdict_map(res)["d"]
    # 'abc' fails the cast; '-5' fails implied min 0; NULL passes
    assert v["violation_count"] == 2


def test_allof_anyof(spark, files):
    spec = Spec(
        name="t",
        key_columns=["repo", "path", "commit"],
        constraints=[
            AllOf(
                id="all",
                children=[
                    Length(id="a1", column="commit", min=40, max=40),
                    Pattern(id="a2", column="commit", patterns=["[0-9a-f]+"]),
                ],
            ),
            AnyOf(
                id="any",
                children=[
                    Pattern(id="b1", column="path", patterns=[r".*\.py"]),
                    Pattern(id="b2", column="path", patterns=[r".*\.(java|go|js|scala|sql|cob)"]),
                ],
            ),
        ],
    )
    res = ValidationEngine(spark, spec).run(files)
    vm = verdict_map(res)
    assert vm["all"]["violation_count"] == _expected_count(739)
    assert vm["any"]["violation_count"] == 0


def test_unique_hash_path_matches_groupby_oracle(spark, files):
    """The key-hash unique plan (hash count, then verify on the true key)
    must find exactly the duplicate groups of a plain per-key count."""
    cols = ["repo", "path", "commit"]
    spec = Spec(name="t", key_columns=cols, constraints=[Unique(id="uq", columns=cols)])
    res = ValidationEngine(spark, spec).run(files)
    oracle = (
        files.select(*cols).na.drop(subset=cols)
        .groupBy(*cols).count().filter(F.col("count") > 1)
    )
    n_hash = verdict_map(res)["uq"]["violation_count"]
    assert n_hash == oracle.count()
    got = res.violations.filter(F.col("constraint_id") == "uq").select(*cols)
    want = oracle.select(*[F.col(c).cast("string").alias(c) for c in cols])
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # ids 1009, 2018, ... borrow the previous id's key -> one dup group each
    assert n_hash == _expected_count(1009, skip_zero=True)
    res.unpersist()


def test_fk_broadcast_and_smj_agree(spark, files, dims):
    spec_b = Spec(
        name="t",
        key_columns=["repo", "path", "commit"],
        constraints=[ForeignKey(id="fk", columns=["repo"], ref_table="repos_dim", ref_columns=["repo"], broadcast=True)],
    )
    spec_s = Spec(
        name="t",
        key_columns=["repo", "path", "commit"],
        constraints=[ForeignKey(id="fk", columns=["repo"], ref_table="repos_dim", ref_columns=["repo"], broadcast=False)],
    )
    rb = ValidationEngine(spark, spec_b, dims=dims).run(files)
    rs = ValidationEngine(spark, spec_s, dims=dims).run(files)
    expected = files.filter(F.col("repo").isin(*FK_MISSING_REPOS)).count()
    assert verdict_map(rb)["fk"]["violation_count"] == expected
    assert verdict_map(rs)["fk"]["violation_count"] == expected
    assert expected > 0


def test_fk_composite_key(spark, files, dims):
    spec = Spec(
        name="t",
        key_columns=["repo", "path", "commit"],
        constraints=[ForeignKey(id="fkc", columns=["repo", "commit"], ref_table="commits_dim", ref_columns=["repo", "commit"])],
    )
    res = ValidationEngine(spark, spec, dims=dims).run(files)
    assert verdict_map(res)["fkc"]["violation_count"] > 0


def test_cardinality_fixture(spark, files):
    spec = Spec(
        name="t",
        key_columns=["repo", "path", "commit"],
        constraints=[Cardinality(id="card", group_by=["repo"], min=4, max=5000)],
    )
    res = ValidationEngine(spark, spec).run(files)
    # hot repo_0 holds ~50% of 10k rows -> > 5000 violates max
    viol = res.violations.filter(F.col("constraint_id") == "card")
    assert viol.count() >= 1
    vm = verdict_map(res)
    assert not vm["card"]["passed"]


def test_cardinality_unbounded(spark, files):
    spec = Spec(name="t", key_columns=["repo"], constraints=[Cardinality(id="c", group_by=["repo"], min=1, max=None)])
    res = ValidationEngine(spark, spec).run(files)
    assert verdict_map(res)["c"]["passed"]


def test_partitioned_verdicts(spark, files):
    spec = Spec(
        name="t",
        key_columns=["repo", "path", "commit"],
        partition_by=["lang"],
        constraints=[NotNull(id="nn", column="content")],
    )
    res = ValidationEngine(spark, spec).run(files)
    rows = res.verdicts.collect()
    # one verdict row per lang value (6 valid + cobol)
    assert len(rows) == 7
    assert sum(r["violation_count"] for r in rows) == _expected_count(997)


def test_stats_sketch(spark, files):
    spec = Spec(name="t", key_columns=["repo"], watched_columns=["content", "lang"], constraints=[])
    res = ValidationEngine(spark, spec, config=EngineConfig(exact=True)).run(files)
    stats = {r["column"]: r for r in res.stats.collect()}
    assert stats["content"]["count"] == N
    assert stats["content"]["null_count"] == _expected_count(997)
    assert stats["lang"]["distinct"] == 7
    assert stats["lang"]["min"] == "cobol"


def test_sha256_invariant(spark, files):
    """Per-row invariant (input_hint): sha2(content,256) is stable across
    two independent generations of the same seed."""
    a = files.select("repo", "path", "commit", F.sha2("content", 256).alias("h"))
    b = files_table(spark, n_rows=N).select("repo", "path", "commit", F.sha2("content", 256).alias("h"))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_generation_parallelism_invariant(spark):
    """Same rows regardless of partition count (two-cluster-size rule)."""
    a = files_table(spark, n_rows=2000, partitions=2)
    b = files_table(spark, n_rows=2000, partitions=16)
    assert a.exceptAll(b).count() == 0


def test_single_pass_fused_matches_two_pass(spark):
    """config.fused derives verdict counters, sketch and violation rows
    from one narrow cached scan: same verdicts and violations as the
    two-pass plan, one wide-column scan instead of two."""
    from xsd2json_spark import spec_from_dict
    from xsd2json_spark.sources.synth import files_table, repos_dim

    spec = spec_from_dict({
        "name": "sp",
        "key_columns": ["repo", "path", "commit"],
        "watched_columns": ["content", "lang"],
        "constraints": [
            {"kind": "not_null", "id": "nn", "column": "content"},
            {"kind": "enum", "id": "en", "column": "lang",
             "values": ["python", "java", "scala", "go", "js", "sql"]},
            {"kind": "pattern", "id": "hex", "column": "commit", "pattern": "[0-9a-f]{40}"},
            {"kind": "unique", "id": "uq", "columns": ["repo", "path", "commit"]},
            {"kind": "foreign_key", "id": "fk", "columns": ["repo"],
             "ref_table": "repos_dim", "broadcast": True},
            {"kind": "cardinality", "id": "card", "group_by": ["repo"], "min": 1},
        ],
    })
    files = files_table(spark, n_rows=20_000).cache()
    files.count()
    dims = {"repos_dim": repos_dim(spark)}

    def vmap(res):
        return {
            (r["partition_key"], r["constraint_id"]): (r["violation_count"], r["passed"])
            for r in res.verdicts.collect()
        }

    two = ValidationEngine(spark, spec, dims=dims).run(files)
    one = ValidationEngine(spark, spec, dims=dims, config=EngineConfig(fused=True)).run(files)
    assert vmap(one) == vmap(two)
    a = two.violations
    b = one.violations
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # the single-pass violations plan reads the narrow cache's fail flags
    plan = one.violations._jdf.queryExecution().analyzed().toString()
    assert "__fail_0" in plan
    # stats present with sane values
    st = {r["column"]: r for r in one.stats.collect()}
    assert st["content"]["count"] == 20_000 and st["content"]["null_count"] >= 0
    one.unpersist()
    two.unpersist()
    files.unpersist()


def test_quantile_constraint_bounds_and_groups(spark):
    """Exact percentile with hand-checkable values: [1..10] has
    p50 = 5.5 (linear interpolation). Global and per-group verdicts;
    the run() integration emits a failed verdict row when out of
    bounds; approx mode agrees on this tiny input."""
    from xsd2json_spark import spec_from_dict
    from xsd2json_spark.engine import ValidationEngine
    from xsd2json_spark.spec.constraints import Quantile

    rows = [("a", float(v)) for v in range(1, 11)] + [("b", 100.0), ("b", 200.0)]
    df = spark.createDataFrame(rows, "grp string, x double")
    spec = spec_from_dict({"name": "q", "key_columns": ["grp"], "constraints": []})
    eng = ValidationEngine(spark, spec)

    # global: median of a-group-only frame = 5.5 -> min=6 violates, min=5 passes
    # (approx=False pins exact: a Python createDataFrame has no size
    # stats, so approx=None would auto-pick the GK sketch here)
    a = df.filter("grp = 'a'")
    c_fail = Quantile(id="med", column="x", p=0.5, min=6.0, approx=False)
    c_pass = Quantile(id="med", column="x", p=0.5, min=5.0, approx=False)
    v_fail = eng.quantile_violations(a, c_fail).collect()
    assert len(v_fail) == 1 and v_fail[0]["detail"] == "q0.5=5.500000"
    assert eng.quantile_violations(a, c_pass).collect() == []

    # per-group: only b's median (150) exceeds max=20
    c_grp = Quantile(id="med_g", column="x", p=0.5, max=20.0, group_by=["grp"], approx=False)
    v = eng.quantile_violations(df, c_grp).collect()
    assert [(r["grp"], r["detail"]) for r in v] == [("b", "q0.5=150.000000")]

    # approx (GK sketch) path runs and flags the same group here
    c_apx = Quantile(id="med_a", column="x", p=0.5, max=20.0, group_by=["grp"], approx=True)
    assert {r["grp"] for r in eng.quantile_violations(df, c_apx).collect()} == {"b"}


def test_quantile_approx_auto_dispatch(spark):
    """approx=None (the new default) must resolve per-input: exact on a
    provably-small input, the mergeable GK sketch once Catalyst's size
    estimate crosses QUANTILE_EXACT_MAX_BYTES — resolution reads only
    optimizer stats (no job runs on the trillion-row range)."""
    from xsd2json_spark.engine.validate import (
        QUANTILE_EXACT_MAX_BYTES,
        _resolve_quantile_approx,
    )

    small = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    huge = spark.range(10**12).selectExpr("cast(id as double) as x")
    nostats = spark.createDataFrame([(1.0,)], "x double")  # python-RDD source: no size stats
    assert _resolve_quantile_approx(None, small) is False
    assert _resolve_quantile_approx(None, huge) is True
    assert _resolve_quantile_approx(None, nostats) is True  # unknown -> mergeable
    assert _resolve_quantile_approx(False, huge) is False  # explicit pin wins
    assert _resolve_quantile_approx(True, small) is True
    assert QUANTILE_EXACT_MAX_BYTES > 0


def test_quantile_exact_vs_gk_agreement(spark):
    """The GK-sketch scale path must agree with the exact oracle path at
    the oracle query's percentiles (p90 of n_chars per lang): same
    violating groups, and per-group statistics within 2% (GK at
    accuracy 10^4 over 500 rows returns an exact order statistic
    adjacent to the interpolated exact value)."""
    from xsd2json_spark import spec_from_dict
    from xsd2json_spark.engine import ValidationEngine
    from xsd2json_spark.spec.constraints import Quantile

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        "n_chars IS NOT NULL AND lang IS NOT NULL"
    )
    spec = spec_from_dict({"name": "q", "key_columns": ["doc_id"], "constraints": []})
    eng = ValidationEngine(spark, spec)

    def stats(approx):
        c = Quantile(id="p90", column="n_chars", p=0.9, max=0.0,  # max=0 => every group violates
                     group_by=["lang"], approx=approx)
        return {
            r["lang"]: float(r["detail"].split("=")[1])
            for r in eng.quantile_violations(docs, c).collect()
        }

    exact, gk = stats(False), stats(True)
    assert set(exact) == set(gk) and len(exact) > 0
    for lang, q in exact.items():
        assert abs(gk[lang] - q) <= 0.02 * q, (lang, q, gk[lang])


def test_quantile_constraint_in_full_run(spark):
    """spec_from_dict wires kind='quantile'; run() folds the check into
    the table-level verdict path (violation_count, passed=False)."""
    from xsd2json_spark import spec_from_dict
    from xsd2json_spark.engine import ValidationEngine

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 2), float(i)) for i in range(1, 21)], "id long, grp string, x double"
    )
    spec = spec_from_dict(
        {
            "name": "qrun",
            "key_columns": ["id"],
            "constraints": [
                {"kind": "quantile", "id": "p90_x", "column": "x", "p": 0.9, "max": 5.0,
                 "group_by": ["grp"]},
            ],
        }
    )
    res = ValidationEngine(spark, spec).run(df)
    verd = {r["constraint_id"]: r for r in res.verdicts.collect()}
    assert verd["p90_x"]["violation_count"] == 2  # both groups' p90 > 5
    assert verd["p90_x"]["passed"] is False
    viol = res.violations.filter("constraint_id = 'p90_x'").collect()
    assert len(viol) == 2 and all(v["detail"].startswith("q0.9=") for v in viol)
    res.unpersist()


# ---------------------------------------------------------------------------
# fused single-pass plan (round 5): one codegen'd scan -> narrow cache
# ---------------------------------------------------------------------------


def _fused_spec():
    from xsd2json_spark import spec_from_dict

    return spec_from_dict({
        "name": "fused",
        "key_columns": ["repo", "path", "commit"],
        "watched_columns": ["content", "lang", "length(content)"],
        "constraints": [
            {"kind": "not_null", "id": "nn", "column": "content"},
            {"kind": "enum", "id": "en", "column": "lang",
             "values": ["python", "java", "scala", "go", "js", "sql"]},
            {"kind": "pattern", "id": "hex", "column": "commit", "pattern": "[0-9a-f]{40}"},
            {"kind": "length", "id": "clen", "column": "content", "min": 1, "max": 131072},
            {"kind": "unique", "id": "uq", "columns": ["repo", "path", "commit"]},
            {"kind": "foreign_key", "id": "fk", "columns": ["repo"],
             "ref_table": "repos_dim", "broadcast": True},
            {"kind": "cardinality", "id": "card", "group_by": ["repo"], "min": 1},
        ],
    })


def test_fused_matches_two_pass(spark):
    """EngineConfig.fused caches a narrow derivative of the one wide
    scan; verdicts and violation rows must be EXACTLY those of the
    two-pass plan (the fail flags keep the nullable ~pred semantics),
    and the stats sketch must agree on everything except the HLL
    estimate (hash-of-value vs value: statistically equivalent, bit-
    different), which must stay within HLL tolerance of exact."""
    from xsd2json_spark.sources.synth import files_table, repos_dim

    spec = _fused_spec()
    files = files_table(spark, n_rows=20_000).cache()
    files.count()
    dims = {"repos_dim": repos_dim(spark)}

    two = ValidationEngine(spark, spec, dims=dims, config=EngineConfig(fused=False)).run(files)
    fused = ValidationEngine(spark, spec, dims=dims, config=EngineConfig(fused=True)).run(files)

    def vmap(res):
        return {
            (r["partition_key"], r["constraint_id"]): (r["violation_count"], r["evaluated_count"], r["passed"])
            for r in res.verdicts.collect()
        }

    assert vmap(fused) == vmap(two)
    a, b = two.violations, fused.violations
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    st2 = {r["column"]: r for r in two.stats.collect()}
    stf = {r["column"]: r for r in fused.stats.collect()}
    assert set(st2) == set(stf)
    for col in st2:
        assert stf[col]["count"] == st2[col]["count"]
        assert stf[col]["null_count"] == st2[col]["null_count"]
        assert stf[col]["min"] == st2[col]["min"]
        assert stf[col]["max"] == st2[col]["max"]
        # HLL estimates: hash-of-value vs value are DIFFERENT unbiased
        # estimators (each rsd=0.05, so their gap can reach ~±15% at
        # joint 2σ — measured -9.8% on this very fixture); assert each
        # against the exact cardinality at a 3σ-ish bound instead of
        # against each other
        exact = files.select(F.count_distinct(F.expr(col))).collect()[0][0]
        for est in (st2[col]["distinct"], stf[col]["distinct"]):
            assert abs(est - exact) <= max(0.15 * exact, 5)

    # plan property: the fused violations read the narrow CACHE, not a
    # second parquet/range scan of the fact table
    plan = fused.violations._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    fused.unpersist()
    two.unpersist()
    files.unpersist()


def test_fused_partitioned_spec(spark):
    """Fused supports partition_by: the agg is a plain groupBy over the
    cache, one verdict row per (partition, constraint)."""
    from xsd2json_spark import spec_from_dict
    from xsd2json_spark.sources.synth import files_table

    spec = spec_from_dict({
        "name": "fp", "key_columns": ["repo", "path", "commit"], "partition_by": ["lang"],
        "watched_columns": ["content"],
        "constraints": [
            {"kind": "not_null", "id": "nn", "column": "content"},
            {"kind": "pattern", "id": "hex", "column": "commit", "pattern": "[0-9a-f]{40}"},
        ],
    })
    files = files_table(spark, n_rows=8_000).cache()
    files.count()
    two = ValidationEngine(spark, spec, config=EngineConfig(fused=False)).run(files)
    fused = ValidationEngine(spark, spec, config=EngineConfig(fused=True)).run(files)
    vm = lambda res: {  # noqa: E731
        (r["partition_key"], r["constraint_id"]): (r["violation_count"], r["evaluated_count"])
        for r in res.verdicts.collect()
    }
    assert vm(fused) == vm(two) and len(vm(fused)) > 2
    fused.unpersist()
    two.unpersist()
    files.unpersist()


def test_fused_resolution_rules(spark):
    """Default -> two-pass (measured: the narrow-derivative cache
    round-trip LOSES to a second codegen'd scan on narrow content,
    BENCH/BYTES_PER_ROW.md); fused is an explicit opt-in for wide
    (KB+) content, and even then it falls back for exact-distinct
    runs and row-less specs."""
    from xsd2json_spark import spec_from_dict

    spec = _fused_spec()
    assert not ValidationEngine(spark, spec, config=EngineConfig())._resolve_fused()
    assert ValidationEngine(spark, spec, config=EngineConfig(fused=True))._resolve_fused()
    assert not ValidationEngine(spark, spec, config=EngineConfig(fused=False))._resolve_fused()
    assert not ValidationEngine(
        spark, spec, config=EngineConfig(fused=True, exact=True))._resolve_fused()
    table_only = spec_from_dict({
        "name": "t", "key_columns": ["repo"],
        "constraints": [{"kind": "unique", "id": "uq", "columns": ["repo", "path", "commit"]}],
    })
    assert not ValidationEngine(spark, table_only, config=EngineConfig(fused=True))._resolve_fused()


def test_fused_empty_input(spark):
    """Empty input still yields one vacuous-pass verdict row per
    row-level constraint (grand-aggregate parity with two-pass)."""
    from xsd2json_spark.sources.synth import files_table

    spec = _fused_spec()
    files = files_table(spark, n_rows=1_000).filter("false")
    from xsd2json_spark.sources.synth import repos_dim

    dims = {"repos_dim": repos_dim(spark)}
    res = ValidationEngine(spark, spec, dims=dims, config=EngineConfig(fused=True)).run(files)
    rows = {r["constraint_id"]: r for r in res.verdicts.collect()}
    for cid in ("nn", "en", "hex", "clen"):
        assert rows[cid]["violation_count"] == 0 and rows[cid]["passed"] is True
        assert rows[cid]["evaluated_count"] == 0
    assert res.violations.count() == 0
    res.unpersist()


# ---------------------------------------------------------------------------
# FunctionalDependency + max_fail_ratio (round 5, Deequ-parity extensions)
# ---------------------------------------------------------------------------


def test_functional_dependency_fixture(spark):
    from xsd2json_spark.spec.constraints import FunctionalDependency

    rows = [
        # code -> name: US consistent, DE inconsistent (2 values),
        # FR has one value + NULLs (consistent: NULL dependents pass),
        # NULL determinant group with 2 values (a group like any other)
        ("US", "United States"), ("US", "United States"),
        ("DE", "Germany"), ("DE", "Deutschland"),
        ("FR", "France"), ("FR", None), ("FR", None),
        (None, "x"), (None, "y"),
    ]
    df = spark.createDataFrame(rows, "code string, name string")
    spec = Spec(
        name="t", key_columns=["code"],
        constraints=[FunctionalDependency(id="fd", determinants=["code"], dependent="name")],
    )
    res = ValidationEngine(spark, spec).run(df)
    vm = verdict_map(res)
    assert not vm["fd"]["passed"]
    assert vm["fd"]["violation_count"] == 2  # DE group + NULL group
    viol = {r["code"]: r["detail"] for r in res.violations.filter(F.col("constraint_id") == "fd").collect()}
    assert set(viol) == {"DE", None}
    assert viol["DE"] == "n_values=2 range=Deutschland..Germany"
    res.unpersist()

    # consistent table -> pass with zero violation rows
    ok = spark.createDataFrame([("US", "A"), ("US", "A"), ("DE", None)], "code string, name string")
    res2 = ValidationEngine(spark, spec).run(ok)
    assert verdict_map(res2)["fd"]["passed"]
    assert res2.violations.filter(F.col("constraint_id") == "fd").count() == 0
    res2.unpersist()


def test_functional_dependency_expr_and_single_pass(spark):
    """Dependent may be an expression; two-pass and fused single-pass
    agree (FD is a table-level check in both plans)."""
    from xsd2json_spark.spec.constraints import FunctionalDependency, NotNull

    rows = [(1, "aa"), (1, "bb"), (2, "cc"), (2, "dd"), (3, "e")]
    df = spark.createDataFrame(rows, "k int, s string")
    spec = Spec(
        name="t", key_columns=["k"],
        constraints=[
            NotNull(id="nn", column="s"),
            FunctionalDependency(id="fdlen", determinants=["k"], dependent="length(s)"),
        ],
    )
    two = ValidationEngine(spark, spec).run(df)
    one = ValidationEngine(spark, spec, config=EngineConfig(fused=True)).run(df)
    # length(s): k=1 -> {2}, k=2 -> {2}, k=3 -> {1} => all consistent
    assert verdict_map(two)["fdlen"]["passed"]
    assert verdict_map(one)["fdlen"]["passed"]
    two.unpersist(); one.unpersist()


def test_max_fail_ratio_verdict_policy(spark, files):
    """Ratio-tolerant verdicts: the same violation counts flip passed
    at the documented boundary; violation ROWS are unaffected."""
    # content_nn: ids divisible by 997 have NULL content -> 11 of 10000
    base = dict(id="nn", column="content")
    strict = Spec(name="t", key_columns=["repo"], constraints=[NotNull(**base)])
    loose = Spec(name="t", key_columns=["repo"],
                 constraints=[NotNull(**base, max_fail_ratio=0.01)])
    tight = Spec(name="t", key_columns=["repo"],
                 constraints=[NotNull(**base, max_fail_ratio=0.0005)])
    r_strict = ValidationEngine(spark, strict).run(files)
    r_loose = ValidationEngine(spark, loose).run(files)
    r_tight = ValidationEngine(spark, tight).run(files)
    n = verdict_map(r_strict)["nn"]["violation_count"]
    assert n > 0
    assert not verdict_map(r_strict)["nn"]["passed"]
    assert n / N <= 0.01
    assert verdict_map(r_loose)["nn"]["passed"]          # tolerance covers the rate
    assert not verdict_map(r_tight)["nn"]["passed"]      # tolerance below the rate
    # evidence identical across policies
    assert (r_loose.violations.filter(F.col("constraint_id") == "nn").count()
            == r_strict.violations.filter(F.col("constraint_id") == "nn").count() == n)
    for r in (r_strict, r_loose, r_tight):
        r.unpersist()


def test_max_fail_ratio_exact_boundary_and_single_pass(spark):
    """passed iff violations <= ratio * evaluated, inclusive; fused
    single-pass applies the same policy."""
    rows = [(i, None if i < 2 else "v") for i in range(10)]
    df = spark.createDataFrame(rows, "id int, v string")
    at = Spec(name="t", key_columns=["id"],
              constraints=[NotNull(id="nn", column="v", max_fail_ratio=0.2)])
    below = Spec(name="t", key_columns=["id"],
                 constraints=[NotNull(id="nn", column="v", max_fail_ratio=0.19)])
    assert verdict_map(ValidationEngine(spark, at).run(df))["nn"]["passed"]
    assert not verdict_map(ValidationEngine(spark, below).run(df))["nn"]["passed"]
    sp = EngineConfig(fused=True)
    assert verdict_map(ValidationEngine(spark, at, config=sp).run(df))["nn"]["passed"]
    assert not verdict_map(ValidationEngine(spark, below, config=sp).run(df))["nn"]["passed"]


def test_single_pass_clean_table_regression(spark):
    """Regression: a violation-FREE single-pass run must still report
    its verdict counters (evaluated_count included) and an empty
    violations table — the common production case. An empty violation
    scan must not take the counters with it."""
    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k int, s string")
    spec = Spec(
        name="t", key_columns=["k"],
        constraints=[
            NotNull(id="nn", column="s"),
            Unique(id="uq", columns=["k"]),
        ],
    )
    res = ValidationEngine(spark, spec, config=EngineConfig(fused=True)).run(df)
    vm = verdict_map(res)
    assert vm["nn"]["passed"] and vm["nn"]["evaluated_count"] == 100
    assert vm["uq"]["passed"]
    assert res.violations.count() == 0
    res.unpersist()
