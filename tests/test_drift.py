"""Drift checks: pure-math kernels against known values, then the
Spark-side chi2/KS paths with shifted vs unshifted snapshots."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from xsd2json_spark.engine import ValidationEngine
from xsd2json_spark.engine.drift import (
    drift_verdicts_over_counts,
    ks_verdicts_over_bins,
    make_categorical_baseline,
    make_numeric_baseline,
)
from xsd2json_spark.engine.incremental import state_of
from xsd2json_spark.engine.stats_math import chi2_sf, gammainc_q, ks_pvalue
from xsd2json_spark.sources.synth import files_table
from xsd2json_spark.spec.constraints import Drift, Spec


def test_chi2_sf_known_values():
    # chi2 sf reference values (scipy.stats.chi2.sf ground truth)
    assert math.isclose(chi2_sf(3.841458820694124, 1), 0.05, rel_tol=1e-9)
    assert math.isclose(chi2_sf(15.086272469388987, 5), 0.01, rel_tol=1e-9)
    assert math.isclose(chi2_sf(0.0, 3), 1.0)
    assert chi2_sf(1000.0, 2) < 1e-100


def test_gammainc_q_complement():
    for a, x in [(0.5, 0.3), (2.0, 1.0), (5.0, 10.0), (10.0, 3.0)]:
        q = gammainc_q(a, x)
        assert 0.0 <= q <= 1.0


def test_ks_pvalue_behaviour():
    assert ks_pvalue(0.0, 100, 100) == 1.0
    assert ks_pvalue(0.5, 1000, 1000) < 1e-10
    p_small = ks_pvalue(0.05, 100, 100)
    p_big = ks_pvalue(0.05, 10000, 10000)
    assert p_big < p_small  # same D, more data -> more significant


def test_gammainc_q_exponential_identity():
    # closed form Q(1, x) = exp(-x) — an analytic anchor, not a self-test
    for x in (0.1, 0.5, 1.0, 2.5, 7.0):
        assert math.isclose(gammainc_q(1.0, x), math.exp(-x), rel_tol=1e-10)


def test_chi2_sf_published_table_values():
    # standard chi-square critical values (any stats table / scipy):
    # P[X2_dof >= crit] = alpha
    table = [
        (5.991464547107979, 2, 0.05),
        (7.814727903251179, 3, 0.05),
        (18.307038053275146, 10, 0.05),
        (6.6348966010212145, 1, 0.01),
        (2.705543454095404, 1, 0.10),
    ]
    for crit, dof, alpha in table:
        assert math.isclose(chi2_sf(crit, dof), alpha, rel_tol=1e-8)


def test_ks_pvalue_published_critical_values():
    """Kolmogorov distribution critical values (Smirnov asymptotics):
    Q_KS(1.224)~0.100, Q_KS(1.358)~0.050, Q_KS(1.628)~0.010. At large
    effective n the p-value depends only on lambda ~= sqrt(ne)*d."""
    ne_sqrt = 1000.0  # n1 = n2 = 2e6 -> ne = 1e6
    n = 2_000_000
    for lam, alpha in [(1.224, 0.100), (1.358, 0.050), (1.628, 0.010)]:
        d = lam / (ne_sqrt + 0.12 + 0.11 / ne_sqrt)
        assert math.isclose(ks_pvalue(d, n, n), alpha, abs_tol=2e-3)


def _key(r, c):
    return r["group_key"] if c.group_by else "ALL"


def chi2_read(state, c, base):
    """(group_key, statistic, p) rows of chi2 check ``c`` read off its
    count state by the one chi2 reader; p = chi2_sf(statistic, dof),
    and 0 for a group with no statistic (unseen or vanished: it fails)."""
    v = drift_verdicts_over_counts(state, "__cat", base, c.group_by, window_cols=(), alpha=c.alpha)
    return [
        (_key(r, c), r["statistic"], 0.0 if r["statistic"] is None else chi2_sf(r["statistic"], r["dof"]))
        for r in v.collect()
    ]


def ks_read(state, c, base):
    """(group_key, D, p) rows of KS check ``c`` read off its bin-count
    state by the one KS reader; p = ks_pvalue(D, n_base, n_cur) with
    the group's own baseline n, and 0 for a group with no D."""
    v = ks_verdicts_over_bins(state, base, window_cols=(), alpha=c.alpha, group_by=c.group_by)

    def row(r):
        key, d = _key(r, c), r["d_statistic"]
        if d is None:
            return key, d, 0.0
        gbase = base["groups"][key] if c.group_by else base
        return key, d, ks_pvalue(d, gbase["n"], r["n_cur"])

    return [row(r) for r in v.collect()]


@pytest.fixture(scope="module")
def files(spark):
    df = files_table(spark, n_rows=5000).cache()
    df.count()
    return df


def test_chi2_no_drift(spark, files):
    base = make_categorical_baseline(files, "lang")
    c = Drift(id="d", column="lang", test="chi2", baseline="b", alpha=0.01)
    [(_, stat, p)] = chi2_read(state_of(files, c), c, base)
    assert p > 0.99  # identical distribution


def test_chi2_drift_detected(spark, files):
    base = make_categorical_baseline(files, "lang")
    shifted = files.withColumn(
        "lang", F.when(F.col("lang") == "python", F.lit("java")).otherwise(F.col("lang"))
    )
    c = Drift(id="d", column="lang", test="chi2", baseline="b", alpha=0.01)
    [(_, stat, p)] = chi2_read(state_of(shifted, c), c, base)
    assert p < 0.01


def oracle_ecdf(values, grid):
    """numpy ECDF of the non-NULL, non-NaN values at each grid point."""
    v = np.array([x for x in values if x is not None], dtype="float64")
    v = v[~np.isnan(v)]
    return [float((v <= q).mean()) for q in grid]


def oracle_d(values, grid, ecdf):
    """Grid KS D by brute force: max_i |mean(v <= grid[i]) - ecdf[i]|."""
    return max(abs(e - b) for e, b in zip(oracle_ecdf(values, grid), ecdf))


def _lengths(df):
    return [r[0] for r in df.selectExpr("length(content)").collect()]


def test_ks_no_drift(spark, files):
    base = make_numeric_baseline(files, "length(content)")
    c = Drift(id="d", column="content", expr="length(content)", test="ks", baseline="b", alpha=0.01)
    [(_, d, p)] = ks_read(state_of(files, c, {"b": base}), c, base)
    assert d < 0.01 and p > 0.5
    assert base["ecdf"] == oracle_ecdf(_lengths(files), base["grid"])
    assert d == oracle_d(_lengths(files), base["grid"], base["ecdf"])


def test_ks_drift_detected(spark, files):
    base = make_numeric_baseline(files, "length(content)")
    shifted = files.withColumn("content", F.concat(F.col("content"), F.repeat(F.lit("pad"), 50)))
    c = Drift(id="d", column="content", expr="length(content)", test="ks", baseline="b", alpha=0.01)
    [(_, d, p)] = ks_read(state_of(shifted, c, {"b": base}), c, base)
    assert d > 0.3 and p < 1e-6
    assert d == oracle_d(_lengths(shifted), base["grid"], base["ecdf"])


def test_drift_inside_engine(spark, files):
    base = {"lang_base": make_categorical_baseline(files, "lang")}
    spec = Spec(
        name="t",
        key_columns=["repo", "path", "commit"],
        constraints=[Drift(id="drift_lang", column="lang", test="chi2", baseline="lang_base", alpha=0.01)],
    )
    res = ValidationEngine(spark, spec, baselines=base).run(files)
    vm = {r["constraint_id"]: r for r in res.verdicts.collect()}
    assert vm["drift_lang"]["passed"]


# ---------------------------------------------------------------------------
# per-group drift (SURVEY §4.3)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def grouped(spark):
    df = spark.range(4000).select(
        F.when(F.col("id") % 2 == 0, "g1").otherwise("g2").alias("g"),
        F.when(F.col("id") % 5 < 3, "x").otherwise("y").alias("cat"),
        (F.col("id") % 100).cast("double").alias("v"),
    ).cache()
    df.count()
    return df


def test_chi2_drift_by_group(spark, grouped):
    base = make_categorical_baseline(grouped, "cat", group_by=["g"])
    c = Drift(id="d", column="cat", test="chi2", baseline="b", alpha=0.01, group_by=["g"])
    res = chi2_read(state_of(grouped, c), c, base)
    assert len(res) == 2 and all(p > 0.9 for _, _, p in res)  # self-drift passes per group

    # shift ONLY g2's category mix: g1 must still pass, g2 must fail
    shifted = grouped.withColumn(
        "cat", F.when((F.col("g") == "g2") & (F.col("cat") == "x"), "y").otherwise(F.col("cat"))
    )
    by = {k: p for k, _, p in chi2_read(state_of(shifted, c), c, base)}
    assert by["g1"] > 0.9 and by["g2"] < 0.01


def _group_values(df, g):
    return [r[0] for r in df.filter(F.col("g") == g).select("v").collect()]


def test_ks_drift_by_group(spark, grouped):
    """Per-group KS reads the per-group bin-count state: each group's D
    equals the numpy oracle against that group's own grid, and only
    the shifted group fails."""
    base = make_numeric_baseline(grouped, "v", group_by=["g"])
    c = Drift(id="d", column="v", test="ks", baseline="b", alpha=0.01, group_by=["g"])
    assert state_of(grouped, c, {"b": base}).columns == ["g", "__bin", "n"]
    for g, gbase in base["groups"].items():
        assert gbase["ecdf"] == oracle_ecdf(_group_values(grouped, g), gbase["grid"])
    res = {k: p for k, _, p in ks_read(state_of(grouped, c, {"b": base}), c, base)}
    assert set(res) == {"g1", "g2"} and all(p > 0.5 for p in res.values())

    shifted = grouped.withColumn(
        "v", F.when(F.col("g") == "g2", F.col("v") + 50.0).otherwise(F.col("v"))
    )
    got = ks_read(state_of(shifted, c, {"b": base}), c, base)
    for g, d, _ in got:
        gbase = base["groups"][g]
        assert d == oracle_d(_group_values(shifted, g), gbase["grid"], gbase["ecdf"])
    by = {k: p for k, _, p in got}
    assert by["g1"] > 0.5 and by["g2"] < 0.01


def test_unseen_group_counts_as_drift(spark, grouped):
    """A group absent from the baseline fails with p = 0 (not a crash,
    not a dropped row), for chi2 and KS; the baseline's own group still
    passes."""
    only_g1 = grouped.filter("g = 'g1'")
    c = Drift(id="d", column="cat", test="chi2", baseline="b", alpha=0.01, group_by=["g"])
    cbase = make_categorical_baseline(only_g1, "cat", group_by=["g"])
    ck = Drift(id="d", column="v", test="ks", baseline="b", alpha=0.01, group_by=["g"])
    nbase = make_numeric_baseline(only_g1, "v", group_by=["g"])
    for got in (
        chi2_read(state_of(grouped, c), c, cbase),
        ks_read(state_of(grouped, ck, {"b": nbase}), ck, nbase),
    ):
        by = {k: p for k, _, p in got}
        assert by["g2"] == 0.0 and by["g1"] > 0.5


def test_drift_by_group_inside_engine(spark, grouped):
    base = make_categorical_baseline(grouped, "cat", group_by=["g"])
    spec = Spec(
        name="s", key_columns=["g"],
        constraints=[Drift(id="dg", column="cat", test="chi2", baseline="b",
                           alpha=0.01, group_by=["g"])],
    )
    eng = ValidationEngine(spark, spec, baselines={"b": base})
    res = eng.run(grouped)
    rows = res.verdicts.filter(F.col("constraint_id") == "dg").collect()
    assert {r["partition_key"] for r in rows} == {"g1", "g2"}
    assert all(r["passed"] for r in rows)
    res.unpersist()


def test_vanished_group_counts_as_drift(spark, grouped):
    """A group present in the BASELINE but absent from the current data
    must emit a fail row (population vanished = drift), for chi2 and KS."""
    only_g1 = grouped.filter("g = 'g1'")
    cbase = make_categorical_baseline(grouped, "cat", group_by=["g"])
    c = Drift(id="d", column="cat", test="chi2", baseline="b", alpha=0.01, group_by=["g"])
    by = {k: p for k, _, p in chi2_read(state_of(only_g1, c), c, cbase)}
    assert by["g2"] == 0.0 and by["g1"] > 0.9

    nbase = make_numeric_baseline(grouped, "v", group_by=["g"])
    ck = Drift(id="d", column="v", test="ks", baseline="b", alpha=0.01, group_by=["g"])
    got = ks_read(state_of(only_g1, ck, {"b": nbase}), ck, nbase)
    byk = {k: p for k, _, p in got}
    assert byk["g2"] == 0.0 and byk["g1"] > 0.5
    g1 = nbase["groups"]["g1"]
    assert {k: d for k, d, _ in got}["g1"] == oracle_d(_group_values(only_g1, "g1"), g1["grid"], g1["ecdf"])


def test_group_key_escaping_distinguishes_collisions():
    """('a|b','c') vs ('a','b|c') and NULL vs 'None' must produce
    DISTINCT keys (a raw '|'.join silently merges their distributions)."""
    from xsd2json_spark.engine.drift import group_key

    assert group_key(["a|b", "c"]) != group_key(["a", "b|c"])
    assert group_key([None]) != group_key(["None"])
    assert group_key(["a\\|b"]) != group_key(["a|b"])
    assert group_key(["g1"]) == "g1"  # plain single keys stay natural


def test_group_key_col_matches_group_key(spark):
    """The in-plan key equals the driver-side one on separators and
    backslashes, NULL, int and boolean values, alone and as a
    two-column key; a double group key is refused."""
    from xsd2json_spark.engine.drift import group_key, group_key_col
    from xsd2json_spark.spec.constraints import SpecError

    df = spark.createDataFrame(
        [("a|b", 1, True, 1.5), ("a\\|b", -7, False, 2.0), ("x\\", None, None, None),
         (None, 42, True, 0.0), ("None", 0, None, 1.0), ("plain", 3, False, 3.0)],
        "s string, i int, b boolean, d double",
    )
    for cols in (["s"], ["i"], ["b"], ["s", "i"], ["i", "b"]):
        got = df.select(group_key_col(df, cols, "d").alias("k"), *cols).collect()
        assert [r["k"] for r in got] == [group_key([r[x] for x in cols]) for r in got], cols
    with pytest.raises(SpecError, match="drift ksd: group key 'd'"):
        group_key_col(df, ["s", "d"], "ksd")


def chi2_stat(observed: dict, expected_probs: dict) -> "tuple[float, int]":
    """Oracle: Pearson chi-square of observed category counts against
    expected probabilities. Categories present in either side are
    included (missing observed -> 0; missing expected -> small epsilon
    prob)."""
    n = sum(observed.values())
    if n == 0:
        return 0.0, max(1, len(expected_probs) - 1)
    cats = set(observed) | set(expected_probs)
    total_p = sum(expected_probs.get(c, 0.0) for c in cats)
    eps = 1e-9
    stat = 0.0
    for c in cats:
        p = expected_probs.get(c, 0.0)
        p = max(p / total_p if total_p > 0 else 0.0, eps)
        e = n * p
        o = observed.get(c, 0)
        stat += (o - e) ** 2 / e
    return stat, max(1, len(cats) - 1)


def test_chi2_statistic_over_counts_matches_driver_side(spark, files):
    """The fully in-plan statistic equals the driver-side chi2_stat
    oracle on the same observed/baseline counts."""
    from xsd2json_spark.engine.drift import chi2_statistic_over_counts, make_categorical_baseline

    base_counts = make_categorical_baseline(files, "lang")["counts"]
    base_df = files.sparkSession.createDataFrame(
        [(k, v) for k, v in base_counts.items()], "lang string, n long"
    )
    shifted = files.withColumn(
        "lang", F.when(F.col("lang") == "python", F.lit("java")).otherwise(F.col("lang"))
    )
    c = Drift(id="d", column="lang", test="chi2", baseline="b")
    counts = state_of(shifted, c).withColumnRenamed("__cat", "lang")
    row = chi2_statistic_over_counts(counts, "lang", base_df, window_cols=()).collect()[0]
    total = sum(base_counts.values())
    probs = {k: v / total for k, v in base_counts.items()}
    observed = {
        r["lang"]: r["n"]
        for r in shifted.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
        if r["lang"] is not None and r["n"] > 0
    }
    stat, dof = chi2_stat(observed, probs)
    assert math.isclose(row["statistic"], stat, rel_tol=1e-9)
    assert row["dof"] == dof


def test_chi2_statistic_over_counts_by_window(spark, grouped):
    """One distributed statistic row per window (here each group's
    counts against one global baseline); self-baseline is ~0, a
    per-group shift moves only that group's statistic."""
    from xsd2json_spark.engine.drift import chi2_statistic_over_counts

    base_df = grouped.groupBy("cat").agg(F.count(F.lit(1)).alias("n"))

    def stats(df):
        counts = df.groupBy("g", "cat").agg(F.count(F.lit(1)).alias("n"))
        return {r["g"]: r for r in chi2_statistic_over_counts(counts, "cat", base_df, window_cols=["g"]).collect()}

    rows = stats(grouped)
    assert set(rows) == {"g1", "g2"}
    assert all(r["statistic"] < 1.0 for r in rows.values())

    shifted = grouped.withColumn(
        "cat", F.when((F.col("g") == "g2") & (F.col("cat") == "x"), "y").otherwise(F.col("cat"))
    )
    srows = stats(shifted)
    assert srows["g1"]["statistic"] < 1.0 and srows["g2"]["statistic"] > 100.0


def test_chi2_crit_published_values():
    from xsd2json_spark.engine.stats_math import chi2_crit, chi2_sf

    for dof, alpha, crit in [
        (1, 0.05, 3.841458820694124),
        (2, 0.05, 5.991464547107979),
        (10, 0.05, 18.307038053275146),
        (1, 0.01, 6.6348966010212145),
    ]:
        got = chi2_crit(dof, alpha)
        assert math.isclose(got, crit, rel_tol=1e-6)
        assert math.isclose(chi2_sf(got, dof), alpha, rel_tol=1e-6)


def test_ks_verdicts_over_bins_matches_oracle(spark, files):
    """The in-plan D over the bin-count state, read as the engine reads
    it and with an explicit window key, equals the numpy oracle
    (bit-exact: ECDF terms are integer ratios), globally and per group
    carried as a ``by`` key."""
    base = make_numeric_baseline(files, "length(content)")
    c = Drift(id="d", column="content", expr="length(content)", test="ks", baseline="b", alpha=0.01)
    shifted = files.withColumn("content", F.concat(F.col("content"), F.repeat(F.lit("pad"), 10)))
    [(_, d, _)] = ks_read(state_of(shifted, c, {"b": base}), c, base)
    row = ks_verdicts_over_bins(state_of(shifted, c, {"b": base}), base, window_cols=()).collect()[0]
    assert row["d_statistic"] == d == oracle_d(_lengths(shifted), base["grid"], base["ecdf"])
    assert row["n_cur"] == shifted.filter("content is not null").count()

    # grouped: shift only one lang's lengths; only that group's D moves
    by_lang = files.withColumn(
        "content",
        F.when(F.col("lang") == "python", F.concat(F.col("content"), F.repeat(F.lit("x"), 80)))
        .otherwise(F.col("content")),
    )
    grouped = ks_verdicts_over_bins(
        state_of(by_lang, c, {"b": base}, by=["lang"]), base, window_cols=["lang"]
    ).collect()
    by = {r["lang"]: r["d_statistic"] for r in grouped}
    for lang, got in by.items():
        assert got == oracle_d(_lengths(by_lang.filter(F.col("lang") == lang)), base["grid"], base["ecdf"])
    # java's D vs the GLOBAL baseline is ~0.13 (per-lang length mixes
    # differ a little by construction); the shifted group is ~1.0
    assert by["python"] > 0.5 and by["java"] < 0.2


INF = float("inf")
KS_EDGE_CASES = {
    # (current values, grid) — the baseline ECDF is a fixed ramp
    "values_on_grid_points": ([0.0, 1.0, 1.0, 2.0, 3.0, 4.0, 4.0, 5.0, 2.5], [0.0, 1.0, 2.0, 3.0, 4.0]),
    "repeated_grid_points": ([1.0, 1.0, 2.0, 2.0, 2.0, 3.0, 0.5, 9.0], [1.0, 1.0, 2.0, 2.0, 2.0, 3.0]),
    "nan_and_null": ([float("nan"), 1.0, None, 2.0, float("nan"), 3.0, 0.0], [0.0, 1.0, 2.0, 3.0]),
    "infinities": ([-INF, INF, INF, 1.0, 2.0, -5.0, 7.0], [-INF, 0.0, 1.0, 2.0, INF]),
}


@pytest.mark.parametrize("case", sorted(KS_EDGE_CASES))
def test_ks_d_matches_oracle_on_edge_values(spark, case):
    """KS D over state_of (the reader as the engine and as a query call
    it) equals the numpy oracle on
    values equal to grid points, repeated grid points, NaN/NULL (not
    values: dropped) and +-inf; make_numeric_baseline's ECDF and n
    equal the oracle's at its own grid."""
    values, grid = KS_EDGE_CASES[case]
    ecdf = [(i + 1) / (len(grid) + 1) for i in range(len(grid))]
    baseline = {"kind": "numeric", "n": 50, "grid": grid, "ecdf": ecdf}
    df = spark.createDataFrame([(x,) for x in values], "x double")
    c = Drift(id="ks", column="x", test="ks", baseline="b")
    bins = state_of(df, c, {"b": baseline})
    want = oracle_d(values, grid, ecdf)
    [(_, d, _)] = ks_read(bins, c, baseline)
    row = ks_verdicts_over_bins(bins, baseline, window_cols=()).collect()[0]
    assert d == want and row["d_statistic"] == want
    n_kept = sum(1 for x in values if x is not None and not math.isnan(x))
    assert row["n_cur"] == n_kept

    own = make_numeric_baseline(df, "x", grid_points=3)
    assert own["n"] == n_kept
    assert own["ecdf"] == oracle_ecdf(values, own["grid"])


def test_per_group_ks_grid_lookup_is_exact(spark):
    """Each row of a per-group KS state finds its group's grid in the
    literal map: group keys with a quote, a backslash and a pipe find
    their own grid, the grid points stay bit-exact (+-inf, repeated
    points, 0.1 + 0.2, the smallest subnormal), and a group the
    baseline lacks gets UNSEEN_GROUP_BIN."""
    from collections import Counter

    from xsd2json_spark.engine.drift import UNSEEN_GROUP_BIN, group_key

    grids = {"it's": [-INF, 0.0, 0.0, 1.5, INF], "a\\b|c": [0.1 + 0.2, 2.0], "x": [5e-324, 1e300]}
    values = [-5.0, 0.0, 0.3, 0.1 + 0.2, 1.5, 2.0, INF, 1e300, 5e-324]
    rows = [(g, v) for g in [*grids, "unseen"] for v in values]
    baseline = {"kind": "numeric_by", "group_by": ["g"], "groups": {
        group_key([g]): {"grid": grid, "ecdf": [0.5] * len(grid), "n": 10} for g, grid in grids.items()}}
    c = Drift(id="ks", column="x", test="ks", baseline="b", group_by=["g"])
    df = spark.createDataFrame(rows, "g string, x double")
    got = sorted(tuple(r) for r in state_of(df, c, {"b": baseline}).collect())
    want = Counter((g, sum(q < v for q in grids[g]) if g in grids else UNSEEN_GROUP_BIN) for g, v in rows)
    assert got == sorted((g, b, n) for (g, b), n in want.items())


def test_chi2_verdicts_over_counts_beyond_128_categories(spark):
    """The critical-value table covers the baseline's largest per-group
    category count: a 150-category baseline still gets one verdict row
    per (window, group), passing for identical counts and failing for a
    shifted mix."""
    from xsd2json_spark.engine.drift import drift_verdicts_over_counts

    cats = ["c%d" % i for i in range(150)]
    base = spark.createDataFrame(
        [(g, cat, 10) for g in ("g1", "g2") for cat in cats] + [("g1", "extra", 10)],
        "g string, cat string, n long",
    )
    counts = spark.createDataFrame(
        [("w", "g1", cat, 10) for cat in cats + ["extra"]]
        + [("w", "g2", cat, 40 if i < 10 else 2) for i, cat in enumerate(cats)],
        "window string, g string, cat string, n long",
    )
    rows = {r["g"]: r for r in drift_verdicts_over_counts(counts, "cat", base, group_by=["g"]).collect()}
    assert sorted(rows) == ["g1", "g2"]
    assert rows["g1"]["dof"] == 150 and rows["g1"]["passed"] and rows["g1"]["statistic"] == 0.0
    assert rows["g2"]["dof"] == 149 and not rows["g2"]["passed"]


def _psi_rows(cur, base, window_cols=("scenario",)):
    """PSI rows of ``cur``'s (window..., lang) rows against ``base``,
    read by the in-plan reader off per-window counts, keyed by scenario
    ("ALL" without a window)."""
    from xsd2json_spark.engine.drift import psi_statistic_over_counts

    counts = cur.groupBy(*window_cols, "lang").agg(F.count(F.lit(1)).alias("n"))
    rows = psi_statistic_over_counts(counts, "lang", base, window_cols=window_cols).collect()
    return {r["scenario"] if window_cols else "ALL": r for r in rows}


def test_psi_statistic_hand_computed(spark):
    """PSI against hand-computed values: baseline 50/50, current 80/20
    -> psi = 0.3*ln(1.6) - 0.3*ln(0.4) = 0.415888...; self -> 0; a
    VANISHED category is clipped to eps and contributes the large
    finite penalty that flags disappearance (the failure mode per-group
    chi2 needed the spine for)."""
    import math

    base = spark.createDataFrame([("a", 50), ("b", 50)], "lang string, n long")
    cur = spark.createDataFrame(
        [("shift", "a")] * 80 + [("shift", "b")] * 20
        + [("self", "a")] * 50 + [("self", "b")] * 50
        + [("vanish", "a")] * 100,
        "scenario string, lang string",
    )
    rows = _psi_rows(cur, base)
    expected_shift = 0.3 * math.log(1.6) - 0.3 * math.log(0.4)
    assert abs(rows["shift"]["psi"] - expected_shift) < 1e-9
    assert abs(rows["self"]["psi"]) < 1e-12
    expected_vanish = 0.5 * math.log(2.0) + (1e-6 - 0.5) * math.log(1e-6 / 0.5)
    assert abs(rows["vanish"]["psi"] - expected_vanish) < 1e-9
    assert rows["vanish"]["psi"] > 0.25  # well past the conventional action threshold
    assert all(r["n_cats"] == 2 for r in rows.values())  # union spine == baseline here


def test_psi_novel_category_contributes_penalty(spark):
    """A category observed but ABSENT from the baseline (novel-category
    drift, PSI's primary use case) must contribute the eps-clipped
    penalty, not silently drop: baseline 50/50 a/b, current 50 a / 50 c
    -> b vanished (p_cur -> eps) and c is novel (p_base -> eps), each
    adding ~0.5*ln(0.5/1e-6); the round-3 spine dropped c's term
    entirely. Per window: only the window WITH the novel category pays."""
    import math

    base = spark.createDataFrame([("a", 50), ("b", 50)], "lang string, n long")
    cur = spark.createDataFrame(
        [("novel", "a")] * 50 + [("novel", "c")] * 50
        + [("self", "a")] * 50 + [("self", "b")] * 50,
        "scenario string, lang string",
    )
    rows = _psi_rows(cur, base)
    eps = 1e-6
    vanished_b = (eps - 0.5) * math.log(eps / 0.5)
    novel_c = (0.5 - eps) * math.log(0.5 / eps)
    assert abs(rows["novel"]["psi"] - (vanished_b + novel_c)) < 1e-9
    assert rows["novel"]["n_cats"] == 3  # union spine: a, b, c
    assert abs(rows["self"]["psi"]) < 1e-12
    assert rows["self"]["n_cats"] == 2  # no novel cats in the self window

    # the global cell (no window column)
    g = _psi_rows(cur.filter("scenario = 'novel'").select("lang"), base, window_cols=())["ALL"]
    assert abs(g["psi"] - (vanished_b + novel_c)) < 1e-9 and g["n_cats"] == 3


def test_psi_baseline_with_duplicate_categories(spark):
    """A baseline that lists a category twice is summed per category
    first: ("a", 25), ("a", 25), ("b", 50) gives the same PSI as the
    deduplicated ("a", 50), ("b", 50), instead of failing the map fold
    with DUPLICATED_MAP_KEY."""
    dup = spark.createDataFrame([("a", 25), ("a", 25), ("b", 50)], "lang string, n long")
    dedup = spark.createDataFrame([("a", 50), ("b", 50)], "lang string, n long")
    cur = spark.createDataFrame(
        [("shift", "a")] * 80 + [("shift", "b")] * 20 + [("novel", "c")] * 10,
        "scenario string, lang string",
    )

    def psi(base):
        return {k: (r["psi"], r["n_cats"]) for k, r in _psi_rows(cur, base).items()}

    want = psi(dedup)
    assert psi(dup) == want
    assert want["shift"][1] == 2 and want["novel"][1] == 3


# ---------------------------------------------------------------------------
# one verdict reader per test: engine, incremental runs and the in-plan
# readers agree, case by case
# ---------------------------------------------------------------------------

MATRIX_COLS = "id long, g string, cat string, v double"


def _matrix_rows(n, g_of, start=0):
    return [(start + i, g_of(i), "x" if i % 5 < 3 else "y", float(i * 7 % 100)) for i in range(n)]


MATRIX_CASES = {
    # case -> (current frame from the baseline frame and the session,
    #          expected passed per (check, group key))
    "self": (lambda b, s: b, {
        ("c", "ALL"): True, ("cg", "g1"): True, ("cg", "g2"): True,
        ("k", "ALL"): True, ("kg", "g1"): True, ("kg", "g2"): True}),
    "shift": (lambda b, s: b.withColumn("cat", F.when(F.col("g") == "g2", F.lit("y")).otherwise(F.col("cat")))
              .withColumn("v", F.when(F.col("g") == "g2", F.col("v") + 50.0).otherwise(F.col("v"))), {
        ("c", "ALL"): False, ("cg", "g1"): True, ("cg", "g2"): False,
        ("k", "ALL"): False, ("kg", "g1"): True, ("kg", "g2"): False}),
    "novel_category": (lambda b, s: b.unionByName(s.createDataFrame([(9000, "g1", "z", 10.0)], MATRIX_COLS)), {
        ("c", "ALL"): False, ("cg", "g1"): False, ("cg", "g2"): True,
        ("k", "ALL"): True, ("kg", "g1"): True, ("kg", "g2"): True}),
    "unseen_group": (lambda b, s: b.unionByName(s.createDataFrame(_matrix_rows(40, lambda i: "g3", 9000), MATRIX_COLS)), {
        ("c", "ALL"): True, ("cg", "g1"): True, ("cg", "g2"): True, ("cg", "g3"): False,
        ("k", "ALL"): True, ("kg", "g1"): True, ("kg", "g2"): True, ("kg", "g3"): False}),
    "vanished_group": (lambda b, s: b.filter("g = 'g1'"), {
        ("c", "ALL"): True, ("cg", "g1"): True, ("cg", "g2"): False,
        ("k", "ALL"): True, ("kg", "g1"): True, ("kg", "g2"): False}),
    "empty_current": (lambda b, s: b.filter("false"), {
        ("c", "ALL"): False, ("cg", "g1"): False, ("cg", "g2"): False,
        ("k", "ALL"): False, ("kg", "g1"): False, ("kg", "g2"): False}),
}


@pytest.fixture(scope="module")
def matrix(spark):
    """The baseline frame, its snapshots, a spec with chi2 and KS drift
    checks (global and per group), the baseline run's verdicts and
    count states, which the incremental runs start from, and a cache
    of each case's runs."""
    from xsd2json_spark import spec_from_dict
    from xsd2json_spark.engine.incremental import build_states

    base = spark.createDataFrame(_matrix_rows(2000, lambda i: "g%d" % (1 + i % 2)), MATRIX_COLS).cache()
    baselines = {
        "c": make_categorical_baseline(base, "cat"),
        "cg": make_categorical_baseline(base, "cat", group_by=["g"]),
        "k": make_numeric_baseline(base, "v"),
        "kg": make_numeric_baseline(base, "v", group_by=["g"]),
    }
    drift = [
        {"kind": "drift", "id": cid, "column": col, "test": test, "baseline": cid, "group_by": gb}
        for cid, col, test, gb in [("c", "cat", "chi2", []), ("cg", "cat", "chi2", ["g"]),
                                   ("k", "v", "ks", []), ("kg", "v", "ks", ["g"])]
    ]
    spec = spec_from_dict({"name": "m", "key_columns": ["id"], "constraints": [
        {"kind": "not_null", "id": "nn", "column": "g"}, *drift]})
    prev = ValidationEngine(spark, spec, baselines=baselines).run(base).verdicts.cache()
    states = {cid: s.cache() for cid, s in build_states(base, spec, baselines).items()}
    runs = {}
    yield base, baselines, spec, prev, states, runs
    for df in [base, prev, *states.values(), *(r[0] for r in runs.values())]:
        df.unpersist()


def _chi2_oracle(rows, base_counts):
    """Pearson statistic over the baseline's categories; None when the
    group has no current rows or no baseline."""
    obs = {}
    for cat in rows:
        obs[cat] = obs.get(cat, 0) + 1
    n, total = sum(obs.values()), sum((base_counts or {}).values())
    if not n or not total:
        return None
    return sum((obs.get(k, 0) - n * b / total) ** 2 / (n * b / total) for k, b in base_counts.items())


def _case_runs(spark, matrix, case):
    """(current frame, engine verdicts, incremental verdicts) of a
    matrix case, as {(check, group key): passed}; computed once per
    case for all four checks."""
    from xsd2json_spark.engine.incremental import incremental_verdicts

    base, baselines, spec, prev, states, runs = matrix
    if case not in runs:
        cur = MATRIX_CASES[case][0](base, spark).cache()
        ids = {c.id for c in spec.table_level()}

        def verdicts(df):
            return {(r["constraint_id"], r["partition_key"]): r["passed"]
                    for r in df.collect() if r["constraint_id"] in ids}

        full = verdicts(ValidationEngine(spark, spec, baselines=baselines).run(cur).verdicts)
        inc = verdicts(incremental_verdicts(spark, spec, base, cur, prev, states=states, baselines=baselines))
        runs[case] = (cur, full, inc)
    return runs[case]


@pytest.mark.parametrize("cid", ["c", "cg", "k", "kg"])
@pytest.mark.parametrize("case", list(MATRIX_CASES))
def test_drift_readers_agree(spark, matrix, case, cid):
    """Per case and check (chi2 ``c``/``cg``, KS ``k``/``kg``, global
    and per group ``g``), the full engine run, the incremental run over
    composed states and the in-plan reader as a query calls it give
    the same passed per group, and the expected one: a novel category,
    a group the baseline lacks, a baseline group with no current rows
    and an empty current table all fail. The reader's statistic equals
    a Python oracle (NULL where the group has no current rows or no
    baseline)."""
    from xsd2json_spark.engine.drift import make_categorical_baseline_df

    base, baselines, spec, _, _, _ = matrix
    cur, full, inc = _case_runs(spark, matrix, case)
    want = {k: v for k, v in MATRIX_CASES[case][1].items() if k[0] == cid}
    assert {k: v for k, v in full.items() if k[0] == cid} == want
    assert {k: v for k, v in inc.items() if k[0] == cid} == want

    c = next(x for x in spec.table_level() if x.id == cid)
    gb = list(c.group_by)
    state = state_of(cur, c, baselines)
    if c.test == "chi2":
        counts = state.withColumnRenamed("__cat", "cat")
        base_df = make_categorical_baseline_df(base, "cat", group_by=gb)
        got = drift_verdicts_over_counts(counts, "cat", base_df, gb, window_cols=()).collect()
        keyed = {(cid, r["g"] if gb else "ALL"): r for r in got}
    else:
        got = ks_verdicts_over_bins(state, baselines[cid], window_cols=(), group_by=gb).collect()
        keyed = {(cid, _key(r, c)): r for r in got}
    assert {k: r["passed"] for k, r in keyed.items()} == want

    cur_rows = cur.collect()
    for (_, key), r in keyed.items():
        mine = [x for x in cur_rows if not gb or x["g"] == key]
        if c.test == "chi2":
            counts = baselines[cid]["groups"].get(key) if gb else baselines[cid]["counts"]
            want_stat = _chi2_oracle([x["cat"] for x in mine], counts)
            assert (r["statistic"] is None) == (want_stat is None), key
            if want_stat is not None:
                assert math.isclose(r["statistic"], want_stat, rel_tol=1e-9, abs_tol=1e-12), key
        else:
            gbase = baselines[cid]["groups"].get(key) if gb else baselines[cid]
            want_d = oracle_d([x["v"] for x in mine], gbase["grid"], gbase["ecdf"]) if mine and gbase else None
            assert r["d_statistic"] == want_d, key


def test_chi2_reader_dict_and_frame_baselines_agree(spark, matrix):
    """The chi2 reader gives the same rows for a snapshot dict (as the
    engine passes it, groups named by group_key) and for the baseline
    DataFrame a query passes, on every matrix case."""
    from xsd2json_spark.engine.drift import make_categorical_baseline_df

    base, baselines, spec, _, _, _ = matrix
    for case in MATRIX_CASES:
        cur = _case_runs(spark, matrix, case)[0]
        for c in (x for x in spec.table_level() if x.test == "chi2"):
            gb = list(c.group_by)
            state = state_of(cur, c)
            base_df = make_categorical_baseline_df(base, "cat", group_by=gb)
            via_dict = drift_verdicts_over_counts(state, "__cat", baselines[c.id], gb, window_cols=()).collect()
            via_df = drift_verdicts_over_counts(
                state.withColumnRenamed("__cat", "cat"), "cat", base_df, gb, window_cols=()
            ).collect()
            rows = lambda got: {_key(r, c): (r["statistic"], r["dof"], r["passed"]) for r in got}  # noqa: E731
            assert rows(via_dict) == rows(via_df), (case, c.id)


#: Spark jobs of the matrix spec's engine and incremental runs
#: (test_engine_drift_check_jobs_are_bounded); 10 and 51 while each
#: drift check collected its rows during the plan build, 7 and 45
#: while a per-group KS state broadcast-joined its grids
ENGINE_JOBS, INCREMENTAL_JOBS = 6, 43
#: Spark jobs of ``ValidationEngine.run`` + ``verdicts.collect()`` of a
#: spec of one KS check, global or per group
KS_CHECK_JOBS = 3


def _jobs_in_group(spark, name, fn):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_engine_drift_check_jobs_are_bounded(spark, matrix):
    """Per-spec Spark job bounds for the matrix spec (not_null plus the
    four drift checks) on the "shift" case over warm snapshots and
    states, measured on Spark 4.1 with AQE at local[4]. Drift verdicts
    stay in the plan, so building the engine's result runs no job.
    ``ValidationEngine.run`` + ``verdicts.collect()`` and
    ``incremental_verdicts(states=...)`` + ``collect()`` each stay at
    the measured job count (ENGINE_JOBS, INCREMENTAL_JOBS)."""
    from xsd2json_spark.engine.incremental import incremental_verdicts

    base, baselines, spec, prev, states, _ = matrix
    cur = _case_runs(spark, matrix, "shift")[0]
    for df in [prev, *states.values()]:
        df.count()
    res = []
    build = _jobs_in_group(spark, "drift-build", lambda: res.append(
        ValidationEngine(spark, spec, baselines=baselines).run(cur)))
    jobs = build + _jobs_in_group(spark, "drift-engine", res[0].verdicts.collect)
    res[0].unpersist()
    assert build == 0, f"{build} Spark jobs to build the engine's plan"
    assert jobs <= ENGINE_JOBS, f"{jobs} Spark jobs to run the engine and collect its verdicts"
    jobs = _jobs_in_group(spark, "drift-incremental", lambda: incremental_verdicts(
        spark, spec, base, cur, prev, states=states, baselines=baselines).collect())
    assert jobs <= INCREMENTAL_JOBS, f"{jobs} Spark jobs to collect the incremental verdicts"


def test_per_group_ks_check_runs_as_many_jobs_as_a_global_one(spark, matrix):
    """A per-group KS state finds each row's grid in a literal map, so
    an engine run + collect of one per-group KS check takes no more
    Spark jobs than one of a global KS check (KS_CHECK_JOBS; a
    broadcast join of the grids took one more)."""
    from xsd2json_spark import spec_from_dict

    _, baselines, _, _, _, _ = matrix
    cur = _case_runs(spark, matrix, "shift")[0]
    for cid, gb in [("k", []), ("kg", ["g"])]:
        spec = spec_from_dict({"name": cid, "key_columns": ["id"], "constraints": [
            {"kind": "drift", "id": cid, "column": "v", "test": "ks", "baseline": cid, "group_by": gb}]})

        def run():
            res = ValidationEngine(spark, spec, baselines=baselines).run(cur)
            res.verdicts.collect()
            res.unpersist()

        jobs = _jobs_in_group(spark, "ks-" + cid, run)
        assert jobs <= KS_CHECK_JOBS, f"{jobs} Spark jobs for drift check {cid}"
