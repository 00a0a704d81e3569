"""Drift checks: pure-math kernels against known values, then the
Spark-side chi2/KS paths with shifted vs unshifted snapshots."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from xsd2json_spark.engine import ValidationEngine
from xsd2json_spark.engine.drift import (
    chi2_from_counts,
    ks_from_bins,
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


@pytest.fixture(scope="module")
def files(spark):
    df = files_table(spark, n_rows=5000).cache()
    df.count()
    return df


def test_chi2_no_drift(spark, files):
    base = make_categorical_baseline(files, "lang")
    c = Drift(id="d", column="lang", test="chi2", baseline="b", alpha=0.01)
    [(_, stat, p)] = chi2_from_counts(state_of(files, c), c, base)
    assert p > 0.99  # identical distribution


def test_chi2_drift_detected(spark, files):
    base = make_categorical_baseline(files, "lang")
    shifted = files.withColumn(
        "lang", F.when(F.col("lang") == "python", F.lit("java")).otherwise(F.col("lang"))
    )
    c = Drift(id="d", column="lang", test="chi2", baseline="b", alpha=0.01)
    [(_, stat, p)] = chi2_from_counts(state_of(shifted, c), c, base)
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
    d, p = ks_from_bins(state_of(files, c, {"b": base}), c, base)
    assert d < 0.01 and p > 0.5
    assert base["ecdf"] == oracle_ecdf(_lengths(files), base["grid"])
    assert d == oracle_d(_lengths(files), base["grid"], base["ecdf"])


def test_ks_drift_detected(spark, files):
    base = make_numeric_baseline(files, "length(content)")
    shifted = files.withColumn("content", F.concat(F.col("content"), F.repeat(F.lit("pad"), 50)))
    c = Drift(id="d", column="content", expr="length(content)", test="ks", baseline="b", alpha=0.01)
    d, p = ks_from_bins(state_of(shifted, c, {"b": base}), c, base)
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
    from xsd2json_spark.engine.drift import make_categorical_baseline_by

    base = make_categorical_baseline_by(grouped, "cat", ["g"])
    c = Drift(id="d", column="cat", test="chi2", baseline="b", alpha=0.01, group_by=["g"])
    res = chi2_from_counts(state_of(grouped, c), c, base)
    assert len(res) == 2 and all(p > 0.9 for _, _, p in res)  # self-drift passes per group

    # shift ONLY g2's category mix: g1 must still pass, g2 must fail
    shifted = grouped.withColumn(
        "cat", F.when((F.col("g") == "g2") & (F.col("cat") == "x"), "y").otherwise(F.col("cat"))
    )
    by = {k: p for k, _, p in chi2_from_counts(state_of(shifted, c), c, base)}
    assert by["g1"] > 0.9 and by["g2"] < 0.01


def test_ks_drift_by_group(spark, grouped):
    from xsd2json_spark.engine.drift import ks_drift_by, make_numeric_baseline_by

    base = make_numeric_baseline_by(grouped, "v", ["g"])
    c = Drift(id="d", column="v", test="ks", baseline="b", alpha=0.01, group_by=["g"])
    res = {k: p for k, _, p in ks_drift_by(grouped, c, base)}
    assert set(res) == {"g1", "g2"} and all(p > 0.5 for p in res.values())

    shifted = grouped.withColumn(
        "v", F.when(F.col("g") == "g2", F.col("v") + 50.0).otherwise(F.col("v"))
    )
    by = {k: p for k, _, p in ks_drift_by(shifted, c, base)}
    assert by["g1"] > 0.5 and by["g2"] < 0.01


def test_unseen_group_counts_as_drift(spark, grouped):
    from xsd2json_spark.engine.drift import make_categorical_baseline_by

    base = make_categorical_baseline_by(grouped.filter("g = 'g1'"), "cat", ["g"])
    c = Drift(id="d", column="cat", test="chi2", baseline="b", alpha=0.01, group_by=["g"])
    by = {k: p for k, _, p in chi2_from_counts(state_of(grouped, c), c, base)}
    assert by["g2"] == 0.0  # group absent from baseline -> fail, not crash


def test_drift_by_group_inside_engine(spark, grouped):
    from xsd2json_spark.engine.drift import make_categorical_baseline_by

    base = make_categorical_baseline_by(grouped, "cat", ["g"])
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
    from xsd2json_spark.engine.drift import (
        ks_drift_by,
        make_categorical_baseline_by,
        make_numeric_baseline_by,
    )

    only_g1 = grouped.filter("g = 'g1'")
    cbase = make_categorical_baseline_by(grouped, "cat", ["g"])
    c = Drift(id="d", column="cat", test="chi2", baseline="b", alpha=0.01, group_by=["g"])
    by = {k: p for k, _, p in chi2_from_counts(state_of(only_g1, c), c, cbase)}
    assert by["g2"] == 0.0 and by["g1"] > 0.9

    nbase = make_numeric_baseline_by(grouped, "v", ["g"])
    ck = Drift(id="d", column="v", test="ks", baseline="b", alpha=0.01, group_by=["g"])
    byk = {k: p for k, _, p in ks_drift_by(only_g1, ck, nbase)}
    assert byk["g2"] == 0.0 and byk["g1"] > 0.5


def test_group_key_escaping_distinguishes_collisions():
    """('a|b','c') vs ('a','b|c') and NULL vs 'None' must produce
    DISTINCT keys (a raw '|'.join silently merges their distributions)."""
    from xsd2json_spark.engine.drift import group_key

    assert group_key(["a|b", "c"]) != group_key(["a", "b|c"])
    assert group_key([None]) != group_key(["None"])
    assert group_key(["a\\|b"]) != group_key(["a|b"])
    assert group_key(["g1"]) == "g1"  # plain single keys stay natural


def test_chi2_statistic_df_matches_driver_side(spark, files):
    """The fully in-plan statistic equals the driver-side chi2_stat
    kernel on the same observed/baseline counts."""
    from xsd2json_spark.engine.drift import chi2_statistic_df, make_categorical_baseline
    from xsd2json_spark.engine.stats_math import chi2_stat

    base_counts = make_categorical_baseline(files, "lang")["counts"]
    base_df = files.sparkSession.createDataFrame(
        [(k, v) for k, v in base_counts.items()], "lang string, n long"
    )
    shifted = files.withColumn(
        "lang", F.when(F.col("lang") == "python", F.lit("java")).otherwise(F.col("lang"))
    )
    row = chi2_statistic_df(shifted, "lang", base_df).collect()[0]
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


def test_chi2_statistic_df_by_group(spark, grouped):
    """One distributed statistic row per group; self-baseline is ~0,
    a per-group shift moves only that group's statistic."""
    from xsd2json_spark.engine.drift import chi2_statistic_df

    base_df = grouped.groupBy("cat").agg(F.count(F.lit(1)).alias("n"))
    rows = {r["g"]: r for r in chi2_statistic_df(grouped, "cat", base_df, by=["g"]).collect()}
    assert set(rows) == {"g1", "g2"}
    assert all(r["statistic"] < 1.0 for r in rows.values())

    shifted = grouped.withColumn(
        "cat", F.when((F.col("g") == "g2") & (F.col("cat") == "x"), "y").otherwise(F.col("cat"))
    )
    srows = {r["g"]: r for r in chi2_statistic_df(shifted, "cat", base_df, by=["g"]).collect()}
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
    """The in-plan D over the bin-count state equals the driver-side D
    and the numpy oracle (bit-exact: ECDF terms are integer ratios),
    globally and per group carried as a ``by`` key."""
    base = make_numeric_baseline(files, "length(content)")
    c = Drift(id="d", column="content", expr="length(content)", test="ks", baseline="b", alpha=0.01)
    shifted = files.withColumn("content", F.concat(F.col("content"), F.repeat(F.lit("pad"), 10)))
    d, _ = ks_from_bins(state_of(shifted, c, {"b": base}), c, base)
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
    """Engine KS D (driver-side ks_from_bins and in-plan
    ks_verdicts_over_bins over state_of) equals the numpy oracle on
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
    d, _ = ks_from_bins(bins, c, baseline)
    row = ks_verdicts_over_bins(bins, baseline, window_cols=()).collect()[0]
    assert d == want and row["d_statistic"] == want
    n_kept = sum(1 for x in values if x is not None and not math.isnan(x))
    assert row["n_cur"] == n_kept

    own = make_numeric_baseline(df, "x", grid_points=3)
    assert own["n"] == n_kept
    assert own["ecdf"] == oracle_ecdf(values, own["grid"])


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


def test_psi_statistic_hand_computed(spark):
    """PSI against hand-computed values: baseline 50/50, current 80/20
    -> psi = 0.3*ln(1.6) - 0.3*ln(0.4) = 0.415888...; self -> 0; a
    VANISHED category is clipped to eps and contributes the large
    finite penalty that flags disappearance (the failure mode per-group
    chi2 needed the spine for)."""
    import math

    from xsd2json_spark.engine.drift import psi_statistic_df

    base = spark.createDataFrame([("a", 50), ("b", 50)], "lang string, n long")
    cur = spark.createDataFrame(
        [("shift", "a")] * 80 + [("shift", "b")] * 20
        + [("self", "a")] * 50 + [("self", "b")] * 50
        + [("vanish", "a")] * 100,
        "scenario string, lang string",
    )
    rows = {r["scenario"]: r for r in psi_statistic_df(cur, "lang", base, by=["scenario"]).collect()}
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
    entirely. Per-group: only the group WITH the novel category pays."""
    import math

    from xsd2json_spark.engine.drift import psi_statistic_df

    base = spark.createDataFrame([("a", 50), ("b", 50)], "lang string, n long")
    cur = spark.createDataFrame(
        [("novel", "a")] * 50 + [("novel", "c")] * 50
        + [("self", "a")] * 50 + [("self", "b")] * 50,
        "scenario string, lang string",
    )
    rows = {r["scenario"]: r for r in psi_statistic_df(cur, "lang", base, by=["scenario"]).collect()}
    eps = 1e-6
    vanished_b = (eps - 0.5) * math.log(eps / 0.5)
    novel_c = (0.5 - eps) * math.log(0.5 / eps)
    assert abs(rows["novel"]["psi"] - (vanished_b + novel_c)) < 1e-9
    assert rows["novel"]["n_cats"] == 3  # union spine: a, b, c
    assert abs(rows["self"]["psi"]) < 1e-12
    assert rows["self"]["n_cats"] == 2  # no novel cats in the self group

    # global (by=None) path takes the crossJoin branch of the spine
    g = psi_statistic_df(
        cur.filter("scenario = 'novel'").select("lang"), "lang", base
    ).collect()[0]
    assert abs(g["psi"] - (vanished_b + novel_c)) < 1e-9 and g["n_cats"] == 3


def test_psi_baseline_with_duplicate_categories(spark):
    """A baseline that lists a category twice is summed per category
    first: ("a", 25), ("a", 25), ("b", 50) gives the same PSI as the
    deduplicated ("a", 50), ("b", 50), instead of failing the map fold
    with DUPLICATED_MAP_KEY."""
    from xsd2json_spark.engine.drift import psi_statistic_df

    dup = spark.createDataFrame([("a", 25), ("a", 25), ("b", 50)], "lang string, n long")
    dedup = spark.createDataFrame([("a", 50), ("b", 50)], "lang string, n long")
    cur = spark.createDataFrame(
        [("shift", "a")] * 80 + [("shift", "b")] * 20 + [("novel", "c")] * 10,
        "scenario string, lang string",
    )

    def psi(base):
        rows = psi_statistic_df(cur, "lang", base, by=["scenario"]).collect()
        return {r["scenario"]: (r["psi"], r["n_cats"]) for r in rows}

    want = psi(dedup)
    assert psi(dup) == want
    assert want["shift"][1] == 2 and want["novel"][1] == 3
