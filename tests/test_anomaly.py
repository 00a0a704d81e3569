"""Metric-history anomaly detection: z-score and MAD verdicts against
a prior-runs table, incl. the degenerate histories (zero spread, too
little evidence) and MAD's robustness to one broken prior run."""

import pytest

from xsd2json_spark.engine.anomaly import metric_anomaly_verdicts


def _hist(spark, values, metric="m"):
    return spark.createDataFrame([(metric, float(v)) for v in values], "metric string, value double")


def _cur(spark, value, metric="m"):
    return spark.createDataFrame([(metric, float(value))], "metric string, value double")


def _one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


def test_zscore_flags_planted_anomaly(spark):
    hist = _hist(spark, [100, 102, 98, 101, 99])
    ok = _one(metric_anomaly_verdicts(hist, _cur(spark, 103)))
    bad = _one(metric_anomaly_verdicts(hist, _cur(spark, 60)))
    assert ok["passed"] and abs(ok["score"]) <= 3
    assert not bad["passed"] and bad["score"] < -3
    assert bad["n_history"] == 5 and abs(bad["center"] - 100.0) < 1e-9


def test_mad_robust_to_broken_history_run(spark):
    """One absurd prior value inflates mean/stddev enough to HIDE a
    real regression from the z-score, while the MAD verdict still
    flags it — the reason the robust estimator exists."""
    hist = _hist(spark, [100, 102, 98, 101, 99, 10_000])
    cur = _cur(spark, 60)
    z = _one(metric_anomaly_verdicts(hist, cur, method="zscore"))
    mad = _one(metric_anomaly_verdicts(hist, cur, method="mad"))
    assert z["passed"]          # masked: stddev ~ 4000
    assert not mad["passed"]    # median 100.5, MAD ~ 1.5 -> |score| >> 3
    assert mad["score"] < -3


def test_zero_spread_history(spark):
    hist = _hist(spark, [50, 50, 50, 50])
    same = _one(metric_anomaly_verdicts(hist, _cur(spark, 50)))
    diff = _one(metric_anomaly_verdicts(hist, _cur(spark, 51)))
    assert same["passed"] and same["spread"] == 0.0
    assert not diff["passed"]
    for method in ("zscore", "mad"):
        d = _one(metric_anomaly_verdicts(hist, _cur(spark, 51), method=method))
        assert not d["passed"] and d["score"] is None  # try_divide by 0 -> NULL


def test_short_history_is_vacuous_pass(spark):
    hist = _hist(spark, [100, 200])
    r = _one(metric_anomaly_verdicts(hist, _cur(spark, 5)))
    assert r["passed"] and r["score"] is None and r["n_history"] == 2
    # the same current value fails once history is long enough
    r2 = _one(metric_anomaly_verdicts(_hist(spark, [100, 101, 99, 100]), _cur(spark, 5)))
    assert not r2["passed"]


def test_multi_metric_and_validation(spark):
    hist = spark.createDataFrame(
        [("a", 10.0), ("a", 11.0), ("a", 9.0), ("a", 10.0),
         ("b", 5.0), ("b", 5.1), ("b", 4.9), ("b", 5.0)],
        "metric string, value double",
    )
    cur = spark.createDataFrame([("a", 10.5), ("b", 50.0)], "metric string, value double")
    out = {r["metric"]: r for r in metric_anomaly_verdicts(hist, cur).collect()}
    assert out["a"]["passed"] and not out["b"]["passed"]
    with pytest.raises(ValueError, match="unknown anomaly method"):
        metric_anomaly_verdicts(hist, cur, method="ewma")


@pytest.mark.parametrize("method", ["zscore", "mad"])
def test_new_metric_without_history_is_vacuous_pass(spark, method):
    """A current metric with no history yet still gets its verdict row:
    n_history 0, NULL center/spread/score, a vacuous pass."""
    hist = _hist(spark, [100, 102, 98, 101], metric="a")
    cur = spark.createDataFrame([("a", 60.0), ("new_metric", 5.0)], "metric string, value double")
    rows = {r["metric"]: r for r in metric_anomaly_verdicts(hist, cur, method=method).collect()}
    assert sorted(rows) == ["a", "new_metric"]
    assert not rows["a"]["passed"] and rows["a"]["n_history"] == 4
    new = rows["new_metric"]
    assert new["passed"] and new["n_history"] == 0 and new["value"] == 5.0
    assert new["score"] is None and new["center"] is None and new["spread"] is None
