"""Metric-history anomaly detection — the Deequ AnomalyDetection
analog, re-expressed Spark-first: a validation deployment persists a
small metrics table per run (the stats sketch, verdict counters,
row counts ...), and each new run's values are judged against the
HISTORY of prior runs rather than a fixed bound. Catches the failures
fixed constraints can't express: "row count fell 40% overnight",
"null rate tripled", "the en share drifted slowly for a month".

Everything is one aggregation over the (runs x metrics)-sized history
table plus a broadcast join to the current run's values — in-plan, no
driver-side stats:

- method='zscore': center = mean of prior values, spread = sample
  stddev; score = (v - mean) / stddev.
- method='mad': center = exact median (F.percentile — history is
  runs-sized, exact is right), spread = median absolute deviation,
  score = 0.6745 * (v - median) / MAD (the standard consistency
  constant making MAD comparable to sigma). Robust: one broken prior
  run doesn't poison the baseline the way it poisons a mean/stddev.

Degenerate histories are explicit, not NaN: zero spread (constant
history) passes iff the current value EQUALS the center; fewer than
``min_history`` prior runs passes vacuously (not enough evidence) and
reports score NULL.

Reference parity note: the reference (fnogatz/xsd2json) has no runtime
metric surface; prior art is AWS Deequ's AnomalyDetection strategies
(public), simplified to the two estimators that matter at a metrics
table's scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: 0.6745 = Phi^-1(0.75): scales MAD to the stddev of a normal
MAD_CONSISTENCY = 0.6745


def metric_anomaly_verdicts(
    history: DataFrame,
    current: DataFrame,
    metric_cols=("metric",),
    value_col: str = "value",
    method: str = "zscore",
    threshold: float = 3.0,
    min_history: int = 3,
) -> DataFrame:
    """Judge the current run's metric values against the history of
    prior runs. ``history`` holds one row per (prior run, metric):
    (metric_cols..., value_col); ``current`` one row per metric with
    the same columns. Returns (metric_cols..., value, n_history,
    center, spread, score, passed) — passed is the verdict, score the
    normalized deviation (NULL when history is too short). Every
    current metric gets a row; one without history has n_history 0.

    One shuffle keyed on the metric identity (history is
    runs x metrics rows — tiny)."""
    if method not in ("zscore", "mad"):
        raise ValueError(f"unknown anomaly method {method!r}")
    gb = list(metric_cols)
    v = F.col(value_col).cast("double")
    if method == "zscore":
        base = history.groupBy(*gb).agg(
            F.count(F.lit(1)).alias("n_history"),
            F.avg(v).alias("center"),
            F.coalesce(F.stddev_samp(v), F.lit(0.0)).alias("spread"),
        )
        scale = F.lit(1.0)
    else:
        med = history.groupBy(*gb).agg(
            F.count(F.lit(1)).alias("n_history"),
            F.percentile(v, F.lit(0.5)).alias("center"),
        )
        base = (
            history.join(med.select(*gb, "center"), gb)
            .groupBy(*gb)
            .agg(
                F.first("center").alias("center"),
                F.count(F.lit(1)).alias("n_history"),
                F.percentile(F.abs(v - F.col("center")), F.lit(0.5)).alias("spread"),
            )
        )
        scale = F.lit(MAD_CONSISTENCY)
    # left join from the current run: a metric with no history yet
    # reads n_history 0 — the vacuous pass below, not a dropped row
    cur = current.select(*gb, v.alias("value"))
    j = cur.join(base, gb, "left").withColumn("n_history", F.coalesce(F.col("n_history"), F.lit(0)))
    score = scale * F.try_divide(F.col("value") - F.col("center"), F.col("spread"))
    passed = (
        F.when(F.col("n_history") < min_history, F.lit(True))  # vacuous: not enough evidence
        .when(F.col("spread") == 0.0, F.col("value") == F.col("center"))
        .otherwise(F.abs(score) <= F.lit(float(threshold)))
    )
    return j.select(
        *gb,
        "value",
        F.col("n_history").cast("long").alias("n_history"),
        "center",
        "spread",
        F.when(F.col("n_history") >= min_history, score).alias("score"),
        passed.alias("passed"),
    )
