"""Structured Streaming validation: the same compiled constraint
predicates applied to an unbounded stream.

The reference is batch-only (one-shot compiler), so this is the
north-star extension for continuously-arriving repo files:

- ``stream_violations``: stateless — rows failing any row-level
  constraint, with the failed ids exploded; safe at any volume (output
  is proportional to violations).
- ``stream_windowed_verdicts``: watermarked event-time windows with the
  same AC counter aggregates as the batch engine (sum of (NOT pred);
  late rows beyond the watermark are dropped, counted per window).

Table-level constraints (unique/FK) in streaming require state or
stream-static joins:
- ``stream_fk_violations`` joins the stream against a STATIC dimension
  (stream-static left_anti is supported natively and stays broadcast).
- uniqueness-within-window comes free as a windowed groupBy count.
- ``stream_unique_violations`` is CROSS-batch uniqueness: per-key
  seen-counts in ``applyInPandasWithState`` (the custom stateful
  operator surface) — built-in streaming ``dropDuplicates`` keeps the
  firsts but cannot REPORT the duplicates, which is exactly the
  violation row the engine's batch unique check emits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from xsd2json_spark.engine.compile import compile_predicate
from xsd2json_spark.engine.incremental import state_of, state_rows
from xsd2json_spark.engine.validate import fk_dangling
from xsd2json_spark.spec.constraints import ForeignKey, Spec, Unique


def stream_violations(stream_df: DataFrame, spec: Spec) -> DataFrame:
    """Stateless violation stream (append-mode friendly)."""
    keys = list(spec.key_columns) or stream_df.columns[:1]
    row_cs = spec.row_level()
    dtypes = dict(stream_df.dtypes)
    failed = F.array_compact(F.array(*[F.when(~compile_predicate(c, dtypes), F.lit(c.id)) for c in row_cs]))
    key_cols = [F.col(k).cast("string").alias(k) for k in keys]
    return (
        stream_df.select(*key_cols, failed.alias("__failed"))
        .filter(F.size("__failed") > 0)
        .select(*keys, F.explode("__failed").alias("constraint_id"))
    )


def stream_windowed_verdicts(
    stream_df: DataFrame,
    spec: Spec,
    time_col: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked per-window constraint counters (update/append mode).
    Same counter semantics as the batch engine's single agg pass."""
    exprs = [F.count(F.lit(1)).alias("evaluated_count")]
    dtypes = dict(stream_df.dtypes)
    for c in spec.row_level():
        exprs.append(F.sum((~compile_predicate(c, dtypes)).cast("long")).alias(f"viol__{c.id}"))
    return (
        stream_df.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("window"))
        .agg(*exprs)
    )


def _windowed(stream_df: DataFrame, time_col: str, window: str, watermark: str) -> DataFrame:
    """The stream with its event-time ``window`` column, watermarked."""
    return stream_df.withWatermark(time_col, watermark).withColumn("window", F.window(F.col(time_col), window))


def stream_category_counts(
    stream_df: DataFrame,
    c,
    time_col: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked per-(window, group, category) counts for a Drift
    constraint — the constraint's count state (engine.incremental.state_of)
    keyed by event-time window, and the ONLY stateful piece of
    streaming drift. Sink these counters (memory table for tests,
    Delta/Iceberg in production) and derive chi-square verdicts
    statelessly with engine.drift.drift_verdicts_over_counts: chained
    streaming aggregations would need multi-stateful-operator support,
    while a counter table + stateless verdict view restarts cleanly and
    keeps the drift math replayable over history."""
    counts = state_of(_windowed(stream_df, time_col, window, watermark), c, by=["window"])
    return counts.withColumnRenamed("__cat", c.column)


def stream_bin_counts(
    stream_df: DataFrame,
    c,
    baseline: dict,
    time_col: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked per-(window, group, bin) counts for a KS (numeric)
    Drift constraint against the BASELINE's quantile grid (per group,
    the group's grid) — the KS count state (engine.incremental.state_of)
    keyed by event-time window, and the only stateful piece of
    streaming KS drift. Sink these counters and derive verdicts
    statelessly with engine.drift.ks_verdicts_over_bins (group_by =
    the constraint's; per-window D + in-plan pass rule): same
    chained-aggregation avoidance, same restart story, and the counter
    table, summed over windows, is the incremental KS state."""
    return state_of(_windowed(stream_df, time_col, window, watermark), c, {c.baseline: baseline}, by=["window"])


def stream_session_counts(
    stream_df: DataFrame,
    time_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    group_by=("user_id",),
) -> DataFrame:
    """Gap-based session windows on a stream (the streaming analog of
    the batch lag-sessionization query): ``F.session_window`` merges
    events within ``gap`` of each other into one growing window per
    group; the watermark closes sessions once no in-gap event can still
    arrive. Emits one row per closed session with its event count and
    bounds. State per open session is a single (start, end, count)
    triple in the state store — the same bounded-retention story as the
    windowed counters above."""
    gb = list(group_by)
    return (
        stream_df.withWatermark(time_col, watermark)
        .groupBy(*gb, F.session_window(F.col(time_col), gap).alias("session"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *gb,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
        )
    )


_DURATION_UNITS_MS = {
    "millisecond": 1, "milliseconds": 1, "ms": 1,
    "second": 1000, "seconds": 1000, "s": 1000,
    "minute": 60_000, "minutes": 60_000, "min": 60_000,
    "hour": 3_600_000, "hours": 3_600_000, "h": 3_600_000,
    "day": 86_400_000, "days": 86_400_000, "d": 86_400_000,
}


def _duration_ms(ttl: "str | int") -> int:
    """'10 minutes' / '500 ms' / 1500 -> milliseconds. PySpark's
    GroupState.setTimeoutDuration only takes an int (the str overload
    exists JVM-side but is rejected by the Python API — discovered the
    hard way in test_streaming's TTL test)."""
    if isinstance(ttl, int):
        return ttl
    parts = str(ttl).strip().split()
    if len(parts) != 2 or not parts[0].lstrip("-").isdigit() or parts[1].lower() not in _DURATION_UNITS_MS:
        raise ValueError(f"ttl must be int ms or 'N unit' (units: ms/seconds/minutes/hours/days), got {ttl!r}")
    n = int(parts[0])
    if n <= 0:
        raise ValueError(f"ttl must be positive, got {ttl!r}")
    return n * _DURATION_UNITS_MS[parts[1].lower()]


def stream_unique_violations(
    stream_df: DataFrame, c: Unique, ttl: "str | int | None" = None
) -> DataFrame:
    """Cross-micro-batch uniqueness violations via per-key state
    (``applyInPandasWithState`` — Arrow-batched, no per-row Python).

    State per distinct key = rows seen so far (one long). A micro-batch
    that brings the key's total above 1 emits ONE violation row:
    (key..., constraint_id, dup_count, total_seen) where dup_count is
    the number of NEW duplicate arrivals this batch (the first-ever
    occurrence is free). Summing dup_count over the stream equals the
    batch engine's count-1 per duplicated key — asserted in
    test_streaming.

    Scale notes: state is one long per distinct key, hash-partitioned
    by Spark's streaming state store across executors (RocksDB-backed
    in production) — the streaming form of the batch unique count state
    (engine.incremental.state_of), with its NULL rule: rows with any
    NULL key are no duplicates and never reach the state. For
    unbounded key churn pass ``ttl`` (milliseconds, or a duration
    string like ``"10 minutes"``): idle keys then expire via
    ProcessingTimeTimeout and their state is removed, bounding
    retention explicitly (mirroring the watermarked operators above) —
    at the cost that a duplicate arriving after its key expired counts
    as a fresh first occurrence."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    ttl_ms = None if ttl is None else _duration_ms(ttl)

    keys = list(c.columns)
    cid = c.id
    key_struct = ", ".join(f"{k} string" for k in keys)
    out_schema = StructType.fromDDL(
        f"{key_struct}, constraint_id string, dup_count long, total_seen long"
    )
    state_schema = StructType.fromDDL("seen long")

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        seen = state.get[0] if state.exists else 0
        batch_n = 0
        for pdf in pdfs:
            batch_n += len(pdf)
        total = seen + batch_n
        state.update((total,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        new_dups = batch_n if seen > 0 else batch_n - 1
        if new_dups > 0:
            yield pd.DataFrame(
                [list(key) + [cid, new_dups, total]],
                columns=keys + ["constraint_id", "dup_count", "total_seen"],
            )

    _, rows = state_rows(stream_df, c)
    keyed = rows.select(*[F.col(k).cast("string").alias(k) for k in keys])
    return keyed.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        "ProcessingTimeTimeout" if ttl is not None else "NoTimeout",
    )


def stream_fk_violations(stream_df: DataFrame, c: ForeignKey, dim_df: DataFrame) -> DataFrame:
    """Stream-static anti-join: dangling references in flight — the
    batch engine's ``fk_dangling`` (NULL FK values pass), with the
    static dim always broadcast."""
    return fk_dangling(stream_df, dim_df, c).withColumn("constraint_id", F.lit(c.id))
