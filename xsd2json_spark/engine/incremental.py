"""Incremental (snapshot-delta) validation — the operator that makes
re-validating a 10^12-file table affordable when only a sliver changed.

At warehouse scale the daily reality is: snapshot B differs from the
already-validated snapshot A by a few million rows out of a trillion.
A full re-run re-decompresses and re-regexes every content byte; the
incremental path touches only the DELTA for all row-level constraint
counters, because those counters are sums of per-row indicators and
sums compose:

    count_B(c) = count_A(c) + count_added(c) - count_removed(c)

where added/removed are keyed diffs (an updated row appears in both,
so its old contribution is subtracted and its new one added — exact,
not approximate).

What is and is not incrementally composable:
- ROW-LEVEL constraints (not_null, enum, pattern, length, range,
  dtype, constant, allOf/anyOf): exact composition via the formula
  above — the expensive per-row work (regex + casts over content)
  runs only on the delta.
- TABLE-LEVEL quantile: NOT locally composable (order statistics
  don't subtract; t-digests merge but can't retract deletes).
  Recomputed on the current snapshot — a sketch-sized aggregate.
- DRIFT is composable in BOTH flavors, because the verdicts only ever
  read counts: chi2 reads per-category counts
  (``drift_category_counts`` / ``compose_drift_counts`` /
  ``drift_verdict_rows_from_counts``), and KS only reads the ECDF at
  the BASELINE's fixed quantile grid, which is a cumulative sum of
  per-bin counts against that grid (``drift_value_bins`` /
  ``compose_drift_bins`` / ``ks_verdict_rows_from_bins`` — identical
  statistic to the full-scan ks_drift, not an approximation). Pass
  ``drift_state=`` + ``baselines=`` to ``incremental_verdicts``.
- UNIQUENESS, FOREIGN-KEY and CARDINALITY — the key-shuffle trio —
  ARE composable, all through the same materialized keyed count table
  (the streaming ``stream_unique_violations`` state, batch form):
  ``key_counts`` materializes (key..., n) for a snapshot;
  ``compose_key_counts`` rolls it forward over the delta with the same
  +added -removed identity. Verdicts then read off the counts:
  - unique: keys with n > 1 (``unique_violations_from_counts``);
  - foreign key: counts anti-joined against the CURRENT dim, violation
    rows = sum(n) over dangling keys
    (``fk_violation_counts_from_counts``). The state is fact-side
    only, so a changed dim costs nothing extra — the dim enters only
    at verdict time, against a key-cardinality-sized table;
  - cardinality: groups with n outside [min, max]
    (``cardinality_violations_from_counts``); its state keeps NULL
    group keys (groupBy semantics), unlike the unique/FK states which
    drop NULL keys to match the engine's NULL-pass rules.
  Pass states via ``incremental_verdicts(unique_state= / fk_state= /
  cardinality_state=...)`` and the whole verdict table touches the
  snapshots only for the delta scan.

Delta discovery: a fingerprint anti-join on (key, sha256-of-payload)
in both directions. This still SCANS both snapshots once (content must
be hashed to detect changes) but shuffles only 32-byte keys — and on
an Iceberg deployment you would replace `snapshot_delta` with the
table's own changelog/incremental read and skip the scan entirely;
`incremental_verdicts` takes (added, removed) from any source.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xsd2json_spark.engine.validate import VERDICT_COLUMNS, VERDICT_SCHEMA, ValidationEngine, verdict_passed
from xsd2json_spark.spec.constraints import Cardinality, Drift, ForeignKey, Spec, Unique


def snapshot_delta(
    prev_df: DataFrame, cur_df: DataFrame, key_columns, payload_cols=None
) -> "tuple[DataFrame, DataFrame]":
    """(added, removed) between two snapshots, keyed by
    (key_columns..., sha256 fingerprint of payload_cols). payload_cols
    defaults to every non-key column. An updated row (same key, changed
    payload) appears in BOTH outputs — which is exactly what makes the
    count composition exact. Anti-joins shuffle the 32-byte
    fingerprint + keys, never the payload.

    Nothing enforces key uniqueness, so the diff is MULTISET-aware: an
    occurrence index (row_number per (key, fingerprint) group) joins
    alongside the fingerprint, so a (key, payload) combination whose
    multiplicity changes between snapshots surfaces the net copies in
    added/removed — a plain existence anti-join would see no change and
    the composed row counters would drift. Rows within a group are
    interchangeable by construction when payload_cols covers every
    non-key column (the default); with an explicit narrower
    payload_cols the caller has declared the remaining columns
    irrelevant to the diff."""
    keys = list(key_columns)
    if payload_cols is None:
        payload_cols = [c for c in cur_df.columns if c not in keys]
    fp = F.sha2(F.to_json(F.struct(*[F.col(c) for c in payload_cols])), 256)
    occ = F.row_number().over(
        Window.partitionBy(*keys, "__fp").orderBy(F.lit(1))
    )
    on = keys + ["__fp", "__occ"]
    prev_k = prev_df.withColumn("__fp", fp).withColumn("__occ", occ)
    cur_k = cur_df.withColumn("__fp", fp).withColumn("__occ", occ)
    added = cur_k.join(prev_k.select(*on), on, "left_anti").drop("__fp", "__occ")
    removed = prev_k.join(cur_k.select(*on), on, "left_anti").drop("__fp", "__occ")
    return added, removed


def incremental_row_verdicts(
    engine: ValidationEngine,
    added: DataFrame,
    removed: DataFrame,
    prev_verdicts: DataFrame,
) -> DataFrame:
    """Row-level verdicts for the CURRENT snapshot from the previous
    snapshot's persisted verdict rows plus counters over the delta
    only. Composes per (partition_key, constraint_id) with full outer
    semantics: partitions that newly appear (only in added) or fully
    drain (evaluated_count reaching 0 — vacuous pass) both come out
    right because every count coalesces to 0."""
    row_ids = [c.id for c in engine.spec.row_level()]
    va, _ = engine.row_verdicts_and_stats(added)
    vr, _ = engine.row_verdicts_and_stats(removed)
    prev = prev_verdicts.filter(F.col("constraint_id").isin(row_ids)).select(
        "partition_key",
        "constraint_id",
        F.col("violation_count").alias("__pv"),
        F.col("evaluated_count").alias("__pe"),
    )
    a = va.select(
        "partition_key", "constraint_id",
        F.col("violation_count").alias("__av"), F.col("evaluated_count").alias("__ae"),
    )
    r = vr.select(
        "partition_key", "constraint_id",
        F.col("violation_count").alias("__rv"), F.col("evaluated_count").alias("__re"),
    )
    on = ["partition_key", "constraint_id"]
    j = prev.join(a, on, "full").join(r, on, "full")
    z = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    out = j.select(
        "partition_key",
        "constraint_id",
        (z("__pv") + z("__av") - z("__rv")).alias("violation_count"),
        (z("__pe") + z("__ae") - z("__re")).alias("evaluated_count"),
    ).withColumn("passed", verdict_passed(engine.spec))
    if engine.spec.partition_by:
        # a partition exists iff it has rows (evaluated_count is the
        # per-partition row count, identical across constraints): a
        # partition fully drained by the delta composes to
        # (0, 0, passed) here, but a from-scratch run emits NO row for
        # it — drop the vacuous rows so the two agree.
        out = out.filter(F.col("evaluated_count") > 0)
    # in global mode the grand aggregate emits one row even for an
    # EMPTY table (vacuous pass), so zero-evaluated rows are kept —
    # they match the from-scratch shape.
    return out.select(*VERDICT_COLUMNS)


def key_counts(df: DataFrame, columns, drop_null_keys: bool = True) -> DataFrame:
    """The materialized keyed count state: one (key..., n) row per
    distinct key present in the snapshot. This is the batch form of the
    ``stream_unique_violations`` keyed state — persist it (parquet /
    a table) alongside the snapshot's verdicts and the NEXT snapshot's
    unique / FK / cardinality checks never rescan the table: they
    compose this state with the delta (``compose_key_counts``).

    drop_null_keys=True (unique / FK states) drops NULL-key rows,
    matching ``ValidationEngine.unique_violations`` (``na.drop``) and
    ``fk_violations`` (NULL FK values pass). Cardinality states set it
    False: ``groupBy`` keeps NULL groups and so must the state. One key
    shuffle; Spark's partial aggregation pre-combines map-side, and the
    output is key-cardinality-sized (fixed-width keys + a long), not
    table-sized."""
    cols = list(columns)
    keyed = df.select(*cols)
    if drop_null_keys:
        keyed = keyed.na.drop(subset=cols)
    return keyed.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))


def unique_key_counts(df: DataFrame, columns) -> DataFrame:
    """Uniqueness state = NULL-dropped ``key_counts`` (kept as the
    round-4 name; unique / FK states are interchangeable when the
    column sets match)."""
    return key_counts(df, columns, drop_null_keys=True)


def compose_key_counts(
    prev_counts: DataFrame,
    added: DataFrame,
    removed: DataFrame,
    columns,
    drop_null_keys: bool = True,
) -> DataFrame:
    """Next snapshot's keyed count state from the previous state plus
    the keyed delta — the same count-composition identity the row-level
    verdicts use, applied to the key-shuffle table-level checks:

        n_B(key) = n_A(key) + n_added(key) - n_removed(key)

    Exact (not approximate) because snapshot_delta is multiset-aware:
    a key whose multiplicity changes surfaces the net copies in
    added/removed. Composition is a signed UNION + one groupBy (prev
    counts as +n, added as +1s, removed as -1s): NULL group keys
    compose correctly (groupBy is null-safe where an equi-join is not),
    and the one shuffle sees three key-cardinality-bounded inputs,
    never the snapshots themselves. Keys composing to n = 0 are dropped
    (the key left the table — a from-scratch groupBy emits no row for
    it either)."""
    cols = list(columns)

    def _delta(df: DataFrame, sign: int) -> DataFrame:
        keyed = df.select(*cols)
        if drop_null_keys:
            keyed = keyed.na.drop(subset=cols)
        return keyed.groupBy(*cols).agg(
            (F.count(F.lit(1)) * sign).alias("__d")
        )

    u = (
        prev_counts.select(*cols, F.col("n").alias("__d"))
        .unionByName(_delta(added, 1))
        .unionByName(_delta(removed, -1))
    )
    return (
        u.groupBy(*cols)
        .agg(F.sum("__d").cast("long").alias("n"))
        .filter(F.col("n") > 0)
    )


def compose_unique_counts(
    prev_counts: DataFrame, added: DataFrame, removed: DataFrame, columns
) -> DataFrame:
    """Round-4 name for ``compose_key_counts`` with NULL-dropped keys
    (the unique/FK-state form)."""
    return compose_key_counts(prev_counts, added, removed, columns, drop_null_keys=True)


def unique_violations_from_counts(counts: DataFrame, c: Unique) -> DataFrame:
    """Violation rows from a (key..., n) state table — byte-identical
    to ``ValidationEngine.unique_violations`` on the full snapshot
    (asserted in test_incremental and by the cv_incremental_unique
    oracle): one row per duplicated key, detail ``duplicates=n``."""
    return counts.filter(F.col("n") > 1).select(
        *c.columns,
        F.lit(c.id).alias("constraint_id"),
        F.concat(F.lit("duplicates="), F.col("n").cast("string")).alias("detail"),
    )


def fk_dangling_counts(counts: DataFrame, dim: DataFrame, c: ForeignKey) -> DataFrame:
    """Dangling-key rows from a fact-side (key..., n) state table and
    the CURRENT dimension: the state's keys anti-joined against the
    deduplicated dim refs, keeping n — so sum(n) equals the number of
    violating fact ROWS, matching ``ValidationEngine.fk_violations``'
    row-per-dangling-row output exactly (asserted in test_incremental).

    The dim never touches the state's construction, so a dim change
    between snapshots needs NO state rebuild: re-run this verdict-time
    anti-join — key-cardinality vs dim, the snapshot itself untouched.
    NULL-pass semantics are inherited from the state (built with
    drop_null_keys=True)."""
    ref = F.broadcast(
        dim.select(
            *[F.col(rc).alias(f"__ref_{i}") for i, rc in enumerate(c.ref_columns)]
        ).dropDuplicates()
    )
    cond = None
    for i, fc in enumerate(c.columns):
        clause = F.col(fc) == F.col(f"__ref_{i}")
        cond = clause if cond is None else (cond & clause)
    return counts.join(ref, on=cond, how="left_anti")


def cardinality_violations_from_counts(counts: DataFrame, c: Cardinality) -> DataFrame:
    """Violation rows from a (group..., n) state table (built with
    drop_null_keys=False — groupBy keeps NULL groups) — byte-identical
    to ``ValidationEngine.cardinality_violations`` on the full
    snapshot: one row per out-of-bounds group, detail ``count=n``.
    Groups that drained to n = 0 were already dropped by the
    composition, matching the from-scratch groupBy which emits no row
    for an absent group (so a min-bound never fires on a vanished
    group)."""
    cond = F.lit(False)
    if c.min is not None:
        cond = cond | (F.col("n") < c.min)
    if c.max is not None:
        cond = cond | (F.col("n") > c.max)
    return counts.filter(cond).select(
        *c.group_by,
        F.lit(c.id).alias("constraint_id"),
        F.concat(F.lit("count="), F.col("n").cast("string")).alias("detail"),
    )


def drift_category_counts(df: DataFrame, c: Drift) -> DataFrame:
    """The materialized drift state for a chi2 (categorical) Drift
    constraint: one (group_by..., __cat, n) row per observed category
    (NULLs excluded, matching chi2_drift). Category-cardinality-sized,
    so persisting it next to the snapshot costs ~nothing; the NEXT
    snapshot's drift verdict composes this state with the delta and
    never rescans the table (``compose_drift_counts`` /
    ``drift_verdict_rows_from_counts``)."""
    from xsd2json_spark.engine.drift import _value_col

    if c.test != "chi2":
        raise ValueError(
            f"drift {c.id}: only chi2 (categorical counts) drift is "
            "state-composable; KS needs the value distribution (ECDF at a "
            "grid), and order statistics don't subtract"
        )
    gb = list(c.group_by)
    return (
        df.select(*gb, _value_col(c).alias("__cat"))
        .filter(F.col("__cat").isNotNull())
        .groupBy(*gb, "__cat")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def compose_drift_counts(
    prev_counts: DataFrame, added: DataFrame, removed: DataFrame, c: Drift
) -> DataFrame:
    """Next snapshot's drift state from the previous one plus the keyed
    delta — the same +added -removed identity as ``compose_key_counts``
    applied to category counts (the delta rows evaluate the
    constraint's value EXPRESSION, so expr-based drift composes too)."""
    from xsd2json_spark.engine.drift import _value_col

    gb = list(c.group_by)

    def _delta(df: DataFrame, sign: int) -> DataFrame:
        return (
            df.select(*gb, _value_col(c).alias("__cat"))
            .filter(F.col("__cat").isNotNull())
            .groupBy(*gb, "__cat")
            .agg((F.count(F.lit(1)) * sign).alias("__d"))
        )

    u = (
        prev_counts.select(*gb, "__cat", F.col("n").alias("__d"))
        .unionByName(_delta(added, 1))
        .unionByName(_delta(removed, -1))
    )
    return (
        u.groupBy(*gb, "__cat")
        .agg(F.sum("__d").cast("long").alias("n"))
        .filter(F.col("n") > 0)
    )


def _bin_expr(v, grid) -> "F.Column":
    """Canonical form lives in engine.drift.bin_index_expr (shared with
    the streaming KS counter); kept as a thin alias for this module's
    call sites."""
    from xsd2json_spark.engine.drift import bin_index_expr

    return bin_index_expr(v, grid)


def drift_value_bins(df: DataFrame, c: Drift, baselines: dict) -> DataFrame:
    """The materialized KS drift state: one (__bin, n) row per occupied
    bin of the BASELINE's quantile grid (NULLs dropped). The grid has
    ~50 edges, so the state is ~51 rows — and binned counts compose
    over the delta like any other count, which makes KS drift
    incrementally maintainable WITHOUT approximation: ks_drift's
    statistic only ever reads the ECDF at the baseline grid points,
    and those are exact cumulative sums of these bins."""
    if c.test != "ks":
        raise ValueError(f"drift {c.id}: drift_value_bins is the KS (numeric) state")
    baseline = baselines.get(c.baseline)
    if baseline is None:
        raise KeyError(f"drift {c.id}: baseline snapshot {c.baseline!r} not provided")
    from xsd2json_spark.engine.drift import _value_col

    v = _value_col(c).cast("double")
    return (
        df.select(v.alias("__v"))
        .na.drop()
        .select(_bin_expr(F.col("__v"), baseline["grid"]).alias("__bin"))
        .groupBy("__bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def compose_drift_bins(
    prev_bins: DataFrame, added: DataFrame, removed: DataFrame, c: Drift, baselines: dict
) -> DataFrame:
    """Next snapshot's KS bin state from the previous one plus the
    keyed delta (+added -removed, same identity as every other
    state)."""
    baseline = baselines.get(c.baseline)
    if baseline is None:
        raise KeyError(f"drift {c.id}: baseline snapshot {c.baseline!r} not provided")
    from xsd2json_spark.engine.drift import _value_col

    grid = baseline["grid"]

    def _delta(df: DataFrame, sign: int) -> DataFrame:
        v = _value_col(c).cast("double")
        return (
            df.select(v.alias("__v"))
            .na.drop()
            .select(_bin_expr(F.col("__v"), grid).alias("__bin"))
            .groupBy("__bin")
            .agg((F.count(F.lit(1)) * sign).alias("__d"))
        )

    u = (
        prev_bins.select("__bin", F.col("n").alias("__d"))
        .unionByName(_delta(added, 1))
        .unionByName(_delta(removed, -1))
    )
    return (
        u.groupBy("__bin")
        .agg(F.sum("__d").cast("long").alias("n"))
        .filter(F.col("n") > 0)
    )


def ks_verdict_rows_from_bins(c: Drift, bins: DataFrame, baselines: dict) -> "list[tuple]":
    """KS drift verdict row from a composed bin state — IDENTICAL
    statistic and p-value to ``engine.drift.ks_drift`` on the full
    snapshot: ECDF at baseline grid point i = (rows with bin <= i) / n,
    exactly the avg(v <= grid[i]) the full scan computes. The collect
    is grid-sized (~51 rows)."""
    from xsd2json_spark.engine.stats_math import ks_pvalue
    from xsd2json_spark.spec.constraints import SpecError

    baseline = baselines.get(c.baseline)
    if baseline is None:
        raise KeyError(f"drift {c.id}: baseline snapshot {c.baseline!r} not provided")
    if c.group_by:
        raise ValueError(f"drift {c.id}: per-group KS state not supported (use recompute)")
    grid, base_ecdf, n_base = baseline["grid"], baseline["ecdf"], baseline["n"]
    per_bin = {r["__bin"]: r["n"] for r in bins.collect()}
    n_cur = sum(per_bin.values())
    if n_cur == 0:
        raise SpecError(f"drift {c.id}: no current values")
    cum = 0
    d = 0.0
    for i in range(len(grid)):
        cum += per_bin.get(i, 0)
        d = max(d, abs(cum / n_cur - base_ecdf[i]))
    passed = ks_pvalue(d, n_base, n_cur) >= c.alpha
    return [("ALL", c.id, 0 if passed else 1, None, passed)]


def drift_verdict_rows_from_counts(c: Drift, counts: DataFrame, baselines: dict) -> "list[tuple]":
    """chi2 drift verdict rows from a composed category-count state —
    identical pass/fail to ``engine.drift.drift_verdict`` on the full
    snapshot (the observed counts are equal by the exact composition;
    the statistic and p-value use the same chi2_stat / chi2_sf). The
    collect is category-cardinality-sized (bounded by the baseline's
    vocabulary), never the table."""
    from xsd2json_spark.engine.drift import group_key
    from xsd2json_spark.engine.stats_math import chi2_sf, chi2_stat

    baseline = baselines.get(c.baseline)
    if baseline is None:
        raise KeyError(f"drift {c.id}: baseline snapshot {c.baseline!r} not provided")
    gb = list(c.group_by)
    rows = counts.collect()
    if not gb:
        b_counts = baseline["counts"]
        total = sum(b_counts.values())
        probs = {k: v / total for k, v in b_counts.items()}
        observed = {str(r["__cat"]): r["n"] for r in rows}
        stat, dof = chi2_stat(observed, probs)
        passed = chi2_sf(stat, dof) >= c.alpha
        return [("ALL", c.id, 0 if passed else 1, None, passed)]
    # per-group: mirror chi2_drift_by row for row — unseen groups (in
    # data, not baseline) and vanished groups (baseline, not data) both
    # fail with p = 0 instead of silently emitting no verdict
    out = []
    per_group: dict = {}
    for r in rows:
        per_group.setdefault(group_key([r[g] for g in gb]), {})[str(r["__cat"])] = r["n"]
    for gkey, observed in sorted(per_group.items()):
        base_counts = baseline["groups"].get(gkey)
        if not base_counts:
            out.append((gkey, c.id, 1, None, False))  # unseen group = drift
            continue
        total = sum(base_counts.values())
        probs = {k: v / total for k, v in base_counts.items()}
        stat, dof = chi2_stat(observed, probs)
        passed = chi2_sf(stat, dof) >= c.alpha
        out.append((gkey, c.id, 0 if passed else 1, None, passed))
    for gkey in sorted(set(baseline["groups"]) - set(per_group)):
        out.append((gkey, c.id, 1, None, False))  # vanished group = drift
    return out


def incremental_verdicts(
    spark: SparkSession,
    spec: Spec,
    prev_df: DataFrame,
    cur_df: DataFrame,
    prev_verdicts: DataFrame,
    dims=None,
    config=None,
    unique_state=None,
    fk_state=None,
    cardinality_state=None,
    drift_state=None,
    baselines=None,
) -> DataFrame:
    """Full verdict table for cur_df, touching only the delta for the
    row-level (content-scanning) constraints and recomputing the
    key-shuffle table-level ones on cur_df. Equals a from-scratch
    ``ValidationEngine.run(cur_df)`` verdict table (asserted in
    test_incremental and by the cv_incremental_verdicts oracle).

    unique_state / fk_state / cardinality_state: optional
    {constraint_id: (key..., n) DataFrame} — the previous snapshot's
    ``key_counts`` per constraint (NULL-dropped for unique/FK,
    NULL-kept for cardinality). Each covered constraint's verdict is
    then COMPOSED from the state plus the delta (``compose_key_counts``)
    instead of re-shuffling every key of cur_df — with all three
    supplied, the verdict table touches cur_df only for the delta scan
    and the sketch-sized quantile/drift checks. FK additionally reads
    the CURRENT dim at verdict time (``fk_dangling_counts``), so dim
    changes need no state rebuild. Maintain each state for the next
    snapshot with the same compose call.

    drift_state: optional {constraint_id: (group..., __cat, n)
    DataFrame} — the previous snapshot's ``drift_category_counts`` per
    chi2 Drift constraint, composed over the delta
    (``compose_drift_counts``) so the drift verdict also skips the
    current-snapshot scan; requires ``baselines`` (the same dict
    ``ValidationEngine`` takes). KS drift stays a recompute (order
    statistics don't subtract)."""
    kwargs = {}
    if config is not None:
        kwargs["config"] = config
    # watched_columns stripped: the stats sketch over a delta is not a
    # snapshot sketch (min/max/distinct don't subtract) — sketches stay
    # a full-run product
    engine = ValidationEngine(
        spark, replace(spec, watched_columns=()), dims=dims or {},
        baselines=baselines or {}, **kwargs,
    )
    added, removed = snapshot_delta(prev_df, cur_df, spec.key_columns)
    verdicts = incremental_row_verdicts(engine, added, removed, prev_verdicts)
    unique_state = unique_state or {}
    fk_state = fk_state or {}
    cardinality_state = cardinality_state or {}
    drift_state = drift_state or {}

    def _verdict_row(cid, n_col):
        vc, ec = F.coalesce(F.col("__n"), F.lit(0)).cast("long"), F.lit(None).cast("long")
        return n_col.select(
            F.lit("ALL").alias("partition_key"),
            F.lit(cid).alias("constraint_id"),
            vc.alias("violation_count"),
            ec.alias("evaluated_count"),
            verdict_passed(spec, F.lit(cid), vc, ec).alias("passed"),
        )

    composed = []
    for c in spec.table_level():
        if isinstance(c, Unique) and c.id in unique_state:
            counts = compose_key_counts(unique_state[c.id], added, removed, c.columns)
            n = unique_violations_from_counts(counts, c).agg(
                F.count(F.lit(1)).alias("__n")
            )
        elif isinstance(c, ForeignKey) and c.id in fk_state:
            dim = (dims or {}).get(c.ref_table)
            if dim is None:
                raise KeyError(
                    f"foreign_key {c.id}: dimension table {c.ref_table!r} not provided"
                )
            counts = compose_key_counts(fk_state[c.id], added, removed, c.columns)
            # violation_count counts fact ROWS (sum of n), matching the
            # from-scratch row-per-dangling-row verdict
            n = fk_dangling_counts(counts, dim, c).agg(F.sum("n").alias("__n"))
        elif isinstance(c, Cardinality) and c.id in cardinality_state:
            counts = compose_key_counts(
                cardinality_state[c.id], added, removed, c.group_by,
                drop_null_keys=False,
            )
            n = cardinality_violations_from_counts(counts, c).agg(
                F.count(F.lit(1)).alias("__n")
            )
        elif isinstance(c, Drift) and c.id in drift_state:
            if c.test == "ks":
                bins = compose_drift_bins(
                    drift_state[c.id], added, removed, c, baselines or {}
                )
                rows = ks_verdict_rows_from_bins(c, bins, baselines or {})
            else:
                counts = compose_drift_counts(drift_state[c.id], added, removed, c)
                rows = drift_verdict_rows_from_counts(c, counts, baselines or {})
            composed.append(c)
            verdicts = verdicts.unionByName(spark.createDataFrame(rows, schema=VERDICT_SCHEMA))
            continue
        else:
            continue
        composed.append(c)
        verdicts = verdicts.unionByName(_verdict_row(c.id, n))
    table_cs = [c for c in spec.table_level() if c not in composed]
    if table_cs:
        table_spec = replace(spec, constraints=tuple(table_cs), watched_columns=())
        tbl_engine = ValidationEngine(
            spark, table_spec, dims=dims or {}, baselines=baselines or {}, **kwargs
        )
        res = tbl_engine.run(cur_df)
        tv = res.verdicts.filter(
            F.col("constraint_id").isin([c.id for c in table_cs])
        )
        verdicts = verdicts.unionByName(tv.select(*VERDICT_COLUMNS))
    return verdicts


def build_states(df: DataFrame, spec: Spec, baselines=None) -> "dict[str, DataFrame]":
    """All maintainable table-level states for a snapshot in one place:
    {constraint_id: state DataFrame} — (key..., n) for unique/FK
    (NULL-dropped) and cardinality (NULL-kept), (group..., __cat, n)
    for chi2 drift, (__bin, n) for KS drift. Persist these next to the
    snapshot's verdicts (each is key/category/grid-cardinality-sized)
    and the next run composes them over the delta via
    ``incremental_verdicts(**split_states(spec, states))``. Quantile is
    the one table check with no state (order statistics don't
    subtract)."""
    out: "dict[str, DataFrame]" = {}
    for c in spec.table_level():
        if isinstance(c, Unique):
            out[c.id] = key_counts(df, c.columns)
        elif isinstance(c, ForeignKey):
            out[c.id] = key_counts(df, c.columns)
        elif isinstance(c, Cardinality):
            out[c.id] = key_counts(df, c.group_by, drop_null_keys=False)
        elif isinstance(c, Drift):
            if c.test == "chi2":
                out[c.id] = drift_category_counts(df, c)
            elif not c.group_by:
                out[c.id] = drift_value_bins(df, c, baselines or {})
            # per-group KS stays a recompute — no state emitted
    return out


def split_states(spec: Spec, states: "dict[str, DataFrame]") -> dict:
    """Partition a {constraint_id: state} dict into the kwargs
    ``incremental_verdicts`` takes (unique_state / fk_state /
    cardinality_state / drift_state), keyed by each constraint's
    actual kind — so job code can persist states under one directory
    and not care which check they belong to."""
    by_id = {c.id: c for c in spec.table_level()}
    kw: dict = {"unique_state": {}, "fk_state": {}, "cardinality_state": {}, "drift_state": {}}
    for cid, st in states.items():
        c = by_id.get(cid)
        if isinstance(c, Unique):
            kw["unique_state"][cid] = st
        elif isinstance(c, ForeignKey):
            kw["fk_state"][cid] = st
        elif isinstance(c, Cardinality):
            kw["cardinality_state"][cid] = st
        elif isinstance(c, Drift):
            kw["drift_state"][cid] = st
    return kw


def schema_delta(prev_df: DataFrame, cur_df: DataFrame) -> "list[dict]":
    """Schema evolution between two snapshots: one dict per change —
    {"change": added|removed|type_changed|nullability_changed,
    "column", "prev", "cur"}. Pure driver-side StructType comparison
    (schemas are metadata; no data is scanned). Run it BEFORE
    incremental_verdicts: a column-level change invalidates composed
    states that reference the column, and silently composing across a
    type change is exactly the failure mode a validation engine
    exists to catch."""
    prev = {f.name: f for f in prev_df.schema.fields}
    cur = {f.name: f for f in cur_df.schema.fields}
    out: "list[dict]" = []
    for name in sorted(set(prev) | set(cur)):
        p, c = prev.get(name), cur.get(name)
        if p is None:
            out.append({"change": "added", "column": name,
                        "prev": None, "cur": c.dataType.simpleString()})
        elif c is None:
            out.append({"change": "removed", "column": name,
                        "prev": p.dataType.simpleString(), "cur": None})
        elif p.dataType != c.dataType:
            out.append({"change": "type_changed", "column": name,
                        "prev": p.dataType.simpleString(),
                        "cur": c.dataType.simpleString()})
        elif p.nullable != c.nullable:
            out.append({"change": "nullability_changed", "column": name,
                        "prev": str(p.nullable).lower(), "cur": str(c.nullable).lower()})
    return out


def schema_delta_verdict(
    prev_df: DataFrame, cur_df: DataFrame, spec: Spec,
    allow: ("tuple") = ("added",),
) -> "tuple[dict, list[dict]]":
    """Gate form: (verdict row dict, changes). The verdict fails on any
    change kind not in ``allow`` (default: additive evolution passes,
    removals/retypes fail), and ALWAYS fails when a changed column is
    referenced by the spec (key column, constraint column/determinant/
    group key) — those invalidate composed states and constraint
    semantics regardless of policy."""
    changes = schema_delta(prev_df, cur_df)
    referenced = set(spec.key_columns)
    for c in spec.constraints:
        for attr in ("column", "dependent"):
            v = getattr(c, attr, "")
            if v:
                referenced.add(v)
        for attr in ("columns", "determinants", "group_by"):
            referenced.update(getattr(c, attr, ()) or ())
    bad = [
        ch for ch in changes
        if ch["change"] not in allow or ch["column"] in referenced
    ]
    verdict = {
        "partition_key": "ALL",
        "constraint_id": "__schema__",
        "violation_count": len(bad),
        "evaluated_count": len(changes),
        "passed": not bad,
    }
    return verdict, changes
