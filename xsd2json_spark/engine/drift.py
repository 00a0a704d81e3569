"""Distribution-drift checks against a persisted baseline snapshot
(north_star extension; the reference has no runtime analog — this
generalizes its accumulate-then-verdict shape to distributions).

Baseline snapshot format (JSON-serializable dict, see jobs/snapshot.py):

    {
      "<name>": {
        "kind": "categorical",
        "counts": {"en": 218, "fr": 64, ...}          # chi-square target
      },
      "<name>": {
        "kind": "numeric",
        "n": 500,
        "grid": [q1, q2, ...],                        # value grid
        "ecdf": [F(q1), F(q2), ...]                   # baseline ECDF at grid
      }
    }

A per-group baseline (a Drift with group_by) is {"kind":
"categorical_by" | "numeric_by", "group_by": [...], "groups": {key:
counts | {"n", "grid", "ecdf"}}}, keyed by ``group_key``.

Scale design: every drift statistic reads the constraint's count
state (``incremental.state_of``), ONE aggregation whose size is
bounded by the categories or grid points, never the rows:

- chi2: groupBy(group..., __cat).count(); the Pearson statistic is
  computed driver-side (O(#categories)) in ``chi2_from_counts``.
- ks: the baseline stores a ~199-point value grid with its ECDF, per
  group when grouped; the state is groupBy(group..., __bin).count(),
  __bin = the number of grid points strictly below the value (at most
  grid+1 counters per group, no sort). A per-group state finds each
  row's grid with a broadcast left join on ``group_key_col``. The ECDF
  at grid point i is (rows with bin <= i) / n, read driver-side by
  ``ecdf_at_grid`` (baselines and ``ks_from_bins``) and in-plan by
  ``ks_verdicts_over_bins`` (queries, streams, any extra group key);
  D = max_i |ecdf_cur(q_i) - ecdf_base(q_i)|. The grid bounds the
  error of D by the grid resolution (1/(grid+1) per cell), which is
  what you want at 10^12 rows — an exact KS needs a full sort.

The baselines are built from the same states, and the in-plan
statistics (``chi2_statistic_df``, ``psi_statistic_df``) count their
observed side with ``state_of`` too.
"""

from __future__ import annotations

from itertools import accumulate
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xsd2json_spark.engine.stats_math import chi2_sf, chi2_stat, ks_pvalue
from xsd2json_spark.spec.constraints import Drift, SpecError

DEFAULT_GRID_POINTS = 199
#: the per-group KS bin of a row whose group has no baseline grid; the
#: reader fails such a group, so the row only has to keep it visible
UNSEEN_GROUP_BIN = -1
#: group-key column types that ``group_key_col`` spells as str() does
_KEYABLE_TYPES = ("string", "tinyint", "smallint", "int", "bigint", "boolean")


def _value_col(c: Drift):
    return F.expr(c.expr) if c.expr else F.col(c.column)


def group_key(values) -> str:
    """Unambiguous group key for multi-column group_by. A bare
    '|'.join(str(v)) collides ('a|b','c') with ('a','b|c') and NULL with
    the string 'None', silently merging distinct groups' distributions —
    so the separator and backslash are escaped and NULL gets its own
    token. Single pipe-free string values keep their natural key."""
    def esc(v):
        if v is None:
            return "\\N"
        return str(v).replace("\\", "\\\\").replace("|", "\\|")

    return "|".join(esc(v) for v in values)


def group_key_col(df: DataFrame, cols, cid: str) -> Column:
    """In-plan twin of ``group_key`` over ``df``'s columns ``cols``: the
    same string for the same values, so a row finds its group's entry
    in a baseline keyed by ``group_key``. Exact for string, integral
    and boolean columns (a boolean is spelt "True"/"False", as Python's
    str() spells it); any other type may print differently in Spark
    and Python, so it raises SpecError naming drift ``cid``."""
    types = dict(df.dtypes)

    def esc(name):
        col, t = F.col(name), types.get(name)
        if t not in _KEYABLE_TYPES:
            raise SpecError(
                f"drift {cid}: group key {name!r} has type {t}; per-group KS "
                "needs a string, integral or boolean group key"
            )
        if t == "boolean":
            s = F.when(col, F.lit("True")).otherwise(F.lit("False"))
        else:
            s = F.replace(F.replace(col.cast("string"), F.lit("\\"), F.lit("\\\\")), F.lit("|"), F.lit("\\|"))
        return F.when(col.isNull(), F.lit("\\N")).otherwise(s)

    return F.concat_ws("|", *[esc(name) for name in cols])


def make_categorical_baseline(df: DataFrame, expr: str, group_by=()) -> dict:
    """Category counts of ``expr`` (a column name or SQL expression),
    per ``group_key`` when ``group_by`` is set: a collect of the chi2
    count state, so NULL categories are dropped as the verdict drops
    them."""
    from xsd2json_spark.engine.incremental import state_of

    gb = list(group_by)
    c = Drift(id="baseline", column=expr, expr=expr, test="chi2", baseline="self", group_by=gb)
    by_group = _rows_by_group(state_of(df, c).collect(), gb)
    groups = {key: {str(r["__cat"]): r["n"] for r in rows} for key, rows in by_group.items()}
    if not gb:
        return {"kind": "categorical", "counts": groups.get("", {})}
    return {"kind": "categorical_by", "group_by": gb, "groups": groups}


def make_numeric_baseline(
    df: DataFrame, expr: str, grid_points: int = DEFAULT_GRID_POINTS, group_by=()
) -> dict:
    """Quantile grid (percentile_approx, per group when ``group_by`` is
    set) + the baseline's own ECDF at that grid, read off its bin-count
    state like any current side. A group with no values gets no entry;
    a table with no value at all raises SpecError."""
    from xsd2json_spark.engine.incremental import state_of

    gb = list(group_by)
    probs = [i / (grid_points + 1) for i in range(1, grid_points + 1)]
    # percentile_approx skips NULLs; nanvl makes NaN one too, so the
    # grid sees exactly the values state_rows keeps
    v = F.nanvl(F.expr(expr).cast("double"), F.lit(None))
    grids = {
        group_key(r[:-1]): [float(q) for q in r[-1]]
        for r in df.groupBy(*gb).agg(F.percentile_approx(v, probs, 10000)).collect()
        if r[-1] is not None
    }
    if not grids:
        raise SpecError(f"numeric baseline of {expr!r}: no non-NULL, non-NaN value")
    c = Drift(id="baseline", column=expr, expr=expr, test="ks", baseline="self", group_by=gb)
    base = {"groups": {k: {"grid": g} for k, g in grids.items()}} if gb else {"grid": grids[""]}
    groups = {}
    for key, rows in _rows_by_group(state_of(df, c, {"self": base}).collect(), gb).items():
        ecdf, n = ecdf_at_grid(rows, len(grids[key]))
        groups[key] = {"n": n, "grid": grids[key], "ecdf": ecdf}
    if not gb:
        return {"kind": "numeric", **groups[""]}
    return {"kind": "numeric_by", "group_by": gb, "groups": groups}


def _baseline_counts(baseline_df: DataFrame, column: str, group_by=()) -> DataFrame:
    """A caller's baseline count rows (group_by..., ``column``, n) as
    (group_by..., __cat, __b), NULL categories dropped — the NULL rule
    of the chi2 state (``incremental.state_rows``) applied to counts
    that arrive already aggregated."""
    return baseline_df.select(*group_by, F.col(column).alias("__cat"), F.col("n").alias("__b")).filter(
        F.col("__cat").isNotNull()
    )


def _observed_counts(df: DataFrame, column: str, by) -> DataFrame:
    """(by..., __cat, __o): the chi2 count state of ``column``."""
    from xsd2json_spark.engine.incremental import state_of

    c = Drift(id="observed", column=column, test="chi2", baseline="self")
    return state_of(df, c, by=by).withColumnRenamed("n", "__o")


def chi2_statistic_df(
    df: DataFrame, column: str, baseline_df: DataFrame, by=None
) -> DataFrame:
    """Distributed Pearson chi-square STATISTIC: observed counts,
    expected counts, and the statistic are all computed IN-PLAN (one
    groupBy + a broadcast join against the baseline counts — no
    driver-side math), which makes the statistic itself oracle-able in
    plain SQL and scales per-group chi2 to any number of groups.

    ``baseline_df`` carries the reference distribution as
    (``column``, n) count rows; ``by`` optionally groups the current
    data (one statistic row per group). NULL categories are excluded on
    both sides. Observed categories MUST be a subset of the baseline's
    (pre-bucket novel categories into an OTHER label for open
    vocabularies — a spine-missing category would silently drop its
    term). Returns (by..., statistic, n_cats, dof); converting to a
    p-value stays driver-side via chi2_sf, which is scipy-pinned in
    tests."""
    gb = list(by or [])
    obs = _observed_counts(df, column, gb)
    b = _baseline_counts(baseline_df, column)
    bt = b.agg(F.sum("__b").alias("__bt"))
    n = obs.groupBy(*gb).agg(F.sum("__o").alias("__n"))
    spine = n.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(bt))
    j = spine.join(obs, gb + ["__cat"], "left").withColumn(
        "__o", F.coalesce(F.col("__o"), F.lit(0))
    )
    e = F.col("__n") * F.col("__b") / F.col("__bt")
    return (
        j.groupBy(*gb)
        .agg(
            F.sum((F.col("__o") - e) ** 2 / e).alias("statistic"),
            F.count(F.lit(1)).alias("n_cats"),
        )
        .withColumn("dof", (F.col("n_cats") - 1).cast("long"))
    )


def psi_statistic_df(
    df: DataFrame, column: str, baseline_df: DataFrame, by=None, eps: float = 1e-6
) -> DataFrame:
    """Population Stability Index, fully in-plan (same spine shape as
    chi2_statistic_df, widened to the UNION of baseline and observed
    categories): psi = sum_cat (p_cur - p_base) * ln(p_cur / p_base),
    proportions clipped to ``eps`` so empty cells — including NOVEL
    observed categories absent from the baseline, a primary PSI use
    case — contribute the finite eps-clipped penalty instead of being
    silently dropped. PSI has no p-value — the conventional action
    thresholds are 0.1 (watch) / 0.25 (act), applied directly to the
    statistic, which makes the whole check oracle-able (no driver-side
    math at all, unlike chi2/KS where only the p-value stays on the
    driver). Returns (by..., psi, n_cats); n_cats counts the union
    spine per group.

    ``baseline_df`` holds (``column``, n) rows; a category may repeat,
    and its counts are summed before the baseline folds into a map."""
    gb = list(by or [])
    obs = _observed_counts(df, column, gb)
    # Round 6 shape: ONE reference to the observed counts. The previous
    # spine (groups x baseline-cats union + three joins) re-expanded the
    # obs subtree four times in the physical plan — 22 scans and 32
    # exchanges for a category-sized statistic. Instead each group
    # collapses to a single (cat -> count) map row (category-bounded,
    # the documented collect discipline), the baseline aggregates to ONE
    # broadcast row, and the psi sum folds over the union of the two
    # key sets — same cells, same eps clips, 3 scans / 4 exchanges.
    # Novel observed cats read __b = 0, vanished baseline cats __o = 0.
    gm = obs.groupBy(*gb).agg(
        F.map_from_entries(F.collect_list(F.struct("__cat", "__o"))).alias("__m"),
        F.sum("__o").alias("__n"),
    )
    b1 = (
        _baseline_counts(baseline_df, column)
        .groupBy("__cat")
        .agg(F.sum("__b").alias("__b"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("__cat", "__b"))
            ).alias("__bm"),
            F.sum("__b").alias("__bt"),
        )
    )
    j = gm.crossJoin(F.broadcast(b1))
    cats = F.array_union(F.map_keys("__m"), F.map_keys("__bm"))

    def term(c):
        o = F.coalesce(F.try_element_at(F.col("__m"), c), F.lit(0))
        bv = F.coalesce(F.try_element_at(F.col("__bm"), c), F.lit(0))
        p_cur = F.greatest(o / F.col("__n"), F.lit(eps))
        p_base = F.greatest(bv / F.col("__bt"), F.lit(eps))
        return (p_cur - p_base) * F.log(p_cur / p_base)

    return j.select(
        *gb,
        F.aggregate(cats, F.lit(0.0), lambda acc, c: acc + term(c)).alias("psi"),
        F.size(cats).cast("long").alias("n_cats"),
    )


def bin_index_expr(v, grid) -> Column:
    """In-plan bin index against a baseline quantile grid (a list of
    points, or an array Column holding each row's group grid): the
    number of grid edges STRICTLY BELOW the value ``v`` (a Column), so
    rows with v <= grid[i] are exactly the rows with bin <= i, for any
    sorted grid (repeated points included). Used only by the KS count
    state (``incremental.state_rows``)."""
    edges = grid if isinstance(grid, Column) else F.array(*[F.lit(float(q)) for q in grid])
    return F.size(F.filter(edges, lambda e: e < v))


def ks_verdicts_over_bins(
    bins_df: DataFrame,
    baseline: dict,
    window_cols=("window",),
    alpha: float = 0.01,
) -> DataFrame:
    """Per-window KS drift verdicts as a STATELESS view over a
    bin-count state — the in-plan reader of the KS state and the KS
    sibling of drift_verdicts_over_counts. It folds each window's bins
    into a map, evaluates the ECDF at every baseline grid point as a
    cumulative map sum, takes D as a greatest() over the grid, and
    passes iff D <= ks_crit_lambda(alpha) / (sqrt(ne) + 0.12 +
    0.11/sqrt(ne)), ne = n_base*n_cur/(n_base+n_cur): the alpha part is
    one driver-side constant, the sample-size part a pure expression of
    the per-window n, so the rule replays in plain SQL (it is
    ks_pvalue(D) >= alpha by monotonicity of the Kolmogorov series).
    Entirely in-plan: no per-row Python, no driver-side stats. Because
    the ECDF terms are integer ratios, D is bit-identical to
    ``ecdf_at_grid``'s driver-side D and to a SQL replay.

    bins_df: (window_cols..., __bin, n) — ``state_of(df, c, baselines,
    by=window_cols)``, a streaming sink of stream_bin_counts, or a
    composed incremental state. Returns
    (window_cols..., d_statistic, n_cur, passed)."""
    from xsd2json_spark.engine.stats_math import ks_crit_lambda

    grid, base_ecdf, n_base = baseline["grid"], baseline["ecdf"], int(baseline["n"])
    lam = ks_crit_lambda(alpha)
    wc = list(window_cols)
    per = (
        bins_df.groupBy(*wc)
        .agg(
            F.map_from_entries(F.collect_list(F.struct("__bin", "n"))).alias("__m"),
            F.sum("n").alias("n_cur"),
        )
    )
    # ECDF at grid point i = (rows with bin <= i) / n_cur — a bounded
    # fold over the ~grid-sized map, per grid point
    def ecdf_at(i):
        acc = F.aggregate(
            F.map_entries("__m"),
            F.lit(0).cast("long"),
            lambda a, e: a + F.when(e.key <= F.lit(i), e.value).otherwise(F.lit(0)),
        )
        return acc.cast("double") / F.col("n_cur").cast("double")

    diffs = [F.abs(ecdf_at(i) - F.lit(float(e))) for i, e in enumerate(base_ecdf)]
    d = F.greatest(*diffs) if len(diffs) > 1 else diffs[0]
    ne = (F.lit(float(n_base)) * F.col("n_cur")) / (F.lit(float(n_base)) + F.col("n_cur"))
    d_crit = F.lit(lam) / (F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne))
    return per.select(
        *wc,
        d.alias("d_statistic"),
        F.col("n_cur").cast("long").alias("n_cur"),
        (d <= d_crit).alias("passed"),
    )


def make_categorical_baseline_df(df: DataFrame, column: str, group_by=()) -> DataFrame:
    """Baseline counts as a DATAFRAME (no driver collect): the chi2
    count state, one (group..., ``column``, n) row per category. The
    distributed sibling of make_categorical_baseline — feed it to
    chi2_statistic_df / drift_verdicts_over_counts, or persist it as
    the baseline-snapshot table a production deployment would keep in
    the warehouse."""
    from xsd2json_spark.engine.incremental import state_of

    c = Drift(id="baseline", column=column, test="chi2", baseline="self", group_by=group_by)
    return state_of(df, c).withColumnRenamed("__cat", column)


def drift_verdicts_over_counts(
    counts_df: DataFrame,
    column: str,
    baseline_df: DataFrame,
    group_by=(),
    window_cols=("window",),
    alpha: float = 0.01,
) -> DataFrame:
    """Per-(window, group) chi-square drift verdicts as a STATELESS view
    over a category-counter table — the streaming-drift shape: the
    stateful part is just the watermarked counts aggregation
    (streaming.stream_category_counts); this view joins those counters
    against the baseline counts and evaluates pass/fail entirely
    in-plan (statistic <= chi2_crit(dof, alpha), critical values
    broadcast as a tiny dof-indexed table up to the baseline's largest
    per-group category count — no per-row Python, no driver-side
    stats).

    counts_df: (window_cols..., group_by..., column, n) — a micro-batch
    sink, a materialized counter table, or any batch equivalent.
    Observed categories must be a subset of the baseline's per group
    (same contract as chi2_statistic_df).
    Returns (window_cols..., group_by..., statistic, dof, passed)."""
    from xsd2json_spark.engine.stats_math import chi2_crit

    gb = list(group_by)
    wc = list(window_cols)
    spark = counts_df.sparkSession
    b = _baseline_counts(baseline_df, column, gb)
    bt = b.groupBy(*gb).agg(F.sum("__b").alias("__bt")) if gb else b.agg(F.sum("__b").alias("__bt"))
    bb = b.join(bt, gb) if gb else b.crossJoin(bt)
    # ONE reference to the counter table: fold each (window, group)'s
    # category counts into a map, then expand along the broadcast
    # baseline spine (unobserved baseline categories read 0 from the
    # map). A join-back onto the counts would be a streaming-sink
    # self-join (conflicting attributes) and a second shuffle.
    per = (
        counts_df.select(*wc, *gb, F.col(column).alias("__cat"), F.col("n").alias("__o"))
        .groupBy(*wc, *gb)
        .agg(
            F.map_from_entries(F.collect_list(F.struct("__cat", "__o"))).alias("__m"),
            F.sum("__o").alias("__n"),
        )
    )
    j = per.join(F.broadcast(bb), gb) if gb else per.crossJoin(F.broadcast(bb))
    o = F.coalesce(F.col("__m")[F.col("__cat")], F.lit(0))
    e = F.col("__n") * F.col("__b") / F.col("__bt")
    agg = (
        j.groupBy(*wc, *gb)
        .agg(
            F.sum((o - e) ** 2 / e).alias("statistic"),
            F.count(F.lit(1)).alias("n_cats"),
        )
        .withColumn("dof", F.greatest(F.col("n_cats") - 1, F.lit(1)).cast("int"))
        .drop("n_cats")
    )
    max_cats = b.groupBy(*gb).count().agg(F.max("count")).first()[0] or 0
    crit = spark.createDataFrame(
        [(d, chi2_crit(d, alpha)) for d in range(1, max(max_cats - 1, 1) + 1)], "dof int, __crit double"
    )
    return (
        agg.join(F.broadcast(crit), "dof")
        .withColumn("passed", F.col("statistic") <= F.col("__crit"))
        .select(*wc, *gb, "statistic", "dof", "passed")
    )


def _rows_by_group(rows, group_by) -> dict:
    """Collected state rows split by their ``group_key``."""
    out: dict = {}
    for r in rows:
        out.setdefault(group_key([r[g] for g in group_by]), []).append(r)
    return out


def _read_state(state: DataFrame, c: Drift, whole: dict, groups: dict, test) -> "list[tuple]":
    """[(group_key, stat, p), ...] of drift check ``c`` from its
    collected count state; ``test`` maps (state rows, baseline entry)
    to (stat, p). A global check gives one "ALL" row against ``whole``.
    Per group, every group present in the state and in ``groups`` is
    tested against its own entry; a group unseen by the baseline and a
    baseline group with no current rows (a vanished population, the
    classic drift signal) both fail with p = 0 instead of silently
    producing no verdict."""
    rows = state.collect()
    if not c.group_by:
        return [("ALL", *test(rows, whole))]
    observed = _rows_by_group(rows, c.group_by)
    return [
        (key, *test(observed[key], groups[key]))
        if key in observed and groups.get(key)
        else (key, float("nan"), 0.0)
        for key in sorted(set(observed) | set(groups))
    ]


def chi2_from_counts(counts: DataFrame, c: Drift, baseline: dict) -> "list[tuple]":
    """Pearson chi-square from a category-count state
    (``incremental.state_of``: (group..., __cat, n) rows, NULL
    categories already excluded) — a fresh one on the full run, the
    composed one on the incremental run. The collect is
    category-cardinality-sized, never the table.

    Returns [(group_key, stat, p), ...] (see ``_read_state``)."""

    def test(rows, base_counts):
        total = sum(base_counts.values())
        if total == 0:
            raise SpecError(f"drift {c.id}: empty baseline")
        probs = {k: v / total for k, v in base_counts.items()}
        stat, dof = chi2_stat({str(r["__cat"]): r["n"] for r in rows}, probs)
        return stat, chi2_sf(stat, dof)

    return _read_state(counts, c, baseline.get("counts"), baseline.get("groups"), test)


def ecdf_at_grid(bins, grid_len: int) -> "tuple[list, int]":
    """(ECDF at each grid point, n) from collected bin-count rows
    (``incremental.state_of``: (__bin, n) against a grid of
    ``grid_len`` points) — the one driver-side grid ECDF. The ECDF at
    point i is (rows with bin <= i) / n, a running sum. No rows give
    ([], 0)."""
    per_bin = {r["__bin"]: r["n"] for r in bins}
    n = sum(per_bin.values())
    if n == 0:
        return [], 0
    return [k / n for k in accumulate(per_bin.get(i, 0) for i in range(grid_len))], n


def ks_from_bins(bins: DataFrame, c: Drift, baseline: dict) -> "list[tuple]":
    """Two-sample KS from the constraint's bin-count state — a fresh
    one on the full run, the composed one on the incremental run — as
    [(group_key, d, p), ...], each group against its own grid (see
    ``_read_state``)."""

    def test(rows, base):
        ecdf, n_cur = ecdf_at_grid(rows, len(base["grid"]))
        if n_cur == 0:
            raise SpecError(f"drift {c.id}: no current values")
        d = max(abs(e - b) for e, b in zip(ecdf, base["ecdf"]))
        return d, ks_pvalue(d, base["n"], n_cur)

    return _read_state(bins, c, baseline, baseline.get("groups"), test)


def baseline_of(c: Drift, baselines: dict) -> dict:
    baseline: Optional[dict] = baselines.get(c.baseline)
    if baseline is None:
        raise KeyError(f"drift {c.id}: baseline snapshot {c.baseline!r} not provided")
    return baseline


def drift_verdicts(df: Optional[DataFrame], c: Drift, baselines: dict, counts=None) -> "list[tuple]":
    """Verdict row tuples (partition_key, constraint_id,
    violation_count, evaluated_count, passed) of one Drift constraint:
    one "ALL" row, or with c.group_by one row per group present in the
    data or the baseline.

    Every test reads the constraint's count state: ``counts`` when
    given (the incremental run's composed state; ``df`` is then
    unused), else a fresh ``state_of(df, c, baselines)``."""
    baseline = baseline_of(c, baselines)
    if counts is None:
        from xsd2json_spark.engine.incremental import state_of

        counts = state_of(df, c, baselines)
    read = chi2_from_counts if c.test == "chi2" else ks_from_bins
    return [(key, c.id, 0 if p >= c.alpha else 1, None, p >= c.alpha) for key, _stat, p in read(counts, c, baseline)]
