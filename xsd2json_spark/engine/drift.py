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

- chi2: the state is groupBy(group..., __cat).count();
- ks: the baseline stores a ~199-point value grid with its ECDF, per
  group when grouped; the state is groupBy(group..., __bin).count(),
  __bin = the number of grid points strictly below the value (at most
  grid+1 counters per group, no sort). A per-group state looks each
  row's grid up by ``group_key_col`` in a literal map. The ECDF
  at grid point i is (rows with bin <= i) / n, and D = max_i
  |ecdf_cur(q_i) - ecdf_base(q_i)|. The grid bounds the error of D by
  the grid resolution (1/(grid+1) per cell), which is what you want at
  10^12 rows — an exact KS needs a full sort.

Each test has ONE verdict reader, in-plan: ``drift_verdicts_over_counts``
(chi2) and ``ks_verdicts_over_bins`` (KS). The engine, incremental
runs, streams and queries all read their states through them, so one
rule decides every drift verdict: a group the baseline lacks, a
baseline group with no current rows, an empty current table and a
category the group's baseline lacks all fail. The engine and
incremental runs reach them through ``drift_verdicts``, which shapes
a reader's frame as verdict rows; they union it into their verdict
table like every other table check's, so no drift verdict is
collected while a plan is built. The baselines are built from the
same states (``ecdf_at_grid`` reads a baseline's own ECDF off its
collected state).

A categorical baseline becomes ONE spine, (__gk, __bm, __bt) per
baseline group (``_categorical_cells``), and three readers fold a
category-count frame against it through the same ``_cells``: the chi2
statistic (``chi2_statistic_over_counts``), the chi2 verdict
(``drift_verdicts_over_counts``: that statistic, the critical-value
table and the novel-category rule) and PSI
(``psi_statistic_over_counts``). The Pearson statistic is one
expression (``_chi2_columns``).
"""

from __future__ import annotations

from itertools import accumulate
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xsd2json_spark.engine.stats_math import chi2_crit, ks_crit_lambda
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


def _as_str(df: DataFrame, name: str) -> Column:
    """Column ``name`` of ``df`` spelt as Python's str() spells it for
    string, integral and boolean values (a boolean is "True"/"False")."""
    col = F.col(name)
    if dict(df.dtypes).get(name) == "boolean":
        return F.when(col, F.lit("True")).otherwise(F.lit("False"))
    return col.cast("string")


def group_key_col(df: DataFrame, cols, cid: Optional[str] = None) -> Column:
    """In-plan twin of ``group_key`` over ``df``'s columns ``cols``: the
    same string for the same values, so a row finds its group's entry
    in a baseline keyed by ``group_key``. Exact for string, integral
    and boolean columns; any other type may print differently in Spark
    and Python, so it raises SpecError (naming drift ``cid`` if given)."""
    types = dict(df.dtypes)

    def esc(name):
        col, t = F.col(name), types.get(name)
        if t not in _KEYABLE_TYPES:
            where = f"drift {cid}: " if cid else ""
            raise SpecError(
                f"{where}group key {name!r} has type {t}; per-group drift "
                "needs a string, integral or boolean group key"
            )
        s = _as_str(df, name)
        if t != "boolean":
            s = F.replace(F.replace(s, F.lit("\\"), F.lit("\\\\")), F.lit("|"), F.lit("\\|"))
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


def bin_index_expr(v, grid) -> Column:
    """In-plan bin index against a baseline quantile grid (a list of
    points, or an array Column holding each row's group grid): the
    number of grid edges STRICTLY BELOW the value ``v`` (a Column), so
    rows with v <= grid[i] are exactly the rows with bin <= i, for any
    sorted grid (repeated points included). Used only by the KS count
    state (``incremental.state_rows``)."""
    edges = grid if isinstance(grid, Column) else F.array(*[F.lit(float(q)) for q in grid])
    return F.size(F.filter(edges, lambda e: e < v))


def _cells(state: DataFrame, key: Column, spine: DataFrame, group_by, window_cols) -> DataFrame:
    """The one read of a drift count state (window_cols...,
    group_by..., key, n): per (window, group) cell, the counts as a map
    __m (key -> n), their total __n, the ``group_key`` __gk and the
    payload of the group's ``spine`` row (__gk, payload...). Each group
    of the state or the spine gets a cell in each window of the state
    (no window: one, so an empty global state still gets its cell); a
    cell without rows has __n NULL, a group without baseline NULL
    payload. The spine joins by a union and the cells fold in ONE task:
    the state is group-sized, so the fold adds no shuffle, and without
    windows no broadcast either."""
    gb, wc = list(group_by), list(window_cols)
    gk = group_key_col(state, gb) if gb else F.lit("")
    rows = state.select(*wc, *gb, gk.alias("__gk"), key.alias("__k"), "n")
    if wc:
        # the windows with rows; a bare distinct() would be rewritten
        # into a second scan of the input, a sum reuses the state's shuffle
        windows = rows.groupBy(*wc).agg(F.sum("n").alias("__w")).filter(F.col("__w") > 0)
        spine = windows.select(*wc).crossJoin(spine)
    payload = [x for x in spine.columns if x not in (*wc, *gb, "__gk")]
    first = lambda x: F.first(x, ignorenulls=True).alias(x)  # noqa: E731
    return (
        rows.unionByName(spine, allowMissingColumns=True)
        .coalesce(1)
        .groupBy(*wc, "__gk")
        .agg(
            *[first(g) for g in gb],
            F.map_from_entries(F.collect_list(F.when(F.col("__k").isNotNull(), F.struct("__k", "n")))).alias("__m"),
            F.sum("n").alias("__n"),
            *[first(x) for x in payload],
        )
    )


def _key_cols(window_cols, group_by) -> list:
    """A reader's key columns: windows, groups, ``group_key`` if grouped."""
    return [*window_cols, *group_by, *([F.col("__gk").alias("group_key")] if group_by else [])]


def ks_verdicts_over_bins(
    bins_df: DataFrame,
    baseline: dict,
    window_cols=("window",),
    alpha: float = 0.01,
    group_by=(),
) -> DataFrame:
    """Per-(window, group) KS drift verdicts as a STATELESS view over a
    bin-count state — the one KS verdict reader (engine, incremental
    runs, streams, queries). D = max_i |ecdf_cur(q_i) - ecdf_base(q_i)|,
    ecdf_cur(q_i) = (rows with bin <= i) / n_cur as a running sum; a
    cell passes iff D <= ks_crit_lambda(alpha) / (sqrt(ne) + 0.12 +
    0.11/sqrt(ne)), ne = n_base*n_cur/(n_base+n_cur) — ks_pvalue(D) >=
    alpha by monotonicity, as one constant over a pure expression, so
    the rule replays in plain SQL. ECDF terms are integer ratios, so D
    is bit-identical to a SQL or numpy replay.

    ``baseline``: a numeric snapshot (``make_numeric_baseline``); with
    ``group_by`` a per-group one, each group read against its own grid,
    ECDF and n. A group the baseline lacks, a baseline group with no
    current rows and an empty global state fail; a baseline with no
    values raises SpecError. bins_df: (window_cols..., group_by...,
    __bin, n) — ``state_of(df, c, baselines, by=window_cols)``, a sink
    of stream_bin_counts, or a composed state. Returns (window_cols...,
    group_by..., [group_key,] d_statistic, n_cur, passed)."""
    gb, wc = list(group_by), list(window_cols)
    groups = baseline["groups"] if gb else {"": baseline}
    rows = [(k, [float(e) for e in g["ecdf"]], int(g["n"])) for k, g in groups.items() if g.get("ecdf") and g.get("n")]
    if not rows:
        raise SpecError("empty baseline")
    spine = bins_df.sparkSession.createDataFrame(rows, "__gk string, __ecdf array<double>, __nb bigint")
    cells = _cells(bins_df, F.col("__bin"), spine, gb, wc)
    n_cur, n_base = F.col("__n"), F.col("__nb")

    def step(acc, e):
        cum = acc["cum"] + F.coalesce(F.try_element_at(F.col("__m"), acc["i"]), F.lit(0).cast("long"))
        diff = F.abs(cum.cast("double") / n_cur.cast("double") - e)
        return F.struct((acc["i"] + 1).alias("i"), cum.alias("cum"), F.greatest(acc["d"], diff).alias("d"))

    start = F.struct(F.lit(0).alias("i"), F.lit(0).cast("long").alias("cum"), F.lit(0.0).alias("d"))
    d = F.when(n_cur > 0, F.aggregate("__ecdf", start, step, lambda acc: acc["d"]))
    ne = (n_base.cast("double") * n_cur) / (n_base + n_cur)
    d_crit = F.lit(ks_crit_lambda(alpha)) / (F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne))
    return cells.select(
        *_key_cols(wc, gb),
        d.alias("d_statistic"),
        n_cur.cast("long").alias("n_cur"),
        F.coalesce(n_base.isNotNull() & (d <= d_crit), F.lit(False)).alias("passed"),
    )


def make_categorical_baseline_df(df: DataFrame, column: str, group_by=()) -> DataFrame:
    """Baseline counts as a DATAFRAME (no driver collect): the chi2
    count state, one (group..., ``column``, n) row per category. The
    distributed sibling of make_categorical_baseline — feed it to the
    categorical readers (``drift_verdicts_over_counts``,
    ``chi2_statistic_over_counts``, ``psi_statistic_over_counts``), or
    persist it as the baseline-snapshot table a production deployment
    would keep in the warehouse."""
    from xsd2json_spark.engine.incremental import state_of

    c = Drift(id="baseline", column=column, test="chi2", baseline="self", group_by=group_by)
    return state_of(df, c).withColumnRenamed("__cat", column)


def _categorical_cells(counts_df: DataFrame, column: str, baseline, group_by, window_cols):
    """The cells (``_cells``) of a category-count frame (window_cols...,
    group_by..., ``column``, n) against the ONE categorical baseline
    spine — per baseline group (__gk, __bm, __bt): its category -> count
    map (str() spelling; repeats summed, NULL dropped) and total — and
    a function giving the largest per-group category count. A DataFrame
    baseline of (group_by..., ``column``, n) rows folds in-plan (that
    count is one small Spark job); a snapshot dict is a literal, and
    one with no category raises SpecError."""
    gb, wc = list(group_by), list(window_cols)
    if isinstance(baseline, DataFrame):
        b = (
            baseline.select(*gb, F.col(column).alias("__cat"), F.col("n").alias("__b"))
            .filter(F.col("__cat").isNotNull())
            .groupBy(*gb, "__cat")
            .agg(F.sum("__b").alias("__b"))
        )
        spine = b.groupBy(*gb).agg(
            F.map_from_entries(F.collect_list(F.struct(_as_str(b, "__cat"), "__b"))).alias("__bm"),
            F.sum("__b").alias("__bt"),
        )
        spine = spine.withColumn("__gk", group_key_col(spine, gb) if gb else F.lit(""))
        max_cats = lambda: spine.agg(F.max(F.size("__bm"))).first()[0] or 0  # noqa: E731
    else:
        groups = baseline["groups"] if gb else {"": baseline["counts"]}
        maps = {k: {str(cat): int(n) for cat, n in (m or {}).items() if n > 0} for k, m in groups.items()}
        rows = [(k, m, sum(m.values())) for k, m in maps.items() if m]
        if not rows:
            raise SpecError("empty baseline")
        spine = counts_df.sparkSession.createDataFrame(rows, "__gk string, __bm map<string,bigint>, __bt bigint")
        max_cats = lambda: max(len(m) for _, m, _ in rows)  # noqa: E731
    return _cells(counts_df, _as_str(counts_df, column), spine, gb, wc), max_cats


def _chi2_columns() -> "tuple[Column, Column]":
    """The Pearson statistic and its dof over a categorical cell: the
    sum of (o - e)^2 / e over the group's baseline categories, e = n *
    b / b_total (NULL for a cell without rows), and dof = max(n_cats -
    1, 1). The one chi2 statistic expression; both chi2 readers select
    it."""
    n = F.col("__n")

    def term(acc, kv):
        e = n.cast("double") * kv["value"] / F.col("__bt")
        o = F.coalesce(F.try_element_at(F.col("__m"), kv["key"]), F.lit(0))
        return acc + (o - e) ** 2 / e

    statistic = F.when(n > 0, F.aggregate(F.map_entries("__bm"), F.lit(0.0), term))
    return statistic, F.greatest(F.size("__bm") - 1, F.lit(1))


def chi2_statistic_over_counts(counts_df: DataFrame, column: str, baseline, window_cols=("window",)) -> DataFrame:
    """The Pearson chi-square STATISTIC per window of a
    category-count frame, fully in-plan and without a Spark job while
    the plan is built, so it replays in plain SQL; the p-value stays
    driver-side (``chi2_sf``). A novel category adds no term (the
    verdict reader fails it). Arguments as ``drift_verdicts_over_counts``
    with a global baseline; that reader reads the same statistic.
    Returns (window_cols..., statistic, dof)."""
    cells, _ = _categorical_cells(counts_df, column, baseline, (), window_cols)
    statistic, dof = _chi2_columns()
    return cells.select(*window_cols, statistic.alias("statistic"), dof.alias("dof"))


def psi_statistic_over_counts(
    counts_df: DataFrame, column: str, baseline, window_cols=("window",), eps: float = 1e-6
) -> DataFrame:
    """Population Stability Index per window, in-plan over the chi2
    readers' cells: the sum over the UNION of baseline and
    observed categories of (p_cur - p_base) * ln(p_cur / p_base),
    proportions clipped to ``eps``, so a vanished or a NOVEL category
    adds a finite penalty instead of dropping out. PSI has no p-value;
    its 0.1 (watch) / 0.25 (act) thresholds apply to the statistic, so
    the whole check replays in SQL. Arguments as
    ``drift_verdicts_over_counts`` with a global baseline. Returns
    (window_cols..., psi, n_cats), n_cats counting the union."""
    cells, _ = _categorical_cells(counts_df, column, baseline, (), window_cols)
    cats = F.array_union(F.map_keys("__m"), F.map_keys("__bm"))

    def term(c):
        o = F.coalesce(F.try_element_at(F.col("__m"), c), F.lit(0))
        bv = F.coalesce(F.try_element_at(F.col("__bm"), c), F.lit(0))
        p_cur = F.greatest(o / F.col("__n"), F.lit(eps))
        p_base = F.greatest(bv / F.col("__bt"), F.lit(eps))
        return (p_cur - p_base) * F.log(p_cur / p_base)

    return cells.select(
        *window_cols,
        F.aggregate(cats, F.lit(0.0), lambda acc, c: acc + term(c)).alias("psi"),
        F.size(cats).cast("long").alias("n_cats"),
    )


def drift_verdicts_over_counts(
    counts_df: DataFrame,
    column: str,
    baseline,
    group_by=(),
    window_cols=("window",),
    alpha: float = 0.01,
) -> DataFrame:
    """Per-(window, group) chi-square drift verdicts as a STATELESS view
    over a category-counter table — the one chi2 verdict reader
    (engine, incremental runs, streams, queries): the statistic of
    ``chi2_statistic_over_counts``; a cell passes iff statistic <=
    chi2_crit(dof, alpha), from a literal table up to the largest
    per-group category count, and it holds no category its group's
    baseline lacks. A group the baseline lacks, a baseline group with
    no current rows and an empty global state fail.

    counts_df: (window_cols..., group_by..., column, n) — a sink of
    stream_category_counts, a (composed) ``state_of``, or any batch
    equivalent. ``baseline``: a DataFrame of (group_by..., column, n)
    rows or a categorical snapshot dict (``make_categorical_baseline``);
    categories match as strings (str() spelling). A baseline with no
    category raises SpecError (for a DataFrame one small job, for a
    dict none). Returns (window_cols..., group_by..., [group_key,]
    statistic, dof, passed)."""
    gb, wc = list(group_by), list(window_cols)
    cells, max_cats = _categorical_cells(counts_df, column, baseline, gb, wc)
    most = max_cats()
    if not most:
        raise SpecError("empty baseline")
    statistic, dof = _chi2_columns()
    crit = F.array(*[F.lit(chi2_crit(k, alpha)) for k in range(1, max(most - 1, 1) + 1)])
    novel = F.exists(F.map_keys("__m"), lambda k: ~F.map_contains_key("__bm", k))
    ok = F.col("__bm").isNotNull() & ~novel & (statistic <= F.try_element_at(crit, dof))
    return cells.select(
        *_key_cols(wc, gb),
        statistic.alias("statistic"),
        F.when(F.col("__bm").isNotNull(), dof).alias("dof"),
        F.coalesce(ok, F.lit(False)).alias("passed"),
    )


def _rows_by_group(rows, group_by) -> dict:
    """Collected state rows split by their ``group_key``."""
    out: dict = {}
    for r in rows:
        out.setdefault(group_key([r[g] for g in group_by]), []).append(r)
    return out


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


def baseline_of(c: Drift, baselines: dict) -> dict:
    baseline: Optional[dict] = baselines.get(c.baseline)
    if baseline is None:
        raise KeyError(f"drift {c.id}: baseline snapshot {c.baseline!r} not provided")
    return baseline


def drift_verdicts(df: Optional[DataFrame], c: Drift, baselines: dict, counts=None) -> DataFrame:
    """The verdict frame of one Drift constraint, in the engine's
    verdict shape (partition_key, constraint_id, violation_count,
    evaluated_count, passed): one "ALL" row, or with c.group_by one row
    per group present in the data or the baseline, keyed by
    ``group_key``. violation_count is (NOT passed)::long,
    evaluated_count NULL.

    The constraint's count state — ``counts`` when given (the
    incremental run's composed state; ``df`` is then unused), else a
    fresh ``state_of(df, c, baselines)`` — is read by the test's one
    in-plan reader. Lazy and group-sized: the caller unions it into its
    verdict table like every other table check."""
    baseline = baseline_of(c, baselines)
    if counts is None:
        from xsd2json_spark.engine.incremental import state_of

        counts = state_of(df, c, baselines)
    try:
        if c.test == "chi2":
            v = drift_verdicts_over_counts(counts, "__cat", baseline, c.group_by, (), c.alpha)
        else:
            v = ks_verdicts_over_bins(counts, baseline, (), c.alpha, c.group_by)
    except SpecError as e:
        raise SpecError(f"drift {c.id}: {e}") from None
    return v.select(
        (F.col("group_key") if c.group_by else F.lit("ALL")).alias("partition_key"),
        F.lit(c.id).alias("constraint_id"),
        (~F.col("passed")).cast("long").alias("violation_count"),
        F.lit(None).cast("long").alias("evaluated_count"),
        "passed",
    )
