"""ValidationEngine — evaluate a Spec over a DataFrame in as few passes
as Spark allows.

Plan shape (idiomatic, Catalyst-friendly):

- ROW-LEVEL constraints + the per-column stats sketch run in ONE
  aggregation pass: ``df.groupBy(partition_by).agg(*counters, *sketch)``.
  Each constraint contributes one ``sum((NOT pred) :: long)`` counter; the
  sketch contributes count / null_count / approx_count_distinct (HLL) /
  min / max / percentile_approx (all built-in partial+final aggregates,
  map-side combined, WholeStageCodegen'd). This generalizes the
  reference's accumulate-then-verdict pattern (json/3 merge -> get_json,
  xsd2json.pl:58-66, 2267-2284) — and like the reference's merges it is
  associative-commutative, so partial aggregation is safe.

- VIOLATION rows come from one additional scan that evaluates all
  predicates at once into an array of failed constraint ids, then
  explodes (rows with no failures are filtered before the explode, so
  the output is proportional to the number of violations, not rows).

- TABLE-LEVEL constraints each get their natural distributed plan:
  unique     -> count per 8-byte key hash, HAVING n > 1, then verify
                the candidates on the true key (broadcast semi join)
  foreign_key-> left_anti join (broadcast when dim is small, else
                sort-merge with AQE skew handling)
  cardinality-> groupBy(group_key).count() with bound filter
  drift      -> see engine/drift.py (single-pass grid ECDF / category
                histogram vs persisted baseline snapshot)

- VERDICTS: one rule (``verdict_passed``) turns every
  (constraint_id, violation_count, evaluated_count) row into ``passed``.

Scale notes: no collect() in any data path (only of per-constraint
verdict rows, which are O(#constraints x #partitions)); every join side
that is provably small is broadcast; uniqueness shuffles key hashes, and
Spark's partial aggregation combines hot keys map-side before the shuffle.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from typing import Dict, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xsd2json_spark.engine.compile import compile_predicate
from xsd2json_spark.spec.constraints import (
    Cardinality,
    Drift,
    ForeignKey,
    FunctionalDependency,
    Quantile,
    Spec,
    Unique,
)

VERDICT_COLUMNS = ["partition_key", "constraint_id", "violation_count", "evaluated_count", "passed"]
VERDICT_SCHEMA = (
    "partition_key string, constraint_id string, violation_count long, "
    "evaluated_count long, passed boolean"
)
VIOLATION_EXTRA = ["constraint_id", "detail"]

#: optimizer size estimate above which Quantile(approx=None) switches
#: from the exact sort-based F.percentile to the mergeable GK sketch
#: (256 MiB: a single executor comfortably sorts that; beyond it the
#: exact path's per-group full materialization stops being safe)
QUANTILE_EXACT_MAX_BYTES = 256 * 1024 * 1024

_log = logging.getLogger(__name__)


def _resolve_quantile_approx(approx: Optional[bool], src: DataFrame) -> bool:
    """Three-valued Quantile.approx -> concrete plan choice. None =
    auto: exact only when Catalyst's sizeInBytes estimate for the
    (filtered) input is provably small; a missing/huge estimate picks
    the GK sketch, so UNKNOWN defaults to the scale-safe mergeable
    aggregate (the EMB_ARROW_THRESHOLD auto-dispatch precedent).

    Auto mode trades bit-for-bit cross-environment determinism for
    scale safety — the size estimate depends on source format, caching
    and stats, so the SAME spec can resolve differently elsewhere.
    Every auto resolution is logged (estimate + threshold + choice) so
    a statistic/verdict difference between two runs is attributable;
    specs that feed an oracle or a regression gate should pin
    approx=True/False explicitly."""
    if approx is not None:
        return approx
    try:
        # py4j maps the BigInt to a Python int; str() also covers a raw
        # JavaObject should that mapping ever change
        size = int(str(src._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        _log.info("quantile auto-dispatch: size estimate unavailable -> GK sketch")
        return True
    use_approx = size > QUANTILE_EXACT_MAX_BYTES
    _log.info(
        "quantile auto-dispatch: sizeInBytes=%d threshold=%d -> %s",
        size, QUANTILE_EXACT_MAX_BYTES,
        "GK sketch (percentile_approx)" if use_approx else "exact percentile",
    )
    return use_approx


def verdict_passed(
    spec: Spec,
    constraint_id="constraint_id",
    violation_count="violation_count",
    evaluated_count="evaluated_count",
) -> Column:
    """THE verdict rule: ``passed`` from a verdict row's constraint id,
    violation count and evaluated count (column names or Columns). A
    row-level constraint with ``max_fail_ratio`` (Deequ compliance)
    passes iff violation_count <= ratio * evaluated_count, inclusive;
    every other constraint passes iff it has no violations. Without any
    ratio in the spec this is exactly ``violation_count == 0``. Every
    producer of verdict rows (two-pass, fused, table-level, incremental
    composition, the audit's bucket fold) derives ``passed`` here, so a
    re-aggregated verdict cannot disagree with a single-shot run."""
    cid, vc, ec = (
        F.col(x) if isinstance(x, str) else x for x in (constraint_id, violation_count, evaluated_count)
    )
    ratios = {c.id: float(c.max_fail_ratio) for c in spec.row_level() if c.max_fail_ratio is not None}
    if not ratios:
        return vc == 0
    mfr = F.create_map(*[F.lit(x) for kv in ratios.items() for x in kv])[cid]
    return F.when(mfr.isNotNull(), vc.cast("double") <= mfr * ec.cast("double")).otherwise(vc == 0)


@dataclass
class EngineConfig:
    broadcast_threshold_rows: int = 2_000_000  # dim row count below which FK dims broadcast
    quantiles: tuple = (0.25, 0.5, 0.75)
    quantile_accuracy: int = 10000
    exact: bool = False  # True = exact distinct in the sketch (test/oracle parity); False = HLL
    # Dup-hash sets at or below this row count are materialized eagerly
    # and BROADCAST into the candidate semi-join (see unique_violations:
    # AQE cannot see through the reducer-side agg+filter, so without the
    # hint the semi join sort-merges and shuffles the ENTIRE keyed
    # table). Duplicates are anomalies, so the set is normally tiny;
    # 5M hashes ~ 40 MB broadcast is the safety ceiling — above it the
    # plan falls back to the shuffled semi join.
    unique_dup_broadcast_limit: int = 5_000_000
    # FUSED single-pass mode: one codegen'd scan projects a NARROW
    # derivative of the fact table — violation keys, one boolean fail
    # flag per row-level constraint, and per-watched-column sketch
    # inputs (null flag, 64-char prefix, null-guarded xxhash64 for the
    # HLL, double cast) — which is cached once; verdict counters, the
    # stats sketch, violation rows AND the key-only table-level checks
    # (unique / FK / cardinality) all derive from the cache. The wide
    # content column is decompressed and predicate-evaluated exactly
    # ONCE per run, and the scan keeps whole-stage codegen (the cache
    # is a columnar InMemoryRelation).
    # MEASURED (BENCH/BYTES_PER_ROW.md, 16M rows, 82 B/row parquet):
    # fused is ~3x SLOWER than two-pass on NARROW content — the narrow
    # derivative (40-char commit keys + 64-char sketch prefixes) is
    # WIDER than short content, so the cache round-trip (663 B/row of
    # InMemoryRelation reads across 4 consumers) costs more than a
    # second codegen'd parquet scan. Fused pays off only when content
    # is KB-wide: BENCH/BYTES_PER_ROW_WIDE.md (same spec, content x16)
    # measures fused 4.0x FASTER than two-pass (124,947 vs 31,440
    # files/s) once the content column dominates row width — which the
    # engine cannot know before scanning — so the default is TWO-PASS
    # and fused is an explicit opt-in for wide-content tables (real
    # repo files, KB-MB blobs). Exact-distinct runs (exact=True, the
    # oracle-parity config) fall back to two-pass even when fused:
    # HLL-over-hash is statistically equivalent to HLL-over-value but
    # not bit-identical, and exact count_distinct would need the full
    # value in the narrow cache, defeating it.
    fused: bool = False


@dataclass
class ValidationResult:
    verdicts: DataFrame  # partition_key, constraint_id, violation_count, evaluated_count, passed
    violations: DataFrame  # key_columns..., constraint_id, detail
    stats: DataFrame  # partition_key, column, count, null_count, null_rate, distinct, min, max, quantiles
    _cached: tuple = ()  # DataFrames persisted by the engine for this result

    def passed(self) -> bool:
        return self.verdicts.filter(~F.col("passed")).limit(1).count() == 0

    def unpersist(self) -> None:
        """Release caches held for this result (the tiny agg row and the
        violations union). Benchmarks MUST call this between runs —
        Spark's cache manager matches by plan equality, so a later
        identical run would silently reuse the cached result."""
        for df in self._cached:
            try:
                df.unpersist()
            except Exception:
                pass


def _partition_key(spec: Spec):
    if spec.partition_by:
        return F.to_json(F.struct(*[F.col(c) for c in spec.partition_by]))
    return F.lit("ALL")


class ValidationEngine:
    def __init__(
        self,
        spark: SparkSession,
        spec: Spec,
        dims: Optional[Dict[str, DataFrame]] = None,
        baselines: Optional[dict] = None,
        config: Optional[EngineConfig] = None,
    ):
        self.spark = spark
        self.spec = spec
        self.dims = dims or {}
        self.baselines = baselines or {}
        self.config = config or EngineConfig()
        self._dim_counts: Dict[str, int] = {}
        # DataFrames persisted while BUILDING a result (e.g. the unique
        # dup-hash set); handed to ValidationResult._cached so the
        # caller's unpersist() releases them. Reset per run().
        self._extra_cached: list = []
        # plan-construction memo (see _pred): unresolved Column trees,
        # never results
        self._pred_cache: dict = {}

    # ------------------------------------------------------------------
    # row-level: ONE plan builder for both the two-pass and fused runs
    # ------------------------------------------------------------------

    def _pred(self, c) -> Column:
        """compile_predicate with a per-engine memo. A compiled predicate
        is an immutable UNRESOLVED Column tree, safe to re-bind in any
        plan over any frame, and building one costs dozens of py4j round
        trips — all driver wall-time inside the caller's measured
        window, repeated per run of the same engine (one per audit
        bucket). Keyed by object identity with a strong ref to the
        constraint so the id cannot be recycled."""
        cache = self._pred_cache
        hit = cache.get(id(c))
        if hit is None:
            cache[id(c)] = hit = (c, compile_predicate(c))
        return hit[1]

    def _raw_inputs(self) -> "tuple[list, list]":
        """The row-level plan's inputs as expressions over the RAW fact
        frame: per row-level constraint its fail flag ``~pred`` (nullable,
        so a NULL comparison counts as neither fail nor pass), per
        watched column its (null flag, prefix, distinct input, numeric)
        Columns."""
        fails = [~self._pred(c) for c in self.spec.row_level()]
        watched = []
        for col in self.spec.watched_columns:
            c = F.expr(col) if not col.isidentifier() else F.col(col)
            # min/max over a 64-char PREFIX, not the full value: string
            # min/max puts a var-length value in the agg buffer, which
            # (a) forces SortAggregate and (b) copy-churns on long text —
            # measured 20-40s vs 0.7s on 16M rows with KB-sized strings.
            # Lexicographic order is prefix-monotone, so
            # min(prefix(x)) == prefix(min(x)); the sketch loses nothing
            # it would have shipped to the driver anyway.
            watched.append((c.isNull(), F.substring(c.cast("string"), 1, 64), c, c.try_cast("double")))
        return fails, watched

    def _row_plan(self, src: DataFrame, fails: list, watched: list, keys) -> "tuple[DataFrame, DataFrame]":
        """The row-level plan over ``src``: (agg, violation rows).

        ``agg`` is the single wide aggregation — one row per
        partition_key with a ``__viol_i`` counter per fail flag, six
        ``__st_i__*`` sketch fields per watched column and ``__total``.
        A global run (no partition_by) uses a grand aggregate so even an
        EMPTY input yields one verdict row per constraint (vacuous
        pass). The violation rows evaluate every fail flag at once into
        an array of failed constraint ids and explode it (rows with no
        failure are filtered first, so the output is proportional to
        the violations, not the rows).

        ``fails`` and ``watched`` come from ``_raw_inputs`` (two-pass)
        or are the narrow cache's columns (fused)."""
        cfg = self.config
        exprs = [F.sum(f.cast("long")).alias(f"__viol_{i}") for i, f in enumerate(fails)]
        # aliases are keyed by POSITIONAL INDEX, not the expression text:
        # a watched expression may contain dots/spaces/quotes that would
        # make a text-derived alias unparseable as a column reference.
        for i, (null, prefix, value, numeric) in enumerate(watched):
            distinct = F.count_distinct(value) if cfg.exact else F.approx_count_distinct(value)
            exprs += [
                F.count(F.lit(1)).alias(f"__st_{i}__count"),
                F.sum(null.cast("long")).alias(f"__st_{i}__null_count"),
                distinct.alias(f"__st_{i}__distinct"),
                F.min(prefix).alias(f"__st_{i}__min"),
                F.max(prefix).alias(f"__st_{i}__max"),
                F.percentile_approx(numeric, list(cfg.quantiles), cfg.quantile_accuracy).alias(
                    f"__st_{i}__quantiles"
                ),
            ]
        exprs.append(F.count(F.lit(1)).alias("__total"))
        if self.spec.partition_by:
            agg = src.groupBy(_partition_key(self.spec).alias("partition_key")).agg(*exprs)
        else:
            agg = src.groupBy().agg(*exprs).select(F.lit("ALL").alias("partition_key"), "*")

        row_cs = self.spec.row_level()
        if not row_cs:
            return agg, self._empty_violations(keys)
        failed = F.array_compact(F.array(*[F.when(f, F.lit(c.id)) for f, c in zip(fails, row_cs)]))
        violations = (
            src.select(*[F.col(k).cast("string").alias(k) for k in keys], failed.alias("__failed"))
            .filter(F.size("__failed") > 0)
            .select(*keys, F.explode("__failed").alias("constraint_id"))
            .withColumn("detail", F.lit(None).cast("string"))
        )
        return agg, violations

    def row_verdicts_and_stats(self, df: DataFrame) -> "tuple[DataFrame, DataFrame]":
        """Row-level verdicts and the stats sketch of ``df``."""
        agg, _ = self._row_plan(df, *self._raw_inputs(), self._keys(df))
        return self._verdicts_stats_from_agg(agg)

    def row_violations(self, df: DataFrame) -> DataFrame:
        """Violation rows of every row-level constraint over ``df``."""
        _, violations = self._row_plan(df, *self._raw_inputs(), self._keys(df))
        return violations

    def _keys(self, df: DataFrame) -> list:
        return list(self.spec.key_columns) or df.columns[:1]

    def _verdicts_stats_from_agg(self, agg: DataFrame) -> "tuple[DataFrame, DataFrame]":
        """Pivot the one-row-per-partition counter/sketch frame into the
        verdict and stats tables."""
        row_cs = self.spec.row_level()
        if row_cs:
            # Column API (not a selectExpr string): constraint ids land as
            # literals, so quotes/commas/backticks in an id cannot alter
            # or break the expression.
            pairs = F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(c.id).alias("constraint_id"),
                            F.col(f"__viol_{i}").alias("violation_count"),
                        )
                        for i, c in enumerate(row_cs)
                    ]
                )
            )
            vc = F.coalesce("violation_count", F.lit(0))
            verdicts = agg.select("partition_key", F.col("__total").alias("evaluated_count"), pairs).select(
                "partition_key",
                "constraint_id",
                vc.alias("violation_count"),
                "evaluated_count",
                verdict_passed(self.spec, violation_count=vc).alias("passed"),
            )
        else:
            verdicts = self.spark.createDataFrame([], schema=VERDICT_SCHEMA)

        stats_rows = []
        for i, col in enumerate(self.spec.watched_columns):
            stats_rows.append(
                agg.select(
                    "partition_key",
                    F.lit(col).alias("column"),
                    F.col(f"__st_{i}__count").alias("count"),
                    F.col(f"__st_{i}__null_count").alias("null_count"),
                    # try_divide: empty partition -> NULL, not an ANSI error
                    F.try_divide(F.col(f"__st_{i}__null_count"), F.col(f"__st_{i}__count")).alias("null_rate"),
                    F.col(f"__st_{i}__distinct").cast("long").alias("distinct"),
                    F.col(f"__st_{i}__min").alias("min"),
                    F.col(f"__st_{i}__max").alias("max"),
                    F.col(f"__st_{i}__quantiles").alias("quantiles"),
                )
            )
        if stats_rows:
            stats = stats_rows[0]
            for s in stats_rows[1:]:
                stats = stats.unionByName(s)
        else:
            stats = self.spark.createDataFrame(
                [],
                schema="partition_key string, column string, count long, null_count long, "
                "null_rate double, distinct long, min string, max string, quantiles array<double>",
            )
        return verdicts, stats

    def _empty_violations(self, keys) -> DataFrame:
        fields = ", ".join([f"`{k}` string" for k in keys] + ["constraint_id string", "detail string"])
        return self.spark.createDataFrame([], schema=fields)

    # ------------------------------------------------------------------
    # table-level constraints
    # ------------------------------------------------------------------

    def unique_violations(self, df: DataFrame, c: Unique) -> DataFrame:
        """Duplicate keys. Rows with any NULL key column are ignored (the
        embedded-uniqueness reading of NULLs). The shuffle carries an
        8-byte xxhash64 of the key instead of the key tuple (~10x fewer
        shuffle bytes on string keys); Spark's partial aggregation
        combines hot keys map-side before it. Candidates whose hash
        repeats are then verified on the true key, so the result stays
        EXACT: a hash collision only creates a candidate, and the verify
        groupBy discards it."""
        cols = list(c.columns)
        keyed = df.select(*cols).na.drop(subset=cols)
        h = F.xxhash64(*[F.col(x) for x in cols])
        dup_hashes = (
            keyed.select(h.alias("__h"))
            .groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") > 1)
            .select("__h")
            .persist()
        )
        # Materialize the dup set NOW. AQE's runtime stat for the
        # semi join's build side is the hash shuffle's MAP output
        # (~11 B/row over the whole table); it cannot know the
        # reducer-side agg+filter collapses that to the (anomaly-
        # sized) duplicate set, so the lazy plan sort-merges and
        # shuffles the ENTIRE keyed table — measured 72 B/row, the
        # single largest byte mover in the north-star job
        # (BENCH/BYTES_PER_ROW.md). One eager count + an explicit
        # broadcast turns the candidate filter into a map-side semi
        # join: the fact table never shuffles. Above the broadcast
        # ceiling (a pathologically dup-heavy table) we keep the
        # shuffled semi join rather than risk executor memory.
        n_dup = dup_hashes.count()
        self._extra_cached.append(dup_hashes)
        right = (
            F.broadcast(dup_hashes)
            if n_dup <= self.config.unique_dup_broadcast_limit
            else dup_hashes
        )
        candidates = keyed.withColumn("__h", h).join(right, "__h", "left_semi").drop("__h")
        counts = candidates.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
        return counts.filter(F.col("n") > 1).select(
            *cols,
            F.lit(c.id).alias("constraint_id"),
            F.concat(F.lit("duplicates="), F.col("n").cast("string")).alias("detail"),
        )

    def fk_violations(self, df: DataFrame, c: ForeignKey) -> DataFrame:
        dim = self.dims.get(c.ref_table)
        if dim is None:
            raise KeyError(f"foreign_key {c.id}: dimension table {c.ref_table!r} not provided")
        ref = dim.select(*[F.col(rc).alias(f"__ref_{i}") for i, rc in enumerate(c.ref_columns)]).dropDuplicates()
        do_broadcast = c.broadcast
        if do_broadcast is None:
            if c.ref_table not in self._dim_counts:
                self._dim_counts[c.ref_table] = dim.count()
            do_broadcast = self._dim_counts[c.ref_table] <= self.config.broadcast_threshold_rows
        if do_broadcast:
            ref = F.broadcast(ref)
        cond = None
        for i, fc in enumerate(c.columns):
            clause = F.col(fc) == F.col(f"__ref_{i}")
            cond = clause if cond is None else (cond & clause)
        # NULL FK values pass (dangling-$ref-only semantics, xsd2json.pl:983-986)
        fact = df
        for fc in c.columns:
            fact = fact.filter(F.col(fc).isNotNull())
        viol = fact.join(ref, on=cond, how="left_anti")
        keys = list(self.spec.key_columns) or list(c.columns)
        keys = [k for k in keys if k in viol.columns] or list(c.columns)
        return viol.select(
            *keys,
            F.lit(c.id).alias("constraint_id"),
            F.to_json(F.struct(*[F.col(fc) for fc in c.columns])).alias("detail"),
        )

    def fd_violations(self, df: DataFrame, c: FunctionalDependency) -> DataFrame:
        """determinants -> dependent violations: one row per determinant
        group holding more than one distinct non-NULL dependent value.
        Plan: distinct (determinants, dependent) pairs FIRST (a hash
        aggregate with map-side combine — a hot determinant ships at
        most |distinct dependents| rows per map task, not its row
        count), then a pair-cardinality-sized groupBy on the
        determinants counts values and takes the evidence min/max.
        Measured marginally faster than the single count_distinct agg
        (no Expand, and the evidence SortAggregate runs over deduped
        pairs instead of every row) with identical output. Evidence
        detail carries the value count plus the lexicographic min/max
        64-char prefixes of the conflicting values (prefix min/max for
        the same agg-buffer reason as the stats sketch) —
        deterministic, so the whole row is oracle-replayable."""
        dep = F.expr(c.dependent) if not c.dependent.isidentifier() else F.col(c.dependent)
        # One determinant-keyed exchange feeds BOTH aggregations: hash
        # partitioning on a subset of the distinct's grouping keys
        # satisfies its clustering requirement, so the explicit
        # repartition on the determinants lets the (determinants, dep)
        # dedup AND the per-determinant evidence agg run back-to-back
        # with no second exchange (measured 2.0 s -> 1.0 s on 6M rows /
        # 800k pairs; the old shape's map-side pre-dedup cost more in
        # partial-aggregation CPU than its smaller shuffle saved). The
        # trade: all rows cross the wire once and a pathologically hot
        # determinant lands on one partition — on a network-bound
        # cluster with heavy per-pair duplication, exchange on
        # (determinants, dep) first (the pre-round-6 shape) ships
        # ~dup-ratio fewer bytes and spreads hot determinants.
        pairs = (
            df.filter(dep.isNotNull())  # NULL dependents pass
            .select(*c.determinants, dep.alias("__dep"))
            .repartition(*[F.col(d) for d in c.determinants])
            .distinct()
        )
        prefix = F.substring(F.col("__dep").cast("string"), 1, 64)
        groups = (
            pairs.groupBy(*c.determinants)
            .agg(
                F.count(F.lit(1)).alias("__nvals"),
                F.min(prefix).alias("__lo"),
                F.max(prefix).alias("__hi"),
            )
            .filter(F.col("__nvals") > 1)
        )
        return groups.select(
            *c.determinants,
            F.lit(c.id).alias("constraint_id"),
            F.concat(
                F.lit("n_values="), F.col("__nvals").cast("string"),
                F.lit(" range="), F.col("__lo"), F.lit(".."), F.col("__hi"),
            ).alias("detail"),
        )

    def cardinality_violations(self, df: DataFrame, c: Cardinality) -> DataFrame:
        counts = df.groupBy(*c.group_by).agg(F.count(F.lit(1)).alias("n"))
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

    def quantile_violations(self, df: DataFrame, c: Quantile) -> DataFrame:
        """Out-of-bounds p-th percentile, one violation row per
        offending group (or one global row). approx=None (the default)
        auto-dispatches on the optimizer's size estimate
        (_resolve_quantile_approx): exact F.percentile — a sort-based
        agg whose linear interpolation matches DuckDB's quantile_cont
        (oracle-able) — only when the input is estimated small;
        percentile_approx (GK sketch, mergeable, memory-bounded)
        otherwise and whenever the estimate is unavailable, so the
        100 TB path never lands on a non-mergeable sort by accident."""
        value = (F.expr(c.expr) if c.expr else F.col(c.column)).cast("double")
        src = df.filter(value.isNotNull())
        q = (
            F.percentile_approx(value, F.lit(c.p), F.lit(c.accuracy))
            if _resolve_quantile_approx(c.approx, src)
            else F.percentile(value, F.lit(c.p))
        ).alias("__q")
        gb = list(c.group_by)
        agg = src.groupBy(*gb).agg(q) if gb else src.agg(q)
        cond = F.lit(False)
        if c.min is not None:
            cond = cond | (F.col("__q") < F.lit(float(c.min)))
        if c.max is not None:
            cond = cond | (F.col("__q") > F.lit(float(c.max)))
        # decimal(38,6) pins the textual statistic to fixed-point: a raw
        # double-to-string cast goes scientific above 1e7 in Spark
        # ('1.0E7') but not in DuckDB ('10000000.0'), which would break
        # the oracle's string compare on large-valued columns
        return agg.filter(cond).select(
            *gb,
            F.lit(c.id).alias("constraint_id"),
            F.concat(
                F.lit(f"q{c.p}="),
                F.round(F.col("__q"), 6).cast("decimal(38,6)").cast("string"),
            ).alias("detail"),
        )

    # ------------------------------------------------------------------
    # full run
    # ------------------------------------------------------------------

    def run(self, df: DataFrame) -> ValidationResult:
        """Lazy where possible: table-level verdict counts are DERIVED
        from the (persisted) violations union with one groupBy, instead
        of one eager .count() job per constraint — at scale each extra
        action is another full scan. Eager exceptions: drift (its
        statistic is a driver-side formula over tiny aggregates) and
        the unique dup-hash set (counted so it can be broadcast — see
        unique_violations).

        The row-level plan reads the raw frame (two-pass: one scan for
        the aggregation, one for the violation rows) unless
        config.fused asks for one decompression of the fact table:
        see _run_fused."""
        self._extra_cached = []
        keys = self._keys(df)
        if self._resolve_fused():
            return self._run_fused(df, keys)
        agg, row_viol = self._row_plan(df, *self._raw_inputs(), keys)
        return self._finish(agg, row_viol, df, df, keys, [])

    def _finish(
        self,
        agg: DataFrame,
        row_viol: DataFrame,
        keyed_src: DataFrame,
        raw_df: DataFrame,
        keys,
        cached,
    ) -> ValidationResult:
        """Shared table-level pass + result assembly. ``agg`` is the
        row-level aggregation (cached here: one row per partition_key,
        read by both verdicts and stats). ``keyed_src`` is the frame the
        key-only checks (unique / FK / cardinality) read — the raw fact
        table in two-pass mode, the narrow cache in fused mode
        (identical results: those checks only touch columns the narrow
        projection passes through verbatim). Quantile and drift read
        ``raw_df`` always: they need the actual value distribution of
        arbitrary expressions, and their scans are column-pruned so
        they never touch the wide content column unless the constraint
        itself watches it."""
        agg = agg.cache()
        cached = [agg, *cached]
        verdicts, stats = self._verdicts_stats_from_agg(agg)
        all_viol = [row_viol]
        table_ids = []
        drift_rows = []

        for c in self.spec.table_level():
            if isinstance(c, Unique):
                v = self.unique_violations(keyed_src, c)
            elif isinstance(c, ForeignKey):
                v = self.fk_violations(keyed_src, c)
            elif isinstance(c, Cardinality):
                v = self.cardinality_violations(keyed_src, c)
            elif isinstance(c, Quantile):
                v = self.quantile_violations(raw_df, c)
            elif isinstance(c, FunctionalDependency):
                # raw_df, not keyed_src: determinant/dependent columns
                # are arbitrary (the fused narrow cache only carries
                # keys + flags); the FD scan column-prunes to exactly
                # the columns it names.
                v = self.fd_violations(raw_df, c)
            elif isinstance(c, Drift):
                from xsd2json_spark.engine.drift import drift_verdict

                dv = drift_verdict(self.spark, raw_df, c, self.baselines)
                drift_rows.extend(dv if isinstance(dv, list) else [dv])
                continue
            else:  # pragma: no cover
                continue
            table_ids.append(c.id)
            all_viol.append(self._conform_violations(v, keys))

        violations = all_viol[0]
        for v in all_viol[1:]:
            violations = violations.unionByName(v)
        if table_ids:
            violations = violations.persist()  # computed once, reused by verdicts + consumers
            cached.append(violations)
            ids_df = self.spark.createDataFrame([(i,) for i in table_ids], "constraint_id string")
            counts = (
                violations.filter(F.col("constraint_id").isin(table_ids))
                .groupBy("constraint_id")
                .agg(F.count(F.lit(1)).alias("__n"))
            )
            vc, ec = F.coalesce("__n", F.lit(0)), F.lit(None).cast("long")
            tv = ids_df.join(F.broadcast(counts), "constraint_id", "left").select(
                F.lit("ALL").alias("partition_key"),
                "constraint_id",
                vc.alias("violation_count"),
                ec.alias("evaluated_count"),
                verdict_passed(self.spec, violation_count=vc, evaluated_count=ec).alias("passed"),
            )
            verdicts = verdicts.unionByName(tv)
        if drift_rows:
            verdicts = verdicts.unionByName(self.spark.createDataFrame(drift_rows, schema=VERDICT_SCHEMA))

        return ValidationResult(
            verdicts=verdicts,
            violations=violations,
            stats=stats,
            _cached=tuple([*cached, *self._extra_cached]),
        )

    def _resolve_fused(self) -> bool:
        """EngineConfig.fused -> plan choice. Fused needs (a) at least
        one row-level constraint (otherwise there is no wide scan to
        fuse) and (b) approx distinct (the narrow cache carries
        xxhash64(value), statistically equivalent for the HLL but not
        bit-identical to hashing the value itself — so the oracle-parity
        exact config stays on the two-pass plan and keeps bit-stable
        stats)."""
        if not self.config.fused or not self.spec.row_level():
            return False
        if self.config.exact:
            _log.info("fused: exact-distinct run needs full values; using two-pass plan")
            return False
        return True

    def _run_fused(self, df: DataFrame, keys) -> ValidationResult:
        """ONE decompression of the fact table per run, codegen intact.

        The scan projects a narrow derivative (~100-300 B/row vs KB-size
        content): passthrough key/partition/table-check columns, the
        ``_raw_inputs`` fail flags, and per watched column its sketch
        inputs with the distinct input replaced by a null-guarded
        xxhash64. That derivative is cached (columnar, MEMORY_AND_DISK)
        and feeds
        - the row-level plan (``_row_plan`` over the cached columns), and
        - unique / FK / cardinality, whose columns pass through raw.
        At repo scale this turns 2 full reads of ~KB/row content into
        1 read + a ~10x-smaller cache round-trip; the predicate/regex/
        hash kernels also run once instead of twice."""
        from pyspark import StorageLevel

        passthrough: list = []
        seen = set()

        def _add(name: str):
            if name not in seen:
                seen.add(name)
                passthrough.append(name)

        for k in keys:
            _add(k)
        for p in self.spec.partition_by:
            _add(p)
        for c in self.spec.table_level():
            if isinstance(c, Unique) or isinstance(c, ForeignKey):
                for x in c.columns:
                    _add(x)
            elif isinstance(c, Cardinality):
                for x in c.group_by:
                    _add(x)

        fails, watched = self._raw_inputs()
        cols = [F.col(n) for n in passthrough]
        cols += [f.alias(f"__fail_{i}") for i, f in enumerate(fails)]
        for i, (null, prefix, value, numeric) in enumerate(watched):
            cols += [
                null.alias(f"__w_{i}_null"),
                prefix.alias(f"__w_{i}_prefix"),
                # null-guarded: xxhash64(NULL) is a seed constant, not
                # NULL — unguarded it would count nulls as a distinct
                F.when(value.isNotNull(), F.xxhash64(value)).alias(f"__w_{i}_hash"),
                numeric.alias(f"__w_{i}_num"),
            ]
        narrow = df.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
        agg, row_viol = self._row_plan(
            narrow,
            [F.col(f"__fail_{i}") for i in range(len(fails))],
            [
                tuple(F.col(f"__w_{i}_{part}") for part in ("null", "prefix", "hash", "num"))
                for i in range(len(watched))
            ],
            keys,
        )
        return self._finish(agg, row_viol, narrow, df, keys, [narrow])

    def _conform_violations(self, v: DataFrame, keys) -> DataFrame:
        cols = []
        for k in keys:
            cols.append(F.col(k).cast("string").alias(k) if k in v.columns else F.lit(None).cast("string").alias(k))
        cols += [F.col("constraint_id"), F.col("detail")]
        return v.select(*cols)
