"""Deterministic sampling and dataset splits for training-data
pipelines.

`df.sample()` / `sampleBy()` are Bernoulli draws from Spark's RNG —
irreproducible across engines and unstable under repartition (the draw
depends on partition iteration order for some seeds/paths). At 100 TB
the pipeline requirement is the opposite: membership must be a PURE
FUNCTION of the row's key, so a re-run, a different cluster size, or a
different engine (the DuckDB oracle) selects the SAME rows, and a row's
split assignment never changes as the corpus grows. The standard trick:
hash the key into a fixed-range bucket and compare against fraction
boundaries.

Two hash families, same pattern as MinHash (`dedup.minhash_signature`):
- family='xxhash64' — one JVM hash, the production path;
- family='md5' — md5 is the one hash Spark and DuckDB share, which
  makes sample membership and split counts exactly SQL-replayable.

All pure Column expressions: no UDF, no shuffle, no RNG. Filters push
to the scan; a split column is just a CASE over the bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bucket resolution: fractions are quantized to 1/BUCKETS (1e-6)
BUCKETS = 1_000_000


def _escaped_key(c: Column) -> Column:
    """Collision-proof key fragment, mirroring drift.group_key: NULL
    gets its own token (concat_ws would silently SKIP it, merging
    (NULL,'x') with ('x',NULL)) and backslash/'|' are escaped so the
    '|' join is unambiguous (('a|b','c') vs ('a','b|c')). Single
    pipe-free non-null values — every shipped oracle key — are
    unchanged, so the DuckDB replay fragments stay valid."""
    s = F.regexp_replace(F.regexp_replace(c.cast("string"), r"\\", r"\\\\"), r"\|", r"\\|")
    return F.coalesce(s, F.lit("\\N"))


def hash_bucket(key_cols, seed: int = 42, family: str = "xxhash64") -> Column:
    """Uniform bucket in [0, BUCKETS) as a pure function of the key.

    md5 family derives the bucket from the first 15 hex digits (60
    bits, well under a long) of md5('<seed>|' || key || ...) — exactly
    reproducible in DuckDB as
    ``conv(substring(md5(...), 1, 15), 16, 10) % 1000000``. Multi-column
    keys are escape-joined (see _escaped_key). The xxhash64 family
    hashes columns natively (column boundaries are fold steps, so no
    join ambiguity and no string casts in the hot path) but Spark's
    hash fold SKIPS null columns — which would merge (NULL,'x') with
    ('x',NULL) — so an is-null flag is interleaved before each column:
    the flag participates in the fold even when the value is skipped,
    making null position part of the key."""
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    if family == "xxhash64":
        flagged: list[Column] = []
        for c in cols:
            flagged.append(c.isNull().cast("int"))
            flagged.append(c)
        h = F.abs(F.xxhash64(*flagged, F.lit(seed)))
    elif family == "md5":
        joined = F.concat_ws("|", F.lit(str(seed)), *[_escaped_key(c) for c in cols])
        h = F.conv(F.substring(F.md5(joined), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash family {family!r}")
    return F.pmod(h, F.lit(BUCKETS))


def deterministic_sample(
    df: DataFrame,
    key_cols,
    fraction: float,
    seed: int = 42,
    family: str = "xxhash64",
    by: "dict | None" = None,
    by_col: "str | None" = None,
) -> DataFrame:
    """Keep a row iff its key-hash bucket falls below the fraction
    boundary — deterministic, repartition-stable, engine-replayable.

    ``by`` (with ``by_col``) gives per-stratum fractions
    ({stratum_value: fraction}, the `sampleBy` analog): strata absent
    from the dict keep fraction 0. The membership predicate is a single
    expression, so Catalyst pushes it into the scan when key columns
    are scan columns."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction {fraction} outside [0, 1]")
    b = hash_bucket(key_cols, seed, family)
    if by is None:
        return df.filter(b < int(round(fraction * BUCKETS)))
    if by_col is None:
        raise ValueError("by requires by_col")
    bound = F.lit(0)
    for value, frac in sorted(by.items()):
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction {frac} for stratum {value!r} outside [0, 1]")
        bound = F.when(F.col(by_col) == F.lit(value), F.lit(int(round(frac * BUCKETS)))).otherwise(bound)
    return df.filter(b < bound)


def split_column(
    key_cols,
    weights,
    names=("train", "val", "test"),
    seed: int = 42,
    family: str = "xxhash64",
) -> Column:
    """Split label as a pure function of the key: cumulative weight
    boundaries over the hash bucket. Weights must sum to 1 (±1e-9).
    A row's label never changes when the corpus grows — the property
    that keeps eval sets uncontaminated across pipeline re-runs."""
    if len(weights) != len(names):
        raise ValueError("weights and names must align")
    total = float(sum(weights))
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    b = hash_bucket(key_cols, seed, family)
    cum = 0.0
    expr = None
    for w, name in zip(weights, names):
        cum += float(w)
        boundary = int(round(cum * BUCKETS))
        cond = b < F.lit(boundary)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    # float-rounding guard: the last boundary is forced to BUCKETS by
    # the sum-to-1 check, but otherwise() keeps totality explicit
    return expr.otherwise(F.lit(names[-1]))
