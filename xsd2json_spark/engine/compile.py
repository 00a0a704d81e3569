"""Compile row-level constraints to Spark Column predicates.

Declarative by design: every predicate is a built-in-functions Column
expression, so Catalyst folds constants, prunes columns, pushes filters,
and the whole verdict aggregation stays inside WholeStageCodegen — no
Python in the row path (per input_hint: no per-row Python).

Semantics parity notes (SURVEY §7 hard parts):
- exclusive vs inclusive bounds map exactly to > / >= and < / <=
  (convert_xsd_restriction/3, xsd2json.pl:917-934);
- XSD patterns are implicitly anchored while Java rlike is
  substring-match, so patterns evaluate as ^(?:p1|p2)$;
- NULL passes every row-level constraint except NotNull (and Constant
  with nullable=False) — JSON Schema missing-property semantics.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from xsd2json_spark.spec.constraints import (
    TYPE_REGISTRY,
    AllOf,
    AnyOf,
    Constant,
    Constraint,
    Dtype,
    Enum,
    Length,
    NotNull,
    Pattern,
    Range,
)


#: the type Spark's implicit coercion casts a string literal to when it
#: meets a column of the key type (a decimal column meets a double)
_STRING_LITERAL_CAST = {
    "tinyint": "bigint",
    "smallint": "bigint",
    "int": "bigint",
    "bigint": "bigint",
    "float": "double",
}


def _target(c) -> Column:
    expr = getattr(c, "expr", None)
    return F.expr(expr) if expr else F.col(c.column)


def _null_passes(col: Column, pred: Column) -> Column:
    """NULL satisfies the facet (missing property passes in JSON Schema);
    also normalizes a NULL predicate result to a boolean."""
    return F.when(col.isNull(), F.lit(True)).otherwise(F.coalesce(pred, F.lit(False)))


def compile_predicate(c: Constraint, dtypes: Optional[dict] = None) -> Column:
    """Return a boolean Column that is True iff the row SATISFIES c.

    ``dtypes`` maps a column to its Spark type name (``dict(df.dtypes)``);
    an Enum over a column missing from it compares as over a string."""
    if isinstance(c, NotNull):
        return F.col(c.column).isNotNull()

    if isinstance(c, Range):
        col = _target(c)
        pred = F.lit(True)
        if c.min is not None:
            pred = pred & ((col > F.lit(c.min)) if c.exclusive_min else (col >= F.lit(c.min)))
        if c.max is not None:
            pred = pred & ((col < F.lit(c.max)) if c.exclusive_max else (col <= F.lit(c.max)))
        return _null_passes(col, pred)

    if isinstance(c, Length):
        col = F.col(c.column)
        ln = F.length(col)
        pred = F.lit(True)
        if c.min is not None:
            pred = pred & (ln >= F.lit(c.min))
        if c.max is not None:
            pred = pred & (ln <= F.lit(c.max))
        return _null_passes(col, pred)

    if isinstance(c, Pattern):
        col = F.col(c.column)
        return _null_passes(col, col.rlike(c.anchored_regex))

    if isinstance(c, Enum):
        col = F.col(c.column)
        # a number or boolean compares with the column's try_cast, so a
        # value that does not cast fails its row; a bare isin would
        # ANSI-cast the whole column and raise on it. A string over a
        # column of another type is a value of that type: it gets the
        # cast Spark's own coercion would give it, as a try_cast, so
        # '10' matches 10.0 and 'abc' over an int matches nothing
        dtype = (dtypes or {}).get(c.column, "string")
        by_cast: dict = {}
        for v in c.values:
            by_cast.setdefault({bool: "boolean", int: "double", float: "double"}.get(type(v)), []).append(v)
        plain = by_cast.pop(None, [])
        if dtype != "string":
            to = _STRING_LITERAL_CAST.get(dtype, "double" if dtype.startswith("decimal") else dtype)
            plain = [F.lit(v).try_cast(to) if isinstance(v, str) else v for v in plain]
        preds = [col.isin(plain)] if plain else []
        preds += [col.try_cast(t).isin(vals) for t, vals in by_cast.items()]
        return _null_passes(col, reduce(Column.__or__, preds))

    if isinstance(c, Constant):
        col = F.col(c.column)
        if c.nullable:
            return _null_passes(col, col == F.lit(c.value))
        return F.coalesce(col == F.lit(c.value), F.lit(False))

    if isinstance(c, Dtype):
        col = _target(c)
        entry = TYPE_REGISTRY[c.type]
        if entry.spark_cast is None:
            pred = F.lit(True)  # anyType/string-ish: every lexical value valid
            casted = col
        else:
            # lexical-space validity: value casts cleanly (try_cast semantics)
            casted = col.try_cast(entry.spark_cast)
            pred = casted.isNotNull()
        # implied facets (e.g. byte in [-128,127]) apply to the casted value
        if entry.minimum is not None:
            pred = pred & (
                (casted > F.lit(entry.minimum)) if entry.exclusive_min else (casted >= F.lit(entry.minimum))
            )
        if entry.maximum is not None:
            pred = pred & (
                (casted < F.lit(entry.maximum)) if entry.exclusive_max else (casted <= F.lit(entry.maximum))
            )
        if entry.pattern is not None:
            pred = pred & col.cast("string").rlike(f"^(?:{entry.pattern})$")
        return _null_passes(col, pred)

    if isinstance(c, AllOf):
        out = F.lit(True)
        for ch in c.children:
            out = out & compile_predicate(ch, dtypes)
        return out

    if isinstance(c, AnyOf):
        out = F.lit(False)
        for ch in c.children:
            out = out | compile_predicate(ch, dtypes)
        return out

    raise TypeError(f"not a row-level constraint: {type(c).__name__} (id {c.id})")
