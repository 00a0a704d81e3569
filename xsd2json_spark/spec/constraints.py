"""Constraint vocabulary — the generalization of xsd2json's facet system.

The reference maps XSD simple types + facets to JSON Schema draft-04
keywords (``convert_xsd_type/2`` /root/reference/lib-pl/xsd2json.pl:851-904,
``convert_xsd_restriction/3`` :907-967). We re-express that vocabulary as
column-level constraints over a DataFrame:

  XSD / JSON-Schema                      ours
  ---------------------------------------------------------------
  type table (:851-904)                  Dtype (castability)
  min/maxInclusive/Exclusive (:917-934)  Range{min,max,exclusive_*}
  minLength/maxLength/length (:937-952)  Length{min,max} (ints only)
  pattern (+ OR merge :1104-1116)        Pattern[list -> alternation]
  enumeration (:1342-1356)               Enum{values}
  fixed -> enum:[v] (:1393-1402)         Constant{value}
  required / use=required (:1508,:1807)  NotNull
  minOccurs/maxOccurs (:1126-1146)       Cardinality{group_by,min,max}
  $ref (:971-986)                        ForeignKey{ref_cols}
  allOf (resolve_facets :539-560)        AllOf
  oneOf (multi-root :2198-2218)          AnyOf
  ID uniqueness (:888) + north_star      Unique{cols}
  (north_star extension)                 Drift{chi2|ks}
  (Deequ-parity extensions)              FunctionalDependency{determinants,
                                         dependent}; max_fail_ratio
                                         compliance thresholds
  totalDigits/fractionDigits/whiteSpace  Unsupported (warn + skip, :1472-1492)

NULL semantics: like JSON Schema (where a missing property passes every
keyword except ``required``), every row-level constraint except NotNull
passes on NULL. Only NotNull / Constant(nullable=False) fail NULLs.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field, replace
from typing import Optional, Sequence, Union

Number = Union[int, float]


class SpecError(ValueError):
    """Raised for malformed or contradictory constraint specs."""


@dataclass(frozen=True)
class Constraint:
    """Base class. ``id`` is the stable constraint identifier used in
    verdicts and violation rows (``constraint_id`` key).

    ``max_fail_ratio`` (row-level constraints only; Deequ-style
    compliance threshold): when set, the verdict passes iff
    violation_count <= max_fail_ratio * evaluated_count instead of
    requiring zero violations — "at most 2% of rows may fail this
    check". Violation ROWS are still emitted for every failing row
    (the tolerance is a verdict policy, not a sampling of evidence).
    Ignored by table-level constraints, whose verdicts count groups,
    not evaluated rows (kw-only so positional construction of
    subclasses is unaffected)."""

    id: str
    max_fail_ratio: Optional[float] = field(default=None, kw_only=True)

    @property
    def kind(self) -> str:
        return type(self).__name__.lower()

    def describe(self) -> dict:
        d = {"kind": self.kind, "id": self.id}
        for k, v in self.__dict__.items():
            if k != "id" and v is not None:
                d[k] = v
        return d


# ---------------------------------------------------------------------------
# Row-level constraints (compile to one boolean Column each; evaluated in a
# single aggregate pass — see engine/validate.py)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class NotNull(Constraint):
    """required / minOccurs>=1 (xsd2json.pl:1495-1508, 1807-1824)."""

    column: str = ""


@dataclass(frozen=True)
class Dtype(Constraint):
    """Lexical-space membership in an XSD builtin type — the 40-entry
    table of convert_xsd_type/2 (xsd2json.pl:851-904). A string column
    satisfies ``Dtype(type='integer')`` iff the value casts cleanly."""

    column: str = ""
    type: str = "string"

    def __post_init__(self):
        if self.type not in TYPE_REGISTRY:
            raise SpecError(f"unknown dtype {self.type!r}; known: {sorted(TYPE_REGISTRY)}")

    def implied_facets(self) -> "list[Constraint]":
        """Facets the XSD type itself implies (e.g. byte -> [-128,127])."""
        out = []
        entry = TYPE_REGISTRY[self.type]
        if entry.minimum is not None or entry.maximum is not None:
            out.append(
                Range(
                    id=f"{self.id}::implied_range",
                    column=self.column,
                    min=entry.minimum,
                    max=entry.maximum,
                    exclusive_min=entry.exclusive_min,
                    exclusive_max=entry.exclusive_max,
                )
            )
        if entry.pattern is not None:
            out.append(Pattern(id=f"{self.id}::implied_pattern", column=self.column, patterns=(entry.pattern,)))
        return out


@dataclass(frozen=True)
class Range(Constraint):
    """min/maxInclusive/Exclusive (xsd2json.pl:907-934). draft-04 boolean
    exclusiveMinimum/Maximum map to strict > / < exactly."""

    column: str = ""
    min: Optional[Number] = None
    max: Optional[Number] = None
    exclusive_min: bool = False
    exclusive_max: bool = False
    expr: Optional[str] = None  # optional SQL expression instead of a bare column

    def __post_init__(self):
        if self.min is None and self.max is None:
            raise SpecError(f"range {self.id}: need min or max")
        if self.min is not None and self.max is not None and self.min > self.max:
            raise SpecError(f"range {self.id}: min {self.min} > max {self.max} (unsatisfiable)")


@dataclass(frozen=True)
class Length(Constraint):
    """minLength/maxLength/length (xsd2json.pl:937-952). Integer-enforced
    per draft-04 (comment at :939, :945)."""

    column: str = ""
    min: Optional[int] = None
    max: Optional[int] = None

    def __post_init__(self):
        for v in (self.min, self.max):
            if v is not None and not isinstance(v, int):
                raise SpecError(f"length {self.id}: bounds must be ints (draft-04), got {v!r}")
        if self.min is None and self.max is None:
            raise SpecError(f"length {self.id}: need min or max")


@dataclass(frozen=True)
class Pattern(Constraint):
    """pattern facet. Multiple patterns within one restriction OR per W3C
    (xsd2json.pl:1097-1116). XSD patterns are implicitly anchored, so the
    engine evaluates ``^(?:p1|p2)$`` (SURVEY §7 regex-dialect note)."""

    column: str = ""
    patterns: Sequence[str] = ()

    def __post_init__(self):
        if not self.patterns:
            raise SpecError(f"pattern {self.id}: empty pattern list")
        object.__setattr__(self, "patterns", tuple(self.patterns))
        for p in self.patterns:
            try:
                re.compile(p)
            except re.error as e:
                raise SpecError(f"pattern {self.id}: bad regex {p!r}: {e}") from e

    @property
    def anchored_regex(self) -> str:
        return "^(?:" + "|".join(f"(?:{p})" for p in self.patterns) + ")$"


@dataclass(frozen=True)
class Enum(Constraint):
    """enumeration facet (xsd2json.pl:1342-1356); merge is set-union
    (merge_json.pl:76-78)."""

    column: str = ""
    values: Sequence = ()

    def __post_init__(self):
        if not self.values:
            raise SpecError(f"enum {self.id}: empty value list")
        object.__setattr__(self, "values", tuple(self.values))


@dataclass(frozen=True)
class Constant(Constraint):
    """@fixed -> enum:[value] (xsd2json.pl:1393-1402, 1826-1852)."""

    column: str = ""
    value: object = None
    nullable: bool = True  # fixed values still pass when absent (NULL)


@dataclass(frozen=True)
class AllOf(Constraint):
    """Conjunction — resolve_facets' allOf (xsd2json.pl:509-560)."""

    children: Sequence[Constraint] = ()

    def __post_init__(self):
        if not self.children:
            raise SpecError(f"all_of {self.id}: no children")
        object.__setattr__(self, "children", tuple(self.children))


@dataclass(frozen=True)
class AnyOf(Constraint):
    """Disjunction — multi-root oneOf (xsd2json.pl:2198-2218)."""

    children: Sequence[Constraint] = ()

    def __post_init__(self):
        if not self.children:
            raise SpecError(f"any_of {self.id}: no children")
        object.__setattr__(self, "children", tuple(self.children))


# ---------------------------------------------------------------------------
# Table-level constraints (evaluated with their own join/agg plan)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Unique(Constraint):
    """Key uniqueness — XSD ID analog (xsd2json.pl:888) + north_star
    ``unique (repo, path, commit)``. Scale path: an xxhash64 count per
    key, then the duplicate candidates verified on the true key."""

    columns: Sequence[str] = ()

    def __post_init__(self):
        if not self.columns:
            raise SpecError(f"unique {self.id}: no columns")
        object.__setattr__(self, "columns", tuple(self.columns))


@dataclass(frozen=True)
class ForeignKey(Constraint):
    """$ref analog (reference_type/2, xsd2json.pl:971-986): values must
    resolve in a dimension table; dangling refs are violations
    (left_anti)."""

    columns: Sequence[str] = ()
    ref_table: str = ""  # logical name; engine resolves to a DataFrame
    ref_columns: Sequence[str] = ()
    broadcast: Optional[bool] = None  # None = auto by dim size

    def __post_init__(self):
        if not self.columns:
            raise SpecError(f"foreign_key {self.id}: no columns")
        object.__setattr__(self, "columns", tuple(self.columns))
        object.__setattr__(
            self, "ref_columns", tuple(self.ref_columns) if self.ref_columns else tuple(self.columns)
        )
        if len(self.columns) != len(self.ref_columns):
            raise SpecError(f"foreign_key {self.id}: column arity mismatch")


@dataclass(frozen=True)
class Cardinality(Constraint):
    """minOccurs/maxOccurs generalized to group sizes (xsd2json.pl:
    1126-1146 defaults; sum_occurs/3 :986-1006 — ``unbounded`` = None is
    absorbing, mirrored by our saturating merge in spec/merge.py)."""

    group_by: Sequence[str] = ()
    min: Optional[int] = 1  # default minOccurs='1' (xsd2json.pl:1126-1146)
    max: Optional[int] = None  # None = unbounded

    def __post_init__(self):
        if not self.group_by:
            raise SpecError(f"cardinality {self.id}: no group_by")
        object.__setattr__(self, "group_by", tuple(self.group_by))


@dataclass(frozen=True)
class Quantile(Constraint):
    """p-th percentile bounds on a numeric column/expr — the north
    star's quantile sketch promoted into the verdict path: passes iff
    quantile_p lies in [min, max]. ``approx`` is three-valued:
    ``None`` (default) auto-dispatches like EMB_ARROW_THRESHOLD — exact
    ``F.percentile`` when the optimizer's size estimate for the input
    is small, the mergeable GK ``percentile_approx`` sketch otherwise
    (and whenever the estimate is unavailable, so the UNKNOWN case is
    the scale-safe one). ``False`` forces exact (linear interpolation,
    same formula as DuckDB's quantile_cont — the oracle-able
    configuration); ``True`` forces the GK sketch.
    Optional ``group_by``: one check row per group."""

    column: str = ""
    p: float = 0.5
    min: Optional[float] = None
    max: Optional[float] = None
    approx: Optional[bool] = None
    accuracy: int = 10000
    group_by: Sequence[str] = ()
    expr: Optional[str] = None

    def __post_init__(self):
        object.__setattr__(self, "group_by", tuple(self.group_by))
        if not (0.0 <= self.p <= 1.0):
            raise SpecError(f"quantile {self.id}: p={self.p} outside [0, 1]")
        if self.min is None and self.max is None:
            raise SpecError(f"quantile {self.id}: no min or max bound")


@dataclass(frozen=True)
class FunctionalDependency(Constraint):
    """determinants -> dependent: every determinant group takes at most
    ONE non-NULL value of the dependent expression (Deequ's
    hasUniqueValueRatio / FD-profiling analog; the XSD analog is a
    key/keyref selector pair resolving to a single field). NULL
    semantics follow the module rule: NULL dependents pass (a group
    with values {x, NULL} is consistent; {x, y} is not); a NULL
    determinant is a group like any other. One violation row per
    inconsistent group, so evidence volume is bounded by the anomaly
    count, not the table."""

    determinants: Sequence[str] = ()
    dependent: str = ""

    def __post_init__(self):
        if not self.determinants:
            raise SpecError(f"functional_dependency {self.id}: no determinants")
        if not self.dependent:
            raise SpecError(f"functional_dependency {self.id}: no dependent")
        if self.dependent in self.determinants:
            raise SpecError(
                f"functional_dependency {self.id}: dependent {self.dependent!r} "
                "is one of the determinants (vacuously true)"
            )
        object.__setattr__(self, "determinants", tuple(self.determinants))


@dataclass(frozen=True)
class Drift(Constraint):
    """Distribution drift vs a baseline snapshot (north_star extension):
    chi-square on categorical mix, two-sample KS on a numeric expr."""

    column: str = ""
    test: str = "chi2"  # chi2 | ks
    baseline: str = ""  # logical snapshot name
    alpha: float = 0.01
    expr: Optional[str] = None
    #: evaluate the test per group (e.g. per lang) against a per-group
    #: baseline snapshot — one verdict row per group
    group_by: Sequence[str] = ()

    def __post_init__(self):
        object.__setattr__(self, "group_by", tuple(self.group_by))
        if self.test not in ("chi2", "ks"):
            raise SpecError(f"drift {self.id}: unknown test {self.test!r}")


@dataclass(frozen=True)
class Unsupported(Constraint):
    """totalDigits / fractionDigits / whiteSpace — dropped with a warning,
    mirroring the reference (xsd2json.pl:1472-1492) for verdict parity."""

    facet: str = ""
    column: str = ""


ROW_LEVEL = (NotNull, Dtype, Range, Length, Pattern, Enum, Constant, AllOf, AnyOf)
TABLE_LEVEL = (Unique, ForeignKey, Cardinality, Quantile, Drift, FunctionalDependency)


# ---------------------------------------------------------------------------
# TYPE_REGISTRY — convert_xsd_type/2 (xsd2json.pl:851-904), all 40 entries
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TypeEntry:
    json_type: str  # JSON Schema 'type' output of the reference
    spark_cast: Optional[str] = None  # cast target for lexical validity, None = always valid
    minimum: Optional[Number] = None
    maximum: Optional[Number] = None
    exclusive_min: bool = False
    exclusive_max: bool = False
    pattern: Optional[str] = None
    format: Optional[str] = None


_INT = dict(json_type="integer", spark_cast="long")
_NUM = dict(json_type="number", spark_cast="double")
_STR = dict(json_type="string")

TYPE_REGISTRY: dict[str, TypeEntry] = {
    # xsd2json.pl:857 anyType -> {} unconstrained
    "anyType": TypeEntry(json_type="any"),
    # :895-904 anySimpleType -> oneOf [integer,string,number,boolean,null]
    "anySimpleType": TypeEntry(json_type="any"),
    # :858
    "anyURI": TypeEntry(**_STR, format="uri"),
    # :859
    "base64Binary": TypeEntry(**_STR),
    # :860
    "boolean": TypeEntry(json_type="boolean", spark_cast="boolean"),
    # :861 byte -> [-128, 127] inclusive
    "byte": TypeEntry(**_INT, minimum=-128, maximum=127),
    # :862-863, :885 date/dateTime/time -> string format: date-time
    "date": TypeEntry(**_STR, format="date-time"),
    "dateTime": TypeEntry(**_STR, format="date-time"),
    "time": TypeEntry(**_STR, format="date-time"),
    # :864-867
    "decimal": TypeEntry(**_NUM),
    "double": TypeEntry(**_NUM),
    "float": TypeEntry(**_NUM),
    # :866 duration -> string + regex pattern
    "duration": TypeEntry(**_STR, pattern=r"-?P(?=.)(\d+Y)?(\d+M)?(\d+D)?(T(?=.)(\d+H)?(\d+M)?(\d+(\.\d+)?S)?)?"),
    # :868-869 gDay [1,31], gMonth [1,12]
    "gDay": TypeEntry(**_INT, minimum=1, maximum=31),
    "gMonth": TypeEntry(**_INT, minimum=1, maximum=12),
    # :870,872-873 gMonthDay/gYearMonth/hexBinary -> string + pattern
    "gMonthDay": TypeEntry(**_STR, pattern=r"--(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])"),
    "gYearMonth": TypeEntry(**_STR, pattern=r"-?\d{4,}-(0[1-9]|1[0-2])"),
    "hexBinary": TypeEntry(**_STR, pattern=r"([0-9a-fA-F]{2})*"),
    # :871 gYear -> integer
    "gYear": TypeEntry(**_INT),
    # :874-877, :883
    "int": TypeEntry(**_INT, minimum=-2147483648, maximum=2147483647),
    "integer": TypeEntry(**_INT),
    "long": TypeEntry(**_INT),
    "short": TypeEntry(**_INT, minimum=-32768, maximum=32767),
    # :876,881,884,886-889 string-ish
    "language": TypeEntry(**_STR),
    "normalizedString": TypeEntry(**_STR),
    "string": TypeEntry(**_STR),
    "token": TypeEntry(**_STR),
    "NMTOKEN": TypeEntry(**_STR),
    "NMTOKENS": TypeEntry(**_STR),
    "Name": TypeEntry(**_STR),
    "NCName": TypeEntry(**_STR),
    "ID": TypeEntry(**_STR),
    "IDREF": TypeEntry(**_STR),
    "IDREFS": TypeEntry(**_STR),
    "ENTITY": TypeEntry(**_STR),
    "ENTITIES": TypeEntry(**_STR),
    "QName": TypeEntry(**_STR),
    "NOTATION": TypeEntry(**_STR),
    # :878-882, :890-893 bounded integers
    "negativeInteger": TypeEntry(**_INT, maximum=0, exclusive_max=True),
    "nonNegativeInteger": TypeEntry(**_INT, minimum=0),
    "nonPositiveInteger": TypeEntry(**_INT, maximum=0),
    "positiveInteger": TypeEntry(**_INT, minimum=0, exclusive_min=True),
    "unsignedByte": TypeEntry(**_INT, minimum=0, maximum=255),
    "unsignedInt": TypeEntry(**_INT, minimum=0, maximum=4294967295),
    "unsignedLong": TypeEntry(**_INT, minimum=0),
    "unsignedShort": TypeEntry(**_INT, minimum=0, maximum=65535),
}


# ---------------------------------------------------------------------------
# Spec — an ordered, named collection of constraints over one table
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Spec:
    name: str
    constraints: Sequence[Constraint] = ()
    key_columns: Sequence[str] = ()  # violation-row key (e.g. repo,path,commit)
    partition_by: Sequence[str] = ()  # per-partition verdict grouping
    watched_columns: Sequence[str] = ()  # columns to sketch stats for

    def __post_init__(self):
        object.__setattr__(self, "constraints", tuple(self.constraints))
        object.__setattr__(self, "key_columns", tuple(self.key_columns))
        object.__setattr__(self, "partition_by", tuple(self.partition_by))
        object.__setattr__(self, "watched_columns", tuple(self.watched_columns))
        ids = [c.id for c in self.constraints]
        dup = {i for i in ids if ids.count(i) > 1}
        if dup:
            raise SpecError(f"duplicate constraint ids: {sorted(dup)}")

    def row_level(self) -> "tuple[Constraint, ...]":
        return tuple(c for c in self.constraints if isinstance(c, ROW_LEVEL))

    def table_level(self) -> "tuple[Constraint, ...]":
        return tuple(c for c in self.constraints if isinstance(c, TABLE_LEVEL))

    def unsupported(self) -> "tuple[Unsupported, ...]":
        return tuple(c for c in self.constraints if isinstance(c, Unsupported))

    def with_constraints(self, constraints: Sequence[Constraint]) -> "Spec":
        return replace(self, constraints=tuple(constraints))

    def to_json(self) -> str:
        return json.dumps(
            {
                "name": self.name,
                "key_columns": list(self.key_columns),
                "partition_by": list(self.partition_by),
                "watched_columns": list(self.watched_columns),
                "constraints": [c.describe() for c in self.constraints],
            },
            indent=2,
            default=str,
        )
