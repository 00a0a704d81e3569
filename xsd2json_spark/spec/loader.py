"""Spec loader — dict/JSON documents -> Spec objects, with include
composition and default injection.

Mirrors the reference's front half: parse (load_xsd/3, xsd2json.pl:202-224)
-> default injection (:1126-1204, explicit values override injected
defaults via the simpagation rule at :149-155 — here: dict precedence) ->
include/import composition (:2079-2161) via the merge lattice.

Spec document shape (JSON; YAML works too if pyyaml is present):

    {
      "name": "files_v1",
      "key_columns": ["repo", "path", "commit"],
      "partition_by": ["lang"],
      "watched_columns": ["content", "lang"],
      "include": ["base_spec.json"],            # composed via merge lattice
      "constraints": [
        {"kind": "not_null", "id": "c1", "column": "content"},
        {"kind": "range", "id": "c2", "column": "size", "min": 0, "max": 100},
        {"kind": "pattern", "id": "c3", "column": "commit",
         "patterns": ["[0-9a-f]{40}"]},
        {"kind": "enum", "id": "c4", "column": "lang",
         "values": ["python", "java"]},
        {"kind": "unique", "id": "c5", "columns": ["repo","path","commit"]},
        {"kind": "foreign_key", "id": "c6", "columns": ["repo"],
         "ref_table": "repos_dim", "ref_columns": ["repo"]},
        {"kind": "cardinality", "id": "c7", "group_by": ["repo"], "min": 1},
        {"kind": "total_digits", "id": "c8", "column": "x", "value": 5}
      ]
    }

Unsupported facets (total_digits / fraction_digits / white_space) load as
``Unsupported`` and are warn-skipped at eval time, mirroring
xsd2json.pl:1472-1492.
"""

from __future__ import annotations

import json
import os
import warnings
from typing import Mapping, Optional, Sequence

from xsd2json_spark.spec.constraints import (
    AllOf,
    AnyOf,
    Cardinality,
    Constant,
    Constraint,
    Drift,
    Dtype,
    Enum,
    ForeignKey,
    FunctionalDependency,
    Length,
    NotNull,
    Pattern,
    Quantile,
    Range,
    Spec,
    SpecError,
    Unique,
    Unsupported,
)
from xsd2json_spark.spec.merge import compose_specs

UNSUPPORTED_FACETS = {"total_digits", "fraction_digits", "white_space"}


def _mk(doc: Mapping, idx: int) -> Constraint:
    """Constraint factory + the shared ``max_fail_ratio`` compliance
    option (row-level kinds only; see Constraint.max_fail_ratio)."""
    from dataclasses import replace

    from xsd2json_spark.spec.constraints import ROW_LEVEL

    c = _mk_inner(doc, idx)
    mfr = doc.get("max_fail_ratio")
    if mfr is not None:
        if not isinstance(c, ROW_LEVEL):
            raise SpecError(
                f"constraint {c.id}: max_fail_ratio applies to row-level "
                f"constraints, not {c.kind}"
            )
        mfr = float(mfr)
        if not (0.0 <= mfr < 1.0):
            raise SpecError(f"constraint {c.id}: max_fail_ratio {mfr} outside [0, 1)")
        c = replace(c, max_fail_ratio=mfr)
    return c


def _mk_inner(doc: Mapping, idx: int) -> Constraint:
    kind = doc.get("kind")
    if kind is None:
        raise SpecError(f"constraint #{idx}: missing 'kind'")
    cid = doc.get("id") or f"{kind}_{idx}"
    col = doc.get("column", "")
    if kind in UNSUPPORTED_FACETS:
        warnings.warn(
            f"constraint {cid}: facet {kind!r} has no validation semantics "
            f"(mirrors xsd2json.pl:1472-1492) — skipped",
            stacklevel=3,
        )
        return Unsupported(id=cid, facet=kind, column=col)
    if kind == "not_null":
        return NotNull(id=cid, column=col)
    if kind == "dtype":
        return Dtype(id=cid, column=col, type=doc.get("type", "string"))
    if kind == "range":
        return Range(
            id=cid,
            column=col,
            min=doc.get("min"),
            max=doc.get("max"),
            exclusive_min=bool(doc.get("exclusive_min", False)),
            exclusive_max=bool(doc.get("exclusive_max", False)),
            expr=doc.get("expr"),
        )
    if kind == "length":
        return Length(id=cid, column=col, min=doc.get("min"), max=doc.get("max"))
    if kind == "pattern":
        pats = doc.get("patterns") or ([doc["pattern"]] if "pattern" in doc else [])
        return Pattern(id=cid, column=col, patterns=pats)
    if kind == "enum":
        return Enum(id=cid, column=col, values=doc.get("values", ()))
    if kind == "constant":
        return Constant(id=cid, column=col, value=doc.get("value"), nullable=bool(doc.get("nullable", True)))
    if kind == "all_of":
        return AllOf(id=cid, children=[_mk(d, i) for i, d in enumerate(doc.get("children", ()))])
    if kind == "any_of":
        return AnyOf(id=cid, children=[_mk(d, i) for i, d in enumerate(doc.get("children", ()))])
    if kind == "unique":
        return Unique(id=cid, columns=doc.get("columns", ()))
    if kind == "foreign_key":
        return ForeignKey(
            id=cid,
            columns=doc.get("columns", ()),
            ref_table=doc.get("ref_table", ""),
            ref_columns=doc.get("ref_columns", ()),
            broadcast=doc.get("broadcast"),
        )
    if kind == "cardinality":
        return Cardinality(
            id=cid,
            group_by=doc.get("group_by", ()),
            min=doc.get("min", 1),  # default minOccurs='1' (xsd2json.pl:1126-1146)
            max=doc.get("max"),  # default maxOccurs unbounded at group level
        )
    if kind == "quantile":
        approx = doc.get("approx")
        if approx is not None and not isinstance(approx, bool):
            raise SpecError(f"quantile {cid}: approx must be true, false or null (auto), not {approx!r}")
        return Quantile(
            id=cid,
            column=col,
            p=float(doc.get("p", 0.5)),
            min=doc.get("min"),
            max=doc.get("max"),
            approx=approx,
            accuracy=int(doc.get("accuracy", 10000)),
            group_by=doc.get("group_by", ()),
            expr=doc.get("expr"),
        )
    if kind == "drift":
        return Drift(
            id=cid,
            column=col,
            test=doc.get("test", "chi2"),
            baseline=doc.get("baseline", ""),
            alpha=float(doc.get("alpha", 0.01)),
            expr=doc.get("expr"),
            group_by=doc.get("group_by", ()),
        )
    if kind == "functional_dependency":
        return FunctionalDependency(
            id=cid,
            determinants=doc.get("determinants", ()),
            dependent=doc.get("dependent", ""),
        )
    raise SpecError(f"constraint {cid}: unknown kind {kind!r}")


def spec_from_dict(doc: Mapping, name: Optional[str] = None, base_dir: Optional[str] = None) -> Spec:
    spec = Spec(
        name=name or doc.get("name", "spec"),
        constraints=[_mk(d, i) for i, d in enumerate(doc.get("constraints", ()))],
        key_columns=doc.get("key_columns", ()),
        partition_by=doc.get("partition_by", ()),
        watched_columns=doc.get("watched_columns", ()),
    )
    includes: Sequence[str] = doc.get("include", ())
    if includes:
        children = [load_spec(os.path.join(base_dir or ".", p)) for p in includes]
        spec = compose_specs(spec, *children, name=spec.name)
    return spec


def load_spec(path: str) -> Spec:
    """Load a spec file (JSON; YAML if pyyaml importable), resolving
    ``include`` entries relative to the file (relative_input/3 analog,
    xsd2json.pl:456-465)."""
    with open(path) as fh:
        text = fh.read()
    doc = None
    if path.endswith((".yaml", ".yml")):
        try:
            import yaml  # type: ignore

            doc = yaml.safe_load(text)
        except ImportError as e:
            raise SpecError("YAML spec given but pyyaml not installed; use JSON") from e
    if doc is None:
        doc = json.loads(text)
    return spec_from_dict(doc, base_dir=os.path.dirname(os.path.abspath(path)))
