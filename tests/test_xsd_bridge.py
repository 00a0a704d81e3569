"""The XSD -> Spark bridge (``XsdCompiler.to_spec_constraints``) on
derived types: restrictions of user and non-primitive builtin types,
nested simpleType bases, aliases and unions, read off the hand
fixtures under ``tests/data/xsd_fixtures/``."""

import os

import pytest

from xsd2json_spark.spec.constraints import SpecError
from xsd2json_spark.spec.xsd_compiler import XsdCompiler

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "data", "xsd_fixtures")


def _bridge(fixture, definition, column="v"):
    comp = XsdCompiler(os.path.join(FIXTURE_DIR, fixture + ".xsd"))
    return comp.to_spec_constraints(column, comp.compile()["definitions"][definition])


def _shape(c):
    """A constraint dict as (kind, its facet or children's shapes)."""
    if c["kind"] in ("all_of", "any_of"):
        return c["kind"], [_shape(x) for x in c["children"]]
    facet = {k: v for k, v in c.items() if k not in ("kind", "id", "column", "expr")}
    return c["kind"], facet


RANGE = dict(min=None, max=None, exclusive_min=False, exclusive_max=False)
POSITIVE = ("range", {**RANGE, "min": 0, "exclusive_min": True})
PERCENT = [POSITIVE, ("enum", {"values": [10, 50]}), ("range", {**RANGE, "max": 100})]

DERIVED = {
    ("nested_simple_type_base", "shortWord"): ("all_of", [
        ("length", {"min": 2, "max": None}), ("enum", {"values": ["ab"]}),
        ("pattern", {"pattern": "[a-z]+"}), ("length", {"min": None, "max": 5})]),
    ("restriction_bases", "percent"): ("all_of", PERCENT),
    ("restriction_bases", "when"): ("pattern", {"pattern": "[0-9]{4}-.*"}),
    ("restriction_bases", "small"): ("all_of", [
        *PERCENT, ("enum", {"values": ["10"]}), ("range", {**RANGE, "max": 20, "exclusive_max": True})]),
    ("restriction_bases", "alias"): ("all_of", PERCENT),
    ("simple_types", "size"): ("any_of", [
        ("dtype", {"type": "integer"}), ("enum", {"values": ["small", "large"]}),
        ("pattern", {"pattern": "[0-9]+px"})]),
}


@pytest.mark.parametrize("fixture,definition", list(DERIVED))
def test_derived_type_maps_to_one_constraint(fixture, definition):
    """A derived type maps to one constraint: its $ref chain and allOf
    branches AND into one all_of, a union ORs its members."""
    got = _bridge(fixture, definition)
    assert [_shape(c) for c in got] == [DERIVED[fixture, definition]]


def _compiled(definitions):
    comp = XsdCompiler('<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema"/>')
    comp.compile()
    comp.definitions.update(definitions)
    return comp


def test_union_with_an_unconstrained_member_is_vacuous():
    comp = _compiled({"word": {"type": "string", "enum": ["a"]}})
    union = {"oneOf": [{"$ref": "#/definitions/word"}, {"type": "string"}]}
    assert comp.to_spec_constraints("v", union) == []


@pytest.mark.parametrize("defn,message", [
    ({"allOf": [{"$ref": "#/definitions/gone"}, {"maxLength": 3}]}, "'top': \\$ref '#/definitions/gone'"),
    ({"oneOf": [{"type": "integer"}, {"type": "array", "items": {"type": "integer"}}]}, "'top'.*items, type 'array'"),
    ({"$ref": "#/definitions/obj"}, "'obj'.*properties, type 'object'"),
])
def test_bridge_rejects_what_it_cannot_express(defn, message):
    """A derived type the bridge cannot express raises SpecError naming
    the definition; it never maps to no constraint."""
    comp = _compiled({"top": defn, "obj": {"type": "object", "properties": {"a": {"type": "string"}}}})
    with pytest.raises(SpecError, match=message):
        comp.to_spec_constraints("v", defn)


def test_engine_runs_derived_types(spark):
    """XSD in, Spark verdicts out for derived types: each value fails
    exactly the derived constraints it violates; NULL passes."""
    from xsd2json_spark import spec_from_dict
    from xsd2json_spark.engine import ValidationEngine

    constraints = [
        *_bridge("restriction_bases", "small", "n"),
        *_bridge("simple_types", "size", "s"),
        *_bridge("nested_simple_type_base", "shortWord", "w"),
    ]
    spec = spec_from_dict({"key_columns": ["id"], "constraints": constraints})
    df = spark.createDataFrame([
        (1, 10, "12", "ab"),
        (2, 50, "small", "abc"),
        (3, 15, "9px", "a"),
        (4, 0, "huge", "AB"),
        (5, None, None, None),
    ], "id long, n long, s string, w string")
    res = ValidationEngine(spark, spec).run(df)
    got = sorted((int(r["id"]), r["constraint_id"]) for r in res.violations.collect())
    assert got == [(2, "n_all_of"), (2, "w_all_of"), (3, "n_all_of"), (3, "w_all_of"),
                   (4, "n_all_of"), (4, "s_any_of"), (4, "w_all_of")]
    res.unpersist()
