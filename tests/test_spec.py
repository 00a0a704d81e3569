"""Spec core + merge lattice unit tests (no Spark needed).

Mirrors merge_facet/4 (/root/reference/lib-pl/merge_json.pl:143-157),
sum_occurs/3 (xsd2json.pl:986-1006), and the type table (:851-904).
"""

import json

import pytest

from xsd2json_spark.spec.constraints import (
    TYPE_REGISTRY,
    Cardinality,
    Dtype,
    Enum,
    Length,
    NotNull,
    Pattern,
    Range,
    Spec,
    SpecError,
    Unique,
)
from xsd2json_spark.spec.loader import spec_from_dict
from xsd2json_spark.spec.merge import (
    compose_specs,
    merge_constraints,
    sum_occurs,
)


def test_type_registry_covers_reference_table():
    # the 40-entry convert_xsd_type/2 table (xsd2json.pl:851-904)
    assert len(TYPE_REGISTRY) >= 40
    assert TYPE_REGISTRY["byte"].minimum == -128 and TYPE_REGISTRY["byte"].maximum == 127
    assert TYPE_REGISTRY["positiveInteger"].exclusive_min is True
    assert TYPE_REGISTRY["positiveInteger"].minimum == 0
    assert TYPE_REGISTRY["negativeInteger"].exclusive_max is True
    assert TYPE_REGISTRY["gDay"].minimum == 1 and TYPE_REGISTRY["gDay"].maximum == 31
    assert TYPE_REGISTRY["anyURI"].format == "uri"
    assert TYPE_REGISTRY["duration"].pattern is not None


def test_dtype_implied_facets():
    d = Dtype(id="t", column="x", type="unsignedByte")
    facets = d.implied_facets()
    assert len(facets) == 1
    r = facets[0]
    assert (r.min, r.max, r.exclusive_min, r.exclusive_max) == (0, 255, False, False)


def test_sum_occurs_unbounded_absorbing():
    assert sum_occurs(1, 2) == 3
    assert sum_occurs(None, 5) is None
    assert sum_occurs(5, None) is None
    assert sum_occurs(None, None) is None


def test_merge_range_tightest_bound():
    a = Range(id="r", column="x", min=5, max=20)
    b = Range(id="r", column="x", min=10, max=15)
    m = merge_constraints(a, b)
    assert (m.min, m.max) == (10, 15)
    # commutative
    m2 = merge_constraints(b, a)
    assert m == m2


def test_merge_range_exclusive_tighter_on_tie():
    a = Range(id="r", column="x", min=10, exclusive_min=False)
    b = Range(id="r", column="x", min=10, exclusive_min=True)
    assert merge_constraints(a, b).exclusive_min is True


def test_merge_range_unsatisfiable():
    a = Range(id="r", column="x", min=30)
    b = Range(id="r", column="x", max=10)
    with pytest.raises(SpecError):
        merge_constraints(a, b)


def test_merge_length():
    a = Length(id="l", column="x", min=1, max=100)
    b = Length(id="l", column="x", min=10)
    m = merge_constraints(a, b)
    assert (m.min, m.max) == (10, 100)


def test_length_int_only():
    with pytest.raises(SpecError):
        Length(id="l", column="x", min=1.5)


def test_merge_pattern_or_and_enum_union_are_ac():
    p1 = Pattern(id="p", column="x", patterns=["a+"])
    p2 = Pattern(id="p", column="x", patterns=["b+"])
    m12 = merge_constraints(p1, p2)
    m21 = merge_constraints(p2, p1)
    assert m12 == m21
    assert set(m12.patterns) == {"a+", "b+"}
    assert m12.anchored_regex.startswith("^(?:")

    e1 = Enum(id="e", column="x", values=["a", "b"])
    e2 = Enum(id="e", column="x", values=["b", "c"])
    assert merge_constraints(e1, e2) == merge_constraints(e2, e1)
    assert set(merge_constraints(e1, e2).values) == {"a", "b", "c"}


def test_merge_cardinality_unbounded():
    a = Cardinality(id="c", group_by=["repo"], min=1, max=None)
    b = Cardinality(id="c", group_by=["repo"], min=4, max=5000)
    m = merge_constraints(a, b)
    assert (m.min, m.max) == (4, 5000)


def test_compose_specs_include_analog():
    # fixture `merge_tightest_bound`: min5+min10 => 10; max20+max15 => 15
    s1 = Spec(name="a", constraints=[Range(id="r", column="x", min=5, max=20)])
    s2 = Spec(name="b", constraints=[Range(id="r", column="x", min=10, max=15), NotNull(id="n", column="x")])
    m = compose_specs(s1, s2)
    ids = {c.id: c for c in m.constraints}
    assert (ids["r"].min, ids["r"].max) == (10, 15)
    assert "n" in ids
    # order-insensitive
    assert compose_specs(s2, s1).constraints == m.constraints


def test_loader_roundtrip_and_defaults():
    doc = {
        "name": "files_v1",
        "key_columns": ["repo", "path", "commit"],
        "constraints": [
            {"kind": "not_null", "id": "nn", "column": "content"},
            {"kind": "cardinality", "id": "card", "group_by": ["repo"]},
            {"kind": "pattern", "id": "pat", "column": "commit", "pattern": "[0-9a-f]{40}"},
            {"kind": "unique", "id": "uq", "columns": ["repo", "path", "commit"]},
        ],
    }
    spec = spec_from_dict(doc)
    by_id = {c.id: c for c in spec.constraints}
    assert by_id["card"].min == 1 and by_id["card"].max is None  # injected defaults
    assert by_id["pat"].patterns == ("[0-9a-f]{40}",)
    assert isinstance(by_id["uq"], Unique)
    json.loads(spec.to_json())  # serializable


def test_unsupported_facet_warns_and_noops():
    with pytest.warns(UserWarning, match="total_digits"):
        spec = spec_from_dict(
            {"constraints": [{"kind": "total_digits", "id": "td", "column": "x", "value": 5}]}
        )
    assert len(spec.unsupported()) == 1
    assert spec.row_level() == () and spec.table_level() == ()


def test_duplicate_ids_rejected():
    with pytest.raises(SpecError):
        Spec(name="s", constraints=[NotNull(id="a", column="x"), NotNull(id="a", column="y")])


def test_functional_dependency_spec_validation():
    from xsd2json_spark.spec.constraints import FunctionalDependency
    from xsd2json_spark.spec.loader import spec_from_dict

    c = spec_from_dict({
        "name": "t",
        "constraints": [{"kind": "functional_dependency", "id": "fd",
                         "determinants": ["a", "b"], "dependent": "c"}],
    }).constraints[0]
    assert isinstance(c, FunctionalDependency)
    assert c.determinants == ("a", "b") and c.dependent == "c"
    with pytest.raises(SpecError, match="no determinants"):
        FunctionalDependency(id="x", determinants=[], dependent="c")
    with pytest.raises(SpecError, match="no dependent"):
        FunctionalDependency(id="x", determinants=["a"], dependent="")
    with pytest.raises(SpecError, match="vacuously true"):
        FunctionalDependency(id="x", determinants=["a"], dependent="a")


def test_max_fail_ratio_spec_validation():
    from xsd2json_spark.spec.loader import spec_from_dict

    c = spec_from_dict({
        "name": "t",
        "constraints": [{"kind": "not_null", "id": "nn", "column": "a",
                         "max_fail_ratio": 0.02}],
    }).constraints[0]
    assert c.max_fail_ratio == 0.02
    assert c.describe()["max_fail_ratio"] == 0.02
    # default stays strict and serializes without the field
    d = spec_from_dict({"name": "t", "constraints": [
        {"kind": "not_null", "id": "nn", "column": "a"}]}).constraints[0]
    assert d.max_fail_ratio is None
    assert "max_fail_ratio" not in d.describe()
    with pytest.raises(SpecError, match="row-level"):
        spec_from_dict({"name": "t", "constraints": [
            {"kind": "unique", "id": "u", "columns": ["a"], "max_fail_ratio": 0.1}]})
    with pytest.raises(SpecError, match="outside"):
        spec_from_dict({"name": "t", "constraints": [
            {"kind": "not_null", "id": "nn", "column": "a", "max_fail_ratio": 1.0}]})


def test_quantile_approx_passes_through_loader():
    """A quantile document's approx is three-valued like Quantile.approx:
    omitted or null is auto-dispatch (None), true/false pin the sketch
    or the exact path, anything else (1, "yes") is refused."""
    def approx_of(**extra):
        doc = {"kind": "quantile", "id": "q", "column": "x", "p": 0.9, "max": 1.0, **extra}
        return spec_from_dict({"name": "t", "constraints": [doc]}).constraints[0].approx

    assert approx_of() is None
    assert approx_of(approx=None) is None
    assert approx_of(approx=True) is True
    assert approx_of(approx=False) is False
    for bad in (1, 0, "yes"):
        with pytest.raises(SpecError, match="quantile q: approx"):
            approx_of(approx=bad)
