"""Golden parity with the reference's own test suite: every one of the
135 XSD -> JSON Schema pairs under /root/reference/test/ must compile
to a semantically equal document (set-semantics for required/enum/
oneOf/allOf, which are order-insensitive keywords).

This mirrors the reference's test harness (test/index.js:87-113) run
against OUR compiler.
"""

import json
import os

import pytest

from tools.xsd_parity import JSON_DIR, XSD_DIR, semantically_equal
from xsd2json_spark.spec.xsd_compiler import XsdCompiler, xsd_to_json_schema

HAVE_CORPUS = os.path.isdir(XSD_DIR)
needs_corpus = pytest.mark.skipif(not HAVE_CORPUS, reason=f"reference XSD corpus not found at {XSD_DIR}")

FIXTURES = sorted(
    f[:-4]
    for f in (os.listdir(XSD_DIR) if HAVE_CORPUS else [])
    if f.endswith(".xsd") and os.path.exists(os.path.join(JSON_DIR, f[:-4] + ".json"))
)


@needs_corpus
def test_full_corpus_count():
    assert len(FIXTURES) == 135


@needs_corpus
@pytest.mark.parametrize("name", FIXTURES)
def test_golden_parity(name):
    with open(os.path.join(JSON_DIR, name + ".json")) as fh:
        golden = json.load(fh)
    got = xsd_to_json_schema(os.path.join(XSD_DIR, name + ".xsd"))
    assert semantically_equal(got, golden), json.dumps(got, indent=2, sort_keys=True)


def test_to_spec_bridge(spark):
    """XSD in -> Spark validation out: a restriction compiles to runtime
    constraints evaluated by the engine."""
    from xsd2json_spark import spec_from_dict
    from xsd2json_spark.engine import ValidationEngine

    xsd = """<?xml version="1.0" ?>
    <xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
      <xs:simpleType name="lang">
        <xs:restriction base="xs:string">
          <xs:enumeration value="python" />
          <xs:enumeration value="java" />
          <xs:minLength value="2" />
          <xs:maxLength value="10" />
        </xs:restriction>
      </xs:simpleType>
    </xs:schema>"""
    comp = XsdCompiler(xsd)
    schema = comp.compile()
    constraints = comp.to_spec_constraints("lang", schema["definitions"]["lang"])
    spec = spec_from_dict({"key_columns": ["lang"], "constraints": constraints})
    df = spark.createDataFrame([("python",), ("java",), ("cobol",), ("x",)], "lang string")
    res = ValidationEngine(spark, spec).run(df)
    vm = {r["constraint_id"]: r["violation_count"] for r in res.verdicts.collect()}
    assert vm["lang_enum"] == 2  # cobol, x
    assert vm["lang_length"] == 1  # x
