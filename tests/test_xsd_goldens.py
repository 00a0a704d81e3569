"""Pinned XSD compiler output; runs without Spark and without the
reference corpus.

- Corpus goldens: every schema of the seeded benchmark corpus
  (``perfbench/xsd_corpus``, seeds 1 and 2) must compile to the output
  hash recorded in ``tests/data/xsd_goldens.json`` (written by
  ``tools/xsd_goldens.py``).
- Hand fixtures: each ``tests/data/xsd_fixtures/NAME.xsd`` with a
  ``NAME.json`` beside it must compile to exactly that JSON (an ``.xsd``
  without a ``.json`` is an include target). They cover the builtin
  type table, the @-mark rule, facet merging, restriction bases,
  declarations, content groups, schema roots and namespace prefixes.
- The @-mark fixed point: the compiler strips '@' in place through the
  subschema keywords it emits; the copying walk over every dict and
  list that it replaced (``_copying_cleanup`` below) must find nothing
  left to rename in any corpus or fixture output.
"""

import json
import os

import pytest

from perfbench.xsd_corpus import corpus
from tools.xsd_goldens import GOLDENS, SEEDS, output_hashes
from xsd2json_spark.spec.xsd_compiler import XsdCompiler, xsd_to_json_schema

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "data", "xsd_fixtures")
FIXTURES = sorted(f[:-5] for f in os.listdir(FIXTURE_DIR) if f.endswith(".json"))


def _canon(json_obj) -> str:
    # sort_keys ignores key order; the text keeps true vs 1 and list order
    return json.dumps(json_obj, sort_keys=True)


def _copying_cleanup(json_obj):
    """remove_at_from_property_names (xsd2json.pl:563-641) over every
    dict and list: strip '@' from attribute property names unless a
    same-name element property exists."""
    if isinstance(json_obj, list):
        return [_copying_cleanup(x) for x in json_obj]
    if not isinstance(json_obj, dict):
        return json_obj
    props = json_obj.get("properties")
    renames = {}
    if isinstance(props, dict):
        renames = {k: k[1:] for k in props if k.startswith("@") and k[1:] not in props}
    out = {}
    for k, v in json_obj.items():
        if k == "properties":
            out[k] = {renames.get(pk, pk): _copying_cleanup(pv) for pk, pv in v.items()}
        elif k == "required" and isinstance(v, list):
            out[k] = [renames.get(x, x) for x in v]
        else:
            out[k] = _copying_cleanup(v)
    return out


def _unrenamed(out: dict) -> list:
    """Names of the output's root and definitions that the copying walk
    would still change."""
    root = {k: v for k, v in out.items() if k != "definitions"}
    nodes = {"(root)": root, **out.get("definitions", {})}
    return [name for name, node in nodes.items() if _copying_cleanup(node) != node]


@pytest.mark.parametrize("seed", SEEDS)
def test_corpus_goldens(seed):
    with open(GOLDENS) as fh:
        goldens = json.load(fh)
    got = output_hashes(seed)
    unknown = [src for src in got if src not in goldens]
    assert not unknown, f"corpus changed: {len(unknown)} of {len(got)} sources have no golden"
    diff = [src for src, out in got.items() if goldens[src] != out]
    assert not diff, f"compiler output changed for {len(diff)} of {len(got)} schemas"


def test_fixture_set_is_complete():
    assert len(FIXTURES) == 18
    for name in FIXTURES:
        assert os.path.exists(os.path.join(FIXTURE_DIR, name + ".xsd")), name


@pytest.mark.parametrize("name", FIXTURES)
def test_fixture(name):
    with open(os.path.join(FIXTURE_DIR, name + ".json")) as fh:
        expected = json.load(fh)
    got = xsd_to_json_schema(os.path.join(FIXTURE_DIR, name + ".xsd"))
    assert _canon(got) == _canon(expected), json.dumps(got, indent=2)


@pytest.mark.parametrize("seed", SEEDS)
def test_corpus_cleanup_is_a_fixed_point(seed):
    bad = [case.name for case in corpus(seed) if _unrenamed(XsdCompiler(case.source).compile())]
    assert not bad, f"'@' left to strip in {len(bad)} schemas, e.g. {bad[:3]}"


@pytest.mark.parametrize("name", FIXTURES)
def test_fixture_cleanup_is_a_fixed_point(name):
    assert _unrenamed(xsd_to_json_schema(os.path.join(FIXTURE_DIR, name + ".xsd"))) == []


@pytest.mark.parametrize("name", ["at_mark_include_clash", "at_mark_include_clash_nested"])
def test_compile_twice_gives_equal_output(name):
    comp = XsdCompiler(os.path.join(FIXTURE_DIR, name + ".xsd"))
    first = _canon(comp.compile())
    assert _canon(comp.compile()) == first
