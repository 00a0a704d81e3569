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
  declarations, content groups and schema roots.
"""

import json
import os

import pytest

from tools.xsd_goldens import GOLDENS, SEEDS, output_hashes
from xsd2json_spark.spec.xsd_compiler import xsd_to_json_schema

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "data", "xsd_fixtures")
FIXTURES = sorted(f[:-5] for f in os.listdir(FIXTURE_DIR) if f.endswith(".json"))


def _canon(json_obj) -> str:
    # sort_keys ignores key order; the text keeps true vs 1 and list order
    return json.dumps(json_obj, sort_keys=True)


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
    assert len(FIXTURES) == 17
    for name in FIXTURES:
        assert os.path.exists(os.path.join(FIXTURE_DIR, name + ".xsd")), name


@pytest.mark.parametrize("name", FIXTURES)
def test_fixture(name):
    with open(os.path.join(FIXTURE_DIR, name + ".json")) as fh:
        expected = json.load(fh)
    got = xsd_to_json_schema(os.path.join(FIXTURE_DIR, name + ".xsd"))
    assert _canon(got) == _canon(expected), json.dumps(got, indent=2)
