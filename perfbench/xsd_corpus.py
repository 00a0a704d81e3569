"""Seeded XSD corpus for the ``xsd_compile`` workload.

Each schema has a root element whose complex content nests sequences,
choices and ``all`` groups; leaves use built-in types or named
simpleTypes; elements carry minOccurs/maxOccurs, some are declared twice
in a row (the duplicate-element merge), complex types carry attributes,
and some nodes carry documentation. Every schema declares at least one
named simpleType per facet kind (enumeration, pattern, min/maxLength,
length, min/maxInclusive, min/maxExclusive), and the facets injected
into each simpleType are returned alongside the source so the output
can be checked for them.

Sizes are stratified on a log scale from 10 to about 4,000 elements, so
every seed gets the same size profile and only the content differs.

Self-check (``python3 perfbench/xsd_corpus.py [--seed N]``) compiles
the whole corpus and asserts that every output passes the
draft-04 meta-schema, keeps every injected facet, and is deep-equal to a
second compile of the same source.
"""

from __future__ import annotations

import argparse
import math
import os
import random
import sys
from dataclasses import dataclass
from xml.sax.saxutils import quoteattr

CORPUS_SIZE = 1000
MIN_ELEMENTS = 10
MAX_ELEMENTS = 4000
BUILTINS = ("string", "integer", "decimal", "boolean", "date", "int", "token", "anyURI")
FACET_KINDS = ("enum", "pattern", "length_range", "length", "inclusive", "exclusive")
PATTERNS = ("[A-Z]{2}[0-9]{4}", "[a-z]+(-[a-z]+)*", "[0-9]{3}-[0-9]{2}", "(x|y|z)[0-9]?")


@dataclass
class XsdCase:
    name: str
    source: str
    n_elements: int
    facets: dict  # simpleType name -> {json key: expected value}


def sizes(n: int, rng: random.Random) -> list:
    """``n`` element counts, one per log-scale stratum (jittered within)."""
    span = math.log(MAX_ELEMENTS / MIN_ELEMENTS)
    return [int(MIN_ELEMENTS * math.exp(span * (i + rng.random()) / n)) for i in range(n)]


class _Builder:
    def __init__(self, rng: random.Random, budget: int):
        self.rng = rng
        self.budget = budget
        self.count = 0
        self.simple_types: list = []
        self.facets: dict = {}
        self.parts: list = []

    # -- named simpleTypes ------------------------------------------------

    def simple_type(self, idx: int, kind: str) -> str:
        rng = self.rng
        name = f"st{idx}_{kind}"
        expect: dict = {}
        if kind == "enum":
            vals = [f"v{rng.randrange(1000)}_{j}" for j in range(rng.randint(2, 6))]
            body = "".join(f'<xs:enumeration value={quoteattr(v)}/>' for v in vals)
            base, expect["enum"] = "string", vals
        elif kind == "pattern":
            p = rng.choice(PATTERNS)
            body, base, expect["pattern"] = f'<xs:pattern value={quoteattr(p)}/>', "string", p
        elif kind == "length_range":
            lo = rng.randint(0, 8)
            hi = lo + rng.randint(1, 64)
            body = f'<xs:minLength value="{lo}"/><xs:maxLength value="{hi}"/>'
            base, expect["minLength"], expect["maxLength"] = "string", lo, hi
        elif kind == "length":
            n = rng.randint(1, 40)
            body = f'<xs:length value="{n}"/>'
            base, expect["minLength"], expect["maxLength"] = "string", n, n
        elif kind == "inclusive":
            lo = rng.randint(-1000, 1000)
            hi = lo + rng.randint(1, 5000)
            body = f'<xs:minInclusive value="{lo}"/><xs:maxInclusive value="{hi}"/>'
            base, expect["minimum"], expect["maximum"] = "integer", lo, hi
            expect["exclusiveMinimum"] = expect["exclusiveMaximum"] = False
        else:  # exclusive
            lo = rng.randint(-1000, 1000)
            hi = lo + rng.randint(2, 5000)
            body = f'<xs:minExclusive value="{lo}"/><xs:maxExclusive value="{hi}"/>'
            base, expect["minimum"], expect["maximum"] = "decimal", lo, hi
            expect["exclusiveMinimum"] = expect["exclusiveMaximum"] = True
        self.parts.append(
            f'<xs:simpleType name="{name}"><xs:restriction base="xs:{base}">{body}'
            f"</xs:restriction></xs:simpleType>"
        )
        self.simple_types.append(name)
        self.facets[name] = expect
        return name

    # -- elements ---------------------------------------------------------

    def _occurs(self) -> str:
        r = self.rng.random()
        if r < 0.55:
            return ""
        if r < 0.75:
            return ' minOccurs="0"'
        if r < 0.9:
            return ' maxOccurs="unbounded"'
        return f' minOccurs="{self.rng.randint(0, 2)}" maxOccurs="{self.rng.randint(2, 5)}"'

    def _doc(self) -> str:
        if self.rng.random() < 0.08:
            return f"<xs:annotation><xs:documentation>node {self.count} of the corpus</xs:documentation></xs:annotation>"
        return ""

    def leaf(self, name: str, occurs: bool = True) -> str:
        self.count += 1
        rng = self.rng
        if rng.random() < 0.5:
            typ = rng.choice(self.simple_types)
        else:
            typ = "xs:" + rng.choice(BUILTINS)
        occ = self._occurs() if occurs else ""
        return f'<xs:element name="{name}" type="{typ}"{occ}>{self._doc()}</xs:element>'

    def attributes(self) -> str:
        out = []
        for j in range(self.rng.randint(0, 3)):
            use = ' use="required"' if self.rng.random() < 0.4 else ""
            out.append(f'<xs:attribute name="a{j}" type="{self.rng.choice(self.simple_types)}"{use}/>')
        return "".join(out)

    def complex(self, name: str, depth: int, occurs: str = "") -> str:
        self.count += 1
        rng = self.rng
        group = "sequence" if depth == 0 else rng.choice(("sequence", "sequence", "sequence", "choice", "all"))
        kids = []
        width = rng.randint(2, 12)
        for k in range(width):
            if self.count >= self.budget:
                break
            child = f"{name}_{k}"
            if group != "all" and depth < 6 and rng.random() < 0.3:
                kids.append(self.complex(child, depth + 1, self._occurs()))
            else:
                # children of xs:all occur at most once
                el = self.leaf(child, occurs=group != "all")
                kids.append(el)
                if group == "sequence" and rng.random() < 0.1:
                    kids.append(el)  # duplicate declaration: occurs are summed
                    self.count += 1
        body = f"<xs:{group}>{''.join(kids)}</xs:{group}>" if kids else ""
        return (f'<xs:element name="{name}"{occurs}>{self._doc()}<xs:complexType>{body}'
                f"{self.attributes()}</xs:complexType></xs:element>")


def make_case(seed: int, index: int, n_elements: int) -> XsdCase:
    rng = random.Random(f"{seed}:{index}")
    b = _Builder(rng, n_elements)
    n_types = max(len(FACET_KINDS), n_elements // 25)
    for i in range(n_types):
        b.simple_type(i, FACET_KINDS[i % len(FACET_KINDS)])
    root = f"root{index}"
    top = []
    while b.count < b.budget:
        top.append(b.complex(f"{root}_b{len(top)}", 1))
    body = f"<xs:sequence>{''.join(top)}</xs:sequence>"
    source = (
        '<?xml version="1.0"?>\n'
        '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">'
        + "".join(b.parts)
        + f'<xs:element name="{root}"><xs:complexType>{body}</xs:complexType></xs:element>'
        + "</xs:schema>"
    )
    return XsdCase(name=root, source=source, n_elements=b.count, facets=b.facets)


def corpus(seed: int) -> list:
    rng = random.Random(seed)
    return [make_case(seed, i, s) for i, s in enumerate(sizes(CORPUS_SIZE, rng))]


# -- checks -----------------------------------------------------------------


def facet_errors(case: XsdCase, out: dict) -> list:
    """Injected facets missing or changed in the compiled output."""
    errs = []
    defs = out.get("definitions", {})
    for name, expect in case.facets.items():
        got = defs.get(name)
        if got is None:
            errs.append(f"{case.name}: definition {name} missing")
            continue
        for key, val in expect.items():
            if got.get(key) != val:
                errs.append(f"{case.name}: {name}.{key} = {got.get(key)!r}, expected {val!r}")
    return errs


def self_check(seed: int) -> int:
    from xsd2json_spark.spec.metaschema import validate_draft04
    from xsd2json_spark.spec.xsd_compiler import xsd_to_json_schema

    cases = corpus(seed)
    bad = 0
    for case in cases:
        out = xsd_to_json_schema(case.source)
        errs = facet_errors(case, out)
        errs += [f"{case.name}: meta-schema: {e}" for e in validate_draft04(out)[:3]]
        if xsd_to_json_schema(case.source) != out:
            errs.append(f"{case.name}: second compile differs")
        for e in errs[:5]:
            print(e, file=sys.stderr)
        bad += bool(errs)
    sizes_ = sorted(c.n_elements for c in cases)
    print(f"{len(cases)} schemas, elements min={sizes_[0]} median={sizes_[len(sizes_) // 2]} "
          f"max={sizes_[-1]}, {bad} failing")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return self_check(args.seed)


if __name__ == "__main__":
    sys.exit(main())
