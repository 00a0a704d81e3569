"""Output goldens for the XSD compiler over the seeded benchmark corpus.

For every schema of ``perfbench/xsd_corpus.corpus(seed)`` (seeds 1 and 2,
2,000 schemas) the golden file maps the sha256 of the XSD source to the
sha256 of ``json.dumps(XsdCompiler(source).compile(), sort_keys=True)``.
Keying on the source hash separates "the corpus generator changed" from
"the compiler output changed". ``tests/test_xsd_goldens.py`` checks it.

Regenerate only when a compiler output change is intended:

    python tools/xsd_goldens.py [--out tests/data/xsd_goldens.json]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.xsd_corpus import corpus  # noqa: E402
from xsd2json_spark.spec.xsd_compiler import XsdCompiler  # noqa: E402

SEEDS = (1, 2)
GOLDENS = os.path.join(ROOT, "tests", "data", "xsd_goldens.json")


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def output_hashes(seed: int) -> dict:
    """source sha256 -> compiled-output sha256 for one corpus seed."""
    return {
        _sha(case.source): _sha(json.dumps(XsdCompiler(case.source).compile(), sort_keys=True))
        for case in corpus(seed)
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", default=GOLDENS)
    args = ap.parse_args()
    hashes: dict = {}
    for seed in SEEDS:
        hashes.update(output_hashes(seed))
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(hashes, fh, indent=0, sort_keys=True)
        fh.write("\n")
    print(f"{len(hashes)} schema hashes -> {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
