"""Golden parity harness: run the XSD compiler over the reference's own
135 test pairs (/root/reference/test/xsd/*.xsd -> test/json/*.json) and
deep-compare (set-semantics for required/enum/oneOf/allOf/anyOf, which
are order-insensitive keywords in JSON Schema).

Usage: python tools/xsd_parity.py [-v] [fixture ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xsd2json_spark.spec.xsd_compiler import xsd_to_json_schema  # noqa: E402

XSD_DIR = "/root/reference/test/xsd"
JSON_DIR = "/root/reference/test/json"

SET_KEYS = {"required", "enum", "oneOf", "allOf", "anyOf"}


def semantically_equal(a, b, key=None):
    if isinstance(a, dict) and isinstance(b, dict):
        if set(a) != set(b):
            return False
        return all(semantically_equal(a[k], b[k], k) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        if len(a) != len(b):
            return False
        if key in SET_KEYS:
            used = [False] * len(b)
            for x in a:
                hit = False
                for i, y in enumerate(b):
                    if not used[i] and semantically_equal(x, y, key):
                        used[i] = True
                        hit = True
                        break
                if not hit:
                    return False
            return True
        return all(semantically_equal(x, y, key) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a is b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a == b
    return a == b


def main() -> int:
    if not os.path.isdir(XSD_DIR):
        print(
            f"xsd_parity: reference fixtures not found at {XSD_DIR}; "
            "tests/test_xsd_goldens.py pins the compiler output without them",
            file=sys.stderr,
        )
        return 2
    verbose = "-v" in sys.argv
    only = [a for a in sys.argv[1:] if not a.startswith("-")]
    names = sorted(f[:-4] for f in os.listdir(XSD_DIR) if f.endswith(".xsd"))
    if only:
        names = [n for n in names if n in only]
    passed, failed, errored = [], [], []
    for name in names:
        golden_path = os.path.join(JSON_DIR, name + ".json")
        if not os.path.exists(golden_path):
            continue
        with open(golden_path) as fh:
            golden = json.load(fh)
        try:
            got = xsd_to_json_schema(os.path.join(XSD_DIR, name + ".xsd"))
        except Exception as e:
            errored.append(name)
            if verbose:
                print(f"ERROR {name}: {type(e).__name__}: {e}")
            continue
        if semantically_equal(got, golden):
            passed.append(name)
        else:
            failed.append(name)
            if verbose:
                print(f"FAIL {name}")
                print("  got:    " + json.dumps(got, sort_keys=True)[:400])
                print("  golden: " + json.dumps(golden, sort_keys=True)[:400])
    print(f"\nparity: {len(passed)} passed, {len(failed)} failed, {len(errored)} errored / {len(passed)+len(failed)+len(errored)}")
    if failed:
        print("failed:", " ".join(failed))
    if errored:
        print("errored:", " ".join(errored))
    return 0


if __name__ == "__main__":
    sys.exit(main())
