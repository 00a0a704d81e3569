"""The compiler's cold start; runs without Spark.

A fresh interpreter that imports the XSD compiler, or runs the
``xsd2json`` CLI, loads neither the constraint layer nor pyspark: the
package exports load on first access (PEP 562), and only the Spark
bridge of the compiler imports ``SpecError``. The exports themselves
still resolve to the objects of the submodules that define them.
"""

import importlib
import json
import os
import subprocess
import sys

import pytest

import xsd2json_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE = os.path.join(ROOT, "tests", "data", "xsd_fixtures", "at_mark_include_clash")
NOT_LOADED = (
    "xsd2json_spark.spec.constraints",
    "xsd2json_spark.spec.loader",
    "xsd2json_spark.spec.merge",
    "pyspark",
)
EXPORTS = {
    "xsd2json_spark.spec.constraints": (
        "AllOf", "AnyOf", "Cardinality", "Constant", "Constraint", "Drift", "Dtype", "Enum",
        "ForeignKey", "FunctionalDependency", "Length", "NotNull", "Pattern", "Quantile",
        "Range", "Spec", "Unique", "Unsupported",
    ),
    "xsd2json_spark.spec.loader": ("load_spec", "spec_from_dict"),
    "xsd2json_spark.spec.merge": ("compose_specs", "merge_constraints"),
}


def _fresh(args: list, cwd: str) -> "tuple[str, set]":
    """Stdout of ``python -X importtime <args>`` run from `cwd` with this
    checkout on the path, and every module that the run imported."""
    env = {**os.environ, "PYTHONPATH": ROOT}
    proc = subprocess.run([sys.executable, "-X", "importtime", *args], cwd=cwd, env=env,
                          capture_output=True, text=True, check=True)
    modules = {line.rsplit("|", 1)[1].strip() for line in proc.stderr.splitlines()
               if line.startswith("import time:")}
    return proc.stdout, modules


@pytest.mark.parametrize("command", ["import", "cli"])
def test_cold_start_loads_only_the_compiler(command, tmp_path):
    if command == "import":
        out, modules = _fresh(["-c", "import xsd2json_spark.spec.xsd_compiler"], str(tmp_path))
        assert "xsd2json_spark.spec.xsd_compiler" in modules
    else:
        out, modules = _fresh(["-m", "xsd2json_spark.cli", FIXTURE + ".xsd"], str(tmp_path))
        with open(FIXTURE + ".json") as fh:
            assert json.loads(out) == json.load(fh)
    assert sorted(modules & set(NOT_LOADED)) == []


def test_exports_are_the_submodules_objects():
    for module, names in EXPORTS.items():
        sub = importlib.import_module(module)
        for name in names:
            ns: dict = {}
            exec(f"from xsd2json_spark import {name}", ns)
            assert ns[name] is getattr(sub, name), name
    assert sorted(xsd2json_spark.__all__) == sorted(["__version__", *(n for ns in EXPORTS.values() for n in ns)])
    assert set(xsd2json_spark.__all__) <= set(dir(xsd2json_spark))
    with pytest.raises(AttributeError):
        xsd2json_spark.no_such_export  # noqa: B018
