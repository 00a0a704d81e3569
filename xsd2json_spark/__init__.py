"""xsd2json_spark — a PySpark-native schema + constraint validation engine.

Generalizes the constraint vocabulary of fnogatz/xsd2json (XSD facets ->
JSON Schema draft-04; see /root/reference/lib-pl/xsd2json.pl) into
declarative column-level constraint specs evaluated over large DataFrames
(Iceberg/parquet tables of source-code repositories) with a single-pass
stats sketch, hash-count uniqueness, referential joins, and distribution-drift
tests — all expressed through the DataFrame API so Catalyst/Tungsten pick
the physical plan.

Layout:
  spec/       constraint dataclasses, TYPE_REGISTRY, merge lattice, loader
  engine/     compile spec -> Column predicates; single-pass validate;
              uniqueness / FK / cardinality / drift; audit + resume;
              incremental snapshot-delta validation
  functions/  text analysis, dedup (exact/minhash/simhash + connected
              components), similarity/ANN, BPE tokenization,
              deterministic sampling/splits, multimodal codecs
  sources/    deterministic synthetic `files` table; parquet/iceberg IO
  streaming/  Structured Streaming validation (watermarked)

The package's exports (the constraint classes, `load_spec`,
`spec_from_dict`, `compose_specs`, `merge_constraints`) load on first
access (PEP 562): the XSD compiler and the `xsd2json` CLI import this
package but use none of them, and a fresh interpreter would otherwise
spend most of its start-up importing the constraint layer. A new export
goes into `_EXPORTS`, under the submodule that defines it.
"""

__version__ = "0.1.0"

import importlib

#: every lazy export, by the submodule of `xsd2json_spark.spec` that defines it
_EXPORTS = {
    name: f"{__name__}.spec.{module}"
    for module, names in {
        "constraints": (
            "AllOf", "AnyOf", "Cardinality", "Constant", "Constraint", "Drift", "Dtype", "Enum",
            "ForeignKey", "FunctionalDependency", "Length", "NotNull", "Pattern", "Quantile",
            "Range", "Spec", "Unique", "Unsupported",
        ),
        "loader": ("load_spec", "spec_from_dict"),
        "merge": ("compose_specs", "merge_constraints"),
    }.items()
    for name in names
}

__all__ = ["__version__", *_EXPORTS]


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(_EXPORTS[name]), name)
    globals()[name] = value
    return value


def __dir__() -> list:
    return sorted({*globals(), *__all__})
