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
"""

__version__ = "0.1.0"

from xsd2json_spark.spec.constraints import (  # noqa: F401
    AllOf,
    AnyOf,
    Cardinality,
    Constant,
    Constraint,
    Drift,
    Dtype,
    Enum,
    ForeignKey,
    FunctionalDependency,
    Length,
    NotNull,
    Pattern,
    Quantile,
    Range,
    Spec,
    Unique,
    Unsupported,
)
from xsd2json_spark.spec.loader import load_spec, spec_from_dict  # noqa: F401
from xsd2json_spark.spec.merge import compose_specs, merge_constraints  # noqa: F401
