"""xsd_compile: the paper's own compiler over a seeded XSD corpus.

One operation compiles one schema (``XsdCompiler(source).compile()``),
in a seeded order, until the run's time is spent and at least the whole
corpus has been compiled once. Spark is not started.
"""

from __future__ import annotations

import json
import random
import subprocess
import sys
import time

import xsd_corpus
from harness import mean

#: schemas per run that are compiled a second time (deep-equal check)
#: and validated against the draft-04 meta-schema, outside the timed
#: window; ``python3 perfbench/xsd_corpus.py`` checks the whole corpus
CHECK_SAMPLE = 20
#: in a traced run, every n-th compile also times the layers past
#: compilation (constraint mapping, spec load, meta-schema validation)
LAYER_EVERY = 10


class Workload:
    spark = False
    #: a set-up is one ~0.1 s interpreter launch; the median of many
    #: of them stays steady while the host's speed drifts
    setup_repeats = 20

    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        from xsd2json_spark.spec.loader import spec_from_dict
        from xsd2json_spark.spec.metaschema import validate_draft04
        from xsd2json_spark.spec.xsd_compiler import XsdCompiler

        self.XsdCompiler, self.validate, self.spec_from_dict = XsdCompiler, validate_draft04, spec_from_dict
        self.cases = xsd_corpus.corpus(self.ctx.seed)
        rng = random.Random(self.ctx.seed)
        self.order = list(range(len(self.cases)))
        rng.shuffle(self.order)
        self.check_ids = set(rng.sample(self.order, CHECK_SAMPLE))
        self.pos = 0
        self.checked_errors: list = []

    def setup(self) -> None:
        """A user's cold start: a fresh interpreter imports the compiler
        and converts one small schema."""
        code = (
            "import sys; sys.path.insert(0, sys.argv[1]);"
            "from xsd2json_spark.spec.xsd_compiler import xsd_to_json_schema;"
            "xsd_to_json_schema(sys.argv[2])"
        )
        subprocess.run([sys.executable, "-c", code, self.ctx.root, self.cases[0].source], check=True)

    def warm(self) -> None:
        for case in self.cases[:50]:
            self.XsdCompiler(case.source).compile()

    def min_ops(self) -> int:
        return len(self.cases)

    def op(self, tracer) -> "tuple[bool, float]":
        idx = self.order[self.pos % len(self.order)]
        self.pos += 1
        case = self.cases[idx]
        t0 = time.perf_counter()
        with tracer.operation("xsd_compile"):
            with tracer.span("spec.xsd_parse"):
                comp = self.XsdCompiler(case.source)
            with tracer.span("spec.xsd_compile"):
                out = comp.compile()
        wall = time.perf_counter() - t0
        ok = not xsd_corpus.facet_errors(case, out)
        if tracer.enabled and self.pos % LAYER_EVERY == 0:
            self._traced_layers(tracer, comp, out)
        elif idx in self.check_ids and self.pos <= len(self.cases):
            ok = ok and self._deep_check(case, out)
        return ok, wall

    def _deep_check(self, case, out) -> bool:
        errs = self.validate(out)[:3]
        if self.XsdCompiler(case.source).compile() != out:
            errs.append("second compile differs")
        self.checked_errors += [f"{case.name}: {e}" for e in errs]
        return not errs

    def _traced_layers(self, tracer, comp, out) -> None:
        """The spec layer past compilation, on the just-compiled output."""
        with tracer.operation("spec.layers") as rec:
            with tracer.span("spec.to_constraints"):
                cons = []
                for name, defn in out.get("definitions", {}).items():
                    cons += comp.to_spec_constraints(f"c_{name}", json=defn)
            with tracer.span("spec.load"):
                self.spec_from_dict({"name": "xsd", "constraints": cons})
            with tracer.span("spec.metaschema"):
                errs = self.validate(out)
            rec["output_kb"] = len(json.dumps(out)) / 1024
        if errs:
            self.checked_errors += errs[:3]

    def layer_metrics(self, tracer) -> dict:
        ops = tracer.ops()
        compiles = [o for o in ops if o["name"] == "xsd_compile"]
        layers = [o for o in ops if o["name"] == "spec.layers"]

        def per_op(group, name):
            return mean([tracer.durations(o["id"]).get(name, 0.0) for o in group]) * 1e3

        return {
            "spec.xsd_parse_ms": per_op(compiles, "spec.xsd_parse"),
            "spec.xsd_compile_ms": per_op(compiles, "spec.xsd_compile"),
            "spec.to_constraints_ms": per_op(layers, "spec.to_constraints"),
            "spec.metaschema_ms": per_op(layers, "spec.metaschema"),
            "spec.output_kb": mean([o["output_kb"] for o in layers]),
            "spec.load_ms": per_op(layers, "spec.load"),
        }

    def errors(self) -> list:
        return self.checked_errors
