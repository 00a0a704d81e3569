"""spark_mix: one ``audit_narrow`` audit, then one round of the
``query_mix`` queries, in one fresh session.

The two Spark workloads share a run so that one JVM start, one input
preparation and one set of set-ups pay for both, and the measured pass
(~45 s) is long enough to average out part of the host's speed drift.
Each part checks its outputs as it does alone.
"""

from __future__ import annotations

import wl_audit_narrow
import wl_query_mix


class Workload:
    spark = True
    #: a set-up (~1.7 s) restarts the session and binds both parts' inputs
    setup_repeats = 5

    def __init__(self, ctx):
        self.ctx = ctx
        self.audit = wl_audit_narrow.Workload(ctx)
        self.queries = wl_query_mix.Workload(ctx)
        self.pos = 0

    def prepare(self) -> None:
        self.audit.prepare()
        self.queries.prepare()

    def setup(self) -> None:
        """Session restart, audit inputs bound and engine built, every
        query table bound."""
        self.audit.setup()
        self.queries.bind()

    def warm(self) -> None:
        """None: the measured pass is the first in the session."""

    def min_ops(self) -> int:
        return 1 + self.queries.min_ops()

    def op(self, tracer):
        first = self.pos % self.min_ops() == 0
        self.pos += 1
        return (self.audit if first else self.queries).op(tracer)

    def layer_metrics(self, tracer) -> dict:
        """engine.* and plans.* from the audit, query.* and transfer.* from
        the queries; catalyst.* and exec.* summed over the whole pass."""
        out = self.audit.layer_metrics(tracer)
        out.update(self.queries.layer_metrics(tracer))
        ops = [o for o in tracer.ops() if o["name"] == "audit_narrow" or o["name"].startswith("query.")]
        passes = max(1, len(ops) / self.min_ops())
        out.update({k: v * len(ops) / passes for k, v in tracer.spark_layers(ops).items()})
        return out

    def errors(self) -> list:
        return self.audit.errors() + self.queries.errors()
