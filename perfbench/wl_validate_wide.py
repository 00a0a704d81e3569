"""validate_wide: ``ValidationEngine.run`` with ``bench.FILES_SPEC`` over
the synthetic files table, its content widened to about 2 KiB a row.

One operation is bench.py's validation run: build the engine, run it,
collect the verdicts, count the violations, release the caches. The
verdicts must equal DuckDB's over the same parquet, and the violation
rows must add up to the verdict counts.
"""

from __future__ import annotations

import time

import expected as exp
from harness import mean
from tracing import NullTracer

N_ROWS = 30_000
#: untimed operations before measuring: the driver-side JIT keeps
#: improving over the first few runs in a fresh JVM
WARM_OPS = 2
#: widening: 8..55 sha-256 hex lines per row, ~2.2 KiB mean, barely
#: compressible, so the scan and the predicate kernels see real width
PAD_MIN, PAD_SPAN = 8, 48


def widened_files(spark, n_rows: int, seed: int):
    from pyspark.sql import functions as F

    from xsd2json_spark.sources.synth import files_table

    df = files_table(spark, n_rows=n_rows, seed=seed)
    lines = (F.abs(F.xxhash64(F.col("path"), F.col("commit"), F.lit(seed))) % PAD_SPAN + PAD_MIN).cast("int")
    pad = F.concat_ws("\n", F.transform(
        F.sequence(F.lit(1), lines),
        lambda i: F.sha2(F.concat(F.coalesce(F.col("commit"), F.lit("")), i.cast("string")), 256),
    ))
    # NULL content stays NULL: the not_null fixture must survive widening
    return df.withColumn("content", F.concat(F.col("content"), F.lit("\n"), pad))


def write_dims(ctx) -> str:
    from xsd2json_spark.sources.synth import repos_dim

    path = ctx.path("repos_dim.parquet")
    repos_dim(ctx.spark).write.mode("overwrite").parquet(path)
    return path


class Workload:
    spark = True
    setup_repeats = 5

    def __init__(self, ctx):
        self.ctx = ctx
        self.check_errors: list = []

    def prepare(self) -> None:
        import bench

        ctx = self.ctx
        self.spec_doc = bench.FILES_SPEC
        self.fact_path = ctx.path("files.parquet")
        widened_files(ctx.spark, N_ROWS, ctx.seed).write.mode("overwrite").parquet(self.fact_path)
        self.dim_path = write_dims(ctx)
        self.expected = exp.expected_verdicts(self.spec_doc, self.fact_path, {"repos_dim": self.dim_path})
        self._bind()

    def _bind(self) -> None:
        from xsd2json_spark import spec_from_dict
        from xsd2json_spark.engine import EngineConfig, ValidationEngine
        from xsd2json_spark.sources.synth import repos_dim

        spark = self.ctx.spark
        self.spec = spec_from_dict(self.spec_doc)
        self.dims = {"repos_dim": repos_dim(spark)}
        self.df = spark.read.parquet(self.fact_path)
        return ValidationEngine(spark, self.spec, dims=self.dims, config=EngineConfig())

    def setup(self) -> None:
        """Session restart, spec parsed, inputs bound, engine built."""
        self.ctx.start_spark()
        self._bind()

    def warm(self) -> None:
        for _ in range(WARM_OPS):
            self.op(NullTracer())

    def min_ops(self) -> int:
        return 1

    def op(self, tracer):
        from xsd2json_spark.engine import EngineConfig, ValidationEngine

        t0 = time.perf_counter()
        with tracer.operation("validate_wide") as rec:
            with tracer.span("engine.build"):
                eng = ValidationEngine(self.ctx.spark, self.spec, dims=self.dims, config=EngineConfig())
                res = eng.run(self.df)
            with tracer.span("engine.verdicts"):
                rows = res.verdicts.collect()
            with tracer.span("engine.violations"):
                n_viol = res.violations.count()
            if tracer.enabled:
                tracer.watch(res.verdicts)
                with tracer.span("transfer.noop"):
                    res.verdicts.write.format("noop").mode("overwrite").save()
                rec["result_rows"] = len(rows)
            with tracer.span("engine.unpersist"):
                res.unpersist()
        wall = time.perf_counter() - t0
        got = exp.engine_verdicts(rows)
        errs = exp.diff(self.expected, got)
        if n_viol != sum(v[0] for v in got.values()):
            errs.append(f"{n_viol} violation rows, verdicts count {sum(v[0] for v in got.values())}")
        self.check_errors += errs
        return not errs, wall

    def layer_metrics(self, tracer) -> dict:
        return engine_layers(tracer, [o for o in tracer.ops() if o["name"] == "validate_wide"])

    def errors(self) -> list:
        return self.check_errors


def engine_layers(tracer, ops) -> dict:
    """engine.*, transfer.*, catalyst.* and exec.* per operation (mean)."""
    dur = [tracer.durations(o["id"]) for o in ops]

    def m(key):
        return mean([d.get(key, 0.0) for d in dur])

    out = {
        "engine.build_s": m("engine.build"),
        "engine.build_jobs": mean([_jobs_under(tracer, o["id"], "engine.build") for o in ops]),
        "engine.verdicts_s": m("engine.verdicts"),
        "engine.violations_s": m("engine.violations"),
        "engine.unpersist_s": m("engine.unpersist"),
        "transfer.collect_s": m("engine.verdicts"),
        "transfer.noop_s": m("transfer.noop"),
        "transfer.result_rows": mean([o.get("result_rows", 0) for o in ops]),
    }
    out.update(tracer.spark_layers(ops))
    return out


def _jobs_under(tracer, op_id, name) -> int:
    spans = tracer.by_op.get(op_id, ())
    ids = {s["id"] for s in spans if s["name"] == name}
    return sum(1 for s in spans if s["name"] == "exec.job" and s["parent"] in ids)
