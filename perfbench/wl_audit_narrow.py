"""audit_narrow: ``plans.audit.ResumableRunner`` over narrow generator rows.

One operation validates the table in lineage buckets, crashes on
purpose after the midpoint bucket commits, resumes with a fresh runner
and engine (as a restarted job would), and reads back the merged
``global_verdicts()``. The merged verdicts must equal DuckDB's over the
input, the resume must process exactly the buckets the crash left, and
the manifest must hold one completed row per bucket.
"""

from __future__ import annotations

import shutil
import time

import expected as exp
from harness import dir_bytes, mean
from wl_validate_wide import engine_layers, write_dims

N_ROWS = 50_000
#: the crash lands after bucket 0 and the resume runs bucket 1: every
#: step of the crash/resume path with the fewest Spark jobs (~20 a
#: bucket), so an operation fits the run time more than once
N_BUCKETS = 2
CRASH_AFTER = N_BUCKETS // 2 - 1  # last bucket committed before the crash


class Workload:
    spark = True
    #: a set-up restarts the session (~0.6 s)
    setup_repeats = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.check_errors: list = []
        self.n_ops = 0

    def prepare(self) -> None:
        import bench

        from xsd2json_spark.sources.synth import files_table

        ctx = self.ctx
        self.spec_doc = bench.FILES_SPEC
        self.fact_path = ctx.path("files.parquet")
        files_table(ctx.spark, n_rows=N_ROWS, seed=ctx.seed).write.mode("overwrite").parquet(self.fact_path)
        self.dim_path = write_dims(ctx)
        self.expected = exp.expected_verdicts(self.spec_doc, self.fact_path, {"repos_dim": self.dim_path})
        self.input_bytes = dir_bytes(self.fact_path)[0]
        self._bind()

    def _bind(self) -> None:
        from xsd2json_spark import spec_from_dict
        from xsd2json_spark.sources.synth import repos_dim

        spark = self.ctx.spark
        self.spec = spec_from_dict(self.spec_doc)
        self.dims = {"repos_dim": repos_dim(spark)}
        self.df = spark.read.parquet(self.fact_path)
        return self._engine()

    def _engine(self):
        from xsd2json_spark.engine import EngineConfig, ValidationEngine

        return ValidationEngine(self.ctx.spark, self.spec, dims=self.dims, config=EngineConfig())

    def setup(self) -> None:
        """Session restart, spec parsed, inputs bound, engine built."""
        self.ctx.start_spark()
        self._bind()

    def warm(self) -> None:
        """None: a resumable audit is one job in a fresh process, so the
        measured operation is the first one in the session."""

    def min_ops(self) -> int:
        return 1

    def op(self, tracer):
        from xsd2json_spark.plans.audit import ResumableRunner

        self.n_ops += 1
        audit_dir = self.ctx.path(f"audit-{self.n_ops}")
        run_id = f"run{self.n_ops}"
        crashed = False
        t0 = time.perf_counter()
        with tracer.operation("audit_narrow") as rec:
            with tracer.span("plans.crash_half"):
                first = ResumableRunner(self._engine_for(tracer), audit_dir, run_id, n_buckets=N_BUCKETS)
                try:
                    first.run(self.df, fail_after_bucket=CRASH_AFTER)
                except RuntimeError:
                    crashed = True
            with tracer.span("plans.resume"):
                second = ResumableRunner(self._engine_for(tracer), audit_dir, run_id, n_buckets=N_BUCKETS)
                resumed = second.run(self.df)
            with tracer.span("plans.merge"):
                merged = second.global_verdicts()
                rows = merged.collect()
            if tracer.enabled:
                tracer.watch(merged)
                with tracer.span("transfer.noop"):
                    merged.write.format("noop").mode("overwrite").save()
                rec["result_rows"] = len(rows)
        wall = time.perf_counter() - t0
        rec_bytes, rec_files = dir_bytes(audit_dir)
        if rec is not None:
            rec["bytes_written"], rec["files_written"] = rec_bytes, rec_files
        errs = exp.diff(self.expected, exp.engine_verdicts(rows))
        if not crashed:
            errs.append("the simulated crash did not happen")
        if resumed != set(range(CRASH_AFTER + 1, N_BUCKETS)):
            errs.append(f"resume processed buckets {sorted(resumed)}")
        manifest = sorted(second.completed_buckets())
        if manifest != list(range(N_BUCKETS)):
            errs.append(f"manifest lists buckets {manifest}")
        shutil.rmtree(audit_dir, ignore_errors=True)
        self.check_errors += errs
        return not errs, wall

    def _engine_for(self, tracer):
        """A fresh engine; traced, its ``run`` calls and the runner's uses
        of each result become spans."""
        eng = self._engine()
        if tracer.enabled:
            run = eng.run

            def traced_run(df):
                with tracer.span("engine.build"):
                    res = run(df)
                _trace_result(tracer, res)
                return res

            eng.run = traced_run
        return eng

    def layer_metrics(self, tracer) -> dict:
        ops = [o for o in tracer.ops() if o["name"] == "audit_narrow"]
        out = engine_layers(tracer, ops)
        dur = [tracer.durations(o["id"]) for o in ops]
        out.update({
            # per-bucket engine figures: one engine run per bucket
            **{k: out[k] / N_BUCKETS for k in (
                "engine.build_s", "engine.build_jobs", "engine.verdicts_s", "engine.violations_s",
                "engine.unpersist_s")},
            "plans.crash_half_s": mean([d.get("plans.crash_half", 0.0) for d in dur]),
            "plans.resume_s": mean([d.get("plans.resume", 0.0) for d in dur]),
            "plans.merge_s": mean([d.get("plans.merge", 0.0) for d in dur]),
            "plans.bytes_written": mean([o["bytes_written"] for o in ops]),
            "plans.files_written": mean([o["files_written"] for o in ops]),
            "plans.write_amp": mean([o["bytes_written"] for o in ops]) / self.input_bytes,
            "plans.jobs_per_bucket": out["exec.jobs"] / N_BUCKETS,
            "transfer.collect_s": mean([d.get("plans.merge", 0.0) for d in dur]),
        })
        return out

    def errors(self) -> list:
        return self.check_errors


def _traced(tracer, name, fn):
    def call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return call


def _trace_result(tracer, res) -> None:
    """Spans around what the runner does with one bucket's engine result:
    ``engine.verdicts`` (the verdict ``collect()``), ``engine.violations``
    (the parquet write of the violation rows, tagged with their bucket)
    and ``engine.unpersist``."""
    res.verdicts.collect = _traced(tracer, "engine.verdicts", res.verdicts.collect)
    res.unpersist = _traced(tracer, "engine.unpersist", res.unpersist)
    with_column = res.violations.withColumn

    def tagged(*args, **kwargs):
        df = with_column(*args, **kwargs)
        base = type(df)

        class Violations(base):
            @property
            def write(self):
                writer = base.write.fget(self)
                writer.parquet = _traced(tracer, "engine.violations", writer.parquet)
                return writer

        df.__class__ = Violations
        return df

    res.violations.withColumn = tagged

