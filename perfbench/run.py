"""The repository benchmark: one closed-loop client, one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see NOTES.md for why each exists and what it should move):
spark_mix (audit_narrow then query_mix in one session), xsd_compile,
and, run by hand, audit_narrow, query_mix and validate_wide.

A run (1) starts the program's Spark session when the workload needs
one, (2) generates its inputs from the seed and computes the expected
outputs independently, (3) sets up several times and reports the median
as ``setup_s``, (4) warms up if the workload asks for it, then (5) runs
operations back to back until ``--seconds`` have passed, and at least
one pass over the workload's fixed work (one audit and one round of
queries, one corpus). ``pass_s`` is the wall time of one pass. Every
operation's output is checked; a wrong or failed operation counts in
``failed``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
operations traced and prints the per-layer metrics, including
``trace.overhead_frac``: the traced wall time over the same wall time
less what tracing added (read-back, ``noop`` writes, sampled spec
checks). The spans go to ``.perfbench_run/trace-<workload>-s<seed>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("spark_mix", "xsd_compile", "audit_narrow", "query_mix", "validate_wide")

END_TO_END = {
    "pass_s": "s",
    "setup_s": "s",
}


def per_layer_units() -> dict:
    """Per-layer metric name -> unit. Every traced run prints all of them;
    a layer the workload does not touch reads 0."""
    units = {
        "spec.xsd_parse_ms": "ms", "spec.xsd_compile_ms": "ms", "spec.to_constraints_ms": "ms",
        "spec.metaschema_ms": "ms", "spec.output_kb": "KiB", "spec.load_ms": "ms",
        "engine.build_s": "s", "engine.build_jobs": "count", "engine.verdicts_s": "s",
        "engine.violations_s": "s", "engine.unpersist_s": "s",
        "plans.crash_half_s": "s", "plans.resume_s": "s", "plans.merge_s": "s",
        "plans.bytes_written": "bytes", "plans.files_written": "count", "plans.write_amp": "ratio",
        "plans.jobs_per_bucket": "count",
        "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
        "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count", "exec.task_s": "s",
        "exec.cpu_s": "s", "exec.gc_s": "s", "exec.input_bytes": "bytes", "exec.input_rows": "count",
        "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
        "exec.spill_bytes": "bytes", "exec.output_bytes": "bytes",
        "transfer.collect_s": "s", "transfer.noop_s": "s", "transfer.result_rows": "count",
        "trace.overhead_frac": "ratio", "peak_rss_mb": "MB",
    }
    import bench

    for fam in ("cv", "doc", "emb", "rel"):
        for m, u in (("build_s", "s"), ("catalyst_s", "s"), ("exec_s", "s"), ("transfer_s", "s"),
                     ("jobs", "count"), ("shuffle_bytes", "bytes")):
            units[f"query.{fam}.{m}"] = u
    for q in bench.BENCH_QUERIES:
        units[f"query.{q}.s"] = "s"
    return units


def _loop(wl, tracer, deadline, min_ops):
    """Closed loop: the next operation starts when the previous ends.
    Returns [(ok, op_wall, call_wall)]."""
    out = []
    while len(out) < min_ops or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        try:
            ok, wall = wl.op(tracer)
        except Exception as exc:  # a failed operation is counted, not fatal
            print(f"operation failed: {exc!r}", file=sys.stderr)
            ok, wall = False, time.perf_counter() - t0
        out.append((ok, wall, time.perf_counter() - t0))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="xsd2json_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "xsd2json_spark")):
        print(f"program sources not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    from harness import Context, median
    from tracing import NullTracer, Tracer

    ctx = Context(ROOT, args.workload, args.seed)
    # Python, Spark and the JVM all keep their scratch inside the run dir
    os.environ["TMPDIR"] = ctx.path("py-tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = ctx.path("spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    wl = importlib.import_module(f"wl_{args.workload}").Workload(ctx)
    marks = [("start", time.perf_counter())]
    try:
        if wl.spark:
            ctx.start_spark()
        wl.prepare()
        marks.append(("prepare", time.perf_counter()))
        setup_times = []
        for _ in range(wl.setup_repeats):
            t0 = time.perf_counter()
            wl.setup()
            setup_times.append(time.perf_counter() - t0)
        marks.append(("setup", time.perf_counter()))
        wl.warm()
        marks.append(("warm", time.perf_counter()))

        # the traced run measures the same operations as the untraced one
        tracer = Tracer(ctx.spark if wl.spark else None) if args.trace else NullTracer()
        results = _loop(wl, tracer, time.perf_counter() + args.seconds, wl.min_ops())
        marks.append(("measure", time.perf_counter()))
        rss = ctx.peak_rss_mb()
        errors = wl.errors()
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".perfbench_run"), exist_ok=True)
            tracer.write(os.path.join(ROOT, ".perfbench_run", f"trace-{args.workload}-s{args.seed}.json"))
            layers = dict.fromkeys(per_layer_units(), 0.0)
            layers.update(wl.layer_metrics(tracer))
            wall = sum(r[2] for r in results)
            layers["trace.overhead_frac"] = wall / (wall - tracer.added_s())
            layers["peak_rss_mb"] = rss
    finally:
        ctx.stop_spark()
        ctx.cleanup()
    marks.append(("stop", time.perf_counter()))
    print("phase seconds: " + ", ".join(
        f"{name} {t - prev:.2f}" for (_, prev), (name, t) in zip(marks, marks[1:])), file=sys.stderr)

    attempted = len(results)
    failed = sum(1 for r in results if not r[0])
    for e in errors[:10]:
        print(f"check failed: {e}", file=sys.stderr)
    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in units.items()}
    else:
        values = {
            # wall time of one pass over the workload's fixed work
            "pass_s": sum(r[1] for r in results) / (len(results) / wl.min_ops()),
            "setup_s": median(setup_times),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": failed == 0 and not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
