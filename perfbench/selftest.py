"""Self-test of the span recorder and the outside-in Spark counters.

    python3 perfbench/selftest.py

Runs one traced ``validate_wide`` operation on the workload's own input and
checks that

- every span lies inside its parent and no two siblings overlap;
- the self times of the layer spans (everything below the operation's
  root span) sum to within 10% of the operation's wall time, measured
  independently around the call;
- the operation started Spark jobs and the status store returned their
  stages and tasks.

Exits 0 when all hold.
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOLERANCE = 0.10


def check_tree(tracer, op_id) -> list:
    spans = tracer.by_op[op_id]
    by_id = {s["id"]: s for s in spans}
    errs = []
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None and not (p["start"] <= s["start"] <= s["end"] <= p["end"]):
            errs.append(f"span {s['name']} leaves its parent {p['name']}")
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for group in kids.values():
        group.sort(key=lambda s: s["start"])
        for a, b in zip(group, group[1:]):
            if b["start"] < a["end"] - 1e-9:
                errs.append(f"siblings {a['name']} and {b['name']} overlap")
    return errs


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    import wl_validate_wide
    from harness import Context
    from tracing import Tracer

    ctx = Context(ROOT, "selftest", 0)
    os.environ["SPARK_LOCAL_DIRS"] = ctx.path("spark-local")
    try:
        ctx.start_spark()
        wl = wl_validate_wide.Workload(ctx)
        wl.prepare()
        wl.warm()
        tracer = Tracer(ctx.spark)
        t0 = time.perf_counter()
        ok, _ = wl.op(tracer)
        wall = time.perf_counter() - t0
    finally:
        ctx.stop_spark()
        ctx.cleanup()

    (op,) = tracer.ops()
    own = tracer.self_times(op["id"])
    layers = sum(v for k, v in own.items() if k != op["name"])
    # the call's wall, measured around it, less the read-back that runs
    # after the operation closes
    op_wall = wall - op["harvest_s"]
    share = layers / op_wall
    counters = tracer.op_counters[op["id"]]
    errs = check_tree(tracer, op["id"])
    if not ok:
        errs.append("the operation's verdicts were wrong: " + "; ".join(wl.errors()[:3]))
    if abs(1 - share) > TOLERANCE:
        errs.append(f"layer self times cover {share:.1%} of the operation's wall")
    if not (counters["jobs"] and counters["stages"] and counters["tasks"]):
        errs.append(f"no Spark work read back: {counters}")
    for name, t in sorted(own.items(), key=lambda kv: -kv[1]):
        print(f"{name:24s} self {t:8.3f} s")
    print(f"operation {op_wall:.3f} s, read-back {op['harvest_s']:.3f} s, "
          f"layers cover {share:.1%}; jobs={counters['jobs']} stages={counters['stages']} "
          f"tasks={counters['tasks']}")
    for e in errs:
        print("FAIL:", e)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
