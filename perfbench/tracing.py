"""Span recorder and outside-in Spark counters.

A span is one timed call into the program, recorded from the benchmark's
side: name, start, end, parent span and the operation it belongs to.
Spans stay in memory and are written once, when the run ends.

Spark work is attributed from the outside only:

- every operation runs under its own Spark job group, so the jobs it
  started are read back from the status tracker afterwards;
- per-stage task counters (run time, CPU, GC, rows, shuffle, spill)
  come from the driver's ``AppStatusStore``; scan bytes come from the
  SQL executions' "size of files read" metric, because the stage-level
  ``inputBytes`` of the parquet reader stays near zero on Spark 4.1;
- Catalyst phase times come from ``queryExecution().tracker()`` of the
  DataFrames the benchmark itself acts on.

Jobs and Catalyst phases become child spans of the deepest benchmark
span whose interval holds them, clipped so siblings never overlap.
Hence a span's self time (its duration minus its children's) is a true
partition of wall time, and the self times of one operation's tree sum
to that operation's wall time.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

PHASES = ("analysis", "optimization", "planning")

#: AppStatusStore stage fields -> (exec.* counter, scale to the unit)
STAGE_FIELDS = {
    "executorRunTime": ("task_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputRecords": ("input_rows", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "outputBytes": ("output_bytes", 1),
}
EXEC_COUNTERS = (
    "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "input_bytes", "input_rows",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "output_bytes",
)


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name):
        yield None

    @contextmanager
    def operation(self, name, **attrs):
        yield None

    def watch(self, df):
        pass


class Tracer:
    """In-memory span recorder. ``operation`` opens a root span and a
    Spark job group; ``span`` nests inside it. After the operation
    closes, its jobs, stages and Catalyst phases are read back and
    attached (``_harvest``) outside the operation's wall time."""

    enabled = True

    def __init__(self, spark=None):
        self.spark = spark
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list = []
        self.by_op: dict = {}  # op id -> its spans
        self.op_counters: dict = {}
        self._stack: list = []
        self._ids = itertools.count(1)
        self._op = None
        self._watched: list = []

    def _close(self, rec):
        rec["end"] = time.time()
        self._stack.pop()
        self._add(rec)

    def _add(self, rec):
        self.spans.append(rec)
        self.by_op.setdefault(rec["op"], []).append(rec)

    @contextmanager
    def span(self, name):
        rec = {
            "id": next(self._ids), "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self._op, "start": time.time(), "end": None,
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._close(rec)

    @contextmanager
    def operation(self, name, **attrs):
        """Root span of one operation; its id names the job group."""
        op_id = next(self._ids)
        self._op = op_id
        group = f"perfbench-op-{op_id}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name, False)
        rec = {
            "id": op_id, "name": name, "parent": None, "op": op_id,
            "start": time.time(), "end": None, "group": group,
        }
        rec.update(attrs)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._close(rec)
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._op = None
            t0 = time.time()
            self._harvest(rec)
            rec["harvest_s"] = time.time() - t0

    def watch(self, df):
        """Ask for the Catalyst phases of ``df``'s query execution."""
        self._watched.append(df)

    # -- read-back ------------------------------------------------------

    def _harvest(self, op_rec) -> None:
        intervals = []  # (name, start, end)
        counters = dict.fromkeys(EXEC_COUNTERS, 0)
        if self.sc is not None:
            intervals += self._job_intervals(op_rec["group"], counters)
            counters["input_bytes"] = self._scan_bytes(set(self.sc.statusTracker().getJobIdsForGroup(op_rec["group"])))
            for df in self._watched:
                intervals += _phase_intervals(df)
        self._watched = []
        self.op_counters[op_rec["id"]] = counters
        self._attach(op_rec, intervals)

    def _job_intervals(self, group, counters) -> list:
        sc = self.sc
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        out = []
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            counters["jobs"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                attempts = store.stageData(it.next(), False, None, False, no_quantiles)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() != "COMPLETE":
                        continue
                    counters["stages"] += 1
                    counters["tasks"] += sd.numCompleteTasks()
                    for field, (name, scale) in STAGE_FIELDS.items():
                        counters[name] += getattr(sd, field)() * scale
            if sub.isDefined() and done.isDefined():
                out.append(("exec.job", sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        return out

    def _scan_bytes(self, job_ids) -> int:
        """Sum of "size of files read" over the SQL executions that ran
        any of ``job_ids``."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        total = 0
        for i in range(execs.size()):
            ex = execs.apply(i)
            keys = ex.jobs().keys().iterator()
            ran = set()
            while keys.hasNext():
                ran.add(keys.next())
            if not ran & job_ids:
                continue
            values = store.executionMetrics(ex.executionId())
            metrics = ex.metrics()
            # adaptive re-planning lists a scan's metric once per plan
            # version; count each accumulator once
            seen = set()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() == "size of files read" and m.accumulatorId() not in seen:
                    seen.add(m.accumulatorId())
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += _parse_size(v.get())
        return total

    def _attach(self, op_rec, intervals) -> None:
        """Nest each job under the deepest span that holds its midpoint,
        clipped to that parent and to the gap between its siblings.

        A Catalyst phase reports the first start and the last end of
        every invocation of that phase, so its interval can cover work
        that is not its own. It becomes a leaf in the gap that ends at
        its last end, under the deepest span holding that instant."""
        tree = list(self.by_op.get(op_rec["id"], ()))
        jobs = sorted((i for i in intervals if i[0] == "exec.job"), key=lambda x: (x[1], x[1] - x[2]))
        phases = [i for i in intervals if i[0] != "exec.job"]
        for name, start, end in jobs:
            self._place(op_rec, tree, name, start, end, (start + end) / 2)
        for name, start, end in phases:
            self._place(op_rec, tree, name, start, end, end)

    def _place(self, op_rec, tree, name, start, end, anchor) -> None:
        holders = [s for s in tree if s["start"] <= anchor <= s["end"] and not s["name"].startswith("catalyst.")]
        if not holders:
            return
        parent = max(holders, key=lambda s: _depth(s, tree))
        sibs = [s for s in tree if s["parent"] == parent["id"]]
        lo = max([start, parent["start"]] + [s["end"] for s in sibs if s["end"] <= anchor])
        hi = min([end, parent["end"]] + [s["start"] for s in sibs if s["start"] >= lo])
        if hi <= lo:
            return
        rec = {"id": next(self._ids), "name": name, "parent": parent["id"],
               "op": op_rec["id"], "start": lo, "end": hi}
        self._add(rec)
        tree.append(rec)

    # -- summaries --------------------------------------------------------

    def ops(self) -> list:
        return [s for s in self.spans if s["parent"] is None]

    def self_times(self, op_id) -> dict:
        """Self time per span name within one operation's tree."""
        tree = self.by_op.get(op_id, ())
        child_time: dict = {}
        for s in tree:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict = {}
        for s in tree:
            own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def durations(self, op_id) -> dict:
        """Total (inclusive) duration per span name within one operation."""
        out: dict = {}
        for s in self.by_op.get(op_id, ()):
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def spark_layers(self, ops) -> dict:
        """catalyst.* self times and exec.* counters, per operation (mean)."""
        n = max(1, len(ops))
        own = [self.self_times(o["id"]) for o in ops]
        out = {f"catalyst.{p}_s": sum(t.get(f"catalyst.{p}", 0.0) for t in own) / n for p in PHASES}
        for k in EXEC_COUNTERS:
            out[f"exec.{k}"] = sum(self.op_counters[o["id"]][k] for o in ops) / n
        return out

    def added_s(self) -> float:
        """Wall time the tracing itself added: the read-back after each
        operation, and the work workloads run only when traced (the
        ``noop`` sink writes, the sampled ``spec.layers`` operations)."""
        extra = sum(s.get("harvest_s", 0.0) for s in self.ops())
        return extra + sum(s["end"] - s["start"] for s in self.spans if s["name"] in ("transfer.noop", "spec.layers"))

    def write(self, path) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans,
                       "op_counters": {str(k): v for k, v in self.op_counters.items()}}, fh)


def _depth(s, tree) -> int:
    by_id = {t["id"]: t for t in tree}
    d = 0
    while s["parent"] is not None and s["parent"] in by_id:
        s = by_id[s["parent"]]
        d += 1
    return d


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _parse_size(text: str) -> int:
    """Spark's formatted size metric: '10.4 MiB', or a 'total (min, med,
    max ...)' header line followed by the total."""
    line = text.strip().splitlines()[-1]
    num, unit = line.split()[:2]
    return int(float(num.replace(",", "")) * _UNITS[unit])


def _phase_intervals(df) -> list:
    phases = df._jdf.queryExecution().tracker().phases()
    out = []
    for name in PHASES:
        if phases.contains(name):
            p = phases.apply(name)
            out.append((f"catalyst.{name}", p.startTimeMs() / 1e3, p.endTimeMs() / 1e3))
    return out
