"""query_mix: the 31 ``bench.BENCH_QUERIES`` over the sf0.01 tables kept
in ``perfbench/data/sf0.01``, in round-robin rounds whose order comes
from the seed, with Spark's data cache cleared before every sample. The
first round runs in a fresh session, as a user's first queries would.

One operation is one query sample: build the DataFrame through
``queries()``, then ``collect()`` it. Every sample's result hash
(``tools.check_oracle.table_hash``) must equal the hash of the query's
``oracle_sql()`` in DuckDB over the same files; a query without an
oracle, or listed in ``ORACLE_MISMATCH``, must give the same hash in
every sample and in one more run after the measured ones.
"""

from __future__ import annotations

import os
import random
import time
import types

from harness import mean, median

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
#: queries whose oracle hash differs from Spark's on the seed commit at
#: these tables; they are checked like queries without an oracle
ORACLE_MISMATCH: tuple = ()
FAMILIES = ("cv", "doc", "emb")


def family(name: str) -> str:
    head = name.split("_", 1)[0]
    return head if head in FAMILIES else "rel"


def _cache_in(module, cache_dir: str) -> None:
    """Point the module's index caches, which live under a fixed ``/tmp/``
    directory, at ``cache_dir``. Only the path constants of the functions
    change: the program's own build and cache-validity code still runs."""
    for name, fn in list(vars(module).items()):
        if not isinstance(fn, types.FunctionType) or fn.__module__ != module.__name__:
            continue
        consts = fn.__code__.co_consts
        moved = tuple(cache_dir + c[4:] if isinstance(c, str) and c.startswith("/tmp/") else c for c in consts)
        if moved != consts:
            setattr(module, name, types.FunctionType(
                fn.__code__.replace(co_consts=moved), fn.__globals__, fn.__name__, fn.__defaults__, fn.__closure__))


class Workload:
    spark = True
    #: a set-up binds every table (~1.5 s)
    setup_repeats = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.check_errors: list = []
        self.samples: dict = {}  # query without oracle -> its result hashes
        self.pos = 0

    def prepare(self) -> None:
        import bench
        import duckdb

        import __spark_entry__ as entry
        from tools.check_oracle import table_hash

        self.entry, self.table_hash = entry, table_hash
        self.names = list(bench.BENCH_QUERIES)
        # the indexes depend only on the tables, so they are built once per
        # checkout and kept between runs, as the program keeps its own
        _cache_in(entry, os.path.join(self.ctx.root, ".perfbench_run", "cache"))
        entry._ann_index_path(self.ctx.spark, DATA, "lsh")
        entry._ann_index_path(self.ctx.spark, DATA, "ivf")

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in entry.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(DATA, t)}.parquet')")
            self.expected = {}
            for name in self.names:
                if name in oracles and name not in ORACLE_MISMATCH:
                    res = con.execute(oracles[name])
                    cols = [d[0] for d in res.description]
                    self.expected[name] = (sorted(cols), table_hash(cols, res.fetchall())[0])
        finally:
            con.close()
        self.queries = entry.queries()

    def setup(self) -> None:
        """Session restart and every table scan bound."""
        self.ctx.start_spark()
        self.bind()

    def bind(self) -> None:
        for t in self.entry.TABLES:
            self.entry._t(self.ctx.spark, DATA, t)

    def warm(self) -> None:
        """None: the measured round is the first in the session."""

    def _hash(self, cols, rows):
        return sorted(cols), self.table_hash(cols, [tuple(r[c] for c in cols) for r in rows])[0]

    def _next(self) -> str:
        rnd, i = divmod(self.pos, len(self.names))
        if i == 0:
            order = list(self.names)
            random.Random(f"{self.ctx.seed}:{rnd}").shuffle(order)
            self._order = order
        self.pos += 1
        return self._order[i]

    def min_ops(self) -> int:
        return len(self.names)

    def op(self, tracer):
        name = self._next()
        spark = self.ctx.spark
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        with tracer.operation(f"query.{name}", query=name) as rec:
            with tracer.span("query.build"):
                df = self.queries[name](spark, DATA)
            with tracer.span("query.collect"):
                rows = df.collect()
            if tracer.enabled:
                tracer.watch(df)
                with tracer.span("transfer.noop"):
                    df.write.format("noop").mode("overwrite").save()
                rec["result_rows"] = len(rows)
        wall = time.perf_counter() - t0
        got = self._hash(df.columns, rows)
        if name not in self.expected:
            # no oracle: checked against a later run of the query (errors())
            self.samples.setdefault(name, []).append(got)
            return True, wall
        ok = got == self.expected[name]
        if not ok:
            self.check_errors.append(f"{name}: result hash differs from its oracle")
        return ok, wall

    def layer_metrics(self, tracer) -> dict:
        ops = [o for o in tracer.ops() if o["name"].startswith("query.")]
        out: dict = {}
        fam_rows: dict = {f: [] for f in FAMILIES + ("rel",)}
        per_query: dict = {}
        for o in ops:
            dur = tracer.durations(o["id"])
            own = tracer.self_times(o["id"])
            collect = dur.get("query.collect", 0.0)
            # collect = planning + execution + transfer; the noop sink
            # plans and executes the same DataFrame without the transfer
            transfer = max(0.0, collect - dur.get("transfer.noop", 0.0))
            planning = own.get("catalyst.optimization", 0.0) + own.get("catalyst.planning", 0.0)
            counters = tracer.op_counters[o["id"]]
            fam_rows[family(o["query"])].append({
                "build_s": dur.get("query.build", 0.0),
                "catalyst_s": planning + own.get("catalyst.analysis", 0.0),
                "exec_s": max(0.0, collect - transfer - planning),
                "transfer_s": transfer,
                "jobs": counters["jobs"],
                "shuffle_bytes": counters["shuffle_write_bytes"],
            })
            per_query.setdefault(o["query"], []).append(dur.get("query.build", 0.0) + collect)
        # family figures: per round, i.e. summed over the family's queries
        rounds = max(1, len(ops) / len(self.names))
        for fam, rows in fam_rows.items():
            for k in ("build_s", "catalyst_s", "exec_s", "transfer_s", "jobs", "shuffle_bytes"):
                out[f"query.{fam}.{k}"] = sum(r[k] for r in rows) / rounds
        for q, vals in per_query.items():
            out[f"query.{q}.s"] = median(vals)
        collect = [tracer.durations(o["id"]).get("query.collect", 0.0) for o in ops]
        noop = [tracer.durations(o["id"]).get("transfer.noop", 0.0) for o in ops]
        out["transfer.collect_s"] = mean(collect)
        out["transfer.noop_s"] = mean(noop)
        out["transfer.result_rows"] = mean([o.get("result_rows", 0) for o in ops])
        out.update(tracer.spark_layers(ops))
        return out

    def errors(self) -> list:
        """Also checks the queries without an oracle: every sample must
        equal one more run of the query, made after the measured ones."""
        for name, hashes in self.samples.items():
            df = self.queries[name](self.ctx.spark, DATA)
            ref = self._hash(df.columns, df.collect())
            self.check_errors += [f"{name}: result differs between runs" for h in hashes if h != ref]
        return self.check_errors
