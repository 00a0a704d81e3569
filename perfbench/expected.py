"""Expected verdicts for a constraint spec, computed by DuckDB straight
from the generated parquet: an independent second implementation of
each constraint kind the files spec uses, sharing no code with the
Spark engine.

A verdict is ``constraint_id -> (violation_count, evaluated_count,
passed)``; row-level kinds count failing rows over all rows, table-level
kinds count violating keys, rows or groups and have no evaluated count.
"""

from __future__ import annotations


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _row_failure(c: dict) -> str:
    """SQL condition that is true iff the row violates ``c``; NULL passes
    every row-level kind except not_null."""
    kind = c["kind"]
    col = _q(c["column"]) if c.get("column") else None
    if kind == "not_null":
        return f"{col} IS NULL"
    if kind == "enum":
        return f"{col} IS NOT NULL AND {col} NOT IN ({', '.join(_lit(v) for v in c['values'])})"
    if kind == "pattern":
        pats = c.get("patterns") or [c["pattern"]]
        regex = "|".join(pats)
        return f"{col} IS NOT NULL AND NOT regexp_full_match({col}, {_lit(f'(?:{regex})')})"
    if kind in ("length", "range"):
        val = f"length({col})" if kind == "length" else (f"({c['expr']})" if c.get("expr") else col)
        bad = []
        if c.get("min") is not None:
            bad.append(f"{val} {'<=' if c.get('exclusive_min') else '<'} {c['min']}")
        if c.get("max") is not None:
            bad.append(f"{val} {'>=' if c.get('exclusive_max') else '>'} {c['max']}")
        return f"{val} IS NOT NULL AND ({' OR '.join(bad) or 'FALSE'})"
    raise ValueError(f"no expected-verdict rule for kind {kind!r}")


def _table_count(c: dict, fact: str, dims: dict) -> str:
    kind = c["kind"]
    if kind == "unique":
        cols = ", ".join(_q(x) for x in c["columns"])
        nn = " AND ".join(f"{_q(x)} IS NOT NULL" for x in c["columns"])
        return f"SELECT count(*) FROM (SELECT {cols} FROM {fact} WHERE {nn} GROUP BY {cols} HAVING count(*) > 1)"
    if kind == "foreign_key":
        ref_cols = c.get("ref_columns") or c["columns"]
        dim = dims[c["ref_table"]]
        match = " AND ".join(f"d.{_q(r)} = f.{_q(x)}" for x, r in zip(c["columns"], ref_cols))
        nn = " AND ".join(f"f.{_q(x)} IS NOT NULL" for x in c["columns"])
        return f"SELECT count(*) FROM {fact} f WHERE {nn} AND NOT EXISTS (SELECT 1 FROM {dim} d WHERE {match})"
    if kind == "cardinality":
        cols = ", ".join(_q(x) for x in c["group_by"])
        bad = []
        if c.get("min") is not None:
            bad.append(f"count(*) < {c['min']}")
        if c.get("max") is not None:
            bad.append(f"count(*) > {c['max']}")
        return f"SELECT count(*) FROM (SELECT {cols} FROM {fact} GROUP BY {cols} HAVING {' OR '.join(bad) or 'FALSE'})"
    raise ValueError(f"no expected-verdict rule for kind {kind!r}")


def expected_verdicts(spec: dict, fact_path: str, dim_paths: dict) -> dict:
    import duckdb

    fact = f"read_parquet({_lit(fact_path + '/*.parquet')})"
    dims = {k: f"read_parquet({_lit(p + '/*.parquet')})" for k, p in dim_paths.items()}
    con = duckdb.connect()
    try:
        row_cs = [c for c in spec["constraints"] if c["kind"] in ("not_null", "enum", "pattern", "length", "range")]
        sums = ", ".join(f"count(*) FILTER (WHERE {_row_failure(c)})" for c in row_cs)
        total, *fails = con.execute(f"SELECT count(*){', ' + sums if sums else ''} FROM {fact}").fetchone()
        out = {}
        for c, n in zip(row_cs, fails):
            mfr = c.get("max_fail_ratio")
            out[c["id"]] = (n, total, n <= mfr * total if mfr is not None else n == 0)
        for c in spec["constraints"]:
            if c["id"] not in out:
                (n,) = con.execute(_table_count(c, fact, dims)).fetchone()
                out[c["id"]] = (n, None, n == 0)
        return out
    finally:
        con.close()


def engine_verdicts(rows) -> dict:
    """Engine verdict rows (one partition) in the same shape."""
    return {
        r["constraint_id"]: (r["violation_count"], r["evaluated_count"], r["passed"])
        for r in rows
    }


def diff(expected: dict, got: dict) -> list:
    return [
        f"{cid}: engine {got.get(cid)} != expected {want}"
        for cid, want in sorted(expected.items()) if got.get(cid) != want
    ] + [f"{cid}: unexpected verdict" for cid in sorted(set(got) - set(expected))]
