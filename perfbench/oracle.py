"""DuckDB oracle check for the operator_batch workload.

Every query's check-pass result (parquet, written by the benchmark JVM) is
compared with DuckDB running the query's oracle SQL (`SparkEntry.oracleSql`)
over the same derived corpus: same column names, same row count, and the
same rows in any order, floats within a relative tolerance.
"""
import glob
import json
import math
import os

import duckdb

REL_TOL = 1e-6
ABS_TOL = 1e-9


def _norm(v):
    """A hashable, sortable form of a value; floats rounded for alignment."""
    if isinstance(v, float):
        return (1, round(v, 6)) if not math.isnan(v) else (2, 0.0)
    if isinstance(v, (list, tuple)):
        return (3, tuple(_norm(x) for x in v))
    if isinstance(v, dict):
        return (4, tuple(sorted((k, _norm(x)) for k, x in v.items())))
    if v is None:
        return (0, 0)
    return (5, str(v))


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b or str(a) == str(b)


def _rows(con, sql):
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rel.fetchall()]
    rows.sort(key=lambda r: tuple(_norm(v) for v in r))
    return [cols[i] for i in order], rows


def compare(con, name, sql, res_dir):
    files = sorted(glob.glob(os.path.join(res_dir, "*.parquet")))
    if not files:
        return "no result written"
    gcols, got = _rows(con, f"SELECT * FROM read_parquet({files!r})")
    ecols, exp = _rows(con, sql)
    if gcols != ecols:
        return f"columns {gcols}, oracle {ecols}"
    if len(got) != len(exp):
        return f"{len(got)} rows, oracle {len(exp)}"
    for i, (g, e) in enumerate(zip(got, exp)):
        for c, a, b in zip(gcols, g, e):
            if not _same(a, b):
                return f"row {i} column {c}: {a!r}, oracle {b!r}"
    return None


def check(corpus, check_dir):
    """Return one failure line per query whose result disagrees."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet/*.parquet')")
    queries = sorted(d for d in os.listdir(check_dir) if os.path.isdir(os.path.join(check_dir, d)))
    fails = []
    for name in queries:
        sql = oracle.get(name)
        if sql is None:
            fails.append(f"oracle {name}: no oracle SQL")
            continue
        try:
            err = compare(con, name, sql, os.path.join(check_dir, name))
        except Exception as e:  # a broken oracle or result is a failure, not a skip
            err = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        if err:
            fails.append(f"oracle {name}: {err}")
    return fails
