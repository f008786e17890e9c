"""Result checks against the DuckDB oracle.

Named queries: the warm-up result each statement wrote is canonicalized
exactly as the repository's correctness gate (`tools/check.py`) does and
compared cell by cell with the query's oracle SQL run by DuckDB over the
same generated tables. Expected results are cached per (data, statement,
oracle text).

DML stream: every pass the engine ran is replayed in DuckDB, statement by
statement, with GP-only clauses removed; each read and each affected-row
count the engine reported must match the replay.
"""
import hashlib
import importlib.util
import json
import os

import duckdb
import pandas as pd

from workloads import duckdb_sql

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "graft_check", os.path.join(_ROOT, "tools", "check.py"))
check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check)


def connect(data_dir):
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _frame(df):
    """Canonical (columns, rows) of a result frame, as check.py sees it."""
    c = check.canon(df)
    return list(c.columns), c.values.tolist()


def _mismatch(got, exp):
    """None when equal, else a one-line reason (check.py's strict rules)."""
    (gc, gr), (ec, er) = got, exp
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return f"rows {len(gr)} != {len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        for col, x, y in zip(gc, a, b):
            if x != y:
                return f"col={col} row={i}: engine={x!r} oracle={y!r}"
    return None


def check_named(con, results_dir, oracles, cache_dir, data_key):
    """Map statement name -> None (match) or failure reason."""
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    for name, sql in oracles.items():
        if sql is None:
            out[name] = "no oracle SQL to check against"
            continue
        path = os.path.join(results_dir, name)
        if not os.path.isdir(path):
            out[name] = "no engine result"
            continue
        key = hashlib.sha256(f"{data_key}\0{name}\0{sql}".encode()).hexdigest()
        cached = os.path.join(cache_dir, key[:32] + ".json")
        try:
            if os.path.exists(cached):
                with open(cached) as f:
                    exp = json.load(f)
            else:
                exp = _frame(con.execute(sql).df())
                with open(cached, "w") as f:
                    json.dump(exp, f)
            out[name] = _mismatch(_frame(pd.read_parquet(path)), exp)
        except Exception as e:  # oracle error or uncanonicalizable result
            out[name] = f"check error: {str(e)[:200]}"
    return out


def _rows(rows):
    return [[check.cell_str(v) for v in r] for r in rows]


def check_dml(data_dir, stmts, records):
    """Replays each pass of the stream in DuckDB. Returns a list parallel
    to `records`: None (match) or a failure reason. A statement whose
    engine run failed is replayed anyway, so later statements compare
    against the state the oracle expects."""
    con = connect(data_dir)
    reasons = []
    for r in records:
        st = stmts[r["idx"]]
        try:
            res = con.execute(duckdb_sql(st["sql"])).fetchall()
        except Exception as e:
            reasons.append(f"oracle error: {str(e)[:200]}")
            continue
        if not r["ok"]:
            reasons.append(r.get("error", "failed"))
            continue
        kind = st["kind"]
        why = None
        if kind in ("select", "update", "delete"):
            got, exp = _rows(r.get("rows", [])), _rows(res)
            if kind == "select":
                got, exp = sorted(got), sorted(exp)
            if got != exp:
                why = f"engine={got[:3]} oracle={exp[:3]}"
        reasons.append(why)
    con.close()
    return reasons
