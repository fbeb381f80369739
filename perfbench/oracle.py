"""DuckDB oracle compare for the query-catalog outputs.

Runs each query's `SparkEntry.oracleSql` text in DuckDB over the same parquet
tables and compares it with the engine's parquet output. Table list and
canonical form (columns sorted by name, rows sorted by value) come from the
repository's `tools/check_oracle.py`; ints and strings must match exactly,
doubles to rtol 1e-9 / atol 1e-12 (the tolerance FIXTURES.md sets for
doubles).
"""
import glob
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
from check_oracle import TABLES, canon  # noqa: E402


def compare(name: str, exp: pd.DataFrame, got: pd.DataFrame):
    e, g = canon(exp), canon(got)
    if list(e.columns) != list(g.columns):
        return f"{name}: columns exp={list(e.columns)} got={list(g.columns)}"
    if len(e) != len(g):
        return f"{name}: rows exp={len(e)} got={len(g)}"
    for c in e.columns:
        ec, gc = e[c], g[c]
        if pd.api.types.is_float_dtype(ec):
            a, b = ec.to_numpy(), gc.to_numpy()
            eq = np.isclose(a, b, rtol=1e-9, atol=1e-12) | (np.isnan(a) & np.isnan(b))
        else:
            eq = ((ec.isna() & gc.isna()) | (ec == gc)).to_numpy(dtype=bool)
        if not eq.all():
            return f"{name}: column {c} differs in {int((~eq).sum())} rows"
    return None


def check(data_dir: str, work_dir: str) -> tuple:
    """Return (queries compared, list of failure messages)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(work_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems = []
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(work_dir, "out", name, "*.parquet")))
        try:
            exp = con.execute(sql).df()
            if not files:
                problems.append(f"{name}: no engine output")
                continue
            got = pd.concat([pd.read_parquet(p) for p in files])
            msg = compare(name, exp, got)
        except Exception as e:  # a failing oracle query is a failed check, not a crash
            msg = f"{name}: {type(e).__name__}: {e}"
        if msg:
            problems.append(msg)
    con.close()
    return len(oracle), problems
