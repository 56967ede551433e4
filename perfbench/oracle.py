"""The catalog queries' correctness check: each result the benchmark JVM
wrote must equal its DuckDB oracle over the same tables, compared the way
tools/check.py compares them (columns sorted by name, rows in order,
exact values)."""
import glob
import os

import duckdb
import pandas as pd

TABLES = ("documents", "lineitem")


def problem(got, exp):
    """None when the frames agree, otherwise what differs."""
    got = got[sorted(got.columns)].reset_index(drop=True)
    exp = exp[sorted(exp.columns)].reset_index(drop=True)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return f"values differ: {str(e)[:300]}"
    return None


def check_catalog(oracle_sql, result_dirs, data):
    """{query: problem} for each query whose result disagrees with its
    oracle or is missing; the oracles run in DuckDB over the tables in
    `data`."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
    out = {}
    for q, sql in oracle_sql.items():
        files = sorted(glob.glob(os.path.join(result_dirs[q], "*.parquet")))
        if not files:
            out[q] = "no result"
            continue
        try:
            p = problem(pd.concat([pd.read_parquet(f) for f in files]), con.execute(sql).df())
        except Exception as e:  # an oracle or a result that cannot be read
            p = f"{type(e).__name__}: {e}"
        if p:
            out[q] = p
    return out
