"""Whole-result check of graft query outputs against DuckDB oracles.

The cell comparison is tools/compare.py's, imported from the checkout:
columns compared by sorted name, rows sorted over all columns, every cell
compared by a dtype-sensitive repr (int 500 and float 500.0 differ; all
missing-value flavours are one NULL).
"""
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from compare import canon_df, frame_mismatch  # noqa: E402


def compare(got, want):
    """None when the two frames hold the same rows and columns, else why not."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    try:
        a, _ = canon_df(got)
        b, _ = canon_df(want)
    except Exception as e:  # unsortable cells fail, as in tools/compare.py
        return f"unsortable result: {str(e)[:160]}"
    bad = frame_mismatch(a, b)
    if bad:
        return f"row {bad[0]} column {bad[1]}: {bad[2]} != oracle {bad[3]}"
    return None


def oracle_connection(data_dir):
    """DuckDB with one view per fixture table."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_queries(data_dir, results_dir, oracle_sql, rows_timed):
    """{query: problem or None} for every query in rows_timed.

    A query with an oracle must match it cell for cell; the row count its
    timed noop sink consumed must equal the oracle's (or, without an
    oracle, the dumped result's) row count."""
    con = oracle_connection(data_dir)
    problems = {}
    for name, timed_rows in rows_timed.items():
        path = os.path.join(results_dir, name)
        try:
            got = pd.read_parquet(path)
        except Exception as e:
            problems[name] = f"result unreadable: {str(e)[:160]}"
            continue
        sql = oracle_sql.get(name)
        if sql is None:
            want_rows = len(got)
            problem = None
        else:
            try:
                want = con.execute(sql).df()
            except Exception as e:
                problems[name] = f"oracle failed: {str(e)[:160]}"
                continue
            want_rows = len(want)
            problem = compare(got, want)
        if problem is None and timed_rows != want_rows:
            problem = f"timed sink consumed {timed_rows} rows, oracle has {want_rows}"
        problems[name] = problem
    con.close()
    return problems
