"""DuckDB oracle check of the benchmark's query results.

Each query's expected rows come from DuckDB running its
`SparkEntry.oracleSql` entry over views on the input parquet tables. Both
sides go through the project's own oracle canonicalization, `canon` of
tools/check.py in the checkout: columns sorted by name, floats rounded to 6
decimals, timestamps at microsecond precision, rows rendered as strings
and sorted, then hashed.
"""
import glob
import importlib.util
import json
import os

import duckdb
import pandas as pd


def project_canon():
    """`canon` of the checkout's tools/check.py; it returns (columns, row
    count, hash, first rows)."""
    path = os.path.join("tools", "check.py")
    if not os.path.exists(path):
        raise SystemExit(f"perfbench: {path} not found; run from the root of a graft checkout")
    spec = importlib.util.spec_from_file_location("graft_tools_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def check(data_dir, check_dir, queries, rows_only):
    """Returns {query: reason} for every query whose result is missing or
    differs from the oracle. `rows_only` maps a query to the SQL whose row
    count is its whole check (for results with no exact oracle)."""
    con = duckdb.connect()
    con.sql(f"SET threads={os.cpu_count() or 1}")
    con.sql(f"SET temp_directory='{os.path.abspath(os.path.join(check_dir, 'duckdb_tmp'))}'")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.abspath(p)}')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    canon = project_canon()
    bad = {}
    for q in queries:
        path = os.path.join(check_dir, q)
        if not os.path.isdir(path):
            bad[q] = "no result written"
            continue
        got = pd.read_parquet(path)
        try:
            if q in rows_only:
                n = len(con.sql(rows_only[q]).df())
                if n != len(got):
                    bad[q] = f"row count {len(got)}, oracle {n}"
                continue
            if not sql.get(q):
                bad[q] = "no oracle SQL"
                continue
            exp = canon(con.sql(sql[q]).df())
        except duckdb.Error as e:
            bad[q] = f"oracle error: {str(e)[:200]}"
            continue
        act = canon(got)
        if exp[0] != act[0]:
            bad[q] = f"columns {act[0]}, oracle {exp[0]}"
        elif exp[1] != act[1]:
            bad[q] = f"{act[1]} rows, oracle {exp[1]}"
        elif exp[2] != act[2]:
            bad[q] = f"values differ from the oracle ({act[1]} rows)"
    con.close()
    return bad
