"""Compare each query key's dumped result with its DuckDB oracle.

The comparison is the repo's correctness gate, tools/check_oracle.py: the
oracle SQL runs in DuckDB over the same input tables, both sides are put in
that tool's canonical form (columns sorted by name, rows by all columns)
and compared cell by cell.
"""
import glob
import importlib.util
import json
import os

import duckdb

TABLES = ["customer", "supplier", "orders", "lineitem", "events", "documents",
          "embeddings"]


def _gate(root):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check(root, data_dir, results_dir, keys):
    """{key: None if the result matches its oracle, else the reason}."""
    gate = _gate(root)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    out = {}
    for k in keys:
        files = glob.glob(os.path.join(results_dir, k, "*.parquet"))
        if k not in oracle:
            out[k] = "no oracle"
        elif not files:
            out[k] = "no result"
        else:
            try:
                got = gate.canon(con, f"SELECT * FROM '{os.path.join(results_dir, k)}/*.parquet'")
                want = gate.canon(con, gate.materialize_stages(con, oracle[k]))
            except Exception as e:  # a failing oracle or unreadable result
                out[k] = f"error: {e}"
                continue
            if list(got.columns) != list(want.columns):
                out[k] = f"columns {list(got.columns)} vs {list(want.columns)}"
            elif len(got) != len(want):
                out[k] = f"rows {len(got)} vs {len(want)}"
            elif not got.equals(want):
                out[k] = "values differ"
            else:
                out[k] = None
    con.close()
    return out
