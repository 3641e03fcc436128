"""DuckDB oracle for the kn_scoring workload.

The harness leaves, per KN query, the answer of its last pass as parquet
(<dir>/<query>/), the query's oracle SQL (<dir>/oracle_sql.json) and the
corpus path (<dir>/corpus.txt). check() runs each oracle over the same
corpus and compares values and arrow types, the way the engine's DuckDB
parity gate does. It returns the names of the queries that differ.
"""
import datetime
import decimal
import glob
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

QUERIES = ("q201_kn_loglik", "q203_kn3_loglik", "q205_kn_pruned", "q216_kn4_pruned")


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    return str(v)


def _rows(table):
    cols = sorted(table.column_names)
    return sorted(tuple(_canon(r[c]) for c in cols) for r in table.to_pylist())


def _types(table):
    return {f.name: str(f.type) for f in table.schema}


def differs(spark_table, oracle_table):
    """None when equal, else a short reason."""
    if sorted(spark_table.column_names) != sorted(oracle_table.column_names):
        return f"columns {sorted(spark_table.column_names)} vs {sorted(oracle_table.column_names)}"
    if _types(spark_table) != _types(oracle_table):
        return f"types {_types(spark_table)} vs {_types(oracle_table)}"
    a, b = _rows(spark_table), _rows(oracle_table)
    if a != b:
        diff = next((x, y) for x, y in zip(a + [None] * len(b), b + [None] * len(a)) if x != y)
        return f"{len(a)} vs {len(b)} rows; first difference {diff}"
    return None


def check(out_dir):
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    with open(os.path.join(out_dir, "corpus.txt")) as fh:
        corpus = fh.read().strip()
    con = duckdb.connect()
    files = ", ".join("'" + f.replace("'", "''") + "'"
                      for f in sorted(glob.glob(os.path.join(corpus, "*.parquet"))))
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet([{files}])")
    bad = []
    for q in QUERIES:
        got = pq.read_table(os.path.join(out_dir, q))
        why = differs(got, con.execute(sql[q]).arrow())
        if why:
            print(f"[perfbench] {q}: {why}", flush=True, file=sys.stderr)
            bad.append(q)
    return bad
