"""Checks the `corpus` workload's answers against the declared queries'
DuckDB oracles (`SparkEntry.oracleSql`).

The benchmark JVM writes each query's answer as parquet under
`<answers>/<query>` and the oracle SQL of each to
`<answers>/oracle_sql.json`; the tables it ran on are `<tables>/<name>.parquet/`.
The comparison follows scripts/check_correctness.py: columns sorted by name,
rows sorted by every column, integer and float columns never compared with
each other, and values compared exactly.
"""
import glob
import json
import os

import duckdb
import pandas as pd


def _connect(tables):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in sorted(glob.glob(os.path.join(tables, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con


def _compare(spark_df, duck_df):
    s = spark_df[sorted(spark_df.columns)]
    d = duck_df[sorted(duck_df.columns)]
    if list(s.columns) != list(d.columns):
        return f"columns: spark {list(s.columns)}, duckdb {list(d.columns)}"
    if len(s) != len(d):
        return f"rows: spark {len(s)}, duckdb {len(d)}"
    s = s.sort_values(by=list(s.columns), kind="mergesort").reset_index(drop=True)
    d = d.sort_values(by=list(d.columns), kind="mergesort").reset_index(drop=True)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if sv.dtype.kind in "iuf" and dv.dtype.kind in "iuf" and (sv.dtype.kind == "f") != (dv.dtype.kind == "f"):
            return f"column {c}: dtype spark {sv.dtype}, duckdb {dv.dtype}"
        if str(sv.dtype).startswith("datetime") or str(dv.dtype).startswith("datetime"):
            sv = pd.to_datetime(sv).dt.tz_localize(None).astype(str) if getattr(sv.dtype, "tz", None) else pd.to_datetime(sv).astype(str)
            dv = pd.to_datetime(dv).dt.tz_localize(None).astype(str) if getattr(dv.dtype, "tz", None) else pd.to_datetime(dv).astype(str)
        try:
            eq = (sv.values == dv.values) | (pd.isna(sv.values) & pd.isna(dv.values))
        except Exception:
            eq = sv.astype(str).values == dv.astype(str).values
        if not eq.all():
            i = int((~eq).argmax())
            return f"column {c} row {i}: spark {sv.iloc[i]!r}, duckdb {dv.iloc[i]!r}"
    return None


def check(tables, answers, queries):
    """Returns {query: None if the answer matches its oracle, else why not}
    for every query in `queries`; a query without an answer or an oracle
    fails."""
    with open(os.path.join(answers, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = _connect(tables)
    out = {}
    try:
        for q in queries:
            path = os.path.join(answers, q)
            if q not in oracle:
                out[q] = "no oracle SQL declared"
            elif not os.path.isdir(path):
                out[q] = "no answer written"
            else:
                try:
                    out[q] = _compare(pd.read_parquet(path), con.execute(oracle[q]).fetchdf())
                except Exception as e:  # an oracle or a read that fails is a failed check
                    out[q] = f"{type(e).__name__}: {str(e)[:300]}"
    finally:
        con.close()
    return out
