"""DuckDB oracle for the benchmark's exported outputs.

Each exported query's Spark output (parquet) is compared with the
query's oracle SQL run by DuckDB over the same generated tables, under
the engine's correctness-gate rules: columns sorted by name, rows sorted
by every column, dtype-strict, exact value match.
"""
import json
import os

import duckdb
import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame):
    """None when equal, else a one-line reason."""
    s, d = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"rows spark={len(s)} duck={len(d)}"
    for c in s.columns:
        sv, dv = s[c].to_numpy(), d[c].to_numpy()
        sk, dk = sv.dtype.kind, dv.dtype.kind
        if sk != dk and (sk in "iuf" or dk in "iuf") \
                and not (sk in "iu" and dk in "iu"):
            return f"{c}: dtype spark={sv.dtype} duck={dv.dtype}"
        if sk == "f" or dk == "f":
            sv, dv = sv.astype(float), dv.astype(float)
            eq = (np.isnan(sv) & np.isnan(dv)) | (sv == dv)
        else:
            eq = (pd.Series(sv).astype(str) == pd.Series(dv).astype(str)).to_numpy()
        if not eq.all():
            i = int(np.argmin(eq))
            return f"{c}: row {i} spark={sv[i]!r} duck={dv[i]!r}"
    return None


def check(verify_dir: str, input_dir: str, tables) -> dict:
    """{query key: None if it matches its oracle, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        p = os.path.join(input_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for key, sql in sorted(oracle.items()):
        try:
            spark_df = pd.read_parquet(os.path.join(verify_dir, key))
            out[key] = compare(spark_df, con.execute(sql).df())
        except Exception as e:  # an oracle that cannot run is a failure
            out[key] = f"{type(e).__name__}: {e}"
    con.close()
    return out
