"""Checks the rows a run dumped from its check pass against DuckDB running
the engine's oracle SQL over the same generated tables.

Columns are compared sorted by name and rows sorted, so the check is
order-insensitive; cell values must be equal exactly (floats bit for
bit), and an integer column may not come back as a float column.
"""
import hashlib
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    return a == b


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame):
    """None when equal, else a one-line reason."""
    s, d = _norm(spark_df), _norm(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    ints = {"i", "u"}
    for c in s.columns:
        sk, dk = s[c].dtype.kind, d[c].dtype.kind
        if (sk in ints) != (dk in ints) and {sk, dk} <= ints | {"f"}:
            return f"column {c}: {s[c].dtype} vs {d[c].dtype}"
        for i, (a, b) in enumerate(zip(s[c].tolist(), d[c].tolist())):
            if not _equal(a, b):
                return f"column {c} row {i}: {a!r} vs {b!r}"
    return None


def expected(con, data_dir: str, sql: str) -> pd.DataFrame:
    """DuckDB's result for `sql`, cached next to the generated tables it
    read: the tables are a pure function of the seed."""
    path = os.path.join(data_dir, "oracle", hashlib.sha256(sql.encode()).hexdigest() + ".parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    df = con.execute(sql).fetchdf()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check(data_dir: str, dumps_dir: str, oracle_sql: dict) -> dict:
    """op name -> None (pass) or the reason it failed."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            spark_df = pd.read_parquet(os.path.join(dumps_dir, name))
        except Exception as e:  # noqa: BLE001 - any unreadable dump fails the op
            out[name] = f"dump unreadable: {e}"
            continue
        try:
            duck_df = expected(con, data_dir, sql)
        except Exception as e:  # noqa: BLE001
            out[name] = f"oracle failed: {e}"
            continue
        out[name] = compare(spark_df, duck_df)
    con.close()
    return out
