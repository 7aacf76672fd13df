"""DuckDB oracle check for the analyst workload.

Runs each declared oracle SQL over the testdata tables and compares it
with the parquet the harness wrote, with the repository's own checker
(tools/check_oracle.py) under its --exact rules: columns sorted by name,
rows sorted, identical dtypes, floats bit-identical (signed zero
included), every other column equal in its string form. Oracle results
are cached per (SQL, testdata stamp), so only the first run on a
testdata generation pays for them.
"""
import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check_oracle  # noqa: E402


def connect(sf_dir: str):
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def oracle_frame(con, sql: str, stamp: str, cache_dir: str) -> pd.DataFrame:
    key = hashlib.sha256((stamp + "\n" + sql).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = check_oracle.normalize(con.execute(sql).df())
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def warm(sf_dir: str, sql_by_name: dict, stamp: str, cache_dir: str) -> None:
    """Compute and cache the oracle side of every named SQL."""
    con = connect(sf_dir)
    for sql in sql_by_name.values():
        oracle_frame(con, sql, stamp, cache_dir)
    con.close()


def check_all(sf_dir: str, entries: list, stamp: str, cache_dir: str) -> list:
    """One {"name", "ok", "info"} per entry ({"name", "sql", "out"})."""
    if not entries:
        return []
    con = connect(sf_dir)
    results = []
    for e in entries:
        try:
            o = oracle_frame(con, e["sql"], stamp, cache_dir)
            s = check_oracle.normalize(pd.read_parquet(e["out"]))
            if list(o.columns) != list(s.columns):
                info = f"columns oracle={list(o.columns)} spark={list(s.columns)}"
            elif len(o) != len(s):
                info = f"rows oracle={len(o)} spark={len(s)}"
            else:
                bad = [(c,) + r for c in o.columns if (r := check_oracle.compare_col(o[c], s[c], True)) is not None]
                info = str(bad) if bad else ""
        except Exception as ex:  # noqa: BLE001 - any failure is a failed check
            info = f"error: {ex}"
        results.append({"name": f"oracle.{e['name']}", "ok": info == "", "info": info})
    con.close()
    return results
