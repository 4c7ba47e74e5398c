"""Output checks for the query workloads against their DuckDB oracles.

Each query's result (written as parquet by the verification pass) and its
`SparkEntry.oracleSql` result, run in DuckDB over the same tables, are
reduced to a digest of their canonical form. The table list and the value
canonicalization are imported from the repository's gate, `dev/compare.py`,
so the two cannot drift: columns sorted by name, rows in order, floats at
6 decimal places, NaN and NULL spelled out.

An oracle's digest depends only on its SQL and the table files, so it is
kept under `cache_dir`, keyed by both, and computed once per checkout: the
DuckDB side of the three `curation` oracles takes about 5 s, a tenth of a
run. The engine's side is digested afresh in every run.
"""
import hashlib
import json
import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..", "dev"))
from compare import TABLES, canon  # noqa: E402


def digest(con, sql):
    """(row count, sha256) of a query's canonical result."""
    df = con.execute(sql).fetchdf()
    df = df[sorted(df.columns)]
    h = hashlib.sha256("\x1f".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update(b"\n" + "\x1f".join(canon(v) for v in row).encode())
    return len(df), h.hexdigest()


def tables_read(sql):
    """The tables an oracle query names, in TABLES order."""
    return [t for t in TABLES if re.search(rf"\b{t}\b", sql, re.IGNORECASE)]


def oracle_digest(con, data_dir, sql, cache_dir):
    """digest(con, sql), from the cache when this SQL over these table
    files has been digested before."""
    h = hashlib.sha256(sql.encode())
    for t in tables_read(sql):
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            h.update(t.encode() + hashlib.sha256(fh.read()).digest())
    path = os.path.join(cache_dir, h.hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            return tuple(json.load(fh))
    want = digest(con, sql)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(want, fh)
    os.replace(path + ".tmp", path)
    return want


def check(data_dir, verify_dir, names, cache_dir):
    """Compare each named query's dumped result with its oracle.
    Returns {name: None if equal, else the reason}."""
    with open(os.path.join(verify_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in names:
        sql = oracles.get(name)
        if sql is None:
            out[name] = "no oracle"
            continue
        path = os.path.join(verify_dir, name)
        if not os.path.isdir(path):
            out[name] = "no result written"
            continue
        try:
            want = oracle_digest(con, data_dir, sql, cache_dir)
            got = digest(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
        except duckdb.Error as e:
            out[name] = f"duckdb: {str(e)[:200]}"
            continue
        out[name] = None if got == want else f"(rows, digest) {got} != oracle {want}"
    return out
