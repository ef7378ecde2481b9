"""Output checks for the batch workloads: each query's rows against its
DuckDB oracle (`SparkEntry.oracleSql`), compared the way
`scripts/compare_dumps.py` does it: columns sorted by name, each cell
canonicalised, rows sorted, sha256 over the lines."""
import glob
import hashlib
import os
import re
import threading
import time

import duckdb
import pandas as pd

KIND = {"int8": "i", "int16": "i", "int32": "i", "int64": "i",
        "uint8": "i", "uint16": "i", "uint32": "i", "uint64": "i",
        "float32": "f", "float64": "f", "bool": "b", "boolean": "b",
        "object": "o"}


def canon(v):
    if v is None or v != v:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def digest(df):
    """Row count, sorted column names, dtype kinds and sha256 of a frame."""
    cols = sorted(df.columns)
    h = hashlib.sha256()
    for ln in sorted("|".join(canon(v) for v in r)
                     for r in df[cols].itertuples(index=False, name=None)):
        h.update(ln.encode())
        h.update(b"\n")
    kinds = []
    for c in cols:
        d = str(df[c].dtype)
        kinds.append("t" if d.startswith("datetime") else KIND.get(d, d))
    return {"rows": len(df), "cols": cols, "kinds": kinds, "sha": h.hexdigest()}


def materialized(sql):
    """The same query with every CTE marked MATERIALIZED. DuckDB 1.0
    inlines CTEs, and an oracle whose CTE chain references each step
    twice grows exponentially when inlined (and cannot be interrupted
    while it plans); materialising evaluates each step once and gives
    the same rows."""
    return re.sub(r"\b(\w+) AS \((?=\s*SELECT)", r"\1 AS MATERIALIZED (", sql,
                  flags=re.I)


def oracle_digests(tables_dir, oracles, limit_s=300.0):
    """Run each oracle SQL in DuckDB over the parquet tables, with its
    CTEs materialised; an oracle whose materialised form does not bind
    runs as written. A query that errors or outlives `limit_s` gets an
    `error` entry."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

    def run(sql):
        timer = threading.Timer(limit_s, con.interrupt)
        timer.start()
        try:
            return con.execute(sql).fetchdf()
        finally:
            timer.cancel()

    out = {}
    for name, sql in sorted(oracles.items()):
        t0 = time.time()
        try:
            try:
                df = run(materialized(sql))
            except duckdb.BinderException:
                df = run(sql)
            out[name] = digest(df)
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            out[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
        out[name]["oracle_s"] = round(time.time() - t0, 3)
    return out


def spark_digest(qdir):
    files = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
    if not files:
        return None
    return digest(pd.concat([pd.read_parquet(f) for f in files],
                            ignore_index=True))


def compare(spark, oracle):
    """None when the Spark digest matches the oracle's, else why not."""
    if oracle is None:
        return "no oracle"
    if "error" in oracle:
        return "oracle " + oracle["error"]
    if spark is None:
        return "no spark output"
    for k in ("cols", "rows", "kinds", "sha"):
        if spark[k] != oracle[k]:
            return f"{k} differ: spark={str(spark[k])[:80]} oracle={str(oracle[k])[:80]}"
    return None
