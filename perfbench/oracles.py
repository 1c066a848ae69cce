#!/usr/bin/env python3
"""DuckDB expectations of the gates the benchmark runs, cached per
(input, SQL).

An expectation is the result of a gate's `SparkEntry.oracleSql` in DuckDB
over the benchmark's fixed tables (`perfbench/data`), stored in the
canonical form of tools/oracle_check.py: columns sorted by name, floats
rounded to 9 places, rows sorted, every value as a string. It depends only
on the tables and the SQL, so the cache key is a digest of both; a run that
meets a missing key computes that expectation and stores it.

Usage: python3 perfbench/oracles.py
  Computes every expectation anew (the SQL is read from the compiled
  program) and removes cache files no gate refers to any more.
"""
import glob
import gzip
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
CACHE = os.path.join(HERE, "oracle")
sys.path.insert(0, os.path.join(ROOT, "tools"))


def input_digest(data_dir=DATA):
    h = hashlib.sha256()
    for f in sorted(glob.glob(f"{data_dir}/*.parquet")):
        h.update(os.path.basename(f).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def cache_path(gate, sql, digest):
    key = hashlib.sha256((digest + "\0" + sql).encode()).hexdigest()[:16]
    return os.path.join(CACHE, f"{gate}-{key}.json.gz")


def compute(sql, data_dir, tmp_dir):
    import duckdb
    from oracle_check import TABLES, canon
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    df = canon(con.sql(sql).df())
    con.close()
    return {"columns": list(df.columns), "dtypes": [str(t) for t in df.dtypes],
            "rows": df.astype(str).values.tolist()}


def expectations(sqls, tmp_dir, data_dir=DATA, fresh=False):
    """{gate: expectation} for {gate: sql}, from the cache where present."""
    digest = input_digest(data_dir)
    out = {}
    for gate, sql in sorted(sqls.items()):
        if not sql:
            raise SystemExit(f"gate {gate} has no oracle SQL")
        path = cache_path(gate, sql, digest)
        if os.path.exists(path) and not fresh:
            with gzip.open(path, "rt") as fh:
                out[gate] = json.load(fh)
            continue
        out[gate] = compute(sql, data_dir, tmp_dir)
        os.makedirs(CACHE, exist_ok=True)
        with open(path, "wb") as fh:  # mtime=0: the same expectation, the same bytes
            fh.write(gzip.compress(json.dumps(out[gate]).encode(), mtime=0))
    return out


def main():
    import run
    from inputs import GATES
    run.build()
    work = run.workdir("oracles")
    try:
        sqls = run.oracle_sql(GATES, work)
        expectations(sqls, work, fresh=True)
        digest = input_digest()
        keep = {cache_path(g, s, digest) for g, s in sqls.items()}
        for f in glob.glob(os.path.join(CACHE, "*.json.gz")):
            if f not in keep:
                os.remove(f)
        print(f"{len(keep)} expectations in {CACHE}")
    finally:
        run.rmtree(work)


if __name__ == "__main__":
    main()
