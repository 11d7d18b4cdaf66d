#!/usr/bin/env python3
"""Derive the benchmark's expected outputs.

    python3 perfbench/make_fingerprints.py

Runs each suite query's `SparkEntry.oracleSql` on DuckDB over the fixtures
in perfbench/fixtures and writes perfbench/fingerprints.tsv (query, rows,
hash), which the benchmark checks every suite output against. Then publishes
the market store from the same fixtures and writes
perfbench/store_fingerprints.tsv (table, rows, Spark-side xxhash64 sum),
which every api_mix run checks the store it publishes against. Re-run it
only when a suite oracle, the market derivation or the fixtures change on
purpose.

The fingerprint is the rule of perfbench/src/main/scala/perfbench/
Fingerprint.scala: columns in case-insensitive name order, one canonical text
per value (doubles as IEEE-754 bits), an MD5 per row, and the wrapping
64-bit sum of the rows' first eight digest bytes.
"""
import datetime as dt
import hashlib
import json
import math
import os
import shutil
import struct
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def render(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return struct.pack(">d", 0.0 if v == 0.0 else v).hex()
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return v
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(render(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    return str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    total = 0
    for r in rows:
        digest = hashlib.md5("\x1f".join(render(r[i]) for i in order).encode()).digest()
        total = (total + int.from_bytes(digest[:8], "big")) % (1 << 64)
    return len(rows), f"{total:016x}"


def main():
    cp, data = run.prepare(), run.FIXTURES
    tmp = os.path.join(run.WORK, "tmp", "fingerprints")
    sql_file = os.path.join(tmp, "oracle_sql.json")
    run.java(cp, tmp, ["oracle-sql", "--out", sql_file], 300,
             os.path.join(run.WORK, "oracle.log"))
    with open(sql_file) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(data, t + '.parquet')}')")
    out = ["# query\trows\thash — DuckDB " + duckdb.__version__ +
           " over " + os.path.relpath(data, run.ROOT)]
    for q in sorted(oracle):
        rel = con.sql(oracle[q])
        n, h = fingerprint(rel.columns, rel.fetchall())
        out.append(f"{q}\t{n}\t{h}")
        print(q, n, h, file=sys.stderr)
    with open(os.path.join(run.BENCH, "fingerprints.tsv"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    run.java(cp, tmp, ["store-fingerprints", "--fixtures", data, "--work", tmp,
                       "--out", os.path.join(run.BENCH, "store_fingerprints.tsv")],
             300, os.path.join(run.WORK, "store_fingerprints.log"))
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
