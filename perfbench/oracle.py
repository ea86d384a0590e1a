#!/usr/bin/env python3
"""Oracle-results command for the surface workloads.

Runs each named query's `SparkEntry.oracleSql` statement in DuckDB over the
generated tables and writes the canonical result rows, which the benchmark
compares with the rows each timed query materializes.

Canonical form (mirrored cell for cell by perfbench.Canon on the JVM side):
columns are ordered by name; a float or decimal cell is its exact value
rounded to 12 significant digits, the tolerance tools/check_oracle.py
uses; a row is its cells joined by U+0001; the result is the sorted list of
its rows, so two results are equal when they hold the same rows the same
number of times.

The command makes the results anew for each input directory; it does not
read any result the program produced.

Usage: oracle.py --tables DIR --sql ORACLE_SQL_JSON --out FILE q1 [q2 ...]
(ORACLE_SQL_JSON is the file perfbench.OracleSql writes.)
"""
import argparse
import datetime
import decimal
import json
import math
import os
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SEP = "\u0001"
CTX = decimal.Context(prec=12, rounding=decimal.ROUND_HALF_EVEN)


def c12(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
    d = decimal.Decimal(v)
    if d == 0:
        return "0"
    return format(CTX.plus(d).normalize(), "f")


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return c12(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return s + (f".{v.microsecond:06d}" if v.microsecond else "")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(f"{k}: {cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    raise TypeError(f"no canonical form for {type(v).__name__}")


def canonical(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(SEP.join(cell(r[i]) for i in order) for r in rows))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--tables", required=True)
    ap.add_argument("--sql", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("queries", nargs="+")
    a = ap.parse_args()
    sql = json.load(open(a.sql))["sql"]
    con = duckdb.connect()
    con.sql("SET threads=2")
    con.sql("SET memory_limit='1GB'")
    for t in TABLES:
        p = os.path.join(a.tables, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for q in a.queries:
        t0 = time.time()
        rel = con.sql(sql[q])
        cols, rows = canonical([d[0] for d in rel.description], rel.fetchall())
        out[q] = {"cols": cols, "rows": rows, "oracle_s": round(time.time() - t0, 3)}
    tmp = a.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, a.out)


if __name__ == "__main__":
    main()
