"""Checks landed query results against their DuckDB oracle.

The JVM side lands each key's result as parquet and records the key's
oracle SQL (`SparkEntry.oracleSql`); this runs the oracle over the same
generated tables and compares the two as multisets of rows, with columns
matched by name and values compared exactly (an integral float equals the
integer of the same value).
"""
import datetime
import decimal
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        if v == int(v) and abs(v) < 2 ** 53:
            return str(int(v))
        return repr(float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return repr(v)


def rows(cur):
    """Columns sorted by name and rows rendered and sorted."""
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return ([names[i] for i in order],
            sorted(tuple(cell(r[i]) for i in order) for r in cur.fetchall()))


def failed_ops(outputs, data):
    """Ids of the operations whose landed result differs from its oracle."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        if glob.glob(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    want = {}
    failed = set()
    for o in outputs:
        key = o["key"]
        if key not in want:
            want[key] = rows(con.execute(o["sql"]))
        got = rows(con.execute(f"SELECT * FROM read_parquet('{o['path']}/*.parquet')"))
        if got != want[key]:
            failed.add(o["op"])
    return failed
