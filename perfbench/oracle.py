"""Checks the query slice's results against DuckDB.

The benchmark JVM writes `slice_results.json`: per query, the rows of
its first pass, the column names, and the query's oracle statement
from SparkEntry.oracleSql. Here the oracle SQL runs in DuckDB over the
same generated tables; both sides are compared on row count and on an
order-insensitive checksum of the rows (columns in name order, floats
rounded to 9 significant digits).
"""
import hashlib
import json

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem", "documents"]


def _cell(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "null" if v != v else f"{v:.9g}"
    return str(v)


def checksum(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    return len(lines), hashlib.sha256("\x1e".join(lines).encode()).hexdigest()


def compare(results_file: str, sf_dir: str):
    """[(query, ok, detail)] for every query of the slice."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(results_file) as f:
        results = json.load(f)
    out = []
    for name, r in sorted(results.items()):
        try:
            rel = con.sql(r["sql"])
            want = checksum(rel.columns, rel.fetchall())
            got = checksum(r["columns"], r["rows"])
            out.append((name, got == want,
                        f"spark {got[0]} rows {got[1][:12]} / duckdb {want[0]} rows {want[1][:12]}"))
        except Exception as e:  # a harness error is a failed check, never a pass
            out.append((name, False, f"check error: {e}"))
    return out
