"""Local stand-in for the driver's t2 correctness gate.

Runs every entry in ``__spark_entry__.queries()`` at sf0.01, runs the
matching ``oracle_sql()`` in DuckDB over the same parquet tables, and
compares row count, column names, and (column-name-sorted, row-sorted)
values — mirroring the driver's row-count + schema + value-hash check.

Usage: python scripts/verify_entry.py [name_filter ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01")


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 vs 0.0 and represent consistently
        if v == 0:
            return "0.0"
        return repr(float(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out), [cols[i] for i in order]


def oracle_db():
    """A DuckDB connection with one view per test table under ``SF_DIR``."""
    con = duckdb.connect()
    for tb in TABLES:
        con.execute(f"CREATE VIEW {tb} AS SELECT * FROM '{SF_DIR}/{tb}.parquet'")
    return con


def check_entry(spark, con, fn, oracle: str | None):
    """Run one entry ``fn(spark, SF_DIR)`` and its ``oracle`` SQL on
    ``con``; compare row count, column names and canonical values.

    Returns ``(status, detail)``: status is ``PASS``, ``weak`` (no
    oracle, rows only) or ``FAIL``."""
    try:
        sdf = fn(spark, SF_DIR)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:
        return "FAIL", f"spark error: {type(exc).__name__}: {exc}"
    if oracle is None:
        return "weak", f"rows={len(srows)} (no oracle)"
    try:
        cur = con.execute(oracle)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
    except Exception as exc:
        return "FAIL", f"oracle error: {exc}"
    s_canon, s_cols = canon(srows, scols)
    o_canon, o_cols = canon(orows, ocols)
    if s_cols != o_cols:
        return "FAIL", f"schema mismatch spark={s_cols} oracle={o_cols}"
    if len(s_canon) != len(o_canon):
        return "FAIL", f"row count spark={len(s_canon)} oracle={len(o_canon)}"
    if s_canon != o_canon:
        diffs = [(a, b) for a, b in zip(s_canon, o_canon) if a != b][:3]
        return "FAIL", "value mismatch; first diffs (spark vs oracle):" + "".join(
            f"\n      {a}\n   != {b}" for a, b in diffs
        )
    return "PASS", f"rows={len(s_canon)}"


def main():
    filters = sys.argv[1:]
    import __spark_entry__ as entry

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("verify_entry")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = oracle_db()
    oracles = entry.oracle_sql()
    counts = {"PASS": 0, "weak": 0, "FAIL": 0}
    failures = []
    for name, fn in entry.queries().items():
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        status, detail = check_entry(spark, con, fn, oracles.get(name))
        counts[status] += 1
        if status == "FAIL":
            failures.append(name)
        print(f"{status:<5} {name}: {detail} [{time.time() - t0:.1f}s]")

    print(
        f"\n== {counts['PASS']} pass, {counts['weak']} weak (rows-only), "
        f"{counts['FAIL']} fail" + (f": {failures}" if failures else "")
    )
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
