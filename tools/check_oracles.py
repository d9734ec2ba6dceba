"""Local replica of the driver's correctness gate: run each __spark_entry__
query on Spark and its oracle on DuckDB over the same sf dir, compare row
count, column names, and an order-insensitive value hash."""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

import __spark_entry__ as entrymod
from readability_spark.spark.session import get_spark

TABLES = ["documents"]


def norm_cell(v):
    if v is None:
        return ""
    if isinstance(v, float):
        if v != v:
            return "nan"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(row[i]) for i in order) for row in rows
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main(sf_dir="/root/testdata/sf0.01", only=None):
    spark = get_spark(app_name="oracle-check", master="local[8]")
    con = duckdb_views(sf_dir)
    failures = []
    for name in entrymod.queries():
        if only and name not in only:
            continue
        ok, srows, scols, orows, ocols = compare(spark, con, name, sf_dir)
        sh, oh = table_hash(srows, scols), table_hash(orows, ocols)
        status = "OK " if ok else "FAIL"
        print(f"{name:28s} {status} spark={len(srows):6d} duck={len(orows):6d} hash {sh} vs {oh}")
        if not ok:
            failures.append(name)
            if sorted(scols) != sorted(ocols):
                print(f"  cols: spark={scols} duck={ocols}")
            else:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in srows)
                oset = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in orows)
                for a, b in zip(sset, oset):
                    if a != b:
                        print(f"  spark: {a[:200]}\n  duck : {b[:200]}")
                        break
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all oracle checks passed")



def duckdb_views(sf_dir):
    """DuckDB connection with one view per ``TABLES`` parquet in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare(spark, con, name, sf_dir):
    """Run entry ``name`` on Spark and its oracle on ``con``; returns
    (ok, spark rows, spark columns, duck rows, duck columns), where ok means
    equal row count, column names and value hash."""
    sdf = entrymod.queries()[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    orel = con.execute(entrymod.oracle_sql()[name])
    ocols = [d[0] for d in orel.description]
    orows = orel.fetchall()
    ok = (
        len(srows) == len(orows)
        and sorted(scols) == sorted(ocols)
        and table_hash(srows, scols) == table_hash(orows, ocols)
    )
    return ok, srows, scols, orows, ocols

if __name__ == "__main__":
    main(only=set(sys.argv[1:]) or None)
