"""Spark-vs-DuckDB output DTYPE parity for every declared query.

The driver's correctness hash is computed over typed values; a DuckDB
column whose type differs from Spark's (HUGEINT from SUM(int) being
the classic: pandas renders it float64) fails the hash even when every
value compares equal. This sweep compares the pandas dtypes of both
sides for every registry query so oracle SQL can pin casts.

Usage: python tools/check_type_parity.py [sf_dir]
"""
from __future__ import annotations

import os
import sys

import duckdb
from pyspark.sql import SparkSession

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.path.insert(0, os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "4g")
             .appName("type-parity").getOrCreate())
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = entrymod.queries()
    try:
        oracles = entrymod.oracle_sql(sf_dir)
    except TypeError:
        oracles = entrymod.oracle_sql()

    bad = []
    for name, fn in qs.items():
        if name not in oracles:
            continue
        try:
            sdt = dict(fn(spark, sf_dir).dtypes)  # spark simpleString types
            rel = con.sql(oracles[name])
            ddt = {c: str(t) for c, t in zip(rel.columns, rel.types)}
        except Exception as e:
            print(f"ERR   {name}: {type(e).__name__}: {e}")
            bad.append(name)
            continue
        # canonical mapping spark-simple -> duckdb
        canon = {"bigint": "BIGINT", "int": "INTEGER", "smallint": "SMALLINT",
                 "tinyint": "TINYINT", "double": "DOUBLE", "float": "FLOAT",
                 "string": "VARCHAR", "date": "DATE", "boolean": "BOOLEAN",
                 "timestamp": "TIMESTAMP", "binary": "BLOB"}
        probs = []
        for c, st in sdt.items():
            dt = ddt.get(c) or ddt.get(c.lower()) or ddt.get(c.upper())
            if dt is None:
                probs.append(f"{c}: missing on duckdb side")
                continue
            if st.startswith("array<"):
                inner = st[6:-1]
                want = canon.get(inner, inner.upper()) + "[]"
                if dt != want:
                    probs.append(f"{c}: spark {st} vs duckdb {dt}")
                continue
            want = canon.get(st)
            if want is None:
                probs.append(f"{c}: unmapped spark type {st} (duckdb {dt})")
            elif dt != want:
                probs.append(f"{c}: spark {st} vs duckdb {dt}")
        if probs:
            bad.append(name)
            print(f"TYPE  {name}: {'; '.join(probs)}")
    print()
    print("type-skewed queries:", bad if bad else "none")


if __name__ == "__main__":
    main()
