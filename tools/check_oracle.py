"""Local replica of the driver's correctness gate: run each
__spark_entry__ query on Spark AND its oracle SQL on DuckDB at the
given SF, compare row count + column names + order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
from pyspark.sql import SparkSession

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# STRICT=1 compares float bit patterns exactly (the driver hashes raw
# values, so a last-ulp difference the re-rounding below would absorb
# still fails the driver's gate).
STRICT = os.environ.get("STRICT", "") == "1"


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if STRICT:
            return v.hex()
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "4g")
             .appName("oracle-check").getOrCreate())
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    try:
        # sf-aware oracles (knn_join_lsh's adaptive plane count is a
        # function of the embeddings row count at THIS sf)
        oracles = entrymod.oracle_sql(sf_dir)
    except TypeError:
        oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            spark_rows = [tuple(norm(v) for v in r) for r in df.collect()]
            spark_cols = df.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spark_rows)} rows (no oracle)")
            continue
        try:
            rel = con.sql(oracles[name])
            duck_cols = rel.columns
            duck_rows = [tuple(norm(v) for v in r) for r in rel.fetchall()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = []
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount {len(spark_rows)} vs {len(duck_rows)}")
        if sorted(c.lower() for c in spark_cols) != sorted(
                c.lower() for c in duck_cols):
            problems.append(f"columns {spark_cols} vs {duck_cols}")
        else:
            # driver sorts columns by name before hashing
            s_idx = sorted(range(len(spark_cols)),
                           key=lambda i: spark_cols[i].lower())
            d_idx = sorted(range(len(duck_cols)),
                           key=lambda i: duck_cols[i].lower())
            s_vals = sorted(tuple(r[i] for i in s_idx) for r in spark_rows)
            d_vals = sorted(tuple(r[i] for i in d_idx) for r in duck_rows)
            if s_vals != d_vals:
                diff = [(a, b) for a, b in zip(s_vals, d_vals) if a != b][:3]
                problems.append(f"values differ, first: {diff}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(spark_rows)} rows")
    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
