"""Probe partition-order stability of float-emitting queries.

Runs the named queries repeatedly under different (master, shuffle
partitions) configs and compares the full float bit patterns across
runs, and against DuckDB. A query whose bits move between configs will
flip the driver's exact-hash gate even when one local run matches.

Usage: python tools/float_stability_probe.py [sf_dir] [query ...]
"""
from __future__ import annotations

import math
import os
import sys

import duckdb
from pyspark.sql import SparkSession

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

CONFIGS = [("local[8]", "8"), ("local[32]", "200"), ("local[32]", "200"),
           ("local[4]", "17"), ("local[16]", "64")]


def norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def main():
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    sys.path.insert(0, os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    try:
        oracles = entrymod.oracle_sql(sf_dir)
    except TypeError:
        oracles = entrymod.oracle_sql()

    duck = {}
    for name in names:
        rel = con.sql(oracles[name])
        cols = rel.columns
        idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
        duck[name] = sorted(tuple(norm(r[i]) for i in idx)
                            for r in rel.fetchall())

    results = {n: [] for n in names}
    for master, parts in CONFIGS:
        spark = (SparkSession.builder.master(master)
                 .config("spark.sql.shuffle.partitions", parts)
                 .config("spark.ui.enabled", "false")
                 .config("spark.ui.showConsoleProgress", "false")
                 .config("spark.driver.memory", "8g")
                 .appName(f"probe-{master}-{parts}").getOrCreate())
        qs = entrymod.queries()
        for name in names:
            df = qs[name](spark, sf_dir)
            cols = df.columns
            idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
            rows = sorted(tuple(norm(r[i]) for i in idx)
                          for r in df.collect())
            results[name].append(((master, parts), rows))
        spark.stop()

    bad = []
    for name in names:
        ref = results[name][0][1]
        stable = all(r == ref for _, r in results[name])
        vs_duck = ref == duck[name]
        print(f"{name}: stable_across_configs={stable} "
              f"matches_duckdb={vs_duck}")
        if not stable:
            for cfg, rows in results[name][1:]:
                if rows != ref:
                    diffs = [(a, b) for a, b in zip(ref, rows) if a != b]
                    print(f"  cfg {cfg}: {len(diffs)} differing rows; "
                          f"first: {diffs[:2]}")
        if not vs_duck:
            diffs = [(a, b) for a, b in zip(ref, duck[name]) if a != b]
            print(f"  vs duckdb: {len(diffs)} differing rows; "
                  f"first: {diffs[:2]}")
        if not (stable and vs_duck):
            bad.append(name)
    print()
    print("UNSTABLE/MISMATCH:", bad if bad else "none")


if __name__ == "__main__":
    main()
