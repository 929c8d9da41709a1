"""Same-session A/B for the shared-alias localCheckpoint (r10):
times each multi-consumer TPC-H shape with the default checkpoint
path vs options={"auto_cache": False} (lazy recompute per consumer),
interleaved, min-of-2 per arm — the pagerank_ab.py protocol.

Usage: python tools/ckpt_ab.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

QUERIES = ["q2_min_bal_supplier", "q11_important_parts",
           "q15_top_supplier", "q21_waiting_suppliers",
           "q14_promo_revenue"]


def force(df):
    cols = [F.col(f.name).cast("string") if "map" in
            f.dataType.simpleString() else F.col(f.name)
            for f in df.schema.fields]
    df.agg(F.count(F.lit(1)), F.max(F.xxhash64(*cols))).collect()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf1"
    only = sys.argv[2:] or QUERIES
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import re

    import __spark_entry__ as entrymod
    import piglet_spark as pg

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
             .config("spark.driver.memory", "8g")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .appName("ckpt-ab").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    src = open(os.path.join(root, "__spark_entry__.py")).read()
    const_of = dict(re.findall(r'"(\w+)":\s*_pig\((\w+),\s*"\w+"\)', src))
    result_of = dict(re.findall(r'"(\w+)":\s*_pig\(\w+,\s*"(\w+)"\)', src))

    def run(qname, opts):
        script = getattr(entrymod, const_of[qname])
        eng = pg.PigEngine(spark, params={"sf": sf_dir}, options=opts)
        eng.run(script)
        force(eng.df(result_of[qname]))

    for q in only:
        for opts, label in (({}, "warm"),):
            run(q, opts)  # codegen warm-up, untimed
        best = {"ckpt": None, "lazy": None}
        for _ in range(2):
            for opts, arm in (({}, "ckpt"), ({"auto_cache": False}, "lazy")):
                t0 = time.perf_counter()
                run(q, opts)
                dt = time.perf_counter() - t0
                if best[arm] is None or dt < best[arm]:
                    best[arm] = dt
        print(f"{q:28s} ckpt={best['ckpt']:.2f}s lazy={best['lazy']:.2f}s "
              f"ratio lazy/ckpt={best['lazy'] / best['ckpt']:.2f}",
              flush=True)


if __name__ == "__main__":
    main()
