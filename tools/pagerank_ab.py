"""Same-session A/B of pagerank's edge persistence (r09): identical
graph, identical session, persist_edges=False vs True, JIT warm-up
first — the same protocol bench.py uses, so the delta is the persist
and not host drift. Usage:

    python tools/pagerank_ab.py [sf_dir] [iters]

Prints one JSON line {"sf_dir", "iters", "edges", "no_persist_sec",
"persist_sec", "speedup"}.
"""

import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scaledata/sf10"
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from piglet_spark.datapipe import graph as dp_graph

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = (SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("pagerank-ab").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    def edges_of(d):
        li = spark.read.parquet(f"{d}/lineitem.parquet")
        o = spark.read.parquet(f"{d}/orders.parquet")
        # same construction as __spark_entry__.q_pagerank (string
        # ids prefixed s/c into one node space)
        return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
                .select(F.concat(F.lit("s"),
                                 F.col("l_suppkey").cast("string"))
                        .alias("src"),
                        F.concat(F.lit("c"),
                                 F.col("o_custkey").cast("string"))
                        .alias("dst")))

    def run(d, persist):
        t0 = time.perf_counter()
        out = dp_graph.pagerank(edges_of(d), iters=iters,
                                persist_edges=persist)
        n = out.agg(F.count(F.lit(1)),
                    F.max(F.xxhash64("node", "pagerank"))).collect()[0][0]
        return time.perf_counter() - t0, n

    # warm-up at tiny scale (codegen/JIT), untimed
    run("/root/testdata/sf0.001", False)
    run("/root/testdata/sf0.001", True)
    n_edges = edges_of(sf_dir).count()
    times = {}
    for persist in (False, True):
        spark.sparkContext._jvm.System.gc()
        best = None
        for _ in range(2):
            t, _n = run(sf_dir, persist)
            best = t if best is None else min(best, t)
        times[persist] = round(best, 3)
    print(json.dumps({
        "sf_dir": sf_dir, "iters": iters, "edges": n_edges,
        "no_persist_sec": times[False], "persist_sec": times[True],
        "speedup": round(times[False] / times[True], 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
