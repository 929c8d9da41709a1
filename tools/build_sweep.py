"""Plan-BUILD vs EXECUTE split per bench query (guide §1 applied to
the driver): `build` times fn(spark, sf_dir) — Python Column
construction, py4j round-trips and eager analysis — by building the
query twice and timing the second build (the first pays one-time
imports/fixture setup); `exec` times the bench's forcing aggregate on
the pre-built DataFrame. Queries where build ~ exec are bottlenecked
on the DRIVER, not the cluster: the fix is fewer py4j calls (SQL
string exprs, cached parquet handles), not a better plan.

Usage: python tools/build_sweep.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])
    sys.path.insert(0, os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "8g")
             .appName("build-sweep").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    def force(df):
        cols = []
        for f_ in df.schema.fields:
            c = F.col(f_.name)
            if f_.dataType.typeName() == "map":
                c = c.cast("string")
            cols.append(c)
        df.agg(F.count(F.lit(1)), F.max(F.xxhash64(*cols))).collect()

    qs = entrymod.queries()
    rows = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)       # warm build (imports, fixtures)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)       # timed build
            df.schema                    # force analysis
            t1 = time.perf_counter()
            force(df)                    # timed execution
            t2 = time.perf_counter()
            rows.append((name, t1 - t0, t2 - t1))
            print(f"{name:32s} build={t1 - t0:6.2f}s exec={t2 - t1:6.2f}s",
                  flush=True)
        except Exception as e:  # noqa: BLE001
            print(f"{name:32s} ERR {type(e).__name__}: {e}", flush=True)
    tb = sum(r[1] for r in rows)
    te = sum(r[2] for r in rows)
    print(f"{'TOTAL':32s} build={tb:6.2f}s exec={te:6.2f}s "
          f"({len(rows)} queries)")


if __name__ == "__main__":
    main()
