"""Dump .explain("formatted") for registry queries to files.

Usage: python tools/dump_plans.py <out_dir> <suffix> [sf_dir] [query ...]

Writes <out_dir>/<query>_<suffix>.txt for each query (default: every
registry query): the formatted physical plan with its session-numbered
ids renumbered in order of first appearance. Spark numbers expression
ids (``#123``, ``#45L``), exchange ``plan_id``s and scanned RDDs
(``MapPartitionsRDD[23]``) per session, so two raw dumps of the same
plan differ everywhere; renumbered, ``diff -r`` of two checkouts'
dumps (same suffix) shows only real plan changes, while distinct
attributes keep distinct ids (``_id#3`` vs ``_id#9`` on the two sides
of a join) as in the raw plan.
"""

from __future__ import annotations

import os
import re
import sys

from pyspark.sql import SparkSession

_IDS = (re.compile(r"(#)(\d+)(?=L?\b)"), re.compile(r"(plan_id=)(\d+)"),
        re.compile(r"(RDD\[)(\d+)(?=\])"))


def normalize(plan: str) -> str:
    """``plan`` with each id namespace renumbered 1, 2, … in order of
    first appearance."""
    for pat in _IDS:
        seen: dict[str, int] = {}
        plan = pat.sub(lambda m: m.group(1) + str(
            seen.setdefault(m.group(2), len(seen) + 1)), plan)
    return plan


def main():
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    only = set(sys.argv[4:])
    os.makedirs(out_dir, exist_ok=True)

    # import from THIS tool's own tree — a worktree copy must dump
    # its own code's plans, not /root/repo's (r11 before-plans bug)
    sys.path.insert(0, os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions",
                     str(max(int(cpus), 8)))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled",
                     "true")
             .config("spark.driver.memory", "4g")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .appName("plan-dump").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:
            plan = f"ERROR building plan: {type(e).__name__}: {e}\n"
        with open(path, "w") as fh:
            fh.write(normalize(plan))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
