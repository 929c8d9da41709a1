"""Same-session A/B for the r10 simhash packed-accumulator change:
arm 'new' = shipped simhash (30 dual-field packed sums), arm 'old' =
the r09 shape (60 per-bit sums), reconstructed inline and swapped in
via monkeypatch so both arms run the full dedup_simhash query
(simhash_pairs at max_hamming=16, the registry query). Interleaved,
min-of-3 per arm.

Usage: python tools/simhash_ab.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sys.path.insert(0, os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    from piglet_spark.datapipe import dedup
    from piglet_spark.datapipe.dedup import (_SIMHASH_BITS, _spread,
                                             token_hash60, tokens_of)

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "4g")
             .appName("simhash-ab").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    def old_simhash(df, text_col="text", id_col="doc_id"):
        base = _spread(df, id_col).select(
            F.col(id_col).alias("_id"),
            tokens_of(F.col(text_col)).alias("_tk"))
        expl = (base.select("_id", F.explode_outer("_tk").alias("_t"))
                .select("_id", token_hash60(F.col("_t")).alias("_h")))
        h = F.col("_h")
        aggs = [
            F.sum(F.shiftright(h, b).bitwiseAND(F.lit(1))).alias(f"_s{b}")
            for b in range(_SIMHASH_BITS)
        ] + [F.count(h).alias("_n")]
        fold = None
        for b in range(_SIMHASH_BITS):
            term = F.when(2 * F.col(f"_s{b}") > F.col("_n"),
                          F.lit(1 << b).cast("long")).otherwise(
                              F.lit(0).cast("long"))
            fold = term if fold is None else fold + term
        return (expl.groupBy("_id").agg(*aggs)
                .select(F.col("_id").alias(id_col), fold.alias("simhash")))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new_simhash = dedup.simhash

    def force(df):
        cols = [F.col(f.name) for f in df.schema.fields]
        df.agg(F.count(F.lit(1)), F.max(F.xxhash64(*cols))).collect()

    def run(sig_fn):
        dedup.simhash = sig_fn
        try:
            force(dedup.simhash_pairs(docs, max_hamming=16))
        finally:
            dedup.simhash = new_simhash

    for fn in (new_simhash, old_simhash):     # warm-up, untimed
        run(fn)
    best: dict[str, float] = {}
    for _ in range(3):
        for name, fn in (("new", new_simhash), ("old", old_simhash)):
            t0 = time.perf_counter()
            run(fn)
            dt = time.perf_counter() - t0
            if name not in best or dt < best[name]:
                best[name] = dt
    print(f"dedup_simhash  new={best['new']:.2f}s old={best['old']:.2f}s "
          f"ratio old/new={best['old'] / best['new']:.2f}", flush=True)


if __name__ == "__main__":
    main()
