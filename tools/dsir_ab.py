"""Same-session A/B for the r10 dsir_weights single-tokenize change:
arm A = shipped dsir_weights (raw bucket relation pinned once), arm B =
the r09 shape (buckets_of(raw) recomputed for counts AND scoring),
reconstructed inline. Interleaved, min-of-3 per arm.

Usage: python tools/dsir_ab.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sys.path.insert(0, os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    from piglet_spark.datapipe import pack as dp_pack
    from piglet_spark.datapipe.text import normalize_text
    from piglet_spark.datapipe.pack import _hash32

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "4g")
             .appName("dsir-ab").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    def old_dsir_weights(raw, target, text_col="text", id_col="doc_id",
                         n_buckets=4096, alpha=1.0):
        """r09 shape: tokenize raw twice (counts + scoring)."""
        def buckets_of(d):
            tok = F.explode(F.split(normalize_text(F.col(text_col)),
                                    " ")).alias("_tok")
            return (d.select(F.col(id_col).alias("_id"), tok)
                    .filter(F.col("_tok") != "")
                    .withColumn("_b", _hash32(F.col("_tok")) % n_buckets))

        def probs(d, name):
            cnt = (buckets_of(d).groupBy("_b")
                   .agg(F.count(F.lit(1)).alias("_n")).localCheckpoint())
            tot = cnt.agg(F.sum("_n")).collect()[0][0] or 0
            p = cnt.select("_b", ((F.col("_n") + F.lit(alpha))
                                  / F.lit(float(tot + alpha * n_buckets))
                                  ).alias(name))
            return p, tot

        pt, t_tot = probs(target, "_pt")
        pr, r_tot = probs(raw, "_pr")
        t_fb = alpha / (t_tot + alpha * n_buckets)
        r_fb = alpha / (r_tot + alpha * n_buckets)
        ratio = (pt.join(pr, on="_b", how="full_outer")
                 .select("_b", F.log(
                     F.coalesce(F.col("_pt"), F.lit(t_fb))
                     / F.coalesce(F.col("_pr"), F.lit(r_fb))).alias("_lr")))
        scored = (buckets_of(raw)
                  .join(F.broadcast(ratio), on="_b", how="left")
                  .groupBy("_id")
                  .agg(F.count(F.lit(1)).alias("n_feat"),
                       F.round(F.sum("_lr"), 6).alias("dsir_logw")))
        all_ids = raw.select(F.col(id_col).alias("_id")).distinct()
        return (all_ids.join(scored, on="_id", how="left")
                .select(F.col("_id").alias(id_col),
                        F.coalesce(F.col("n_feat"), F.lit(0)).alias("n_feat"),
                        F.coalesce(F.col("dsir_logw"),
                                   F.lit(0.0)).alias("dsir_logw")))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the registry query's split (q_dsir_weights): target = src0
    target = docs.filter(F.col("source") == "src0")
    raw = docs.filter(F.col("source") != "src0")

    def force(df):
        cols = [F.col(f.name) for f in df.schema.fields]
        df.agg(F.count(F.lit(1)), F.max(F.xxhash64(*cols))).collect()

    arms = {"new": lambda: dp_pack.dsir_weights(raw, target, n_buckets=64),
            "old": lambda: old_dsir_weights(raw, target, n_buckets=64)}
    for fn in arms.values():          # warm-up, untimed
        force(fn())
    best: dict[str, float] = {}
    for _ in range(3):
        for name, fn in arms.items():
            t0 = time.perf_counter()
            force(fn())
            dt = time.perf_counter() - t0
            if name not in best or dt < best[name]:
                best[name] = dt
    print(f"dsir_weights  new={best['new']:.2f}s old={best['old']:.2f}s "
          f"ratio old/new={best['old'] / best['new']:.2f}", flush=True)


if __name__ == "__main__":
    main()
