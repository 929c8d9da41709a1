"""ANN recall@k evidence: mean recall of the approximate similarity
paths (hyperplane multi-probe LSH, trained IVF) against exact
brute-force cosine over a panel of query vectors, at a given SF.

The oracle gate proves the ANN queries are DETERMINISTIC; this tool
measures whether their parameter defaults are any GOOD at realistic
density (VERDICT r05 item 5) — results recorded in SCALE.md.

Usage: python tools/ann_recall.py [sf_dir] [n_queries] [k]
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_q = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    sys.path.insert(0, os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    from piglet_spark.datapipe import similarity as sim

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.ui.enabled", "false")
             .appName("ann_recall").getOrCreate())
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .localCheckpoint()  # pin: many scans below
    n_rows = emb.count()

    # hash-spread query panel (not first-N: ids correlate with the
    # generator's cluster structure) — same md5 idiom as IVF training
    qids = [r["vec_id"] for r in
            emb.select("vec_id")
               .orderBy(F.md5(F.col("vec_id").cast("string")))
               .limit(n_q).collect()]
    qvecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id").isin(qids)).collect()}

    variants = {
        "lsh_p4 (default)": lambda q: sim.ann_lsh_topk(emb, q, k),
        "lsh_p6": lambda q: sim.ann_lsh_topk(emb, q, k, n_planes=6),
        "ivf_c16_p4 (default)": lambda q: sim.ivf_topk(emb, q, k),
        "ivf_c16_p2": lambda q: sim.ivf_topk(emb, q, k, n_probe=2),
        "ivf_c16_p8": lambda q: sim.ivf_topk(emb, q, k, n_probe=8),
    }
    recalls = {v: [] for v in variants}
    times = {v: 0.0 for v in variants}
    t_exact = 0.0
    for qid in qids:
        q = qvecs[qid]
        t = time.time()
        exact = {r["vec_id"] for r in sim.cosine_topk(emb, q, k).collect()}
        t_exact += time.time() - t
        for name, fn in variants.items():
            t = time.time()
            approx = {r["vec_id"] for r in fn(q).collect()}
            times[name] += time.time() - t
            recalls[name].append(len(exact & approx) / k)

    print(f"# {sf_dir}  rows={n_rows}  queries={n_q}  k={k}")
    print(f"# exact brute-force: {t_exact / n_q:.3f} s/query")
    print(f"{'variant':24} {'recall@%d' % k:>10} {'min':>6} "
          f"{'s/query':>8} {'vs exact':>8}")
    for name in variants:
        rs = recalls[name]
        mean = sum(rs) / len(rs)
        tq = times[name] / n_q
        print(f"{name:24} {mean:10.3f} {min(rs):6.2f} {tq:8.3f} "
              f"{tq / (t_exact / n_q):7.2f}x")


if __name__ == "__main__":
    main()
