"""One benchmark process: Spark set-up, verification, warm-up and the
timed rounds of one workload. Started by run.py, which passes the
monotonic clock reading taken just before it spawned this process, so
`setup_s` counts interpreter start-up too. Writes its result as JSON
to --out.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import proc  # noqa: E402

TRIVIAL = """
A = LOAD '$sf/region.parquet' USING ParquetStorage();
B = FILTER A BY r_regionkey >= 0;
"""
CALIBRATION_ROWS = 4_000_000
# Timed rounds: whole passes until --seconds have elapsed, and at least
# this many, so every run pools about the same number of samples
# (--seconds 0 times one round).
MIN_ROUNDS = 3
WARMUP_CLIENTS = 2


def session(cores: int, work: str):
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "2g")
        # keep the JVM's temp files in the checkout; no hsperfdata file
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("perfbench")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def calibrate(spark) -> float:
    """A fixed Spark-only query, timed: host speed, not program speed.
    Run once untimed first, so its own code generation is not timed."""
    def query():
        spark.range(0, CALIBRATION_ROWS, 1, 4).selectExpr(
            "sum(hash(id))").collect()
    query()
    t = time.perf_counter()
    query()
    return time.perf_counter() - t


def hd_quantile(samples: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: the mean of all order
    statistics weighted by a Beta((n+1)p, (n+1)(1-p)) density. With a
    mix of scripts of different lengths, the plain median of a few
    dozen samples is one or two samples of whichever script sits in the
    middle; this estimate averages the neighbourhood instead."""
    s = sorted(samples)
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    c = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 100  # midpoint rule per order statistic's interval
    weights = [
        sum(math.exp(c + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
            for x in ((i + (k + 0.5) / steps) / n for k in range(steps)))
        for i in range(n)]
    return sum(w * v for w, v in zip(weights, s)) / sum(weights)


def tail_pct(n: int) -> float:
    """The highest percentile of n samples with ten samples beyond it
    (the maximum, 100, when there are fewer than eleven)."""
    return 100.0 * (n - 10) / n if n > 10 else 100.0


def warm_up(mix, seed: int, clients: int) -> list:
    """One untimed pass over the mix per client, ``clients`` at once.
    Round time keeps falling for dozens of script executions while the
    JVM compiles the planner's and scheduler's hot paths. The scripts
    are latency-bound (the cores are mostly idle), so concurrent
    clients get through those executions faster than one client, whose
    passes the run-time budget could not afford."""
    def client(i: int):
        order = list(mix.names)
        random.Random(f"warm-{seed}-{i}").shuffle(order)
        return mix.run_round(order)[0]
    with ThreadPoolExecutor(clients) as pool:
        return [o for outs in pool.map(client, range(clients)) for o in outs]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--corrupt-reference", action="store_true")
    args = ap.parse_args()
    host0 = proc.cpu_sample()
    cores = len(os.sched_getaffinity(0))

    spark = session(cores, args.work)
    import piglet_spark as pg
    eng = pg.PigEngine(spark, params={"sf": args.data})
    eng.run(TRIVIAL)
    eng.df("B").collect()
    setup_s = time.monotonic() - args.t_spawn

    import __spark_entry__ as entry
    import workloads
    from tracing import Tracer

    calib_start = calibrate(spark)
    mix = workloads.make_mix(args.workload, spark, entry, args.data,
                             args.work)
    clients = cores if mix.concurrent else 1
    t = time.perf_counter()
    ref = mix.verify(workloads.Oracle(entry, args.data), clients)
    attempted = len(mix.names)
    failed = sum(fp is None for fp in ref.values())

    def count(outcomes) -> None:
        nonlocal attempted, failed
        for o in outcomes:
            attempted += 1
            if o.error or o.fp != ref[o.name]:
                failed += 1
                if not o.error:
                    print(f"# {o.name}: fingerprint {o.fp} != verified "
                          f"{ref[o.name]}", flush=True)

    count(warm_up(mix, args.seed, min(clients, WARMUP_CLIENTS)))
    warmup_s = time.perf_counter() - t
    if args.corrupt_reference:  # proves a wrong output cannot pass
        name = mix.names[0]
        if ref[name] is not None:
            ref[name] = (ref[name][0] + 1, ref[name][1])

    rng = random.Random(args.seed)
    tracer = Tracer(spark) if args.trace else None
    pid = os.getpid()
    rounds = {False: [], True: []}  # traced? -> round wall times
    samples, cpu = [], 0.0
    proc.reset_driver_peak_rss(pid)  # the peak of the timed rounds only
    t0 = time.perf_counter()
    r = 0
    while True:
        order = list(mix.names)
        rng.shuffle(order)
        # traced runs alternate untraced/traced rounds as U T T U, so
        # the tracing overhead is measured free of a linear drift
        traced = bool(tracer) and r % 4 in (1, 2)
        if traced:
            tracer.begin_round(r)
        c = proc.tree_cpu_s(pid)
        outcomes, round_s = mix.run_round(order, tracer if traced else None)
        if traced:
            tracer.end_round()
        else:
            cpu += proc.tree_cpu_s(pid) - c
        rounds[traced].append(round_s)
        count(outcomes)
        if not traced:
            samples += [o.seconds for o in outcomes]
        r += 1
        if tracer:
            enough = r % 4 == 0
        else:
            enough = r >= (MIN_ROUNDS if args.seconds > 0 else 1)
        if enough and time.perf_counter() - t0 >= args.seconds:
            break
    n_timed = len(rounds[False])
    peak_rss = proc.driver_peak_rss_mb(pid)
    calib_end = calibrate(spark)

    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed}
    pct = tail_pct(len(samples))
    result["end_to_end"] = {
        "setup_s": setup_s,
        "mix_s": statistics.median(rounds[False]),
        "script_p50_s": hd_quantile(samples, 0.5),
        "script_tail_s": (hd_quantile(samples, pct / 100) if pct < 100
                          else max(samples)),
        "cpu_s": cpu / n_timed,
        "peak_rss_mb": peak_rss,
        "failed_share": failed / attempted,
    }
    result["round_s"] = rounds[False]
    result["counts"] = {"rounds": n_timed, "samples": len(samples),
                        "tail_pct": pct}
    result["host"] = {
        "steal_pct": proc.steal_pct(host0, proc.cpu_sample()),
        "calib_start_s": calib_start, "calib_end_s": calib_end,
        "warmup_s": warmup_s,
        "warmup_rounds": 1 + min(clients, WARMUP_CLIENTS),
        "cores": cores,
    }
    if tracer:
        result["per_layer"] = tracer.layer_metrics(cores)
        result["trace"] = {
            "traced_mix_s": statistics.median(rounds[True]),
            "untraced_mix_s": statistics.median(rounds[False]),
        }
        trace_file = os.path.join(
            args.work, f"trace-{args.workload}-{args.seed}.json")
        with open(trace_file, "w") as fh:
            json.dump({"spans": tracer.span_records(),
                       "self_s": tracer.self_times()}, fh)
        result["trace"]["file"] = trace_file
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    spark.stop()


if __name__ == "__main__":
    main()
