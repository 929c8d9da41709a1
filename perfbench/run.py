"""piglet_spark benchmark: warm Pig and datapipe script mixes.

    python3 perfbench/run.py --workload pig_relational --seed 1 \
        --seconds 12 --trace 0

Generates the seeded input tables, then runs one worker process on
local[nproc] that sets up Spark and a PigEngine, verifies every script
of the mix against the DuckDB oracle, warms up, and times whole passes
over the mix by one client, in a seeded order, for --seconds.
Prints one line per metric with its unit, host diagnostics, and as the
last line the JSON result: the end-to-end metrics with --trace 0, the
per-layer metrics of a traced run with --trace 1.

--repeat N runs the workload N times on seeds seed..seed+N-1 and prints
each metric's median, quartiles, quartile spread and max/min ratio.
See NOTES.md for the workloads and what each metric should move.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import proc  # noqa: E402

WORKLOADS = ["pig_relational", "datapipe_curation", "pig_store_shared"]
SCALE = 0.01
WORKER_TIMEOUT_S = 150
END_TO_END = [("setup_s", "s"), ("mix_s", "s"), ("script_p50_s", "s"),
              ("script_tail_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB")]
PER_LAYER_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
                   "py4j_calls": "count", "shared_persisted": "count",
                   "core_busy": "ratio"}


def layer_unit(name: str) -> str:
    leaf = name.split(".", 1)[1]
    if leaf in PER_LAYER_UNITS:
        return PER_LAYER_UNITS[leaf]
    return "MB" if leaf.endswith("_mb") else "s"


def _kill(pids: list[int]) -> None:
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _reap_children(deadline_s: float) -> None:
    """Wait for every child, including the worker's orphaned JVM and
    Python daemons (this process is their subreaper); kill what is
    still alive at the deadline."""
    end = time.monotonic() + deadline_s
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > end and not killed:
            _kill(proc.tree(os.getpid())[1:])
            killed = True
        time.sleep(0.05)


def run_once(workload: str, seed: int, seconds: float, trace: int,
             scale: float, corrupt: bool = False) -> dict | None:
    data = datagen.write(os.path.join(WORK, "data", f"s{seed}-x{scale}"),
                         seed, scale)
    out = os.path.join(WORK, f"result-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ, TMPDIR=os.path.join(WORK, "tmp"))
    os.makedirs(env["TMPDIR"], exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--data", data, "--work", WORK, "--out", out]
    if corrupt:
        cmd.append("--corrupt-reference")
    # worker output goes to stderr: stdout carries only the report
    worker = subprocess.Popen(cmd + ["--t-spawn", repr(time.monotonic())],
                              cwd=ROOT, env=env, stdout=sys.stderr)
    try:
        rc = worker.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _kill(proc.tree(worker.pid))
        rc = None
    _reap_children(10)
    if rc != 0 or not os.path.exists(out):
        print(f"# worker failed (exit {rc})", file=sys.stderr)
        return None
    with open(out) as fh:
        res = json.load(fh)
    os.remove(out)
    return res


def report(workload: str, seed: int, res: dict) -> None:
    c, h, e = res["counts"], res["host"], res["end_to_end"]
    print(f"# workload {workload} seed {seed} cores {h['cores']}: "
          f"{c['rounds']} timed rounds of "
          + " ".join(f"{t:.2f}" for t in res["round_s"])
          + f" s, {c['samples']} script samples")
    notes = {"mix_s": f"median of {c['rounds']} rounds",
             "script_p50_s": f"{c['samples']} samples",
             "script_tail_s": f"p{c['tail_pct']:.1f} of {c['samples']} "
                              f"samples, 10 beyond",
             "cpu_s": "per round, process tree",
             "peak_rss_mb": "VmHWM of the driver's Python + the JVM"}
    for name, unit in END_TO_END:
        print(f"{name} {e[name]:.4f} {unit}  ({notes.get(name, '')})")
    print(f"failed_share {e['failed_share']:.4f} ratio  "
          f"({res['failed']} of {res['attempted']} executions)")
    print(f"# host: steal {h['steal_pct']:.2f}%, calibration "
          f"{h['calib_start_s']:.3f} s at start / {h['calib_end_s']:.3f} s "
          f"at end, verification + warm-up {h['warmup_s']:.2f} s over "
          f"{h['warmup_rounds']} passes")
    if "per_layer" in res:
        for name, v in res["per_layer"].items():
            print(f"{name} {v:.4f} {layer_unit(name)}")
        tr = res["trace"]
        print(f"# tracing overhead: traced mix_s {tr['traced_mix_s']:.3f} s "
              f"- untraced {tr['untraced_mix_s']:.3f} s = "
              f"{tr['traced_mix_s'] - tr['untraced_mix_s']:+.3f} s; "
              f"spans in {os.path.relpath(tr['file'], ROOT)}")


def final_line(res: dict, trace: int) -> str:
    if trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END}
    return json.dumps({"correct": res["correct"],
                       "attempted": res["attempted"],
                       "failed": res["failed"], "metrics": metrics})


def steadiness(args) -> None:
    """Run the workload --repeat times on consecutive seeds and print
    each metric's median, quartiles, (q3-q1)/median and max/min."""
    values: dict[str, list[float]] = {}
    for i in range(args.repeat):
        res = run_once(args.workload, args.seed + i, args.seconds,
                       args.trace, args.scale)
        if res is None:
            sys.exit(1)
        metrics = res["per_layer"] if args.trace else res["end_to_end"]
        h = res["host"]
        print(f"# run {i + 1} seed {args.seed + i}: " + " ".join(
            f"{k}={v:.4g}" for k, v in metrics.items())
            + f" | steal={h['steal_pct']:.2f}% "
            f"calib={h['calib_start_s']:.3f}/{h['calib_end_s']:.3f}s",
            flush=True)
        for k, v in metrics.items():
            values.setdefault(k, []).append(v)
    summary = {}
    print(f"{'metric':26} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'max/min':>8}")
    for k, vs in values.items():
        q1, med, q3 = (statistics.quantiles(vs, n=4) if len(vs) > 1
                       else (vs[0],) * 3)
        spread = (q3 - q1) / med if med else 0.0
        ratio = max(vs) / min(vs) if min(vs) > 0 else float("nan")
        summary[k] = {"median": med, "q1": q1, "q3": q3,
                      "spread": spread, "max_min": ratio}
        print(f"{k:26} {med:10.4f} {q1:10.4f} {q3:10.4f} "
              f"{spread:7.3f} {ratio:8.3f}")
    print(json.dumps({"workload": args.workload, "runs": args.repeat,
                      "summary": summary}))


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Benchmark warm Pig and datapipe script mixes.")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="input size; 1.0 is about 6M lineitem rows")
    ap.add_argument("--repeat", type=int, default=0,
                    help="steadiness report over this many runs")
    ap.add_argument("--corrupt-reference", action="store_true",
                    help="perturb one verified fingerprint (self-test)")
    args = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "piglet_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: piglet_spark/ and __spark_entry__.py must sit "
              "next to the perfbench directory", file=sys.stderr)
        sys.exit(2)
    # orphaned descendants of the worker (its JVM, the JVM's Python
    # daemon) are re-parented here, so they can be waited for
    ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    if args.repeat:
        steadiness(args)
        return
    res = run_once(args.workload, args.seed, args.seconds, args.trace,
                   args.scale, args.corrupt_reference)
    if res is None:
        sys.exit(1)
    report(args.workload, args.seed, res)
    print(final_line(res, args.trace), flush=True)


if __name__ == "__main__":
    main()
