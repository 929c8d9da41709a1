"""The benchmark's own end-to-end test: every workload at a tiny scale
with one timed round. Takes a few minutes (one Spark start per run).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

TINY = ["--seed", "7", "--seconds", "0", "--scale", "0.001"]


def bench(*args: str) -> tuple[list[str], dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True,
        timeout=600, check=True).stdout.splitlines()
    return out, json.loads(out[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_workload_end_to_end(workload):
    lines, result = bench("--workload", workload, "--trace", "0", *TINY)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 2 * 5
    assert set(result["metrics"]) == {n for n, _ in run.END_TO_END}
    for name, unit in run.END_TO_END:
        assert result["metrics"][name]["unit"] == unit
        assert result["metrics"][name]["value"] > 0
        assert any(line.startswith(f"{name} ") and f" {unit}" in line
                   for line in lines), name
    assert any(line.startswith("failed_share 0.0000 ratio")
               for line in lines)


def test_wrong_reference_is_counted_as_failure():
    _, result = bench("--workload", "pig_relational", "--trace", "0",
                      "--corrupt-reference", *TINY)
    assert not result["correct"]
    assert result["failed"] == 1  # the one script, in its one timed round


def test_traced_run_reports_every_layer():
    lines, result = bench("--workload", "pig_relational", "--trace", "1",
                          *TINY)
    metrics = result["metrics"]
    for name in ("plans.s", "operators.build_s", "build.jobs",
                 "build.py4j_calls", "action.jobs", "action.task_s",
                 "sources.store_s", "engine.shared_persisted", "jvm.gc_s",
                 "action.core_busy"):
        assert name in metrics, name
    assert metrics["build.jobs"]["value"] == 0
    assert metrics["sources.store_s"]["value"] == 0
    assert metrics["action.jobs"]["value"] > 0
    assert any(line.startswith("# tracing overhead") for line in lines)


def test_refuses_to_run_without_the_program(tmp_path):
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench_dir / name).write_bytes(
                open(os.path.join(HERE, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pig_relational",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""
