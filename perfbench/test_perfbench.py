"""The benchmark's own steadiness tests.

    python3 -m pytest perfbench -q

The traced runs take about a minute each; the rest is quick.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

# Counts that must repeat exactly between two runs with one seed.
EXACT = ("io.parquet_reads", "exec.jobs", "exec.stages", "exec.tasks", "sink.files")


def bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


def result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_counts_repeat_for_one_seed(workload):
    runs = [result(bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                         "--trace", "1")) for _ in range(2)]
    for r in runs:
        assert r["correct"] and r["failed"] == 0
    a, b = (r["metrics"] for r in runs)
    assert {k: a[k]["value"] for k in EXACT} == {k: b[k]["value"] for k in EXACT}


def test_seed_changes_schedule_not_operations():
    a, b = workloads.schedule(1, 3), workloads.schedule(2, 3)
    assert a != b
    assert sorted(sum(a, [])) == sorted(sum(b, [])) == sorted(workloads.QUERY_MIX * 3)
    assert workloads.schedule(1, 3) == a


def test_seed_changes_batches_not_their_shape():
    a = workloads.batch(1, 0, 100, 10)
    b = workloads.batch(2, 0, 100, 10)
    assert a.num_rows == b.num_rows and a.schema == b.schema
    assert not a.equals(b)
    assert a.equals(workloads.batch(1, 0, 100, 10))


def test_base_tables_do_not_depend_on_anything_but_scale():
    a, b = gen.base_tables(workloads.SF), gen.base_tables(workloads.SF)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)


def test_tree_cpu_counts_finished_child_processes():
    before = run.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(range(30_000_000))"], check=True)
    assert run.tree_cpu_s(os.getpid()) - before >= 0.3


def test_jvm_cpu_between_counts_new_threads_from_zero():
    before = {1: ("jit", 1.0), 2: ("other", 2.0)}
    after = {1: ("jit", 1.5), 2: ("other", 2.25), 3: ("tasks", 0.5)}
    assert run.jvm_cpu_between(before, after) == {
        "gc": 0.0, "jit": 0.5, "tasks": 0.5, "other": 0.25}


def test_pins_cover_the_mix():
    assert sorted(workloads.load_pins()) == sorted(workloads.QUERY_MIX)


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = bench(str(tmp_path), "--workload", "queries", "--seed", "1", "--seconds", "1",
              "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
