"""Tests of the benchmark itself.

    python3 -m pytest -p no:cacheprovider perfbench/test_perfbench.py

* the metric names and units in BENCHMARK.json are the ones run.py prints;
* without the engine beside it, the benchmark fails without a result;
* exact-count guard: every pinned (workload, seed, seconds, trace) run is
  correct and repeats its pinned counts (epochs committed, triggered folds,
  data files and bytes written, files at the end, live rows and, traced,
  the merge epochs' Spark jobs). A run whose counts differ is a different
  program, never noise. These runs start Spark and take about a minute
  each.
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
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402

with open(os.path.join(HERE, "pinned_counts.json")) as fh:
    PINNED = json.load(fh)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOAD_NAMES)


def test_fails_without_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = bench("--workload", "tail", "--seed", "1", "--seconds", "30", "--trace", "0",
                cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


@pytest.mark.parametrize(
    "workload,key", [(w, k) for w, by_key in sorted(PINNED.items()) for k in sorted(by_key)]
)
def test_pinned_counts_repeat(workload, key):
    seed, seconds, trace = key.split("/")
    out = bench("--workload", workload, "--seed", seed, "--seconds", seconds, "--trace", trace)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    record = json.loads(lines[-2])["record"]
    result = json.loads(lines[-1])
    assert {k: record["counts"][k] for k in PINNED[workload][key]} == PINNED[workload][key]
    assert record["pinned_mismatch"] == []
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
