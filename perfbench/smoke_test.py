"""Smoke tests of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/smoke_test.py -q

Most tests run perfbench/run.py as a subprocess, which starts Spark, so
the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.trace import quantile, union_length
from perfbench.workloads import CURATION_QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(*args: str, seconds: str = "1") -> dict:
    p = bench(*args, "--tiny", "--seconds", seconds)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def assert_metrics(res: dict, spec: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_prints_with_its_unit(workload):
    res = result("--workload", workload, "--seed", "3", "--trace", "0")
    assert_metrics(res, SPEC["end_to_end"])
    assert res["correct"] and res["failed"] == 0
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    res = result("--workload", "ingest_backfill", "--seed", "3", "--trace", "1")
    assert_metrics(res, SPEC["per_layer"])
    assert res["correct"]
    assert res["metrics"]["trace.overhead_ratio"]["value"] > 0
    assert res["metrics"]["stream.batches"]["value"] >= 1


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_a_corrupted_output_row_raises_error_ratio(workload):
    res = result("--workload", workload, "--seed", "3", "--trace", "0", "--corrupt-sink")
    assert not res["correct"]
    assert res["failed"] >= 1


def test_curation_checks_results_when_the_run_outlasts_two_passes():
    res = result("--workload", "curation_mix", "--seed", "3", "--trace", "0",
                 "--corrupt-sink", seconds="20")
    assert res["attempted"] > 2 * len(CURATION_QUERIES)
    assert res["failed"] == len(CURATION_QUERIES)


def test_fails_without_a_result_when_only_the_benchmark_is_present(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench("--workload", "ingest_backfill", "--seed", "1", "--seconds", "1",
              "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_quantile_matches_statistics_inclusive():
    assert quantile([1, 2, 3, 4, 5], 0.5) == 3
    assert quantile([], 0.9) == 0.0
    assert quantile([7], 0.9) == 7.0
