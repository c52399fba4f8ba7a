"""The benchmark's own checks, on tiny sf0.001 inputs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from perfbench import run, workloads

ROOT = run.ROOT
SF = 0.001


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _cli(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--sf", str(SF)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=300)


@pytest.mark.parametrize("workload,trace,section",
                         [("interactive", 0, "end_to_end"),
                          ("maintain", 1, "per_layer")])
def test_every_metric_prints_with_its_unit(workload, trace, section):
    proc = _cli(workload, trace)
    assert proc.returncode == 0
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_exits_nonzero_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _cli("interactive", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR",
                          str(tmp_path_factory.mktemp("spark-local")))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", run.DRIVER_MEM)
    from dask_expr_spark.session import get_spark
    return get_spark("perfbench-tests", cpus=2)


def test_corrupted_result_counts_as_failed(spark, tmp_path, monkeypatch):
    orig = workloads.QueryWorkload._builder

    def builder(self, fn):
        build = orig(self, fn)
        if fn is self.registry["q6_forecast_revenue"][0]:
            return lambda: build().limit(0)
        return build

    monkeypatch.setattr(workloads.QueryWorkload, "_builder", builder)
    result, details = run.measure(spark, "interactive", 5, 0.0, False,
                                  str(tmp_path), SF)
    assert not result["correct"]
    assert result["failed"] >= 1
    assert details["error_rate"] > 0
    assert any(e.startswith("q6_forecast_revenue") for e in details["errors"])


def test_delete_that_removes_nothing_counts_as_failed(spark, tmp_path, monkeypatch):
    # the reinsert puts the deleted keys back, so only the delete's own
    # check can see a delete that did nothing
    from dask_expr_spark.functions import maintenance
    monkeypatch.setattr(maintenance, "delete_where", lambda *a, **k: ([], 0))
    result, details = run.measure(spark, "maintain", 5, 0.0, False,
                                  str(tmp_path), SF)
    assert not result["correct"]
    assert result["failed"] >= 1
    assert all(e.startswith("delete") for e in details["errors"]), details["errors"]


def test_tracing_launches_no_spark_job(spark, tmp_path):
    result, details = run.measure(spark, "interactive", 5, 0.0, True,
                                  str(tmp_path), SF)
    assert result["correct"], details["errors"]
    m = result["metrics"]
    assert m["trace.tracer_jobs"]["value"] == 0
    assert m["trace.unsteady_ops"]["value"] == 0
    assert m["exec.jobs"]["value"] >= 1
    assert m["sources.py4j_calls"]["value"] >= 1
