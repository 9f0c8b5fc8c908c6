"""Tests of the benchmark itself, at tiny scale (a few stream slices,
batch tables at about a tenth of sf0.001).

Each test runs ``perfbench/run.py`` in a subprocess exactly as the
benchmark is run, so one Spark session per run; the module takes about
seven minutes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = os.path.join(ROOT, "BENCHMARK.json")


def _bench() -> dict:
    with open(BENCH) as f:
        return json.load(f)


def _run(workload: str, trace: int, *extra: str) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def _result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    return out


def _assert_metrics(metrics: dict, declared: list[dict]) -> None:
    assert set(metrics) == {m["name"] for m in declared}
    for m in declared:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]


WORKLOADS = [w["name"] for w in _bench()["workloads"]]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric(workload):
    rc, lines = _run(workload, 0)
    assert rc == 0
    out = _result(lines)
    assert out["correct"] is True and out["failed"] == 0
    _assert_metrics(out["metrics"], _bench()["end_to_end"])
    for name, m in out["metrics"].items():
        assert m["value"] > 0, name
    stamp = json.loads(lines[-2])["stamp"]
    assert stamp["nproc"] == len(os.sched_getaffinity(0))
    assert stamp["SPARK_GRAFT_CPUS"] == str(stamp["nproc"])
    for k in ("spark", "pyspark", "python", "git_commit", "loadavg_before", "loadavg_after"):
        assert stamp[k], k


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_per_layer_metric_and_spans(workload):
    rc, lines = _run(workload, 1)
    assert rc == 0
    out = _result(lines)
    assert out["correct"] is True
    _assert_metrics(out["metrics"], _bench()["per_layer"])
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["session.get_spark_s"] > 0 and m["operators.jobs"] > 0
    with open(os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-7.json")) as f:
        spans = json.load(f)["spans"]
    passes = [s for s in spans if s["name"] == "pass"]
    assert passes
    if workload == "textops_batch":
        assert m["plans.build_s"] > 0
        for p in passes:
            kids = [s for s in spans if s["parent"] == p["id"]]
            assert {s["name"] for s in kids} == {"query.build", "query.execute"}
            # Build and execute spans of the queries tile the pass.
            covered = sum(s["end"] - s["start"] for s in kids)
            assert covered == pytest.approx(p["end"] - p["start"], rel=0.02, abs=0.05)
    else:
        assert m["plans.build_s"] == 0
        assert m["stateful.store_instances"] > 0 and m["stateful.rows_dropped_late"] > 0
        assert m["sinks.rows_written"] > 0 and m["apps.visitor_stats.batches"] > 0
        batches = [s for s in spans if s["name"] == "micro_batch"]
        assert batches and all(s["trace"].startswith("slice") for s in batches)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_fails_the_check(workload):
    rc, lines = _run(workload, 0, "--corrupt")
    assert rc == 0
    out = _result(lines)
    assert out["correct"] is False and out["failed"] >= 1


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    without printing a result."""
    shutil.copy(BENCH, tmp_path / "BENCHMARK.json")
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
