"""The benchmark's own tests.  Run from the repository root:

    python3 -m pytest perfbench/tests -q

The end-to-end tests start the benchmark as a subprocess at the smallest
input scale (about a minute each on a 4-core host).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import common  # noqa: E402
import spans  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)
WORKLOADS = ("medallion_cdc", "analytics_mix", "llm_curation")


def run_bench(workload: str, *extra: str, cwd: str = REPO) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--scale", "0.001", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stdout + p.stderr[-3000:]


# -- pure functions ------------------------------------------------------------


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    value, pct, beyond = common.tail(xs)
    assert (value, beyond) == (30.0, 10)
    assert pct == 75.0
    assert common.tail(xs[:15]) == (15.0, 100.0, 0)


def test_canonical_rows_ignore_column_order_and_timezone():
    import pyarrow as pa

    utc = dt.timezone.utc
    a = pa.table({"x": [2, 1], "t": pa.array(
        [dt.datetime(2024, 1, 1, tzinfo=utc), None], pa.timestamp("us", "UTC"))})
    b = pa.table({"t": pa.array([None, dt.datetime(2024, 1, 1)], pa.timestamp("us")),
                  "x": [1, 2]})
    assert common.same_rows(a, b)
    assert not common.same_rows(a, b.slice(1))


def test_self_time_excludes_children_and_jobs_charge_by_group():
    s = [spans.Span("a", "plans.merge.merge_versioned", None, 0.0, 10.0),
         spans.Span("b", "sources.versioned.transact", "a", 2.0, 8.0)]
    jobs = [spans.Job(1, "b", 3.0, 5.0, [1]), spans.Job(2, None, 9.0, 9.5, [2])]
    stages = {(1, 0): spans.Stage(4, 0, 100, 0, 0, 10**9),
              (2, 0): spans.Stage(1, 0, 0, 0, 0, 0)}
    m = spans.layer_metrics(s, jobs, stages)
    assert m["plans.busy_s"] == pytest.approx(4.0)
    assert m["sources.busy_s"] == pytest.approx(6.0)
    assert m["sources.exec_s"] == pytest.approx(2.0)
    assert m["sources.driver_gap_s"] == pytest.approx(4.0)
    assert m["plans.exec_s"] == pytest.approx(0.5)  # groupless job: innermost open span
    assert (m["sources.jobs"], m["sources.tasks"], m["sources.executor_cpu_s"]) == (1, 4, 1.0)


# -- end to end ----------------------------------------------------------------


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_is_correct_and_prints_every_metric(workload):
    rc, result, out = run_bench(workload, "--trace", "0")
    assert rc == 0, out
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, out
    names = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    assert all(v["value"] > 0 for v in result["metrics"].values()), out
    assert "op_fail_ratio" in out
    if workload == "llm_curation":
        assert "recall_at_10" in out


@pytest.mark.parametrize("workload", ["analytics_mix", "medallion_cdc"])
def test_wrong_output_counts_as_failed_operation(workload):
    rc, result, out = run_bench(workload, "--trace", "0", "--corrupt-every", "2")
    assert rc == 0, out
    assert result["failed"] >= 1 and not result["correct"], out


@pytest.mark.parametrize("workload", ["medallion_cdc", "analytics_mix"])
def test_traced_run_layers_fit_in_wall(workload):
    rc, result, out = run_bench(workload, "--trace", "1")
    assert rc == 0 and result["correct"], out
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(m) == {p["name"] for p in BENCHMARK["per_layer"]}
    busy = sum(m[f"{layer}.busy_s"] for layer in spans.LAYERS if layer != "session")
    assert 0 < busy <= m["trace.wall_s"] + 1e-6, out
    assert 0 < m["trace.coverage"] <= 1.0
    if workload == "medallion_cdc":
        assert m["sources.commits"] > 0 and m["streaming.rows_in"] > 0
    else:
        assert m["sources.commits"] == 0 and m["workload.calls"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = [sys.executable, *BENCHMARK["command"][1:], "--workload", "analytics_mix",
           "--seed", "1", "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert not p.stdout.strip()
