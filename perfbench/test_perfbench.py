"""Self-test of the benchmark: metric names and units, the result line,
and the refusal to run without the engine.

    python3 -m pytest perfbench -q

Each workload runs once on tiny inputs (scale 0.001), and the committed
report digests of the tiny pool are recomputed, so the whole file takes
a few minutes: it starts one Spark session per run.
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

import checks  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_metric_names_and_units_match_benchmark_json():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_analytics_queries_have_oracles_in_their_modules():
    import importlib

    sys.path.insert(0, ROOT)
    for name, module, _ in workloads.ANALYTICS:
        mod = importlib.import_module(f"{run.PACKAGE}.queries.{module}")
        assert mod.QUERIES[name].oracle is not None


def test_tail_is_the_highest_percentile_with_ten_beyond():
    value, what = run.tail([float(i) for i in range(1, 101)], 1)
    assert value == 90.0 and what.startswith("p90.0 of 100 ops, 10 beyond")


def test_tail_of_few_ops_is_the_median_slowest_op_per_pass():
    assert run.tail([3.0, 1.0, 2.0], 1)[0] == 3.0
    assert run.tail([1.0, 5.0, 2.0, 3.0, 4.0, 1.0, 9.0, 1.0, 1.0], 3)[0] == 5.0


def test_union_length_merges_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([]) == 0


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_one_tiny_run_prints_every_metric(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--scale", "0.001")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert f"{workload}/failed_op_share = 0" in proc.stdout


def test_committed_digests_match_process_records(tmp_path):
    out = tmp_path / "digests.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "make_digests.py"), "--scales", "0.001", "--out", str(out)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    with open(out) as fh:
        assert json.load(fh)["0.001"] == checks.committed_digests(0.001)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _run(str(tmp_path), "--workload", "api_small", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
