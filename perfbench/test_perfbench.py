"""The benchmark's own tests.

    python -m pytest perfbench/test_perfbench.py -q

The schema tests need no Spark. The smoke and two-seed tests run every
workload on the sf0.001 base data and take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import E2E_UNITS, LAYER_UNITS, WORK_ROOT  # noqa: E402
from tracing import Tracer, parse_sql_metric  # noqa: E402
from workloads import PREDICTIONS, WORKLOADS  # noqa: E402

E2E_NAMES = [
    "setup_s", "ops_per_s", "op_p50_s", "op_p90_s", "write_p50_s",
    "failed_frac", "stored_bytes_per_user_byte", "peak_rss_mb",
]


def load(name):
    with open(os.path.join(ROOT, name) if name == "BENCHMARK.json"
              else os.path.join(HERE, name)) as fh:
        return json.load(fh)


def test_metric_names_and_units_are_pinned():
    assert list(E2E_UNITS) == E2E_NAMES
    assert E2E_UNITS["setup_s"] == "s" and E2E_UNITS["ops_per_s"] == "1/s"
    assert {k.split(".")[0] for k in LAYER_UNITS} == {
        "session", "plans", "catalog", "spark", "python", "streaming"}
    for name, unit in LAYER_UNITS.items():
        if name.endswith("_s"):
            assert unit == "s", name
        if name.endswith("_mb"):
            assert unit == "MB", name


def test_benchmark_json_matches_the_runner():
    spec = load("BENCHMARK.json")
    assert sorted(spec) == ["command", "end_to_end", "paths", "per_layer",
                            "run_seconds", "workloads"]
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for m in spec["end_to_end"]:
        assert sorted(m) == ["better", "bound", "name", "unit"]
        assert E2E_UNITS[m["name"]] == m["unit"]
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert sorted(m) == ["better", "name", "unit"]
        assert LAYER_UNITS[m["name"]] == m["unit"]


def test_prediction_table_names_known_metrics():
    for row in PREDICTIONS:
        for metric in row["metrics"]:
            assert metric.split(" ")[0] in LAYER_UNITS, metric
        for metric in row["moves"]:
            assert metric.split(" ")[0] in E2E_UNITS, metric


def test_trace_artifact_schema():
    doc = load("TRACE.json")
    assert sorted(doc) == ["cpus", "hardware", "predictions", "seconds", "seed",
                           "setup_reps", "tracing_pairs", "units", "workloads"]
    assert sorted(doc["workloads"]) == sorted(WORKLOADS)
    assert "host" not in json.dumps(doc) and "node" not in doc
    for name, wl in doc["workloads"].items():
        assert sorted(wl["per_layer"]) == sorted(LAYER_UNITS), name
        assert sorted(wl["tracing_overhead"]) == sorted(E2E_UNITS), name
        assert wl["failed_checks"] == [], name
        runs = wl["end_to_end_untraced"] + wl["end_to_end_traced"]
        assert len(runs) == 2 * doc["tracing_pairs"], name
        assert all(r["failed_frac"] == 0 for r in runs), name
        assert wl["per_layer"]["plans.fixture_lazy_build_s"] == 0, name
        for row in wl["self_time"].values():
            assert sorted(row) == ["count", "self_s", "total_s"]
            assert 0 <= row["self_s"] <= row["total_s"] + 1e-9
    api = doc["workloads"]["catalog_api"]["per_layer"]
    assert all(api[k] == 0 for k in LAYER_UNITS if k.startswith("python."))


def test_sql_metric_parsing():
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n"
                            "1.5 s (0 ms, 0.5 s, 1.0 s (stage 3.0: task 7))") == 1.5
    assert parse_sql_metric("120 ms") == pytest.approx(0.12)
    assert parse_sql_metric("total (min, med, max)\n2.0 MiB (1.0 MiB, ...)") == 2.0
    assert parse_sql_metric("512.0 KiB") == 0.5
    with pytest.raises(ValueError):
        parse_sql_metric("n/a")


def test_self_time_subtracts_covered_child_intervals():
    tr = Tracer(True)
    tr.spans = [
        {"name": "op", "start": 0.0, "end": 10.0, "parent": None, "op_id": "a"},
        {"name": "build", "start": 1.0, "end": 4.0, "parent": 0, "op_id": "a"},
        {"name": "action", "start": 3.0, "end": 6.0, "parent": 0, "op_id": "a"},
    ]
    table = tr.self_time_table()
    assert table["op"] == {"count": 1, "total_s": 10.0, "self_s": 5.0}
    assert table["build"]["self_s"] == 3.0


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_sf0001(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "0", "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    with open(os.path.join(WORK_ROOT, f"{workload}-trace0.json")) as fh:
        artifact = json.load(fh)
    assert artifact["end_to_end"]["failed_frac"] == 0
    assert artifact["scale"] == "0.001"


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_two_seeds_give_identical_digests(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--scale", "0.001", "--self-check"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["differ"] == [] and result["queries"] == len(WORKLOADS[workload].queries)
