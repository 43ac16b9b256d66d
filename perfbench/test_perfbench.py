"""Self-test of the benchmark (not of beacon_spark).

    python3 -m pytest perfbench -q

Checks that a seed fixes the operation sequence and the expected
results, that the result line names exactly the metrics BENCHMARK.json
lists, and that the harness pieces that need no Spark behave.
"""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402
import spec  # noqa: E402
import tracing  # noqa: E402


def _ops(workload: str, seed: int, stream: int = 0, n: int = 60) -> list[dict]:
    return list(itertools.islice(spec.ops(workload, seed, stream), n))


def _benchmark_json() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", spec.WORKLOADS)
def test_seed_fixes_operation_sequence(workload):
    assert _ops(workload, 7) == _ops(workload, 7)
    assert _ops(workload, 7) != _ops(workload, 8)
    if workload == "lake_http":
        assert _ops(workload, 7, 0) != _ops(workload, 7, 1)


def test_ops_stay_inside_their_bounds():
    bounds = spec.lake_file_bounds()
    for op in _ops("lake_http", 3, n=300):
        if op["cls"] != "scan":
            assert op["hi"] - op["lo"] + 1 == spec.LOOKUP_KEY_WIDTH
            assert any(lo <= op["lo"] and op["hi"] <= hi for lo, hi in bounds)
    for op in _ops("nd_arrays", 3, n=300):
        if op["cls"].startswith("slice"):
            assert op["t0"] % spec.GRID_CHUNK_T == 0
            assert op["t1"] - op["t0"] + 1 == spec.SLICE_ROWS
            assert op["t1"] < spec.GRID_T
        else:
            assert 1 <= op["lo"] and op["hi"] <= spec.N_CUSTOMERS
    for op in _ops("managed_rw", 3, n=300):
        assert op["lo"] % 2 == 1 and op["hi"] <= 2 * spec.N_ORDERS


def _generate(tmp_path, workload: str, seed: int, name: str) -> spec.Expected:
    out = str(tmp_path / name)
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), workload,
                    str(seed), out], check=True, cwd=REPO,
                   env={**os.environ, "PYTHONPATH": REPO})
    return spec.Expected(os.path.join(out, "expect"))


def _expected(workload: str, exp: spec.Expected, seed: int) -> list:
    out = []
    for op in _ops(workload, seed, n=30):
        if op["cls"] in ("lookup", "lookup_sql"):
            out.append(exp.lookup(op["lo"], op["hi"]))
        elif op["cls"] == "scan":
            out.append(sorted(exp.scan().items()))
        elif op["cls"].startswith("slice"):
            out.append(exp.grid_window(op["t0"], op["t1"]))
        elif op["cls"] == "ragged":
            out.append(exp.ragged(op["lo"], op["hi"]))
        else:
            out.append((exp.managed_base(), spec.block_sums(op["lo"], op["hi"])))
    return out


@pytest.mark.parametrize("workload", spec.WORKLOADS)
def test_seed_fixes_expected_results(tmp_path, workload):
    a = _expected(workload, _generate(tmp_path, workload, 5, "a"), 5)
    b = _expected(workload, _generate(tmp_path, workload, 5, "b"), 5)
    c = _expected(workload, _generate(tmp_path, workload, 6, "c"), 6)
    assert a == b
    assert a != c


def test_lookup_expectation_matches_generated_rows():
    cols = spec.lineitem_columns(9)
    keys = cols["l_orderkey"]
    exp = spec.Expected.__new__(spec.Expected)
    exp._cache = {"l_orderkey.npy": keys,
                  "l_orderkey_cumsum.npy": np.concatenate([[0], keys.cumsum()])}
    lo, hi = 4_001, 6_000
    m = (keys >= lo) & (keys <= hi)
    assert exp.lookup(lo, hi) == (int(m.sum()), int(keys[m].sum()))


def _fake_run(workload: str) -> dict:
    measured = [{"op": f"0-{i}", "cls": c, "ms": 10.0 + i}
                for i, c in enumerate(spec.CLASSES[workload] * 3)]
    return {"setup_s": 9.5, "ops_per_s": 4.0,
            "peak_rss_mb": {"python": 100.0, "jvm": 800.0},
            "measured": measured,
            "layers": {k: 1.0 for k in tracing.LAYER_METRICS
                       if k != "trace.overhead_pct"}}


@pytest.mark.parametrize("workload", spec.WORKLOADS)
def test_result_names_exactly_the_declared_metrics(workload):
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(spec.WORKLOADS)
    e2e = run.result_metrics(workload, _fake_run(workload), None)
    assert {k: v["unit"] for k, v in e2e.items()} == {
        m["name"]: m["unit"] for m in bench["end_to_end"]}
    traced = dict(_fake_run(workload), ops_per_s=3.0)
    layers = run.result_metrics(workload, _fake_run(workload), traced)
    assert {k: v["unit"] for k, v in layers.items()} == {
        m["name"]: m["unit"] for m in bench["per_layer"]}
    assert layers["trace.overhead_pct"]["value"] == pytest.approx(100 / 3)


def test_refuses_to_run_without_the_program(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "lake_http", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""


def test_closed_loop_credits_the_op_in_flight():
    def run_op(stream, op_id, op):
        time.sleep(0.03)
        return op["cls"] != "bad"

    ops = iter(itertools.cycle([{"cls": "a"}, {"cls": "b"}]))
    res = spec.closed_loop([ops], run_op, ("a", "b"), 0.5, warm_max_s=0.1)
    assert res["failed"] == 0
    assert res["warmup_ops"] >= 4
    assert 25 <= res["ops_per_s"] <= 34
    assert all(s["measured"] for s in res["measured"])


def test_layer_metrics_use_self_time_of_measured_ops():
    doc = {
        "spans": [
            {"op": None, "id": 1, "parent": None, "name": "session.get_spark",
             "t0": 0.0, "t1": 2.0},
            {"op": "0-1", "id": 2, "parent": None, "name": "engine.query",
             "t0": 10.0, "t1": 10.5},
            {"op": "0-1", "id": 3, "parent": 2, "name": "dsl.compile_query",
             "t0": 10.1, "t1": 10.3},
            {"op": "0-0", "id": 4, "parent": None, "name": "engine.query",
             "t0": 5.0, "t1": 9.0},  # warm-up: not measured
        ],
        "counts": [("0-1", "stats.files_considered", 24.0),
                   ("0-1", "stats.files_kept", 1.0)],
        "spark_events": [{"time": 100.5, "analysis": 1.0, "optimization": 2.0,
                          "planning": 3.0, "duration_ms": 20.0},
                         {"time": 99.0, "analysis": 9.0, "optimization": 9.0,
                          "planning": 9.0, "duration_ms": 90.0}],
        "gc_samples": [(100.1, 50.0), (100.9, 54.0), (90.0, 1.0)],
    }
    out = tracing.layer_metrics(doc, {"0-1"}, (100.0, 101.0))
    assert set(out) == set(tracing.LAYER_METRICS)
    assert out["session.get_spark_s"] == pytest.approx(2.0)
    assert out["engine.query.self_ms"] == pytest.approx(300.0)
    assert out["dsl.compile_query.ms"] == pytest.approx(200.0)
    assert out["stats.files_kept_ratio"] == pytest.approx(1 / 24)
    assert out["spark.planning_ms"] == pytest.approx(3.0)
    assert out["spark.exec_ms"] == pytest.approx(15.0)
    assert out["jvm.gc_ms"] == pytest.approx(4.0)
    assert out["managed.insert.ms"] == 0.0
