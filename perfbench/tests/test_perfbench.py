"""Self-tests of the benchmark.

The unit tests need no Spark. The smoke tests run every workload at
sf0.001 in one process, timed and traced, and check what the command
promises: every metric BENCHMARK.json names is emitted with its unit, no
operation fails, a planted wrong expected result is counted as a failure,
and trace spans nest inside their parents with non-negative self time.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import oracle, runner
from perfbench.run import ROOT, _environment
from perfbench.trace import LAYER_METRICS, self_times
from perfbench.workloads import WORKLOADS

SMOKE_SF = 0.001


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- no Spark ------------------------------------------------------------- #


def test_benchmark_json_matches_the_code():
    bench = _benchmark_json()
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == runner.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == LAYER_METRICS


def test_percentile_is_a_measured_sample():
    values = [0.1, 0.1, 0.4, 0.4]
    assert runner.percentile(values, 50) == 0.1
    assert runner.percentile(values, 90) == 0.4
    assert runner.percentile([3.0], 90) == 3.0


def test_mismatch_detects_wrong_and_vacuous_results():
    want = oracle.normalize(["b", "a"], [(2.0, "x"), (1.0, "y")])
    same = oracle.normalize(["a", "b"], [("y", 1.0 + 1e-12), ("x", 2.0)])
    assert oracle.mismatch(same, want) is None
    wrong = oracle.normalize(["a", "b"], [("y", 1.5), ("x", 2.0)])
    assert "rows differ" in oracle.mismatch(wrong, want)
    empty = oracle.normalize(["a"], [])
    assert "vacuous" in oracle.mismatch(empty, empty)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 2, "start": 3.0, "end": 3.5},
    ]
    assert self_times(spans) == {0: 5.0, 1: 3.0, 2: 2.5, 3: 0.5}


# -- smoke runs ------------------------------------------------------------ #


@pytest.fixture(scope="module")
def env():
    _environment(ROOT)
    yield
    from perfbench.run import _stop_spark

    _stop_spark()


def _check_metrics(res: dict, expected: dict[str, str]) -> None:
    got = {k: m["unit"] for k, m in res["metrics"].items()}
    assert got == expected
    for m in res["metrics"].values():
        assert isinstance(m["value"], float)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_smoke_timed(env, name):
    res = runner.run(name, seed=7, seconds=0, trace=False, root=ROOT, sf=SMOKE_SF)
    assert res["failed"] == 0, res["report"]
    assert res["correct"] and res["attempted"] > 0
    _check_metrics(res, {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]})
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_smoke_traced_spans_nest(env, name):
    res = runner.run(name, seed=7, seconds=0, trace=True, root=ROOT, sf=SMOKE_SF)
    assert res["failed"] == 0, res["report"]
    _check_metrics(res, {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]})
    spans = res["tracer"].spans
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (s, p)
    assert min(self_times(spans).values()) >= 0
    ops = [s for s in spans if s["layer"] == "op"]
    assert ops and all(
        {c["name"] for c in spans if c["parent"] == op["id"]} >= {"build"} for op in ops
    )
    with open(res["report"]["spans"]) as f:
        assert len(json.load(f)) == len(spans)


def test_planted_wrong_expected_result_fails(env, monkeypatch):
    real = oracle.QueryOracle.expected

    def planted(self, name):
        cols, rows = real(self, name)
        if name == "dedup_exact":
            rows = rows[1:]  # drop one expected row
        return cols, rows

    monkeypatch.setattr(oracle.QueryOracle, "expected", planted)
    res = runner.run("llm-pipeline-sf0.1", seed=7, seconds=0, trace=False, root=ROOT, sf=SMOKE_SF)
    assert not res["correct"]
    per_pass = len(WORKLOADS["llm-pipeline-sf0.1"].make.args[0])
    passes = res["attempted"] // per_pass
    assert res["failed"] == passes  # one dedup_exact per pass
