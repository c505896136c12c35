import copy
import json
import math
from pathlib import Path

import pytest

from perfbench import contract

ROOT = Path(__file__).resolve().parents[2]


def _doc():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_is_valid():
    assert contract.validate_benchmark(_doc(), ROOT) == []


def test_setup_s_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in _doc()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_every_layer_metric_names_what_it_should_move():
    assert set(contract.MOVES) == set(contract.PER_LAYER)
    for name, moves in contract.MOVES.items():
        for e2e, workload in moves:
            assert e2e in contract.END_TO_END, name
            assert workload in contract.WORKLOADS, name


@pytest.mark.parametrize(
    "mutate, fragment",
    [
        (lambda d: d["end_to_end"][0].update(name="9" * 65), "bad name"),
        (lambda d: d["end_to_end"][0].update(name="setup s"), "bad name"),
        (lambda d: d["per_layer"].append(dict(d["per_layer"][0])),
         "used twice"),
        (lambda d: d["end_to_end"][1].update(bound=0.3), "bound"),
        (lambda d: d["end_to_end"].pop(0), "setup_s"),
        (lambda d: d["per_layer"][0].update(unit="metres per second!"),
         "bad unit"),
        (lambda d: d.update(run_seconds=61), "run_seconds"),
        (lambda d: d.update(command=["python3", "../x.py"]),
         "leaves the checkout"),
        (lambda d: d["workloads"][0].update(why="a\nb"), "one line"),
        (lambda d: d.update(extra=1), "top-level keys"),
    ],
)
def test_validation_catches(mutate, fragment):
    doc = copy.deepcopy(_doc())
    mutate(doc)
    errs = contract.validate_benchmark(doc)
    assert any(fragment in e for e in errs), errs


def _values(trace):
    names = contract.PER_LAYER if trace else contract.END_TO_END
    return {n: 1.5 for n in names}


def test_result_line_shape():
    line = json.loads(contract.result_line(True, 3, 0, _values(False),
                                           False))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(contract.END_TO_END)
    assert line["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    traced = json.loads(contract.result_line(True, 2, 0, _values(True),
                                             True))
    assert set(traced["metrics"]) == set(contract.PER_LAYER)


def test_result_line_rejects_wrong_metric_sets():
    vals = _values(False)
    vals.pop("setup_s")
    with pytest.raises(ValueError, match="missing"):
        contract.result_line(True, 1, 0, vals, False)
    vals = _values(False) | {"latency_ms": 1.0}
    with pytest.raises(ValueError, match="unexpected"):
        contract.result_line(True, 1, 0, vals, False)
    vals = _values(False) | {"setup_s": math.nan}
    with pytest.raises(ValueError, match="finite"):
        contract.result_line(True, 1, 0, vals, False)
    with pytest.raises(ValueError):
        contract.result_line(True, 0, 0, _values(False), False)
