"""The measuring window's stopping rule, on a fake clock: units run while
the window is expected to end nearer to --seconds with one more unit
than without it."""

from pathlib import Path
from types import SimpleNamespace

import pytest

from perfbench import workloads


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class FakeMeter:
    def cpu(self):
        delta = SimpleNamespace(total=0.0, steal_pct=0.0)
        return SimpleNamespace(minus=lambda earlier: delta)


def run_window(monkeypatch, seconds, unit_s, trace=False):
    clock = FakeClock()
    monkeypatch.setattr(workloads.time, "perf_counter", clock)
    args = SimpleNamespace(scale="smoke", seconds=seconds, trace=int(trace),
                           workload="web_dedupe")
    bench = workloads.Bench(args, Path("."), FakeMeter(), clock())

    def unit(i, traced):
        clock.t += unit_s
        return True, {}

    units, window_s, _ = bench.window(unit, trace, unit_s)
    return units, window_s


@pytest.mark.parametrize("unit_s, n", [
    (7.0, 3),   # 21 s is nearer to 20 than 14 s
    (9.0, 2),   # 18 s is nearer to 20 than 27 s
    (1.5, 13),  # 19.5 s is nearer to 20 than 21 s
    (30.0, 1),  # at least one unit runs
])
def test_window_ends_nearest_to_seconds(monkeypatch, unit_s, n):
    units, window_s = run_window(monkeypatch, 20, unit_s)
    assert len(units) == n
    assert window_s == pytest.approx(n * unit_s)


def test_traced_window_runs_one_unit_of_each_kind(monkeypatch):
    units, _ = run_window(monkeypatch, 20, 30.0, trace=True)
    assert [u.traced for u in units] == [False, True]
