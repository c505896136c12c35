import itertools

import pytest

from perfbench.trace import NullTracer, Span, Tracer, parse_group, self_times


def _tracer():
    ticks = itertools.count()
    return Tracer(clock=lambda: float(next(ticks)))


def test_nested_spans_share_trace_and_parent():
    tr = _tracer()
    with tr.span("pipeline", trace_id="rep1") as root:
        with tr.span("blocking") as child:
            pass
    assert child.trace_id == "rep1"
    assert child.parent_id == root.span_id
    assert root.parent_id is None
    assert [s.name for s in tr.spans] == ["pipeline", "blocking"]


def test_self_time_subtracts_children_once():
    spans = [
        Span("root", "t", 1, None, 0.0, 10.0),
        Span("a", "t", 2, 1, 1.0, 4.0),
        Span("b", "t", 3, 1, 3.0, 6.0),  # overlaps a
        Span("c", "t", 4, 1, 9.0, 12.0),  # runs past the parent
        Span("grandchild", "t", 5, 2, 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(0.5)


def test_self_time_with_clocked_tracer():
    tr = _tracer()
    with tr.span("root", trace_id="x"):  # start 0
        with tr.span("child"):  # 1 .. 2
            pass
    # root ends at 3: duration 3, child covers 1
    root, child = tr.spans
    assert self_times(tr.spans)[root.span_id] == 2.0
    assert self_times(tr.spans)[child.span_id] == 1.0


def test_group_round_trip_and_untagged_jobs():
    s = Span("training.u", "rep3", 7, None, 0.0, 1.0)
    assert parse_group(s.group) == ("rep3", 7, "training.u")
    assert parse_group(None) is None
    assert parse_group("someone-else") is None


def test_on_end_runs_for_every_span_and_write(tmp_path):
    seen = []
    tr = Tracer(clock=lambda: 0.0, on_end=lambda s: seen.append(s.name))
    with tr.span("a", trace_id="t"):
        with tr.span("b"):
            pass
    assert seen == ["b", "a"]
    out = tmp_path / "spans.jsonl"
    tr.write(out)
    assert len(out.read_text().splitlines()) == 2


def test_null_tracer_records_nothing():
    tr = NullTracer()
    with tr.span("x", trace_id="t") as s:
        assert s is None
    assert tr.spans == [] and not tr.enabled
