"""Parse a small recorded event log: a base of 1000 rows cached under a
``concat`` span, a broadcast join of one new row against it under a
``blocking`` span, a cross join of 30 of its rows with themselves
(``l.id < r.id``, 435 pairs) under a ``training.u`` span (all in trace
``req1``), then one untagged job."""

from pathlib import Path

import pytest

from perfbench import eventlog
from perfbench.trace import parse_group

LOG = Path(__file__).parent / "data" / "eventlog_small.jsonl"


@pytest.fixture(scope="module")
def log():
    return eventlog.read_event_log(LOG)


def _span(name):
    return lambda g: (parse_group(g) or ("", 0, ""))[2] == name


def test_jobs_are_attributed_to_their_span_group(log):
    groups = [j.group for j in log.jobs.values()]
    assert any(g and g.endswith("|concat") for g in groups)
    assert any(g and g.endswith("|blocking") for g in groups)
    assert None in groups  # the untagged job
    assert all(j.end_ms is not None and j.end_ms >= j.submit_ms
               for j in log.jobs.values())


def test_blocking_counters(log):
    c = eventlog.counters(log, _span("blocking"))
    assert c.jobs >= 2  # the broadcast of the new side is its own job
    assert c.tasks >= 1 and c.stages >= 1
    assert c.executor_cpu_s > 0
    # the join scans every row of the cached base once
    assert c.cached_rows == 1000
    assert c.shuffle_write_bytes > 0  # the group-by after the join


def test_concat_counters_and_trace_selection(log):
    concat = eventlog.counters(log, _span("concat"))
    assert concat.jobs >= 1 and concat.cached_rows >= 1000
    in_trace = eventlog.counters(
        log, lambda g: (parse_group(g) or ("",))[0] == "req1"
    )
    everything = eventlog.counters(log, lambda g: True)
    assert in_trace.jobs == sum(
        eventlog.counters(log, _span(n)).jobs
        for n in ("concat", "blocking", "training.u"))
    assert everything.jobs == len(log.jobs) > in_trace.jobs
    assert everything.tasks == len(log.tasks)


def test_task_skew_is_max_over_median(log):
    c = eventlog.counters(log, lambda g: True)
    assert c.task_skew >= 1.0


def test_job_intervals_in_seconds(log):
    iv = eventlog.job_intervals(log, _span("blocking"))
    assert len(iv) == eventlog.counters(log, _span("blocking")).jobs
    assert all(1e9 < a <= b for a, b in iv)


def test_cross_join_rows_count_pairs_of_the_cross_join_only(log):
    assert eventlog.counters(log, _span("training.u")).cross_join_rows == 435
    assert eventlog.counters(log, _span("blocking")).cross_join_rows == 0


def test_event_file_is_the_one_file_in_a_directory(tmp_path):
    assert eventlog.event_file(LOG) == LOG
    (tmp_path / "local-1").write_text(LOG.read_text())
    (tmp_path / ".local-1.crc").write_text("")
    assert eventlog.event_file(tmp_path) == tmp_path / "local-1"
    (tmp_path / "local-2").write_text("")
    with pytest.raises(ValueError, match="one event log"):
        eventlog.event_file(tmp_path)
