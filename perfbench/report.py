"""Turn a workload's outcome into the reported metrics: the end-to-end
set (untraced run) or the per-layer set (traced run)."""

from __future__ import annotations

from dataclasses import asdict, fields

from perfbench import eventlog, stats
from perfbench.trace import parse_group

MB = 2**20


def end_to_end(bench, out) -> dict[str, float]:
    """Batch workloads report per pipeline run, the online workload per
    request; ``records`` are input records (pages) or requests."""
    done = [u for u in out.units if u.ok]
    walls = [u.wall_s for u in done] or [float("nan")]
    online = bench.args.workload == "persons_online"
    if online:
        per_s = len(done) / out.window_s
        per_cpu = len(done) / out.window_cpu.total
    else:
        per_s = out.records / stats.median(walls)
        per_cpu = out.records / stats.median([u.cpu.total for u in done]
                                             or [float("nan")])
    return {
        "setup_s": out.setup_s,
        "records_per_s": per_s,
        "records_per_cpu_s": per_cpu,
        "pairwise_f1": out.f1,
        "peak_rss_mb": bench.meter.peak_rss_mb,
        "completed_fraction": len(done) / len(out.units),
        "request_p50_ms": 1e3 * stats.percentile(walls, 0.5).value,
        "request_p90_ms": 1e3 * stats.percentile(walls, 0.9).value,
    }


def percentiles(out) -> dict:
    """p50 / p90 of unit wall time with their sample counts."""
    walls = [u.wall_s * 1e3 for u in out.units if u.ok]
    if not walls:
        return {}
    return {f"p{int(q * 100)}": stats.percentile(walls, q).as_dict()
            for q in (0.5, 0.9)}


class _Layers:
    """Span and event-log lookups, each a mean over the trace ids (pipeline
    runs, requests, or the set-up) in which the span occurs."""

    def __init__(self, spans, log: eventlog.EventLog | None):
        self.spans = spans
        self.log = log

    def _named(self, prefix: str):
        return [s for s in self.spans if s.name == prefix
                or s.name.startswith(prefix + ".")]

    def seconds(self, name: str) -> float:
        ss = self._named(name)
        traces = {s.trace_id for s in ss}
        return sum(s.duration for s in ss) / len(traces) if traces else 0.0

    def attr(self, name: str, key: str) -> float:
        vals = [s.attrs[key] for s in self._named(name) if key in s.attrs]
        return sum(vals) / len(vals) if vals else 0.0

    def counters(self, name: str | None = None,
                 traces: set[str] | None = None) -> eventlog.Counters:
        """Counters of jobs run under spans named ``name`` (or any span
        of ``traces``), divided by the number of trace ids involved."""
        if self.log is None:
            return eventlog.Counters()
        if traces is None:
            traces = {s.trace_id for s in self._named(name)}

        def select(group):
            g = parse_group(group)
            return g is not None and g[0] in traces and (
                name is None or g[2] == name
                or g[2].startswith(name + ".")
            )

        c = eventlog.counters(self.log, select)
        n = max(len(traces), 1)
        for f in fields(c):
            if f.name != "task_skew":
                setattr(c, f.name, getattr(c, f.name) / n)
        return c


def per_layer(bench, out, log: eventlog.EventLog | None) -> dict[str, float]:
    L = _Layers(bench.tracer.spans, log)
    traced = [u for u in out.units if u.traced]
    untraced = [u for u in out.units if not u.traced]
    online = bench.args.workload == "persons_online"
    unit_traces = {f"{'req' if online else 'rep'}{u.index}" for u in traced}

    def per_unit(role: str) -> float:
        return (sum(u.cpu.role(role) for u in traced) / len(traced)
                if traced else 0.0)

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    blocking_s, scoring_s = L.seconds("blocking"), L.seconds("scoring")
    pairs = L.attr("scoring", "pairs")
    derive_s = L.seconds("webtext.derive_keys")
    u_s = L.seconds("training.u")
    # pairs estimate_u scored: rows out of its cross join of the sample
    u_pairs = L.counters("training.u").cross_join_rows
    records = out.notes.get("oracle_records", out.records)
    scoring_c = L.counters("scoring")
    blocking_c = L.counters("blocking")
    cluster_c = L.counters("cluster")
    unit_c = L.counters(traces=unit_traces)

    m = {
        "session.start_s": bench.session_start_s,
        "concat.s": L.seconds("concat"),
        "concat.rows": L.attr("concat", "rows"),
        "webtext.derive_keys_s": derive_s,
        "webtext.rows_per_s": ratio(L.attr("webtext.derive_keys", "rows"),
                                    derive_s),
        "python.cpu_s": per_unit("python"),
        "training.lambda_s": L.seconds("training.lambda"),
        "training.u_s": u_s,
        "training.u_pairs": u_pairs,
        "training.u_pairs_per_s": ratio(u_pairs, u_s),
        "training.em_s": L.seconds("training.em"),
        "training.em_iterations": L.attr("training.em", "iterations"),
        "training.jobs": L.counters("training").jobs,
        "blocking.s": blocking_s,
        "blocking.pairs": L.attr("blocking", "pairs"),
        "blocking.pairs_per_record": ratio(L.attr("blocking", "pairs"),
                                           records),
        "blocking.kept_ratio": ratio(L.attr("scoring", "kept"), pairs),
        "blocking.shuffle_mb": blocking_c.shuffle_write_bytes / MB,
        "blocking.task_skew": blocking_c.task_skew,
        "scoring.s": scoring_s,
        "scoring.pairs_per_s": ratio(pairs, scoring_s),
        "scoring.pairs_per_cpu_s": ratio(pairs, scoring_c.executor_cpu_s),
        "cluster.s": L.seconds("cluster"),
        "cluster.edges": L.attr("cluster", "edges"),
        "cluster.jobs": cluster_c.jobs,
        "cluster.shuffle_mb": cluster_c.shuffle_write_bytes / MB,
        "online.jobs_per_request": 0.0,
        "online.stages_per_request": 0.0,
        "online.tasks_per_request": 0.0,
        "online.base_rows_read_per_request": 0.0,
        "online.driver_ms_per_request": 0.0,
        "online.executor_cpu_ms_per_request": 0.0,
        "spark.executor_cpu_s": unit_c.executor_cpu_s,
        "spark.gc_s": unit_c.gc_s,
        "spark.spill_mb": unit_c.spill_bytes / MB,
        "spark.shuffle_write_mb": unit_c.shuffle_write_bytes / MB,
        "spark.tasks": unit_c.tasks,
        "spark.jobs": unit_c.jobs,
        "jvm.cpu_s": per_unit("jvm"),
        "driver.cpu_s": per_unit("driver"),
        "storage.cached_mb": bench.storage_peak_mb,
        "host.steal_pct": out.window_cpu.steal_pct,
    }
    if online and traced:
        requests = [s for s in bench.tracer.spans
                    if s.name == "online.request"]
        idle_ms = []
        for s in requests:
            jobs = eventlog.job_intervals(
                log, lambda g, t=s.trace_id: (parse_group(g) or ("",))[0] == t
            ) if log else []
            idle_ms.append(1e3 * (s.duration
                                  - stats.covered(jobs, s.start, s.end)))
        m.update({
            "online.jobs_per_request": unit_c.jobs,
            "online.stages_per_request": unit_c.stages,
            "online.tasks_per_request": unit_c.tasks,
            "online.base_rows_read_per_request": unit_c.cached_rows,
            "online.driver_ms_per_request": sum(idle_ms) / len(idle_ms),
            "online.executor_cpu_ms_per_request":
                1e3 * unit_c.executor_cpu_s,
        })
    t_med = stats.median([u.wall_s for u in traced]) if traced else 0.0
    u_med = stats.median([u.wall_s for u in untraced]) if untraced else 0.0
    m["trace.overhead_s"] = t_med - u_med
    m["trace.overhead_pct"] = 100.0 * ratio(t_med - u_med, u_med)
    return m


LAYERS = ("webtext", "concat", "training", "blocking", "scoring", "cluster",
          "online")


def layer_counters(bench, log: eventlog.EventLog | None) -> dict:
    """Event-log counters per layer (mean per trace), for the report."""
    L = _Layers(bench.tracer.spans, log)
    return {name: asdict(L.counters(name)) for name in LAYERS}
