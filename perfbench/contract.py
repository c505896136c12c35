"""What the benchmark reports: the workloads and metric specs of
``BENCHMARK.json``, the layer tags, and the validators for
``BENCHMARK.json`` and for the result line.

The layer each per-layer metric belongs to is the prefix of its name
(``blocking.pairs`` -> ``blocking``); ``MOVES`` names the end-to-end
metrics and workloads each should move, so a change that moves a layer
number can be checked against the end-to-end number it claims.
"""

from __future__ import annotations

import json
import math
import re
from pathlib import Path

BENCHMARK = json.loads(
    (Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text()
)
WORKLOADS = {w["name"]: w["why"] for w in BENCHMARK["workloads"]}
END_TO_END = {m["name"]: m for m in BENCHMARK["end_to_end"]}
PER_LAYER = {m["name"]: m for m in BENCHMARK["per_layer"]}

W, O = "web_dedupe", "persons_online"
_THROUGHPUT = [("records_per_s", W), ("records_per_cpu_s", W)]
_CPU = [("records_per_cpu_s", W), ("records_per_cpu_s", O)]
_REQ = [("request_p50_ms", O), ("request_p90_ms", O),
        ("records_per_cpu_s", O)]

# per-layer metric -> [(end-to-end metric, workload) it should move]
MOVES = {
    "session.start_s": [("setup_s", W), ("setup_s", O)],
    "concat.s": _THROUGHPUT + [("setup_s", O)],
    "concat.rows": _THROUGHPUT,
    "webtext.derive_keys_s": _THROUGHPUT,
    "webtext.rows_per_s": _THROUGHPUT,
    "python.cpu_s": _THROUGHPUT,
    "training.lambda_s": [("setup_s", O)],
    "training.u_s": _THROUGHPUT + [("setup_s", O)],
    "training.u_pairs": _THROUGHPUT,
    "training.u_pairs_per_s": _THROUGHPUT + [("setup_s", O)],
    "training.em_s": [("setup_s", O)],
    "training.em_iterations": [("setup_s", O)],
    "training.jobs": _THROUGHPUT + [("setup_s", O)],
    "blocking.s": _THROUGHPUT + [("setup_s", O)],
    "blocking.pairs": _THROUGHPUT,
    "blocking.pairs_per_record": _THROUGHPUT,
    "blocking.kept_ratio": _THROUGHPUT,
    "blocking.shuffle_mb": _THROUGHPUT,
    "blocking.task_skew": [("records_per_s", W)],
    "scoring.s": _THROUGHPUT + [("setup_s", O)],
    "scoring.pairs_per_s": _THROUGHPUT,
    "scoring.pairs_per_cpu_s": [("records_per_cpu_s", W)],
    "cluster.s": [("records_per_s", W)],
    "cluster.edges": [("records_per_s", W)],
    "cluster.jobs": [("records_per_s", W)],
    "cluster.shuffle_mb": [("records_per_s", W)],
    "online.jobs_per_request": _REQ,
    "online.stages_per_request": _REQ,
    "online.tasks_per_request": _REQ,
    "online.base_rows_read_per_request": _REQ,
    "online.driver_ms_per_request": _REQ,
    "online.executor_cpu_ms_per_request": _REQ,
    "spark.executor_cpu_s": _CPU,
    "spark.gc_s": _CPU,
    "spark.spill_mb": _CPU,
    "spark.shuffle_write_mb": _CPU,
    "spark.tasks": _CPU,
    "spark.jobs": _CPU,
    "jvm.cpu_s": _CPU,
    "driver.cpu_s": _CPU,
    "storage.cached_mb": [("peak_rss_mb", W), ("peak_rss_mb", O)],
    "host.steal_pct": [],
    "trace.overhead_s": [],
    "trace.overhead_pct": [],
}

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")
PATH_RE = re.compile(r"^[A-Za-z0-9_.\-/]{1,200}$")


def validate_benchmark(doc: dict, root: Path | None = None) -> list[str]:
    """Every way ``doc`` (a parsed BENCHMARK.json) breaks the contract;
    empty when it is valid."""
    errs: list[str] = []
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end",
            "per_layer"}
    if set(doc) != keys:
        errs.append(f"top-level keys {sorted(doc)} != {sorted(keys)}")
        return errs
    cmd = doc["command"]
    if not (isinstance(cmd, list) and 1 <= len(cmd) <= 32
            and all(isinstance(c, str) and len(c) <= 200 for c in cmd)):
        errs.append("command must be 1..32 strings of <= 200 chars")
    else:
        for c in cmd:
            if c.startswith("/") or ".." in c.split("/"):
                errs.append(f"command arg {c!r} leaves the checkout")
    paths = doc["paths"]
    if not (isinstance(paths, list) and 1 <= len(paths) <= 16):
        errs.append("paths must list 1..16 directories")
        paths = []
    for p in paths:
        if not (isinstance(p, str) and PATH_RE.match(p)) or p.startswith(
            "/"
        ) or ".." in p.split("/"):
            errs.append(f"bad path {p!r}")
    rs = doc["run_seconds"]
    if not (isinstance(rs, int) and not isinstance(rs, bool)
            and 1 <= rs <= 60):
        errs.append("run_seconds must be a whole number in 1..60")
    wl = doc["workloads"]
    if not (isinstance(wl, list) and 2 <= len(wl) <= 8):
        errs.append("workloads must list 2..8 entries")
        wl = []
    seen: set[str] = set()

    def _name(n, where):
        if not (isinstance(n, str) and NAME_RE.match(n)):
            errs.append(f"{where}: bad name {n!r}")
        elif n in seen:
            errs.append(f"{where}: name {n!r} used twice")
        seen.add(n)

    for w in wl:
        if set(w) != {"name", "why"}:
            errs.append(f"workload keys {sorted(w)}")
            continue
        _name(w["name"], "workload")
        why = w["why"]
        if not (isinstance(why, str) and why and len(why) <= 200
                and "\n" not in why):
            errs.append(f"workload {w['name']}: why must be one line")
    e2e = doc["end_to_end"]
    if not (isinstance(e2e, list) and 1 <= len(e2e) <= 16):
        errs.append("end_to_end must list 1..16 metrics")
        e2e = []
    for m in e2e:
        if set(m) != {"name", "unit", "better", "bound"}:
            errs.append(f"end_to_end keys {sorted(m)}")
            continue
        _name(m["name"], "end_to_end")
        _metric_fields(m, errs)
        b = m["bound"]
        if not (isinstance(b, (int, float)) and not isinstance(b, bool)
                and 0 < b <= 0.25):
            errs.append(f"{m['name']}: bound must be in (0, 0.25]")
    setup = [m for m in e2e if m.get("name") == "setup_s"]
    if not setup or setup[0].get("unit") != "s" or setup[0].get(
        "better"
    ) != "lower":
        errs.append("end_to_end needs setup_s in s, better lower")
    pl = doc["per_layer"]
    if not (isinstance(pl, list) and 1 <= len(pl) <= 128):
        errs.append("per_layer must list 1..128 metrics")
        pl = []
    for m in pl:
        if set(m) != {"name", "unit", "better"}:
            errs.append(f"per_layer keys {sorted(m)}")
            continue
        _name(m["name"], "per_layer")
        _metric_fields(m, errs)
    if len(json.dumps(doc).encode()) > 64 * 1024:
        errs.append("BENCHMARK.json exceeds 64 KiB")
    if root is not None:
        for p in paths:
            d = root / p
            if not d.is_dir():
                errs.append(f"path {p!r} is not a directory")
    return errs


def _metric_fields(m: dict, errs: list[str]) -> None:
    if not (isinstance(m["unit"], str) and UNIT_RE.match(m["unit"])):
        errs.append(f"{m['name']}: bad unit {m['unit']!r}")
    if m["better"] not in ("lower", "higher"):
        errs.append(f"{m['name']}: better must be lower or higher")


def result_line(
    correct: bool,
    attempted: int,
    failed: int,
    values: dict[str, float],
    trace: bool,
) -> str:
    """The final stdout line. Raises ValueError unless ``values`` holds
    exactly the metrics the mode must report, each a finite number."""
    specs = {k: v["unit"] for k, v in
             (PER_LAYER if trace else END_TO_END).items()}
    if set(values) != set(specs):
        missing = sorted(set(specs) - set(values))
        extra = sorted(set(values) - set(specs))
        raise ValueError(f"metric set mismatch: missing {missing}, "
                         f"unexpected {extra}")
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"attempted={attempted} failed={failed}")
    metrics = {}
    for name in specs:
        v = float(values[name])
        if not math.isfinite(v):
            raise ValueError(f"{name} is not finite: {v}")
        metrics[name] = {"value": v, "unit": specs[name]}
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": metrics,
        }
    )
