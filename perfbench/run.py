"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload web_dedupe --seed 1 --seconds 15 \
        --trace 0

Run from the root of a checkout: the program under test is the
``splink_spark`` package beside this directory. Inputs are generated
from ``--seed`` and written to parquet under ``.perfbench_work/`` during
set-up; everything the run writes stays there. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` turns on spans and the Spark event log
and reports the per-layer metrics instead. A per-run JSON report with
every sample goes to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import contract, report  # noqa: E402
from perfbench.eventlog import read_event_log  # noqa: E402
from perfbench.meter import ProcTreeMeter  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    DRIVER_HEAP,
    F1_FLOOR,
    SIZES,
    WORKLOAD_RUNNERS,
    Bench,
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOAD_RUNNERS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SIZES), default="full",
                   help="input sizes; 'smoke' is for the benchmark's tests")
    return p.parse_args(argv)


def prepare_environment(work: Path) -> None:
    """Keep every file the run writes inside ``work``, give the Python
    workers the checkout on their path and fix the JVM heap. The JVM and
    its workers inherit this process's CPU affinity; Spark runs one
    thread per CPU in it."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p]
    )
    # fixed, not inherited, so every run measures the same heap
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "splink_spark" / "__init__.py").is_file():
        print(f"perfbench: no splink_spark package under {ROOT}; run from "
              "the root of a checkout", file=sys.stderr)
        return 2
    scratch = ROOT / ".perfbench_work"
    work = scratch / f"{args.workload}-{args.seed}-{os.getpid()}"
    results = scratch / "results"
    results.mkdir(parents=True, exist_ok=True)
    prepare_environment(work)
    try:
        with ProcTreeMeter() as meter:
            bench = Bench(args, work, meter, T_START)
            bench.start_session()
            try:
                out = WORKLOAD_RUNNERS[args.workload](bench)
            finally:
                bench.stop_session()
            log = read_event_log(work / "eventlog") if args.trace else None
        values = (report.per_layer(bench, out, log) if args.trace
                  else report.end_to_end(bench, out))
        failed = sum(1 for u in out.units if not u.ok)
        f1_ok = out.f1 >= F1_FLOOR[args.workload]
        correct = failed == 0 and f1_ok and out.setup_ok
        detail = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "scale": args.scale, "cores": bench.cores,
            "records": out.records, "f1": out.f1, "f1_ok": f1_ok,
            "window_s": out.window_s,
            "window_steal_pct": out.window_cpu.steal_pct,
            "percentiles_ms": report.percentiles(out),
            "samples": [
                {"index": u.index, "traced": u.traced, "wall_s": u.wall_s,
                 "cpu_s": u.cpu.by_role, "steal_pct": u.cpu.steal_pct,
                 "ok": u.ok, **u.detail}
                for u in out.units
            ],
            "notes": out.notes,
            "metrics": values,
        }
        if args.trace:
            detail["moves"] = {
                name: [f"{e2e}@{wl}" for e2e, wl in moves]
                for name, moves in contract.MOVES.items()
            }
            detail["layer_counters"] = report.layer_counters(bench, log)
            bench.tracer.write(results / f"spans-{work.name}.jsonl")
        stem = f"{work.name}-trace{args.trace}"
        (results / f"{stem}.json").write_text(
            json.dumps(detail, indent=1, default=str)
        )
        line = contract.result_line(correct, len(out.units), failed, values,
                                    bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        # which end-to-end metric and workload each layer metric should move
        print(json.dumps({"moves": detail["moves"]}))
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
