"""What a Python task costs in Spark's Python workers, under the session
default worker daemon (``splink_spark._worker_daemon``) and under Spark's
stock ``pyspark.daemon``.

    python tools/python_task_cost.py [--cores 4] [--repeats 9]

For each daemon it builds a ``get_spark`` session, warms it up, then
times two jobs ``--repeats`` times: a 4-partition trivial RDD job and
``createDataFrame(list).collect()``. It prints the median wall time and
the median CPU seconds spent in Python worker processes (read from
``/proc`` as ``perfbench/meter.py`` reads it: utime + stime of the
daemon and its forked workers, reaped workers included), then the
resident memory of the daemon and of all Python workers.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.meter import _PAGE, _TICK, process_tree  # noqa: E402
from splink_spark.session import get_spark  # noqa: E402

DAEMONS = {
    "splink_spark._worker_daemon": None,  # the session default
    "pyspark.daemon": {"spark.python.daemon.module": "pyspark.daemon"},
}


def _python_procs() -> dict[int, tuple[int, int]]:
    """pid -> (cpu ticks, rss pages) of the Python workers and daemon."""
    return {pid: (ticks, rss)
            for pid, (role, ticks, rss) in process_tree(os.getpid()).items()
            if role == "python"}


def _python_cpu_s() -> float:
    return sum(t for t, _ in _python_procs().values()) / _TICK


def _daemon_pid(module: str) -> int | None:
    for pid in _python_procs():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if module.encode() in argv:
            return pid
    return None


def _measure(job, repeats: int) -> tuple[float, float]:
    """(median wall ms, median Python-worker CPU s) over ``repeats``."""
    walls, cpus = [], []
    for _ in range(repeats):
        c0, t0 = _python_cpu_s(), time.perf_counter()
        job()
        walls.append(1e3 * (time.perf_counter() - t0))
        cpus.append(_python_cpu_s() - c0)
    return statistics.median(walls), statistics.median(cpus)


def run(module: str, conf: dict | None, cores: int, repeats: int) -> None:
    spark = get_spark(app_name="python_task_cost", cores=cores,
                      extra_conf=conf)
    sc = spark.sparkContext
    jobs = {
        "rdd_4_partitions": lambda: sc.parallelize(range(4), 4)
        .map(lambda x: x + 1).collect(),
        "createDataFrame_list": lambda: spark.createDataFrame(
            [(1, "a")], "id long, s string").collect(),
    }
    for job in jobs.values():  # start the daemon and fork workers
        job()
    for name, job in jobs.items():
        wall_ms, cpu_s = _measure(job, repeats)
        print(f"daemon={module} job={name} wall_ms={wall_ms:.0f} "
              f"python_cpu_s={cpu_s:.3f}", flush=True)
    procs = _python_procs()
    daemon = _daemon_pid(module)
    daemon_mb = procs[daemon][1] * _PAGE / 2**20 if daemon in procs else 0.0
    total_mb = sum(r for _, r in procs.values()) * _PAGE / 2**20
    print(f"daemon={module} daemon_rss_mb={daemon_mb:.0f} "
          f"python_procs={len(procs)} python_rss_mb={total_mb:.0f}",
          flush=True)
    spark.stop()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--cores", type=int, default=4)
    p.add_argument("--repeats", type=int, default=9)
    args = p.parse_args(argv)
    for module, conf in DAEMONS.items():
        run(module, conf, args.cores, args.repeats)
    return 0


if __name__ == "__main__":
    sys.exit(main())
