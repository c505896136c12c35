"""SparkSession factory with scale-oriented defaults.

Tuned for local[N] testing but with the settings that matter on a real
multi-executor cluster: AQE (runtime re-plan, skew-join splitting,
partition coalescing), Arrow for the pandas-UDF comparator path, and
shuffle partitions sized to parallelism rather than the 200 default.

Python workers are forked from ``splink_spark._worker_daemon``
(``spark.python.daemon.module``) instead of ``pyspark.daemon``. Below
Python 3.13 the stock worker re-reads every ``pyspark.zip`` directory
entry on each task (``importlib.invalidate_caches``); the package daemon
skips the re-read while the archive is unchanged, which cuts ~0.15-0.2
CPU-s from every Python task. On 3.13+ it patches nothing. Since the
daemon is started as ``python -m splink_spark._worker_daemon`` in the
JVM's working directory, the directory holding this package is put on
the workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

_WORKER_DAEMON = "splink_spark._worker_daemon"
# the directory that holds the imported splink_spark package
_PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"


def _worker_pythonpath(current: str | None) -> str:
    """``current`` with the package root appended unless already on it."""
    parts = [p for p in (current or "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in parts:
        parts.append(_PACKAGE_ROOT)
    return os.pathsep.join(parts)


def get_spark(
    app_name: str = "splink_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """A ``local[cores]`` session (default ``SPARK_GRAFT_CPUS``, else 32).

    Python workers start from ``splink_spark._worker_daemon``, which
    stops them re-reading ``pyspark.zip`` on every task below Python
    3.13, and the directory holding this package is appended to
    ``spark.executorEnv.PYTHONPATH`` so the daemon imports from any
    working directory (``local[n]`` workers see the driver's paths).
    ``extra_conf`` is applied last: it can set
    ``spark.python.daemon.module`` back to ``pyspark.daemon``, and a
    ``spark.executorEnv.PYTHONPATH`` it gives is kept, ahead of the
    package root.
    """
    extra_conf = dict(extra_conf or {})
    extra_conf[_WORKER_PATH] = _worker_pythonpath(extra_conf.get(_WORKER_PATH))
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # 2x cores: enough granularity for AQE coalescing without tiny tasks.
        shuffle_partitions = 2 * cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # shuffled hash join beats sort-merge when a per-partition build
        # side fits (guide §3.1); AQE can also demote SMJ to SHJ at
        # runtime below the local-map threshold. Join RESULTS are
        # strategy-independent; both knobs hold on a real cluster.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "128m",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # 8g default, deliberately NOT oversized: an idle-host A/B
        # (r6) showed 24g buys nothing over 8g here, and
        # BENCH/run_scaling.py documents a measured 20-27x GC/page-
        # fault pathology with a 48g heap on this host class. The
        # cached working set is ~1-2 GB; override via SPARK_DRIVER_MEM
        # when a workload genuinely needs more.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
        .config("spark.python.daemon.module", _WORKER_DAEMON)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
