"""The Python worker daemon ``get_spark`` sessions start: its zip-import
patch on its own, its use by the session's workers, and a session
started from a directory that does not hold the package."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from splink_spark import _worker_daemon

REPO = Path(__file__).resolve().parents[1]


def _write_zip(path: Path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def patched(monkeypatch):
    """The patch installed on the stock method; both, and the read
    stamps, are restored afterwards."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(_worker_daemon, "_read_at", {})
    assert _worker_daemon.install()


@pytest.fixture
def zipped_package(tmp_path, monkeypatch):
    """A package with a subpackage in a zip on ``sys.path``, imported;
    returns the archive path."""
    archive = tmp_path / "zpkg_lib.zip"
    files = {
        "zpkg_probe/__init__.py": "",
        "zpkg_probe/sub/__init__.py": "",
        "zpkg_probe/a.py": "X = 1\n",
    }
    _write_zip(archive, files)
    monkeypatch.syspath_prepend(str(archive))
    importlib.import_module("zpkg_probe.a")
    importlib.import_module("zpkg_probe.sub")
    yield archive, files
    for name in [m for m in sys.modules if m.split(".")[0] == "zpkg_probe"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if str(archive) in k]:
        del sys.path_importer_cache[key]


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_unchanged_archive_is_not_reread(patched, zipped_package,
                                         monkeypatch):
    archive, _ = zipped_package
    importers = [f for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter)
                 and f.archive == str(archive)]
    assert len(importers) > 1  # the archive root and the packages
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    # the first invalidation reads the archive once for all its importers
    assert reads.count(str(archive)) <= 1
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zpkg_probe.a").X == 1


def test_rewritten_archive_is_reread(patched, zipped_package, monkeypatch):
    archive, files = zipped_package
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch)
    # a new module changes the archive's size and mtime
    _write_zip(archive, {**files, "zpkg_probe/b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert str(archive) in reads
    assert importlib.import_module("zpkg_probe.b").Y == 2


def test_nothing_patched_from_python_3_13(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert _worker_daemon.install() is False
    assert zipimport.zipimporter.invalidate_caches is stock


def test_session_workers_run_the_patched_importer(spark):
    def probe(_):
        import zipimport

        yield getattr(zipimport.zipimporter.invalidate_caches,
                      "skips_unchanged_archives", False)

    rdd = spark.sparkContext.parallelize([0], 1)
    assert rdd.mapPartitions(probe).collect() == [True]


def test_zip_added_mid_session_imports_in_a_task(spark, tmp_path):
    archive = tmp_path / "late_added_probe.zip"
    _write_zip(archive, {"late_added_probe/__init__.py": "VALUE = 41\n"})
    sc = spark.sparkContext
    # workers already forked and reused before the archive exists
    assert sc.parallelize([0, 1], 2).map(lambda x: x).collect() == [0, 1]
    sc.addPyFile(str(archive))

    def probe(_):
        import late_added_probe

        yield late_added_probe.VALUE + 1

    assert sc.parallelize([0], 1).mapPartitions(probe).collect() == [42]


def test_get_spark_from_a_directory_without_the_package(tmp_path):
    """The daemon runs as ``python -m splink_spark._worker_daemon`` in
    the JVM's working directory; with no ``PYTHONPATH`` it finds the
    package only through ``spark.executorEnv.PYTHONPATH``."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from splink_spark.functions.udfs import register_udfs
        from splink_spark.session import get_spark

        spark = get_spark(app_name="foreign_cwd", cores=2)
        rows = spark.createDataFrame([(1, "a")], "id long, s string").collect()
        assert [tuple(r) for r in rows] == [(1, "a")], rows
        register_udfs(spark)
        jw = spark.range(1).selectExpr(
            "jaro_winkler('MARTHA', 'MARHTA') AS jw").collect()[0].jw
        print("JW", jw)
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    jw = [ln for ln in proc.stdout.splitlines() if ln.startswith("JW ")]
    assert float(jw[0].split()[1]) == pytest.approx(0.9611, abs=1e-3)
