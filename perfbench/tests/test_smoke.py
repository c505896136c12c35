"""End-to-end runs of each workload at smoke scale (about a minute each:
the JVM start dominates)."""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import contract

ROOT = Path(__file__).resolve().parents[2]


def _run(cwd: Path, *args: str, timeout: float = 300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(contract.WORKLOADS))
def test_workload_smoke(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--scale", "smoke")
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True, p.stderr[-4000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    specs = contract.PER_LAYER if trace else contract.END_TO_END
    assert set(result["metrics"]) == set(specs)
    for name, m in result["metrics"].items():
        assert m["unit"] == specs[name]["unit"]
    if trace:
        # one traced and one untraced unit, so the overhead is measured
        assert result["attempted"] >= 2
        assert result["metrics"]["spark.jobs"]["value"] > 0
        assert result["metrics"]["blocking.pairs"]["value"] > 0
    else:
        assert result["metrics"]["setup_s"]["value"] > 0
        assert result["metrics"]["completed_fraction"]["value"] == 1.0


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "web_dedupe", "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
