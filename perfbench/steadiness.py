"""Check the benchmark's own steadiness: run each workload on several
seeds and report, per end-to-end metric, the median and the quartile
spread (Q3 - Q1) / median against the metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --seeds 10 [--workload web_dedupe]
    python3 perfbench/steadiness.py --from-results runs.jsonl

Every run's result line is appended to ``--out`` (JSON lines, one per
run with its workload and seed), so two sets of runs can be compared
later with ``--from-results``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.stats import quartile_spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def summarise(rows: list[dict], bench: dict) -> bool:
    """Print median and spread per workload and metric; True when every
    spread but setup_s's is within its bound."""
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for wl in sorted({r["workload"] for r in rows}):
        runs = [r for r in rows if r["workload"] == wl]
        print(f"{wl}: {len(runs)} runs, all correct="
              f"{all(r['result']['correct'] for r in runs)}")
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            spread = quartile_spread(vals) if len(vals) >= 2 else 0.0
            flag = "" if spread <= bound / 3 else (
                " (above a third of the bound)" if spread <= bound
                else " OVER BOUND")
            if spread > bound and name != "setup_s":
                ok = False
            print(f"  {name:20s} median={med:12.4f} spread={spread:7.4f} "
                  f"bound={bound:.3f}{flag}")
    return ok


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append")
    p.add_argument("--out", default=".perfbench_work/steadiness.jsonl")
    p.add_argument("--from-results")
    args = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.from_results:
        rows = [json.loads(line) for line in
                Path(args.from_results).read_text().splitlines() if line]
        return 0 if summarise(rows, bench) else 1
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    out = ROOT / args.out
    out.parent.mkdir(parents=True, exist_ok=True)
    rows = []
    for wl in workloads:
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            res = run_once(wl, seed, bench["run_seconds"])
            row = {"workload": wl, "seed": seed, "result": res}
            rows.append(row)
            with open(out, "a") as f:
                f.write(json.dumps(row) + "\n")
            print(f"{wl} seed {seed}: correct={res['correct']}",
                  file=sys.stderr, flush=True)
    return 0 if summarise(rows, bench) else 1


if __name__ == "__main__":
    sys.exit(main())
