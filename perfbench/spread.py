#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 --out perfbench/spread.json [--workload W ...]

Runs ``perfbench/run.py`` once per seed (1..runs) for each workload, with
the settings in BENCHMARK.json, and reports per metric the median and the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``).  Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "iqr_share": (q3 - q1) / med if med else 0.0,
            "min": min(values), "max": max(values)}


def main() -> int:
    bench = json.loads(Path("BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    help="default: every workload in BENCHMARK.json")
    ap.add_argument("--out", help="write the summary JSON here")
    args = ap.parse_args()
    names = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {"runs": args.runs, "run_seconds": bench["run_seconds"], "workloads": {}}
    for name in names:
        values: dict[str, list[float]] = {}
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.perf_counter()
            proc = subprocess.run(
                bench["command"] + ["--workload", name, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            detail = json.loads(lines[-2])["detail"]
            runs.append({"seed": seed, "exit": proc.returncode,
                         "run_s": round(time.perf_counter() - t0, 1),
                         "correct": result["correct"], "attempted": result["attempted"],
                         "failed": result["failed"],
                         "metrics": {k: v["value"] for k, v in result["metrics"].items()},
                         "setup_samples": detail["setup_samples"],
                         "passes": [{k: p[k] for k in ("kind", "wall_s", "load1", "steal_ticks")}
                                    for p in detail["passes"]]})
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(json.dumps({"workload": name, **runs[-1]}), flush=True)
        stats = {k: dict(spread(v), bound=bounds.get(k)) for k, v in values.items()}
        summary["workloads"][name] = {"metrics": stats, "runs": runs}
        for k, st in stats.items():
            print(f"{name:14s} {k:24s} median {st['median']:.5g}  "
                  f"iqr/median {st['iqr_share']:.4f}  bound {st['bound']}", flush=True)
    if args.out:
        Path(args.out).write_text(json.dumps(summary, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
