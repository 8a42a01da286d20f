#!/usr/bin/env python3
"""CPU-scaling proof artifact (VERDICT r15 #2 / PERF scaling block).

The driver's 8-vs-32-core bench comparison reads ~1.0 for every
sf0.1 row because none of them is CPU-bound at ~600k rows — wall time
is fixed per-stage orchestration + codegen, which cores cannot shrink
— so the harness's `suspect_cpus_ignored` heuristic misfires every
round.  This tool measures a workload that IS CPU-bound (the full
decode -> consolidate -> line-merge pipeline over a generated
~4,096-tile / ~983k-feature MapsForge map: ~100 s of single-core
kernel work, an order of magnitude past the ~2.5 s framework floor)
at two core counts and prints the ratio, which SCALE.md records and
BASELINE.md cites.

Each core count runs in a SUBPROCESS with a fresh JVM (same
cold-start regime at both points; `local[N]` via the same
session-factory path the bench uses, so the artifact also exercises
$SPARK_GRAFT_CPUS handling).  Timing is warm-pass + min-of-two of the
compute-only pipeline through the noop sink — the bench methodology.
/proc/stat steal is bracketed around every timed window because the
sandbox host shows intermittent hypervisor steal that in-VM loadavg
cannot see (BASELINE.md r15 regime note).

Usage:
    python3 tools/measure_core_scaling.py            # orchestrate host/4 vs host cores
    python3 tools/measure_core_scaling.py --one <cpus> <map_path>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parents[1])
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

FEATS_PER_TILE = 240
# z10 grid => ~125x130 tiles => ~16k tiles / ~3.9M features: the
# first attempt (64x64, ~930k features) finished in 3.1 s at 32
# cores — too close to the ~2.5 s per-job orchestration floor to
# separate compute from floor (ratio read 1.26); 4x the tiles puts
# the kernel work an order of magnitude past the floor
BBOX = (0.1, 0.1, 44.0, 44.0)
REPEATS = 2


def _steal() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _run_one(cpus: int, map_path: str) -> None:
    from pyspark.sql import functions as F

    from map2db_spark.pipeline import consolidated_features, load_features
    from map2db_spark.session import get_spark

    spark = get_spark("core-scaling", cpus=str(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setJobDescription(f"core-scaling local[{cpus}]")

    # two workload shapes: decode-only is map-only (the manifest
    # repartition moves KB; all the time is the Python decode kernel)
    # — the CPU-bound row the scaling claim rests on; the full
    # pipeline adds the consolidate/merge shuffle stages, whose cost
    # scales with DATA, not cores, so its ratio is lower by design
    workloads = {
        "decode_only": lambda: load_features(spark, map_path).where(
            F.col("ftype") != "reject"
        ),
        "full_pipeline": lambda: consolidated_features(spark, map_path),
    }

    result = {"cpus": cpus,
              "parallelism": spark.sparkContext.defaultParallelism}
    for wname, build in workloads.items():
        def pass_once() -> float:
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        warm = pass_once()  # JVM/codegen/page-cache warm-up, untimed
        s0 = _steal()
        samples = [round(pass_once(), 3) for _ in range(REPEATS)]
        s1 = _steal()
        result[wname] = {
            "warm_sec": round(warm, 3),
            "samples": samples,
            "best_sec": min(samples),
            "steal_ticks": s1 - s0,
        }
    print(json.dumps(result))
    spark.stop()


def main() -> None:
    if len(sys.argv) >= 4 and sys.argv[1] == "--one":
        _run_one(int(sys.argv[2]), sys.argv[3])
        return

    from map2db_spark.sources.sample_maps import large_map

    with tempfile.TemporaryDirectory(prefix="m2db_scaling_") as tmp:
        map_path = os.path.join(tmp, "dense.map")
        t0 = time.perf_counter()
        large_map(FEATS_PER_TILE, bbox=BBOX).write(map_path)
        gen_sec = round(time.perf_counter() - t0, 1)
        size_mb = round(os.path.getsize(map_path) / 1e6, 1)

        hi = len(os.sched_getaffinity(0))
        lo = max(1, hi // 4)
        results = {}
        for cpus in (hi, lo):
            out = subprocess.run(
                [sys.executable, __file__, "--one", str(cpus), map_path],
                capture_output=True,
                text=True,
                cwd=_REPO,
                check=True,
            )
            line = out.stdout.strip().splitlines()[-1]
            results[cpus] = json.loads(line)

        ratios = {
            w: round(
                results[lo][w]["best_sec"] / results[hi][w]["best_sec"], 2
            )
            for w in ("decode_only", "full_pipeline")
        }
        print(
            json.dumps(
                {
                    "metric": f"pipeline_core_scaling_{lo}_vs_{hi}",
                    "map_mb": size_mb,
                    "gen_sec": gen_sec,
                    "runs": results,
                    f"ratio_{lo}_over_{hi}": ratios,
                }
            )
        )


if __name__ == "__main__":
    main()
