#!/usr/bin/env python3
"""map2db conversion benchmark: one closed-loop client, one conversion
at a time, through ``pipeline.map2db()`` at ``local[<cores>]``.

    python3 perfbench/run.py --workload stitch-zoom --seed 1 --seconds 6 --trace 0

Run from the repository root.  The input map is generated from the seed
(see workloads.py) outside every timed window; the program sees only
the ``.map`` file.  A run then measures, in this order:

1. ``setup_s``: fresh-process imports plus ``session.get_spark()``,
   taken twice (a probe process, which then writes the input map, and
   this process) and reported as the median;
2. ``cold_convert_s``: the session's first ``map2db()``;
3. ``WARMUP_PASSES`` untimed conversions, then timed conversions until
   ``--seconds`` have passed (at least ``MIN_TIMED_PASSES``):
   ``features_per_s`` is output features over the median timed wall time;
4. ``out_bytes_per_feature``: sink bytes over output features.

Every conversion's output is checked against the generator's
expectations (check.py); a conversion that raises or fails its check
counts as failed.  With ``--trace 1`` one more, traced conversion runs
layer by layer (tracing.py) and the per-layer metrics are printed instead.
The last stdout line is the JSON result; the line before it carries the
per-pass detail.  Scratch files live in ``.perfbench-work/``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

WARMUP_PASSES = 1
MIN_TIMED_PASSES = 2
PASS_BUDGET_S = 60  # no pass beyond the minimum starts after this much of the run
DRIVER_MEM = "3g"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def configure_env(work: Path) -> int:
    """Environment for this process and every JVM / worker it starts:
    all scratch inside the work dir, no console progress bar."""
    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "SPARK_LAUNCHER_OPTS": java_opts,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", shlex.quote(java_opts), "pyspark-shell",
        ]),
    })
    return cores


def start_session():
    """(spark, pipeline module, seconds from import to ready session)."""
    t0 = time.perf_counter()
    from map2db_spark import pipeline, session

    spark = session.get_spark()
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, pipeline, elapsed


def stop_session(spark) -> None:
    """Stop Spark and the driver JVM, then wait until every process the
    session started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    before = tracing.descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in before) and time.monotonic() < deadline:
        time.sleep(0.1)


def ensure_map(root: Path, work: Path, workload: str, seed: int) -> Path:
    """Directory holding input.map + expect.json for (workload, seed,
    encoder); written here unless an earlier run left it."""
    key = f"{workload}-{seed}-{workloads.encoder_hash(root)}"
    maps = work / "maps"
    target = maps / key
    if not (target / "input.map").exists():
        if maps.exists():  # keep one map per workload on disk
            for old in maps.glob(f"{workload}-*"):
                shutil.rmtree(old, ignore_errors=True)
        workloads.write_map(target, workload, seed)
    return target


def probe(root: Path, work: Path, workload: str, seed: int) -> int:
    """Child process: one set-up sample from a fresh process, then the
    input map (generation reuses the imports the sample paid for)."""
    spark, _, elapsed = start_session()
    stop_session(spark)
    ensure_map(root, work, workload, seed)
    print(json.dumps({"setup_s": elapsed}))
    return 0


def release(spark) -> None:
    """Drop cached and checkpointed blocks and collect garbage on both
    sides, so one pass does not bill the next."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def remove_output(out: Path) -> None:
    if out.is_dir():
        shutil.rmtree(out)
    elif out.exists():
        out.unlink()
    config = Path(str(out) + ".config.toml")
    if config.exists():
        config.unlink()


class Runner:
    def __init__(self, spark, pipeline, src: Path, expect: dict, work: Path):
        self.spark = spark
        self.pipeline = pipeline
        self.src = str(src)
        self.expect = expect
        self.out = work / "out" / ("output.db" if expect["sink"] == "sqlite" else "output")
        self.out.parent.mkdir(parents=True, exist_ok=True)
        self.passes: list[dict] = []

    def convert(self, kind: str, traced_with=None) -> dict:
        remove_output(self.out)
        rec = {"kind": kind, "steal0": tracing.steal_ticks(), "load1": tracing.load1()}
        t0 = time.perf_counter()
        try:
            if traced_with is None:
                self.pipeline.map2db(self.spark, self.src, str(self.out), sink=self.expect["sink"])
            else:
                rec["layers"] = tracing.traced_map2db(
                    self.spark, self.src, str(self.out), self.expect["sink"], traced_with)
            rec["wall_s"] = time.perf_counter() - t0
            rec.update(check.check_output(self.expect, str(self.out)))
            rec["check_s"] = time.perf_counter() - t0 - rec["wall_s"]
        except Exception as exc:  # a failed conversion is a result, not a crash
            rec["wall_s"] = time.perf_counter() - t0
            rec["problems"] = [f"{type(exc).__name__}: {exc}"[:500]]
        first = next((p for p in self.passes if "digest" in p), None)
        if first and "digest" in rec and rec["digest"] != first["digest"]:
            rec["problems"].append("row digest differs from the first conversion")
        rec["steal_ticks"] = tracing.steal_ticks() - rec.pop("steal0")
        remove_output(self.out)
        release(self.spark)
        self.passes.append(rec)
        return rec

    def failed(self) -> int:
        return sum(1 for p in self.passes if p["problems"])


def end_to_end(setups, runner: Runner) -> dict:
    timed = [p for p in runner.passes if p["kind"] == "timed" and not p["problems"]]
    ok = [p for p in runner.passes if not p["problems"]]
    cold = runner.passes[0]
    features = ok[0]["features"] if ok else 0
    return {
        "setup_s": {"value": _median(setups), "unit": "s"},
        "cold_convert_s": {"value": cold["wall_s"], "unit": "s"},
        "features_per_s": {
            "value": features / _median([p["wall_s"] for p in timed]) if timed else 0.0,
            "unit": "1/s"},
        "out_bytes_per_feature": {
            "value": _median([p["out_bytes"] / p["features"] for p in ok if p["features"]]),
            "unit": "B"},
    }


def per_layer(tracer: tracing.Tracer, traced: dict, runner: Runner, cores: int,
              peak_rss: int, kernel_us: float) -> dict:
    layers = traced.get("layers", {})
    warm = _median([p["wall_s"] for p in runner.passes if p["kind"] == "timed"])
    span = {r["name"]: r for r in tracer.spans}

    def s(name, key="wall_s"):
        return span[name][key] if name in span else 0.0

    cons = "consolidate.consolidate"
    rows_in = layers.get("cons_rows_in", 0)
    groups = layers.get("cons_rows_out", 0)
    dec_wall = s("decode.load_features")
    vals = {
        "session.peak_rss_mb": (peak_rss / 2 ** 20, "MB"),
        "sources.read_header_s": (s("sources.read_header"), "s"),
        "sources.manifest_s": (s("sources.manifest"), "s"),
        "sources.tiles": (layers.get("tiles", 0), "count"),
        "sources.tiles_nonempty": (layers.get("tiles_nonempty", 0), "count"),
        "decode.wall_s": (dec_wall, "s"),
        "decode.cpu_s": (s("decode.load_features", "cpu_s"), "s"),
        "decode.busy_share": (
            s("decode.load_features", "cpu_s") / (dec_wall * cores) if dec_wall else 0.0,
            "fraction"),
        "decode.rows": (layers.get("decode_rows", 0), "count"),
        "decode.rejects": (layers.get("rejects", 0), "count"),
        "decode.kernel_us_per_feature": (kernel_us, "us"),
        "consolidate.wall_s": (s(cons), "s"),
        "consolidate.cpu_s": (s(cons, "cpu_s"), "s"),
        "consolidate.rows_in": (rows_in, "count"),
        "consolidate.rows_out": (groups, "count"),
        "consolidate.multi_share": (
            layers.get("cons_multi", 0) / groups if groups else 0.0, "fraction"),
        "consolidate.violations": (layers.get("violations", 0), "count"),
        "consolidate.shuffle_bytes": (s(cons, "shuffle_bytes"), "B"),
        "consolidate.assign_ids_s": (s("consolidate.assign_ids"), "s"),
        "linemerge.wall_s": (s("linemerge.merge_lines"), "s"),
        "linemerge.rows_in": (layers.get("merge_rows_in", 0), "count"),
        "linemerge.improved_share": (
            layers.get("merge_improved", 0) / layers["merge_rows_in"]
            if layers.get("merge_rows_in") else 0.0, "fraction"),
        "sinks.write_s": (s("sinks.write"), "s"),
        "sinks.config_s": (s("sinks.config"), "s"),
        "sinks.out_bytes": (traced.get("out_bytes", 0), "B"),
        "pipeline.traced_total_s": (s("pipeline.map2db"), "s"),
        "pipeline.trace_overhead_s": (s("pipeline.map2db") - warm if warm else 0.0, "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="map2db conversion benchmark")
    ap.add_argument("--workload", choices=workloads.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "map2db_spark" / "pipeline.py").is_file():
        print("perfbench: run from the repository root (map2db_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    work = root / ".perfbench-work"
    cores = configure_env(work)
    if args.probe:
        return probe(root, work, args.workload, args.seed)
    run_start = time.perf_counter()

    child = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--probe", "--workload", args.workload,
         "--seed", str(args.seed)],
        check=True, cwd=root, stdout=subprocess.PIPE, text=True)
    setups = [json.loads(child.stdout.strip().splitlines()[-1])["setup_s"]]
    map_dir = ensure_map(root, work, args.workload, args.seed)
    src = map_dir / "input.map"
    expect = json.loads((map_dir / "expect.json").read_text())
    spark, pipeline, elapsed = start_session()
    setups.append(elapsed)

    runner = Runner(spark, pipeline, src, expect, work)
    sampler = tracing.RssSampler() if args.trace else contextlib.nullcontext()
    try:
        with sampler:
            runner.convert("cold")
            for _ in range(WARMUP_PASSES):
                runner.convert("warmup")
            t0 = time.perf_counter()
            n = 0
            while n < MIN_TIMED_PASSES or (time.perf_counter() - t0 < args.seconds
                                           and time.perf_counter() - run_start < PASS_BUDGET_S):
                runner.convert("timed")
                n += 1
            if args.trace:
                kernel_us = tracing.kernel_us_per_feature(spark, str(src))
                tracer = tracing.Tracer(f"{args.workload}-{args.seed}", spark)
                traced = runner.convert("traced", traced_with=tracer)
        if args.trace:
            tracer.write_jsonl(str(work / f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = per_layer(tracer, traced, runner, cores, sampler.peak_bytes, kernel_us)
        else:
            metrics = end_to_end(setups, runner)
    finally:
        stop_session(spark)

    failed = runner.failed()
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "input_sha256": expect["map_sha256"], "setup_samples": setups,
        "expected": {"counts": expect["counts"], "sightings": expect["sightings"]},
        "passes": [{k: v for k, v in p.items() if k != "layers"} for p in runner.passes],
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": len(runner.passes),
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
