"""Traced conversion: the steps of ``pipeline.map2db`` called layer by
layer from here, each materialized inside its own span.

Spans (name, start, end, parent, run id) stay in memory and are written
as JSONL when the run ends.  Around each span the tracer reads the CPU
time of the whole process tree (this process, the driver JVM and the
Python workers) from /proc, and after each span it waits for Spark's
listener bus to drain and reads the shuffle bytes of the stages the span
ran from the application status store.  A sampler thread records the
peak resident memory of the JVM and its Python workers.

Nothing here changes the program: the functions called are the public
functions of each layer, in the order ``map2db`` calls them.  The extra
materialization points are what ``pipeline.trace_overhead_s`` measures.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int, str]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages, state)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rindex(")") + 2:].split()
        # [0]=state [1]=ppid, [11..14]=utime stime cutime cstime, [21]=rss
        ticks = sum(int(v) for v in fields[11:15])
        out[int(name)] = (int(fields[1]), ticks, int(fields[21]), fields[0])
    return out


def tree_pids(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def descendants() -> list[int]:
    """Live descendants of this process (zombies excluded)."""
    table = _proc_table()
    me = os.getpid()
    return [p for p in tree_pids(table, me) if p != me and table[p][3] != "Z"]


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants.  A worker
    that exits is reaped by its parent, whose cutime/cstime carry it."""
    table = _proc_table()
    pids = tree_pids(table, os.getpid())
    return sum(table[p][1] for p in pids) / CLK_TCK


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class RssSampler:
    """Peak summed RSS of this process's descendants (JVM + workers),
    sampled every ``INTERVAL_S``."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            table = _proc_table()
            rss = sum(table[p][2] for p in tree_pids(table, me) if p != me)
            self.peak_bytes = max(self.peak_bytes, rss * PAGE)
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class StageBytes:
    """Shuffle bytes written by stages that started after a mark, read
    from the application status store once the listener bus is empty."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        # stageList(statuses, details, withSummaries, quantiles, taskStatus)
        self._args = (None, False, False, sc._gateway.new_array(sc._jvm.double, 0),
                      sc._jvm.java.util.ArrayList())

    def _stages(self):
        self._sc.listenerBus().waitUntilEmpty()
        seq = self._sc.statusStore().stageList(*self._args)
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def shuffle_bytes_since(self, mark: int) -> int:
        return sum(int(s.shuffleWriteBytes()) for s in self._stages() if s.stageId() > mark)


class Tracer:
    def __init__(self, run_id: str, spark):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._stages = StageBytes(spark)

    @contextmanager
    def span(self, name: str):
        rec = {"run": self.run_id, "id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        mark = self._stages.mark()
        cpu0 = tree_cpu_s()
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            rec["cpu_s"] = tree_cpu_s() - cpu0
            rec["shuffle_bytes"] = self._stages.shuffle_bytes_since(mark)
            self._stack.pop()

    def write_jsonl(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def traced_map2db(spark, src: str, out: str, sink: str, tracer: Tracer) -> dict:
    """``pipeline.map2db`` step by step, one span per layer call.
    Returns the per-layer counts gathered outside the spans."""
    from pyspark.sql import functions as F

    from map2db_spark import pipeline
    from map2db_spark.operators.consolidate import assign_ids, consolidate
    from map2db_spark.operators.linemerge import merge_lines, wkb_nparts_expr
    from map2db_spark.sinks.sqlite_sink import readme_license, vtag_key_order, write_sqlite
    from map2db_spark.sinks.toml_sink import write_config
    from map2db_spark.sources.header import build_manifest, nonempty, read_header

    stats: dict = {}
    stat_cols = ["was_multi", "still_multi_after_merge", "still_multi_after_snap", "has_loop"]
    with tracer.span("pipeline.map2db"):
        with tracer.span("sources.read_header"):
            header = read_header(src)
        with tracer.span("sources.manifest"):
            manifest = build_manifest(spark, src, header)
            stats["tiles"] = manifest.count()
            stats["tiles_nonempty"] = nonempty(manifest).count()
        with tracer.span("decode.load_features"):
            raw = pipeline.load_features(spark, src, header).persist()
            stats["decode_rows"] = raw.count()
        feats = raw.where(F.col("ftype") != "reject")
        if header.is_dbl:
            with tracer.span("consolidate.consolidate"):
                cons = consolidate(feats, header).localCheckpoint()
            lines = cons.where(F.col("ftype") == "line").withColumn(
                "nparts_in", wkb_nparts_expr(F.col("geom")))
            with tracer.span("linemerge.merge_lines"):
                merged = merge_lines(lines).localCheckpoint()
            final = cons.where(F.col("ftype") != "line").unionByName(
                merged.drop("nparts_in", *stat_cols))
        else:
            with tracer.span("consolidate.assign_ids"):
                final = assign_ids(feats).select(
                    "ftype", "fid", "level", "minz", "maxz", "layer", "tags", "vtags",
                    "geom", F.lit(None).cast("string").alias("violation"),
                ).localCheckpoint()
        with tracer.span("sinks.write"):
            if sink == "sqlite":
                result = write_sqlite(out, src, header, final, feats)
            else:
                from map2db_spark.sinks.parquet_sink import write_manifest, write_parquet

                vtag_cols = vtag_key_order(feats)
                final = final.localCheckpoint()
                write_parquet(final, out)
                write_manifest(out, src, header, vtag_cols)
                result = {"vtag_cols": vtag_cols,
                          "license": readme_license(header, src)[1]}
        if header.is_dbl:
            with tracer.span("sinks.config"):
                seen: list[str] = []
                for ftype in ["point", "line", "area"]:
                    for k in result["vtag_cols"].get(ftype, []):
                        if k not in seen:
                            seen.append(k)
                write_config(out.rstrip("/") + ".config.toml", out,
                             header.dbl_license, header, seen)

    # counts from the cached / checkpointed intermediates, outside every span
    stats["rejects"] = raw.where(F.col("ftype") == "reject").count()
    stats["violations"] = 0
    if header.is_dbl:
        keyed = feats.where("fid IS NOT NULL")
        stats["cons_rows_in"] = keyed.count()
        stats["cons_rows_out"] = cons.count()
        stats["cons_multi"] = keyed.groupBy("ftype", "fid").count().where("count > 1").count()
        stats["violations"] = cons.where("violation IS NOT NULL").count()
        stats["merge_rows_in"] = merged.count()
        stats["merge_improved"] = merged.where(
            F.col("was_multi") & (wkb_nparts_expr(F.col("geom")) < F.col("nparts_in"))
        ).count()
    raw.unpersist()
    return stats


def kernel_us_per_feature(spark, src: str, max_features: int = 8000) -> float:
    """Single-core, in-process decode kernel cost over an evenly spaced
    sample of the map's non-empty tiles (about ``max_features`` rows)."""
    from map2db_spark.operators.decode import tile_feature_rows
    from map2db_spark.sources.header import build_manifest, nonempty, read_header

    header = read_header(src)
    tiles = nonempty(build_manifest(spark, src, header)).orderBy(
        "subfile_idx", "tile_y", "tile_x").collect()
    with open(src, "rb") as f:
        bufs = []
        for t in tiles:
            f.seek(t.offset)
            bufs.append((t, f.read(t.end_offset - t.offset)))
    sf = header.subfiles

    def decode(t, buf):
        return tile_feature_rows(
            buf, t.level, sf[t.subfile_idx].minzoom, sf[t.subfile_idx].maxzoom,
            t.tile_x, t.tile_y, header.ptags, header.wtags, header.debuginfo,
            header.is_dbl)

    per_tile = max(1, len(decode(*bufs[len(bufs) // 2])))
    step = max(1, len(bufs) * per_tile // max_features)
    sample = bufs[::step]
    rows = 0
    t0 = time.perf_counter()
    for t, buf in sample:
        rows += len(decode(t, buf))
    return (time.perf_counter() - t0) / max(rows, 1) * 1e6
