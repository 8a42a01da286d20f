"""End-to-end pipeline: map file -> consolidated features -> sinks.

Spark-first restatement of the reference's ``map2db(src, dst)``
(map2db.py:1311-1532), per SURVEY §3.4:

driver:    header + tile index parse (KB-scale)            [sources/header]
executors: manifest -> mapInPandas decode + geometry prep  [operators/decode]
           (ftype, fid) shuffle, then ONE mapInPandas that
           consolidates and merges lines (dbl)             [operators/consolidate,
                                                            operators/linemerge]
executors: parquet sink (the default), one write job       [sinks/parquet_sink]
driver:    SQLite export sink + TOML config                [sinks/]

The plan is lazy end to end and checkpoints nothing; the only
driver-side data movements are the collected vtag key set (tiny), the
parquet footers' row counts and the Arrow batches streamed into the
SQLite file.  A parquet conversion of the dbl fixture runs 7 Spark
jobs (AQE submits one per shuffle stage): the vtag key order's
collect, which decodes into the feature cache, and the one write over
the (ftype, fid) and (ftype, level) exchanges
(tests/test_plans.py::test_dbl_parquet_conversion_job_budget).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map2db_spark.operators.consolidate import (
    CONSOLIDATED_SCHEMA,
    assign_ids,
    by_feature,
    consolidate_kernel,
)
from map2db_spark.operators.decode import decode_features
from map2db_spark.operators.linemerge import merge_line_geoms
from map2db_spark.sinks.sqlite_sink import (
    readme_license,
    vtag_key_order,
    write_sqlite,
)
from map2db_spark.sinks.toml_sink import write_config
from map2db_spark.sources.header import MapHeader, build_manifest, nonempty, read_header


def load_features(spark: SparkSession, src: str, header: MapHeader | None = None):
    """map file -> raw decoded features DataFrame (pre-consolidation)."""
    header = header or read_header(src)
    manifest = nonempty(build_manifest(spark, src, header))
    # Break spatial skew: neighboring tiles (dense cities) land in
    # different tasks.  An explicit hash on the tile key beats relying
    # on input order at high tile counts.  The fan-out is sized from
    # the DATA, not just the core count (r15, guide §2.5/§4): every
    # manifest partition is one Python decode-kernel dispatch, so a
    # small map sliced into 2x-parallelism partitions pays per-task
    # kernel overhead for near-empty batches (measured on the 256-tile
    # bench fixture at local[32]: 64 -> 32 partitions = 1.82 s ->
    # 1.45 s for the full pipeline row).  Rule: >= ~8 tiles per decode
    # task, capped at 2x parallelism (the skew-smoothing fan-out real
    # maps want), never more partitions than tiles.
    par = max(spark.sparkContext.defaultParallelism, 4)
    total_tiles = sum(sf.tile_count for sf in header.subfiles)
    fanout = max(1, min(par * 2, max(par, total_tiles // 8), total_tiles))
    manifest = manifest.repartition(
        fanout,
        F.col("tile_x"),
        F.col("tile_y"),
        F.col("level"),
    )
    return decode_features(spark, src, header, manifest)


def _consolidate_and_merge(feats: DataFrame, header: MapHeader) -> DataFrame:
    """consolidate + line merge as ONE Python stage: the (ftype, fid)
    exchange, then the consolidate kernel with every multi-part line
    merged before its rows leave the task.  Same rows as
    ``merge_lines`` over ``consolidate``'s lines unioned with its other
    rows, minus the merge-stat columns (tests/test_pipeline_e2e.py)."""
    kernel = consolidate_kernel(header, finish=merge_line_geoms)
    return by_feature(feats).mapInPandas(kernel, schema=CONSOLIDATED_SCHEMA)


def _final_features(feats: DataFrame, header: MapHeader) -> DataFrame:
    """Reject-free decoded features -> final feature rows (dbl:
    consolidated + line-merged; non-dbl: deterministically numbered
    raw rows)."""
    if not header.is_dbl:
        return assign_ids(feats).select(
            "ftype", "fid", "level", "minz", "maxz", "layer", "tags", "vtags", "geom",
            F.lit(None).cast("string").alias("violation"),
        )
    return _consolidate_and_merge(feats, header)


def consolidated_features(
    spark: SparkSession, src: str, header: MapHeader | None = None
) -> DataFrame:
    """map file -> final feature rows.  Unreparable geometries
    (ftype='reject', F7/G4) are excluded, as the reference discards
    them (map2db.py:996-1011); they stay queryable in
    load_features(...), with the reason under vtags['m2db:reject']."""
    header = header or read_header(src)
    feats = load_features(spark, src, header).where(F.col("ftype") != "reject")
    return _final_features(feats, header)


def map2db(
    spark: SparkSession,
    src_pathname: str,
    out_pathname: str,
    sink: str = "parquet",
) -> dict:
    """Full reference-parity run with an explicit sink choice (SURVEY
    §7 hard part 6; VERDICT r6 #6):

    - ``sink="parquet"`` (the CLUSTER DEFAULT): partitioned parquet
      datasets under ``out_pathname`` (points/lines/areas partitioned
      by level, sinks/parquet_sink.py) plus a manifest.json with the
      same README/limits/subfiles provenance the SQLite sink records.
      This is the 100 TB path — executors write in parallel, nothing
      funnels through the driver; BASELINE.md measured it 144x the
      reference at the 10^5-tile scale vs 29-36x for the single-file
      SQLite drain.
    - ``sink="sqlite"`` (the EXPORT FORMAT, reference parity): the FDO
      RFC 16 single-file geodatabase (map2db.py:1311-1532), streamed
      from an executor-written temp parquet through one driver
      connection.

    Both sinks consume the identical ``final`` DataFrame — agreement
    is pinned table-by-table in tests/test_pipeline_e2e.py
    (test_sink_parity_parquet_vs_sqlite).  For dbl maps ``final`` is
    one Python stage over the (ftype, fid) exchange that consolidates
    and line-merges (``_final_features``).  The parquet sink writes
    it once, and the counts come from the written files' parquet
    footers, so nothing is checkpointed or counted by a second job.
    For dbl maps both sinks write the forgemap TOML config next to the
    output.  Returns a summary dict with counts/license/vtag_cols
    (+ paths for parquet).

    The run releases every RDD it persisted (any RDD that became
    persistent during the call), so repeated conversions in one
    application do not accumulate cached blocks."""
    if sink not in ("parquet", "sqlite"):
        raise ValueError(f"sink must be 'parquet' or 'sqlite', got {sink!r}")
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    held_before = set(persistent().keys())
    header = read_header(src_pathname)
    feats = load_features(spark, src_pathname, header).where(
        F.col("ftype") != "reject"  # unreparable geometry: discarded, per reference
    )
    # cache: the feature scan feeds consolidation AND vtag-order; at
    # export scale this is the working set, materialized once
    feats.persist()
    try:
        final = _final_features(feats, header)
        if sink == "sqlite":
            result = write_sqlite(
                out_pathname, src_pathname, header, final, feats
            )
        else:
            from map2db_spark.sinks.parquet_sink import (
                table_row_counts,
                write_manifest,
                write_parquet,
            )

            vtag_cols = vtag_key_order(feats)
            paths = write_parquet(final, out_pathname)
            manifest = write_manifest(
                out_pathname, src_pathname, header, vtag_cols
            )
            counts = table_row_counts(paths)
            result = {
                "counts": counts,
                "license": readme_license(header, src_pathname)[1],
                "vtag_cols": vtag_cols,
                "paths": paths,
                "manifest": manifest,
            }
        if header.is_dbl:
            # global vtag list for the TOML (first-sighting order over
            # all three tables)
            per_table = result["vtag_cols"]
            seen: list[str] = []
            for ftype in ["point", "line", "area"]:
                for k in per_table.get(ftype, []):
                    if k not in seen:
                        seen.append(k)
            config_path = out_pathname.rstrip("/") + ".config.toml"
            write_config(config_path, out_pathname, header.dbl_license, header, seen)
            result["config"] = config_path
        result["dbl"] = header.is_dbl
        result["sink"] = sink
        return result
    finally:
        feats.unpersist()
        for rdd_id, rdd in persistent().items():
            if rdd_id not in held_before:
                rdd.unpersist(False)
