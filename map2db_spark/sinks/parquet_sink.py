"""Canonical parquet sink: the scale-path output (SURVEY §7 hard part 6
— SQLite is an export format; at 100 TB the consolidated feature
tables live as partitioned parquet).

Layout: one dataset per feature table, partitioned by level (query
pattern: "features visible at zoom z" prunes whole level partitions),
plus a ``manifest.json`` sidecar carrying the same provenance the
SQLite sink records in its README/limits/subfiles tables (license
text, bbox, subfile zoom ranges, per-table vtag column order) so a
consumer of either sink sees identical metadata.

Geometry stays a WKB binary column — GeoParquet-compatible column
layout (geometry column + metadata is a follow-up; readers that only
need attributes never touch the blob thanks to parquet column
pruning).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from map2db_spark.sinks.sqlite_sink import TABLE_FOR_FTYPE, provenance


def write_parquet(consolidated: DataFrame, out_dir: str) -> dict[str, str]:
    paths = {}
    for ftype, table in TABLE_FOR_FTYPE.items():
        path = os.path.join(out_dir, table)
        (
            consolidated.where(consolidated.ftype == ftype)
            .drop("ftype")
            .repartition("level")
            .write.mode("overwrite")
            .partitionBy("level")
            .parquet(path)
        )
        paths[table] = path
    return paths


def write_manifest(
    out_dir: str,
    src_pathname: str,
    header,
    vtag_cols: dict[str, list[str]],
) -> str:
    """Provenance sidecar: the SQLite sink's README texts, bbox limits
    and subfile zoom ranges (sqlite_sink.provenance), plus the
    reference-order vtag key list per table."""
    manifest = {
        **provenance(header, src_pathname, "dataset"),
        "vtag_cols": vtag_cols,
        "tables": list(TABLE_FOR_FTYPE.values()),
    }
    path = os.path.join(out_dir, "manifest.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(manifest, f, ensure_ascii=False, indent=1)
    return path
