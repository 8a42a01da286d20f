"""Canonical parquet sink: the scale-path output (SURVEY §7 hard part 6
— SQLite is an export format; at 100 TB the consolidated feature
tables live as partitioned parquet).

Layout: one dataset per feature table, partitioned by level (query
pattern: "features visible at zoom z" prunes whole level partitions),
with one part file per (table, level), plus a ``manifest.json``
sidecar carrying the same provenance the SQLite sink records in its
README/limits/subfiles tables (license text, bbox, subfile zoom
ranges, per-table vtag column order) so a consumer of either sink
sees identical metadata.

One Spark job writes all three tables (``write_parquet``: a staging
write, then a rename per table); three filtered writes would each
re-run the upstream plan, or need it checkpointed, and pay their own
exchange.  Row counts come from the part files' parquet footers
(``table_row_counts``), not a count job.

Geometry stays a WKB binary column — GeoParquet-compatible column
layout (geometry column + metadata is a follow-up; readers that only
need attributes never touch the blob thanks to parquet column
pruning).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame

from map2db_spark.sinks.sqlite_sink import TABLE_FOR_FTYPE, provenance

# under out_dir; the leading underscore hides it from Spark's and
# pyarrow's dataset listing while a write is in flight
STAGING_DIR = "_staging"


def write_parquet(consolidated: DataFrame, out_dir: str) -> dict[str, str]:
    """Write the three feature tables in ONE Spark job and return
    {table: path}.

    The job writes ``consolidated`` partitioned by (ftype, level) into
    a staging directory under ``out_dir``; each ``ftype=<f>`` directory
    is then renamed to its table directory.  A table directory that
    already exists is replaced (mode "overwrite"), an ftype with no
    rows gets an empty table directory, and every table directory gets
    a ``_SUCCESS`` marker.  The repartition keys equal the partition
    keys, so each (table, level) directory holds exactly one part file.
    The rename is a local-filesystem move, like write_manifest's
    open()."""
    staging = os.path.join(out_dir, STAGING_DIR)
    (
        consolidated.repartition("ftype", "level")
        .write.mode("overwrite")
        .partitionBy("ftype", "level")
        .parquet(staging)
    )
    paths = {}
    for ftype, table in TABLE_FOR_FTYPE.items():
        path = os.path.join(out_dir, table)
        if os.path.isdir(path):
            shutil.rmtree(path)
        written = os.path.join(staging, f"ftype={ftype}")
        if os.path.isdir(written):
            os.rename(written, path)
        else:
            os.makedirs(path)
        open(os.path.join(path, "_SUCCESS"), "wb").close()
        paths[table] = path
    shutil.rmtree(staging)
    return paths


def table_row_counts(paths: dict[str, str]) -> dict[str, int]:
    """Rows per table, read from the footers of the part files
    ``write_parquet`` wrote: no Spark job.  A table with no part
    files counts 0, as the sqlite sink reports it (ADVICE r7: a
    schema-less spark.read.parquet of such a table raises)."""
    import pyarrow.parquet as pq

    return {
        table: sum(
            pq.read_metadata(part).num_rows
            for part in glob.glob(os.path.join(path, "level=*", "*.parquet"))
        )
        for table, path in paths.items()
    }


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
