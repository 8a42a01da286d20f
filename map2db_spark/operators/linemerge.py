"""Distributed line merge (G6, reference map2db.py:1080-1182).

The reference loops ``SELECT ... WHERE m2db_lnum = ?`` over the whole
id range on one thread.  Here the same per-feature algorithm
(geometry/linemerge.py) runs inside a shuffle-free ``mapInPandas`` —
but only for features that need it: a part-count probe on the WKB
header (a pure column expression) splits off the single-part lines, so
at scale the merge kernel sees only the multi-part minority.
"""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from map2db_spark.geometry import wkb as gwkb
from map2db_spark.geometry.linemerge import merge_feature

MERGE_STATS_COLS = [
    "was_multi",
    "still_multi_after_merge",
    "still_multi_after_snap",
    "has_loop",
]


from pyspark.sql.types import IntegerType


def _le_u8(col, pos1: int):
    """Unsigned byte at 1-based offset ``pos1`` of a binary column, as
    an int expression (hex of the 1-byte slice, parsed base 16)."""
    return F.conv(F.hex(F.substring(col, pos1, 1)), 16, 10).cast("int")


def wkb_nparts_expr(col) -> F.Column:
    """Part count from the WKB header as a PURE column expression
    (r15, guide §4.1/§4.4): u32-little-endian at byte offset 5 for
    multi types (geometry type = low byte of the u32 at offset 1),
    1 for single geometries, 0 for NULL — bit-identical to the former
    pandas_udf probe (pinned in tests/test_mapsforge_decode.py).

    Why not a UDF: the probe feeds TWO filter branches (single/multi
    split), and Catalyst duplicated the ArrowEvalPython node into both
    branches — every consolidated line row paid the Python boundary
    twice.  As codegen expressions the probe costs four byte reads
    per row, fuses into the surrounding WholeStageCodegen, and the
    linemerge plan carries zero Python nodes outside the merge kernel
    itself."""
    gtype = _le_u8(col, 2)
    nparts = (
        _le_u8(col, 6)
        + _le_u8(col, 7) * 256
        + _le_u8(col, 8) * 65536
        + _le_u8(col, 9) * 16777216
    )
    return (
        F.when(col.isNull(), F.lit(0))
        .when(gtype.isin(4, 5, 6), nparts)
        .otherwise(F.lit(1))
        .cast("int")
    )


@pandas_udf(IntegerType())
def wkb_nparts(geom: pd.Series) -> pd.Series:
    """Part count from the WKB header (u32 at offset 5 for multi types;
    1 for single geometries) — no full decode.  Kept as the reference
    implementation for the expression twin above (parity-pinned);
    query paths use wkb_nparts_expr."""

    def nparts(b):
        if b is None:
            return 0
        gtype = struct.unpack_from("<I", b, 1)[0] & 0xFF
        if gtype in (4, 5, 6):
            return struct.unpack_from("<I", b, 5)[0]
        return 1

    return geom.map(nparts)


def merge_lines(lines: DataFrame) -> DataFrame:
    """lines: consolidated line features (one row per fid).  Returns the
    same schema + merge-stat booleans, with merged geometry where the
    merge improved it (reference updates only on improvement,
    map2db.py:1163-1171).

    Execution shape: the input is already one row per feature, so the
    merge is a pure map — ``mapInPandas`` over the multi-part subset,
    NO shuffle (a groupBy here would move every row just to form
    single-row groups)."""
    probed = lines.withColumn("_nparts", wkb_nparts_expr(F.col("geom")))
    single = probed.where(F.col("_nparts") <= 1).drop("_nparts")
    multi = probed.where(F.col("_nparts") > 1).drop("_nparts")

    from typing import Iterator

    from pyspark.sql.types import BooleanType, StructField, StructType

    out_schema = StructType(
        list(lines.schema.fields)
        + [StructField(c, BooleanType()) for c in MERGE_STATS_COLS]
    )

    cols = lines.columns

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from map2db_spark.geometry.normalize import normalize_multilinestring

        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):
                kind, parts = gwkb.decode(r["geom"])
                merged, stats = merge_feature(parts)
                if stats["improved"]:
                    r["geom"] = gwkb.encode_multilinestring(
                        normalize_multilinestring(merged)
                    )
                for k in MERGE_STATS_COLS:
                    r[k] = bool(stats[k])
                rows.append(r)
            yield pd.DataFrame(rows, columns=cols + MERGE_STATS_COLS)

    merged_multi = multi.mapInPandas(kernel, schema=out_schema)
    single_out = single.select(
        "*",
        F.lit(False).alias("was_multi"),
        F.lit(False).alias("still_multi_after_merge"),
        F.lit(False).alias("still_multi_after_snap"),
        F.lit(False).alias("has_loop"),
    )
    return single_out.unionByName(merged_multi)


def merge_stats(merged: DataFrame):
    """The reference's diagnostic counters (map2db.py:1174-1181)."""
    return merged.agg(
        F.sum(F.col("was_multi").cast("int")).alias("multi_count0"),
        F.sum(F.col("still_multi_after_merge").cast("int")).alias("multi_count1"),
        F.sum(F.col("still_multi_after_snap").cast("int")).alias("multi_count2"),
        F.sum(F.col("has_loop").cast("int")).alias("loops"),
    )
