"""Spatial predicate surface over WKB geometry columns.

The consolidated feature tables carry geometry as WKB binary; these
helpers expose the query-side predicates a geodata consumer needs
(bbox extraction, window intersection, point-in-polygon) as
Arrow-vectorized kernels.  On a cluster with Sedona installed the
same call sites map 1:1 onto ST_* SQL functions; the WKB wire format
is shared, so swapping backends is a one-line change per predicate.

Scale: bbox columns are the cheap pre-filter — materialize them once
(they parquet-encode tiny) and let predicate pushdown prune row
groups before any geometry bytes are read.
"""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

BBOX_TYPE = StructType(
    [
        StructField("minx", DoubleType()),
        StructField("miny", DoubleType()),
        StructField("maxx", DoubleType()),
        StructField("maxy", DoubleType()),
    ]
)


def _iter_coords(buf: bytes):
    from map2db_spark.geometry import wkb as gwkb

    kind, parts = gwkb.decode(buf)
    if kind == "multipoint":
        yield from parts
    elif kind == "multilinestring":
        for line in parts:
            yield from line
    else:
        for rings in parts:
            for ring in rings:
                yield from ring


@pandas_udf(BBOX_TYPE)
def wkb_bbox(geom: pd.Series) -> pd.DataFrame:
    """Bounding box of a WKB geometry (vectorized over the batch)."""
    rows = []
    for b in geom:
        if b is None:
            rows.append((None, None, None, None))
            continue
        xs, ys = zip(*_iter_coords(b))
        rows.append((min(xs), min(ys), max(xs), max(ys)))
    return pd.DataFrame(rows, columns=["minx", "miny", "maxx", "maxy"])


def bbox_intersects(bbox_col, window: tuple[float, float, float, float]) -> Column:
    """Window intersection predicate on a bbox struct column — a pure
    column expression, so it pushes into scans when the bbox is a
    materialized column."""
    wminx, wminy, wmaxx, wmaxy = window
    return (
        (bbox_col["minx"] <= wmaxx)
        & (bbox_col["maxx"] >= wminx)
        & (bbox_col["miny"] <= wmaxy)
        & (bbox_col["maxy"] >= wminy)
    )


from pyspark.sql.types import BooleanType


@pandas_udf(BooleanType())
def point_covered_by(geom: pd.Series, poly_wkb: pd.Series) -> pd.Series:
    """Exact covers(polygon, point) for point features: integer-grid
    ray cast (boundary counts as covered), reusing the geometry
    kernel's exact predicates.  poly_wkb is typically a broadcast
    literal (F.lit(bytes)).  Sedona equivalent: ST_Covers."""
    from map2db_spark.geometry import wkb as gwkb
    from map2db_spark.geometry.exact import point_in_ring, to_grid

    def covered(point_buf, poly_buf) -> bool:
        if point_buf is None or poly_buf is None:
            return False
        kind, pts = gwkb.decode(point_buf)
        if kind != "multipoint" or not pts:
            return False
        _, polys = gwkb.decode(poly_buf)
        p = to_grid(pts[0])
        for rings in polys:
            shell = [to_grid(v) for v in rings[0]]
            if point_in_ring(p, shell):
                in_hole = any(
                    point_in_ring(p, [to_grid(v) for v in hole])
                    for hole in rings[1:]
                )
                if not in_hole:
                    return True
        return False

    return pd.Series(
        [covered(g, p) for g, p in zip(geom, poly_wkb)], dtype="bool"
    )


def morton_code(lon, lat, bits: int = 16) -> Column:
    """Z-order (Morton) code from lon/lat: interleaves the top `bits`
    of each quantized coordinate using the classic bit-spread, as pure
    column expressions (codegen, no UDF).  Sorting a dataset by this
    code clusters spatial neighbors into the same parquet row groups,
    so bbox min/max statistics prune window queries — the 100 TB
    locality move."""
    def quant(c, lo, hi):
        scaled = (c - F.lit(lo)) / F.lit(hi - lo) * F.lit((1 << bits) - 1)
        return F.round(scaled).cast("long")

    def spread(v):
        # classic bit spread: 16 significant bits to even positions
        v = v.bitwiseOR(F.shiftleft(v, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
        v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
        v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
        v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x3333333333333333))
        v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x5555555555555555))
        return v

    x = spread(quant(lon, -180.0, 180.0))
    y = spread(quant(lat, -90.0, 90.0))
    return x.bitwiseOR(F.shiftleft(y, 1)).alias("morton")


def cluster_by_morton(features: DataFrame, geom_col: str = "geom",
                      bits: int = 16) -> DataFrame:
    """Sort features in Z-order of their bbox centers (use before the
    parquet sink for spatial row-group locality)."""
    withb = with_bbox(features, geom_col)
    code = morton_code(
        (F.col("bbox.minx") + F.col("bbox.maxx")) / 2,
        (F.col("bbox.miny") + F.col("bbox.maxy")) / 2,
        bits,
    )
    return (
        withb.withColumn("morton", code)
        .sortWithinPartitions("morton")
        .drop("bbox", "morton")
    )


def with_bbox(features: DataFrame, geom_col: str = "geom") -> DataFrame:
    return features.withColumn("bbox", wkb_bbox(F.col(geom_col)))


def filter_window(
    features: DataFrame, window: tuple[float, float, float, float],
    geom_col: str = "geom",
) -> DataFrame:
    """Features whose bbox intersects the window (the coarse spatial
    filter; exact predicates refine the survivors)."""
    return with_bbox(features, geom_col).where(
        bbox_intersects(F.col("bbox"), window)
    )
