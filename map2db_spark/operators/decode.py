"""Tile decode kernel: manifest rows -> feature rows (S7-S9 + P1-P9 +
G1-G4/G7-G8 + F3-F9 of SURVEY §2, reference map2db.py:454-728 +
815-1077 geometry prep).

Execution model: ``decode_features`` runs ``mapInPandas`` over the
tile manifest.  Each task opens the map file once and runs
``decode_tiles``, the tile-read loop the MapsForge connectors share:
it range-reads each tile's [offset, end_offset) byte slice, decodes
it with the pure Python parsers below, applies the geometry kernel
(clip to tile box with covers short-circuit, grid snap,
emptiness/type filters, normalization), and emits one row per
surviving feature with geometry already encoded as WKB.  Nothing but
Arrow batches crosses the JVM<->Python boundary; no driver-side loops.

Scale notes: parallelism == manifest partitioning (repartition by an
interleaved tile key upstream to break spatial skew); the file is
opened per task, not per tile; decode cost is O(tile bytes).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from map2db_spark.geometry import clip as gclip
from map2db_spark.geometry import normalize as gnorm
from map2db_spark.geometry import repair as grepair
from map2db_spark.geometry import wkb as gwkb
from map2db_spark.sources.header import MapHeader
from map2db_spark.sources.primitives import Cursor
from map2db_spark.sources.tilemath import tile_bounds_deg, tile_origin_microdeg

# If True, features from non-dbl maps are clipped to tile boundaries
# like dbl features (reference TRIM_NONUM, map2db.py:124-126).
TRIM_NONUM = True

FEATURE_SCHEMA = (
    "ftype STRING, fid LONG, level INT, minz INT, maxz INT, layer INT, "
    "tags ARRAY<STRING>, vtags MAP<STRING,STRING>, geom BINARY, "
    "tile_x INT, tile_y INT, seq INT"
)


def _parse_tag_refs(cur: Cursor, count: int, tag_dict: list[str]):
    """Tag refs + inline typed values (P3/P4, map2db.py:424-451).
    Returns (fixed_tags, vtags) with vtag values rendered as strings."""
    refs = [tag_dict[cur.uleb()] for _ in range(count)]
    fixed: list[str] = []
    vtags: dict[str, str] = {}
    for tag in refs:
        if tag.endswith("=%i"):
            v = cur.s32()
            if ":colour" in tag:
                vtags[tag[:-3]] = hex(v)[2:]
            else:
                vtags[tag[:-3]] = str(v)
        elif tag.endswith("=%f"):
            vtags[tag[:-3]] = str(cur.f32())
        elif tag.endswith("=%h"):
            vtags[tag[:-3]] = str(cur.s16())
        elif tag.endswith("=%s"):
            vtags[tag[:-3]] = cur.lstr()
        else:
            fixed.append(tag)
    return fixed, vtags


def parse_points(
    cur: Cursor, end: int, origin_md, ptags: list[str], debuginfo: bool, poi_counts
):
    """POI block decode (S8, map2db.py:454-502)."""
    out = []
    for tile_z, count in enumerate(poi_counts):
        for _ in range(count):
            if debuginfo and not cur.read(32).startswith(b"***POIStart"):
                raise ValueError(f"POI start marker missing at {cur.pos - 32}")
            p: dict = {"minz": tile_z}
            p["lat"] = round((origin_md[0] + cur.sleb()) / 1e6, 6)
            p["lon"] = round((origin_md[1] + cur.sleb()) / 1e6, 6)
            nibble = cur.u8()
            p["layer"] = nibble // 16 - 5
            p["tags"], vtags = _parse_tag_refs(cur, nibble & 0x0F, ptags)
            if "__dbl_pnum" in vtags:
                p["fid"] = int(vtags.pop("__dbl_pnum"))
            flags = cur.u8()
            if flags & 0x80:
                vtags["m2db_name"] = cur.lstr()
            if flags & 0x40:
                vtags["m2db_house_num"] = cur.lstr()
            if flags & 0x20:
                vtags["m2db_elevation"] = str(cur.uleb())
            p["vtags"] = vtags
            out.append(p)
            if cur.pos > end:
                raise ValueError(f"POI block overrun: {cur.pos} > {end}")
    if cur.pos != end:
        raise ValueError(f"POI block misaligned: {cur.pos} != {end}")
    return out


def parse_ways(
    cur: Cursor, end: int, origin_md, wtags: list[str], debuginfo: bool, way_counts
):
    """Way block decode (S9, map2db.py:505-664): length guard, tags,
    optional fields, data/coordinate blocks with single/double delta,
    ring-closure heuristic for unidentified features."""
    out = []
    for tile_z, count in enumerate(way_counts):
        for _ in range(count):
            if debuginfo and not cur.read(32).startswith(b"---WayStartX"):
                raise ValueError(f"way start marker missing at {cur.pos - 32}")
            w: dict = {"minz": tile_z}
            way_end = cur.uleb() + cur.pos
            if way_end > end:
                raise ValueError("way block overrun")
            cur.u16()  # subtile bitmap
            nibble = cur.u8()
            w["layer"] = nibble // 16 - 5
            w["tags"], vtags = _parse_tag_refs(cur, nibble & 0x0F, wtags)
            if "__dbl_lnum" in vtags:
                w["fid"] = int(vtags.pop("__dbl_lnum"))
                w["ftype"] = "line"
            elif "__dbl_anum" in vtags:
                w["fid"] = int(vtags.pop("__dbl_anum"))
                w["ftype"] = "area"
            flags = cur.u8()
            if flags & 0x80:
                vtags["m2db_name"] = cur.lstr()
            if flags & 0x40:
                vtags["m2db_house_num"] = cur.lstr()
            if flags & 0x20:
                vtags["m2db_reference"] = cur.lstr()
            label = None
            if flags & 0x10:
                # label position = first node + delta (P9).  The
                # reference's own read of this path crashes
                # (map2db.py:557-564 builds dlat/dlon keys but 621-627
                # reads lat/lon); we implement the intended semantics.
                label = (round(cur.sleb() / 1e6, 6), round(cur.sleb() / 1e6, 6))
            dblock_count = cur.uleb() if flags & 0x08 else 1
            ddencode = bool(flags & 0x04)
            rings = True
            blocks = []
            for _ in range(dblock_count):
                dblock = []
                for _ in range(cur.uleb()):
                    lat_prev, lon_prev = origin_md
                    dlat = dlon = 0
                    cblock = []
                    node_count = cur.uleb()
                    for node_num in range(node_count):
                        if ddencode and node_num > 1:
                            dlat += cur.sleb()
                            dlon += cur.sleb()
                        else:
                            dlat = cur.sleb()
                            dlon = cur.sleb()
                        cblock.append(
                            (
                                round((lon_prev + dlon) / 1e6, 6),
                                round((lat_prev + dlat) / 1e6, 6),
                            )
                        )
                        lon_prev += dlon
                        lat_prev += dlat
                    if cblock:
                        if "fid" not in w:
                            # ring heuristic for unidentified ways
                            # (map2db.py:600-617): closed within 1 µdeg
                            # and >= 4 nodes, else the feature is a line
                            if (
                                len(cblock) < 4
                                or abs(cblock[0][0] - cblock[-1][0]) > 0.000001
                                or abs(cblock[0][1] - cblock[-1][1]) > 0.000001
                            ):
                                rings = False
                            elif cblock[0] != cblock[-1]:
                                cblock[-1] = cblock[0]
                        dblock.append(cblock)
                if dblock:
                    blocks.append(dblock)
            if label is not None and blocks:
                first = blocks[0][0][0]  # (lon, lat)
                vtags["m2db_label_lat"] = str(round(first[1] + label[0], 6))
                vtags["m2db_label_lon"] = str(round(first[0] + label[1], 6))
            if cur.pos != way_end:
                raise ValueError(f"way misaligned: {cur.pos} != {way_end}")
            w["vtags"] = vtags
            if "ftype" not in w:
                w["ftype"] = "area" if rings else "line"
            w["blocks"] = blocks
            out.append(w)
    return out


def parse_tile_payload(
    buf: bytes,
    level: int,
    minzoom: int,
    maxzoom: int,
    tile_x: int,
    tile_y: int,
    ptags: list[str],
    wtags: list[str],
    debuginfo: bool,
):
    """Decode one tile's byte slice -> (points, ways) dict lists (S7,
    map2db.py:667-728)."""
    cur = Cursor(buf)
    if debuginfo and not cur.read(32).startswith(b"###TileStart"):
        raise ValueError("tile start marker missing")
    poi_counts = [0] * minzoom
    way_counts = [0] * minzoom
    for _ in range(minzoom, maxzoom + 1):
        poi_counts.append(cur.uleb())
        way_counts.append(cur.uleb())
    first_way_offset = cur.uleb() + cur.pos
    origin_md = tile_origin_microdeg(level, tile_x, tile_y)
    points = parse_points(cur, first_way_offset, origin_md, ptags, debuginfo, poi_counts)
    ways = parse_ways(cur, len(buf), origin_md, wtags, debuginfo, way_counts)
    return points, ways


def _close_ring(ring):
    return ring if ring[0] == ring[-1] else list(ring) + [ring[0]]


def tile_feature_rows(
    buf: bytes,
    level: int,
    minzoom: int,
    maxzoom: int,
    tile_x: int,
    tile_y: int,
    header_ptags: list[str],
    header_wtags: list[str],
    debuginfo: bool,
    dbl: bool,
):
    """Decode + geometry-prep one tile -> list of feature row tuples
    matching FEATURE_SCHEMA (reference _tile_features, map2db.py:815-1077,
    minus the upsert — consolidation is a downstream aggregate)."""
    points, ways = parse_tile_payload(
        buf, level, minzoom, maxzoom, tile_x, tile_y, header_ptags, header_wtags,
        debuginfo,
    )
    box = tile_bounds_deg(level, tile_x, tile_y)
    trim = dbl or TRIM_NONUM
    rows = []
    seq = {"point": 0, "line": 0, "area": 0, "reject": 0}

    for p in points:
        pts = [(p["lon"], p["lat"])]
        if trim:
            pts = gclip.clip_points(pts, box)
        if not pts:
            continue  # F4: point fell in the tile's edge buffer
        geom = gwkb.encode_multipoint(gnorm.normalize_multipoint(pts))
        rows.append(
            (
                "point",
                p.get("fid"),
                level,
                p["minz"],
                maxzoom,
                p["layer"],
                p["tags"],
                p["vtags"],
                geom,
                tile_x,
                tile_y,
                seq["point"],
            )
        )
        seq["point"] += 1

    for w in ways:
        if not w["blocks"]:
            continue
        if w["ftype"] == "line":
            parts = [cb for db in w["blocks"] for cb in db]
            if trim and not gclip.covers_points(
                [pt for part in parts for pt in part], box
            ):
                parts = gclip.clip_lines(parts, box)
            if not parts:
                continue  # F4/F5: nothing line-like survived the clip
            geom = gwkb.encode_multilinestring(gnorm.normalize_multilinestring(parts))
            fkind = "line"
        else:
            polys = [
                [_close_ring(db[0])] + [_close_ring(h) for h in db[1:]]
                for db in w["blocks"]
            ]
            # F7/G4 (map2db.py:979-1011): microdegree rounding can make
            # decoded rings invalid; repair (bowtie split, pocket->hole)
            # or route to the auditable rejects path — the reference's
            # make_valid-or-discard, with the discard kept as data.
            polys, reject_reason = grepair.make_valid_polygons(polys)
            if reject_reason is not None:
                rows.append(
                    (
                        "reject",
                        w.get("fid"),
                        level,
                        w["minz"],
                        maxzoom,
                        w["layer"],
                        w["tags"],
                        {"m2db:reject": reject_reason},
                        b"",
                        tile_x,
                        tile_y,
                        seq["reject"],
                    )
                )
                seq["reject"] += 1
                continue
            if trim and not gclip.covers_points(
                [pt for rings in polys for ring in rings for pt in ring], box
            ):
                polys = gclip.clip_polygons(polys, box)
            if not polys:
                continue  # F4/F6
            geom = gwkb.encode_multipolygon(gnorm.normalize_multipolygon(polys))
            fkind = "area"
        rows.append(
            (
                fkind,
                w.get("fid"),
                level,
                w["minz"],
                maxzoom,
                w["layer"],
                w["tags"],
                w["vtags"],
                geom,
                tile_x,
                tile_y,
                seq[fkind],
            )
        )
        seq[fkind] += 1
    return rows


_COLS = [
    "ftype",
    "fid",
    "level",
    "minz",
    "maxz",
    "layer",
    "tags",
    "vtags",
    "geom",
    "tile_x",
    "tile_y",
    "seq",
]


def decode_tiles(f, header: MapHeader, tiles) -> Iterator[tuple]:
    """The tile-read loop every decode path shares (the mapInPandas
    kernel below and both MapsForge connectors): for each manifest row
    of ``tiles`` skip an empty tile (F3, no byte read), range-read the
    tile's bytes from the open map file ``f`` and yield its feature
    rows."""
    for t in tiles:
        if t.offset == t.end_offset:
            continue
        sf = header.subfiles[t.subfile_idx]
        f.seek(t.offset)
        yield from tile_feature_rows(
            f.read(t.end_offset - t.offset), int(t.level), sf.minzoom, sf.maxzoom,
            int(t.tile_x), int(t.tile_y),
            header.ptags, header.wtags, header.debuginfo, header.is_dbl,
        )


def decode_features(spark, path: str, header: MapHeader, manifest):
    """manifest -> features DataFrame via mapInPandas."""
    # broadcast the header (its tag dictionaries, P3): a planet-scale
    # map carries thousands of tag strings, and a closure would
    # re-serialize them into every task; a broadcast ships them once
    # per executor
    header_bc = spark.sparkContext.broadcast(header)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hdr = header_bc.value
        with open(path, "rb") as f:
            for pdf in batches:
                rows = list(decode_tiles(f, hdr, pdf.itertuples(index=False)))
                yield pd.DataFrame(rows, columns=_COLS)

    return manifest.mapInPandas(kernel, schema=FEATURE_SCHEMA)
