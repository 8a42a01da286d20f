"""Seeded input maps for the map2db benchmark, with their expectations.

Each workload has a fixed shape (tile grid, subfiles, features per
tile); the seed varies positions, node counts and tag choices.  Maps are
written with the package's own fixture encoder
(``map2db_spark.sources.fixture.MapWriter``), so the program under test
only ever sees the ``.map`` bytes.  Next to each map the generator writes
an expectation manifest: per-table feature counts, a digest of each
table's fid set and, for features that cross tile boundaries, the
source bounding box in integer microdegrees.

All coordinates are generated as integer microdegrees and kept at least
``EDGE_GAP_MD`` away from every tile edge of every level, so no vertex
can be clipped or snapped onto an edge and every expectation is exact.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
from pathlib import Path

LICENSE = "benchmark map, generated; no license restrictions"
EDGE_GAP_MD = 20  # min distance (µdeg) from a vertex to any tile edge

POI_TAGS = [f"amenity={v}" for v in ("cafe", "pub", "school", "bank", "fuel")] + [
    f"shop={v}" for v in ("bakery", "books", "florist", "kiosk")
]
LINE_TAGS = [f"highway={v}" for v in
             ("primary", "secondary", "tertiary", "residential", "track", "path")]
AREA_TAGS = [f"landuse={v}" for v in ("farm", "forest", "meadow", "retail")] + [
    "natural=water", "leisure=park",
]
NAMES = ["Alder", "Birch", "Cedar", "Dogwood", "Elm", "Fir", "Gum", "Hazel"]

# Fixed shape per workload.  Sizes fit the benchmark's time budget
# (README.md, "Time budget and sizing"): a warm conversion at local[4]
# is about twice the pipeline's per-conversion floor.
SHAPES = {
    # one z10 subfile; every feature lies inside one tile, lines are
    # single-part: decode dominates, consolidate takes only its
    # singleton path, linemerge merges nothing
    "dense-tiles": dict(kind="tiles", dbl=True, subfiles=[(10, 9, 13)],
                        nx=40, ny=30, pois=36, lines=22, areas=14),
    # three contiguous subfiles; every road and area spans several
    # tiles and is encoded at every level: consolidate's multi-sighting
    # path, polygon/line union and linemerge carry the work
    "stitch-zoom": dict(kind="stitch", dbl=True,
                        subfiles=[(8, 6, 9), (10, 10, 11), (12, 12, 14)],
                        z8=(2, 1), roads=800, areas=800),
    # no feature ids: the ring heuristic and assign_ids apply, and the
    # SQLite sink serializes through one driver connection
    "sqlite-export": dict(kind="tiles", dbl=False, subfiles=[(12, 10, 14)],
                          nx=28, ny=20, pois=32, lines=20, areas=12),
}
WORKLOADS = list(SHAPES)


# -- tile math ---------------------------------------------------------------
# The format's half-tile-shifted Mercator (sources/tilemath.py).  Kept
# local: importing anything under map2db_spark imports pyspark, and
# run.py must not pay that before it times a fresh-process set-up.

def _x_from_lon(z, lon):
    return 2 ** (z - 1) * (lon / 180.0 + 1.0)


def _lon_from_x(z, x):
    return (x / (2 ** z) * 2.0 - 1.0) * 180.0


def _lat_from_y(z, y):
    return (math.atan(math.exp((((1 << z) - y) / (2 ** (z - 1)) - 1.0) * math.pi))
            / math.pi - 0.25) * 360.0


def _y_from_lat(z, lat):
    return (2 ** (z - 1)) * (
        2 - (math.log(math.tan((0.25 + lat / 360.0) * math.pi)) / math.pi + 1.0))


def tile_box_md(z, x, y):
    """(minlon, minlat, maxlon, maxlat) of a tile in integer µdeg."""
    return (round(_lon_from_x(z, x) * 1e6), round(_lat_from_y(z, y + 1) * 1e6),
            round(_lon_from_x(z, x + 1) * 1e6), round(_lat_from_y(z, y) * 1e6))


def _tile_of(z, lon_md, lat_md):
    return int(_x_from_lon(z, lon_md / 1e6)), int(_y_from_lat(z, lat_md / 1e6))


def _clear_of_edges(lon_md, lat_md, levels):
    for z in levels:
        x, y = _tile_of(z, lon_md, lat_md)
        b = tile_box_md(z, x, y)
        if min(lon_md - b[0], b[2] - lon_md, lat_md - b[1], b[3] - lat_md) < EDGE_GAP_MD:
            return False
    return True


def _deg(md):
    return md / 1e6


# -- feature builders ---------------------------------------------------------

def _star_ring(rng, cx, cy, r, k):
    """Closed, simple ring star-shaped around (cx, cy), µdeg ints."""
    step = 2 * math.pi / k
    ring = []
    for i in range(k):
        a = step * (i + 0.4 * (rng.random() - 0.5))
        rr = r * (0.5 + 0.5 * rng.random())
        ring.append((cx + round(rr * math.cos(a)), cy + round(rr * math.sin(a))))
    return ring + [ring[0]]


def _ellipse_ring(rng, cx, cy, rx, ry, k):
    """Closed convex ring on an ellipse at sorted random angles."""
    angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(k))
    ring = [(cx + round(rx * math.cos(a)), cy + round(ry * math.sin(a))) for a in angles]
    return ring + [ring[0]]


def _vtags(rng, fid):
    out = {}
    if rng.random() < 0.5:
        out["rank"] = rng.randrange(1000)
    if rng.random() < 0.3:
        out["ref"] = f"R{fid % 997}"
    return out


def _name(rng):
    return f"{rng.choice(NAMES)} {rng.randrange(100)}" if rng.random() < 0.5 else None


def _coords(ring_md):
    return [(_deg(x), _deg(y)) for x, y in ring_md]


def _bbox(points_md):
    xs = [p[0] for p in points_md]
    ys = [p[1] for p in points_md]
    return [min(xs), min(ys), max(xs), max(ys)]


def _tiles_feature_map(rng, shape):
    """One subfile; every feature drawn strictly inside one tile."""
    from map2db_spark.sources.fixture import MapWriter, Poi, Way

    level, minzoom, maxzoom = shape["subfiles"][0]
    dbl = shape["dbl"]
    # whole tiles only: the bbox sits just inside the grid's outer edges
    span = 2 ** level
    x0 = span // 2 + rng.randrange(span // 64, span // 16)
    y0 = span // 2 - rng.randrange(span // 16, span // 8)
    nx, ny = shape["nx"], shape["ny"]
    west, _, _, north = tile_box_md(level, x0, y0)
    _, south, east, _ = tile_box_md(level, x0 + nx - 1, y0 + ny - 1)
    eps = 100
    w = MapWriter(
        (_deg(south + eps), _deg(west + eps), _deg(north - eps), _deg(east - eps)),
        shape["subfiles"], dbl_license=LICENSE if dbl else None,
    )
    counts = {"points": 0, "lines": 0, "areas": 0}

    def inner_point(b, margin):  # margin >> EDGE_GAP_MD: never near an edge
        return (rng.randint(b[0] + margin, b[2] - margin),
                rng.randint(b[1] + margin, b[3] - margin))

    for ty in range(y0, y0 + ny):
        for tx in range(x0, x0 + nx):
            b = tile_box_md(level, tx, ty)
            margin = (b[2] - b[0]) // 50
            for _ in range(shape["pois"]):
                fid = counts["points"]
                lon, lat = inner_point(b, margin)
                w.add_poi(0, tx, ty, Poi(
                    lat=_deg(lat), lon=_deg(lon), zoom=rng.randint(minzoom, maxzoom),
                    layer=rng.randint(0, 2), tags=(rng.choice(POI_TAGS),),
                    vtags=_vtags(rng, fid), name=_name(rng),
                    pnum=fid if dbl else None,
                ))
                counts["points"] += 1
            for _ in range(shape["lines"]):
                fid = counts["lines"]
                n = rng.randint(2, 8)
                pts = [inner_point(b, margin) for _ in range(n)]
                w.add_way(0, tx, ty, Way(
                    blocks=[[_coords(pts)]], zoom=rng.randint(minzoom, maxzoom),
                    layer=rng.randint(0, 2), tags=(rng.choice(LINE_TAGS),),
                    vtags=_vtags(rng, fid), name=_name(rng),
                    double_delta=rng.random() < 0.5, lnum=fid if dbl else None,
                ))
                counts["lines"] += 1
            r = min(b[2] - b[0], b[3] - b[1]) // 12
            for _ in range(shape["areas"]):
                fid = counts["areas"]
                c = inner_point(b, margin + r)
                ring = _star_ring(rng, c[0], c[1], r, rng.randint(4, 9))
                w.add_way(0, tx, ty, Way(
                    blocks=[[_coords(ring)]], zoom=rng.randint(minzoom, maxzoom),
                    layer=rng.randint(0, 2), tags=(rng.choice(AREA_TAGS),),
                    vtags=_vtags(rng, fid), name=_name(rng),
                    anum=fid if dbl else None,
                ))
                counts["areas"] += 1
    fids = {t: list(range(n)) for t, n in counts.items()}
    return w, fids, {}


def _stitch_map(rng, shape):
    """Three subfiles; every feature spans several tiles and is encoded,
    unclipped, into every tile its bbox touches at every level."""
    from map2db_spark.sources.fixture import MapWriter, Way

    levels = [lv for lv, _, _ in shape["subfiles"]]
    top = levels[-1]
    # zoom continuity: a feature seen at every level starts each higher
    # subfile at its minzoom, so consolidation reports no zoom gap
    first_zooms = shape["subfiles"][0][1:]
    higher_minz = [minz for _, minz, _ in shape["subfiles"][1:]]
    nx8, ny8 = shape["z8"]
    x0 = 128 + rng.randrange(2, 10)
    y0 = 128 - rng.randrange(10, 20)
    west, _, _, north = tile_box_md(8, x0, y0)
    _, south, east, _ = tile_box_md(8, x0 + nx8 - 1, y0 + ny8 - 1)
    eps = 100
    w = MapWriter(
        (_deg(south + eps), _deg(west + eps), _deg(north - eps), _deg(east - eps)),
        shape["subfiles"], dbl_license=LICENSE,
    )
    # feature size: a few top-level tiles across
    tb = tile_box_md(top, *_tile_of(top, (west + east) // 2, (south + north) // 2))
    tw, th = tb[2] - tb[0], tb[3] - tb[1]
    edge = 2 * max(tw, th)  # keep features off the map's outer edge

    def free_point(lo_x, lo_y, hi_x, hi_y):
        while True:
            p = (rng.randint(lo_x, hi_x), rng.randint(lo_y, hi_y))
            if _clear_of_edges(p[0], p[1], levels):
                return p

    def place(way_for, pts, zooms):
        bx = _bbox(pts)
        for si, lv in enumerate(levels):
            xa, ya = _tile_of(lv, bx[0], bx[3])
            xb, yb = _tile_of(lv, bx[2], bx[1])
            for ty in range(ya, yb + 1):
                for tx in range(xa, xb + 1):
                    w.add_way(si, tx, ty, way_for(zooms[si]))
        return bx

    bboxes = {"lines": {}, "areas": {}}
    for fid in range(shape["roads"]):
        start = free_point(west + edge, south + edge, east - edge, north - edge)
        pts = [start]
        for _ in range(rng.randint(3, 9)):
            while True:
                p = (pts[-1][0] + rng.randint(-tw // 2, tw // 2),
                     pts[-1][1] + rng.randint(-th // 2, th // 2))
                if (west + edge // 2 < p[0] < east - edge // 2
                        and south + edge // 2 < p[1] < north - edge // 2
                        and _clear_of_edges(p[0], p[1], levels)):
                    break
            pts.append(p)
        attrs = dict(layer=rng.randint(0, 2), tags=(rng.choice(LINE_TAGS),),
                     vtags=_vtags(rng, fid), name=_name(rng))
        dd = rng.random() < 0.5
        zooms = [rng.randint(*first_zooms)] + higher_minz
        bboxes["lines"][fid] = place(
            lambda z, pts=pts, attrs=attrs, dd=dd, fid=fid: Way(
                blocks=[[_coords(pts)]], zoom=z, double_delta=dd, lnum=fid, **attrs),
            pts, zooms)
    for fid in range(shape["areas"]):
        while True:
            c = free_point(west + edge, south + edge, east - edge, north - edge)
            ring = _ellipse_ring(rng, c[0], c[1], rng.randint(tw // 2, tw),
                                 rng.randint(th // 2, th), rng.randint(6, 12))
            if len(set(ring)) == len(ring) - 1 and all(
                    _clear_of_edges(x, y, levels) for x, y in ring):
                break
        attrs = dict(layer=rng.randint(0, 2), tags=(rng.choice(AREA_TAGS),),
                     vtags=_vtags(rng, fid), name=_name(rng))
        zooms = [rng.randint(*first_zooms)] + higher_minz
        bboxes["areas"][fid] = place(
            lambda z, ring=ring, attrs=attrs, fid=fid: Way(
                blocks=[[_coords(ring)]], zoom=z, anum=fid, **attrs),
            ring, zooms)
    fids = {"points": [], "lines": list(bboxes["lines"]), "areas": list(bboxes["areas"])}
    return w, fids, bboxes


def fid_digest(fids) -> str:
    """Digest of a fid set: sha256 over the sorted ids."""
    h = hashlib.sha256()
    for f in sorted(fids):
        h.update(int(f).to_bytes(8, "little", signed=True))
    return h.hexdigest()


def build(workload: str, seed: int, shape: dict | None = None) -> tuple[bytes, dict]:
    """(map bytes, expectation manifest) for one workload and seed.
    ``shape`` overrides the workload's fixed shape (self-tests only)."""
    shape = shape or SHAPES[workload]
    rng = random.Random(f"{workload}:{seed}")
    if shape["kind"] == "tiles":
        writer, fids, bboxes = _tiles_feature_map(rng, shape)
    else:
        writer, fids, bboxes = _stitch_map(rng, shape)
    data = writer.tobytes()
    expect = {
        "workload": workload,
        "seed": seed,
        "dbl": shape["dbl"],
        "sink": "sqlite" if workload == "sqlite-export" else "parquet",
        "map_sha256": hashlib.sha256(data).hexdigest(),
        "counts": {t: len(v) for t, v in fids.items()},
        "fid_digest": {t: fid_digest(v) for t, v in fids.items()},
        "sightings": sum(len(s["pois"]) + len(s["ways"])
                         for p in writer.placements for s in p.values()),
        "tiles": sum(len(p) for p in writer.placements),
        "bboxes": {t: {str(k): v for k, v in b.items()} for t, b in bboxes.items()},
    }
    return data, expect


def encoder_hash(repo_root: Path) -> str:
    """Digest of every source file that shapes the generated bytes."""
    h = hashlib.sha256()
    for rel in ("perfbench/workloads.py", "map2db_spark/sources/fixture.py",
                "map2db_spark/sources/primitives.py", "map2db_spark/sources/tilemath.py"):
        h.update((repo_root / rel).read_bytes())
    return h.hexdigest()[:16]


def write_map(out: Path, workload: str, seed: int) -> None:
    """Write ``input.map`` and ``expect.json`` for one workload and seed."""
    data, expect = build(workload, seed)
    out.mkdir(parents=True, exist_ok=True)
    (out / "expect.json").write_text(json.dumps(expect))
    tmp = out / "input.map.tmp"
    tmp.write_bytes(data)
    os.replace(tmp, out / "input.map")  # the map last: its presence marks completion
