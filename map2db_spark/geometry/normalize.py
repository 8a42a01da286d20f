"""Canonical geometry form (G7/P12, map2db.py:777, 851, 931, 1037, 1164).

The reference calls shapely's ``normalize()`` after every
geometry-producing op so outputs are deterministic regardless of
construction order — which is exactly what makes a *distributed*
execution reproducible: union/merge results must not depend on which
task contributed which fragment.

Conventions follow JTS/GEOS normalized form:
- rings start at their minimum (x, y) vertex; shells clockwise, holes
  counter-clockwise;
- linestrings are oriented so the start point <= end point
  (lexicographic coordinate-sequence comparison);
- multi-geometry components are sorted (descending, per JTS
  Geometry.compareTo ordering of collections is ascending; we use
  ascending lexicographic which is stable and documented).

Exact byte-parity with GEOS normalize cannot be asserted in this
container (no GEOS); the contract here is *self-consistency*: any
construction order yields identical WKB.
"""

from __future__ import annotations

from map2db_spark.geometry.exact import ring_area2


def normalize_multipoint(points):
    return sorted(set(points))


def _seq_cmp_key(line):
    return tuple(line)


def normalize_line(line):
    """Orient so the coordinate sequence reads <= its reverse."""
    rev = line[::-1]
    return line if tuple(line) <= tuple(rev) else rev


def normalize_multilinestring(lines):
    return sorted((normalize_line(list(ln)) for ln in lines), key=_seq_cmp_key)


def normalize_ring(ring, clockwise: bool):
    """Closed ring -> starts at min vertex, given orientation."""
    pts = list(ring[:-1]) if ring[0] == ring[-1] else list(ring)
    i0 = min(range(len(pts)), key=lambda i: pts[i])
    pts = pts[i0:] + pts[:i0]
    closed = pts + [pts[0]]
    is_ccw = ring_area2(closed) > 0
    if is_ccw == clockwise:
        # reverse, keeping the start vertex first
        pts = [pts[0]] + pts[1:][::-1]
    return pts + [pts[0]]


def normalize_polygon(rings):
    shell = normalize_ring(rings[0], clockwise=True)
    holes = sorted(
        (normalize_ring(h, clockwise=False) for h in rings[1:]), key=_seq_cmp_key
    )
    return [shell] + holes


def normalize_multipolygon(polygons):
    return sorted((normalize_polygon(p) for p in polygons), key=lambda p: _seq_cmp_key(p[0]))
