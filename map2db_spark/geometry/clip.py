"""Axis-aligned box clipping with microdegree grid snap.

Replicates the semantics the reference gets from
``tile_box.intersection(geom, grid_size=1e-6)`` (G2, map2db.py:845-846,
912, 1018) and ``tile_box.covers(geom)`` (G3, map2db.py:907-911) for
the three geometry kinds, specialized to a rectangular clip window:

- points: closed-box containment;
- lines: Liang-Barsky segment clipping, intersection points snapped to
  the 1e-6 grid, contiguous in-box runs re-chained into parts;
- polygon rings: Sutherland-Hodgman against the (convex) box, output
  vertices snapped to the grid, degenerate results dropped.

The covers short-circuit is semantic, not just a fast path: clipping
re-nodes self-intersecting lines, so geometries fully inside the box
must be passed through untouched (reference comment map2db.py:907-911).
"""

from __future__ import annotations

from map2db_spark.geometry.exact import ring_area2


def snap(v: float) -> float:
    """Snap a coordinate to the microdegree grid (grid_size=1e-6)."""
    return round(v, 6)


def covers_points(coords, box) -> bool:
    """True if every coordinate is inside the closed box.  For a convex
    window this equals GEOS covers() for points/lines/polygons."""
    minx, miny, maxx, maxy = box
    return all(minx <= x <= maxx and miny <= y <= maxy for x, y in coords)


def clip_points(points, box):
    minx, miny, maxx, maxy = box
    return [(x, y) for x, y in points if minx <= x <= maxx and miny <= y <= maxy]


def _clip_segment(p0, p1, box):
    """Liang-Barsky: returns (q0, q1, enter_clipped, exit_clipped) or None
    if the segment misses the box."""
    minx, miny, maxx, maxy = box
    x0, y0 = p0
    x1, y1 = p1
    dx = x1 - x0
    dy = y1 - y0
    t0, t1 = 0.0, 1.0
    for p, q in (
        (-dx, x0 - minx),
        (dx, maxx - x0),
        (-dy, y0 - miny),
        (dy, maxy - y0),
    ):
        if p == 0:
            if q < 0:
                return None
            continue
        r = q / p
        if p < 0:
            if r > t1:
                return None
            if r > t0:
                t0 = r
        else:
            if r < t0:
                return None
            if r < t1:
                t1 = r
    q0 = (x0 + t0 * dx, y0 + t0 * dy) if t0 > 0 else (x0, y0)
    q1 = (x0 + t1 * dx, y0 + t1 * dy) if t1 < 1 else (x1, y1)
    return q0, q1, t0 > 0, t1 < 1


def clip_line(line, box):
    """Clip one polyline to the box -> list of polyline parts.

    Intersection vertices are snapped to the grid; consecutive
    duplicate vertices (after snapping) are collapsed; parts that
    degenerate to a single vertex are dropped (they'd be Point
    residues, which the reference's F5 filter discards,
    map2db.py:918-930)."""
    parts = []
    cur: list = []
    for i in range(len(line) - 1):
        seg = _clip_segment(line[i], line[i + 1], box)
        if seg is None:
            if len(cur) >= 2:
                parts.append(cur)
            cur = []
            continue
        q0, q1, entered, exited = seg
        if entered:
            q0 = (snap(q0[0]), snap(q0[1]))
        if exited:
            q1 = (snap(q1[0]), snap(q1[1]))
        if entered and cur:
            if len(cur) >= 2:
                parts.append(cur)
            cur = []
        if not cur:
            cur = [q0]
        elif cur[-1] != q0:
            # numeric guard; with exact box bounds this doesn't trigger
            if len(cur) >= 2:
                parts.append(cur)
            cur = [q0]
        if q1 != cur[-1]:
            cur.append(q1)
        if exited:
            if len(cur) >= 2:
                parts.append(cur)
            cur = []
    if len(cur) >= 2:
        parts.append(cur)
    return parts


def clip_lines(lines, box):
    out = []
    for line in lines:
        out.extend(clip_line(line, box))
    return out


def clip_ring(ring, box):
    """Sutherland-Hodgman clip of a closed ring against the box.
    Input/output rings are closed (first == last).  Returns [] if the
    clipped ring is empty or degenerate (zero area)."""
    minx, miny, maxx, maxy = box
    pts = list(ring[:-1]) if ring and ring[0] == ring[-1] else list(ring)

    def clip_edge(poly, inside, intersect):
        out = []
        n = len(poly)
        for i in range(n):
            cur = poly[i]
            prev = poly[i - 1]
            cin, pin = inside(cur), inside(prev)
            if cin:
                if not pin:
                    out.append(intersect(prev, cur))
                out.append(cur)
            elif pin:
                out.append(intersect(prev, cur))
        return out

    def ix_v(xc):
        def f(p, q):
            t = (xc - p[0]) / (q[0] - p[0])
            return (xc, snap(p[1] + t * (q[1] - p[1])))

        return f

    def ix_h(yc):
        def f(p, q):
            t = (yc - p[1]) / (q[1] - p[1])
            return (snap(p[0] + t * (q[0] - p[0])), yc)

        return f

    pts = clip_edge(pts, lambda p: p[0] >= minx, ix_v(minx))
    if pts:
        pts = clip_edge(pts, lambda p: p[0] <= maxx, ix_v(maxx))
    if pts:
        pts = clip_edge(pts, lambda p: p[1] >= miny, ix_h(miny))
    if pts:
        pts = clip_edge(pts, lambda p: p[1] <= maxy, ix_h(maxy))
    if len(pts) < 3:
        return []
    # collapse consecutive duplicates introduced by snapping
    dedup = [pts[0]]
    for p in pts[1:]:
        if p != dedup[-1]:
            dedup.append(p)
    if dedup[0] == dedup[-1]:
        dedup.pop()
    if len(dedup) < 3:
        return []
    closed = dedup + [dedup[0]]
    if ring_area2(closed) == 0.0:
        return []
    return closed


def clip_polygon(rings, box):
    """Clip polygon (shell + holes) -> [] or clipped rings list.
    Note: a hole clipped against a convex window stays a single ring;
    shell-splitting (shell crossing the window in two places) cannot
    happen for tile fragments, which forgemap clips to a padded tile
    box in the first place."""
    if not rings:
        return []
    shell = clip_ring(rings[0], box)
    if not shell:
        return []
    out = [shell]
    for hole in rings[1:]:
        h = clip_ring(hole, box)
        if h:
            out.append(h)
    return out


def clip_polygons(polygons, box):
    out = []
    for rings in polygons:
        c = clip_polygon(rings, box)
        if c:
            out.append(c)
    return out
