"""Polygon validity repair (F7/G4, reference map2db.py:979-1011).

The reference guards the area path with shapely: decoded multipolygons
can be invalid after microdegree rounding (vertices collapse onto
edges, rings pinch into figure-eights), and it runs GEOS
``make_valid`` — keeping the repaired polygons — or discards the
feature when repair fails.

No GEOS lives in this container, so this module implements the
linework-style repair for the invalidity classes microdegree rounding
actually produces:

- **bowtie / self-crossing ring**: edges properly cross; the ring is
  noded at the (grid-rounded) intersection points and decomposed into
  simple loops — GEOS linework make_valid turns a figure-eight into
  two polygons, and so does this.
- **self-touching ring** (repeated vertex, vertex on edge interior):
  same decomposition; a pocket pinched off inside the outline becomes
  a hole (even-odd nesting), a lobe outside becomes a second shell.
- **degenerate rings** (zero area after noding): dropped.

Unreparable inputs (nothing with area survives, or an original hole
lands outside every repaired shell) are *rejected with a reason* — the
caller routes them to an auditable rejects path, mirroring the
reference's discard-with-log, never silently keeping a wrong polygon.

All predicates are the exact grid predicates of geometry/exact.py:
intersection points are computed rationally and rounded half-away to
the grid (the snapping contract of the whole kernel).
"""

from __future__ import annotations

from collections import defaultdict

from map2db_spark.geometry.exact import (
    closed_int_ring,
    cross_point,
    from_grid,
    on_ring_boundary,
    on_segment,
    point_in_ring,
    properly_cross,
    ring_area2,
)

_SWEEP_THRESHOLD = 128  # rings above this use the interval sweep


def _ring_is_simple_sweep(r) -> bool:
    """x-interval sweep for large rings: the decode hot path runs the
    validity predicate per area feature, and the all-pairs scan is
    O(E^2) — ~1e8 interpreter ops for a 10k-vertex coastline ring.
    Sorting edges by xmin and testing only x-overlapping pairs (plus a
    y-bbox reject) visits O(E + K) pairs where K is the number of
    bbox-overlapping pairs — near-linear for real geometry, with the
    same exact integer predicates as the small-ring path."""
    import bisect

    verts = r[:-1]
    if len(set(verts)) != len(verts):
        return False
    n = len(verts)
    items = sorted(
        (
            min(r[i][0], r[i + 1][0]),
            max(r[i][0], r[i + 1][0]),
            r[i],
            r[i + 1],
            i,
        )
        for i in range(n)
    )
    for k in range(n):
        x0, x1, a, b, i = items[k]
        ay0, ay1 = min(a[1], b[1]), max(a[1], b[1])
        for m in range(k + 1, n):
            if items[m][0] > x1:
                break
            _, _, c, d, j = items[m]
            if (j - i) % n <= 1 or (i - j) % n <= 1:
                continue  # same or adjacent edge (incl. closure)
            if max(c[1], d[1]) < ay0 or ay1 < min(c[1], d[1]):
                continue
            if properly_cross(a, b, c, d):
                return False
    sv = sorted(verts)
    xs = [p[0] for p in sv]
    for x0, x1, a, b, _i in items:
        lo = bisect.bisect_left(xs, x0)
        hi = bisect.bisect_right(xs, x1)
        for p in sv[lo:hi]:
            if on_segment(a, b, p):
                return False
    return True


def _ring_is_simple(r) -> bool:
    """Closed ring r: no repeated vertex, no vertex on another edge's
    interior, no properly crossing edge pair."""
    if len(r) > _SWEEP_THRESHOLD:
        return _ring_is_simple_sweep(r)
    verts = r[:-1]
    if len(set(verts)) != len(verts):
        return False
    edges = [(r[i], r[i + 1]) for i in range(len(r) - 1)]
    for i, (a, b) in enumerate(edges):
        for p in verts:
            if on_segment(a, b, p):
                return False
        for j in range(i + 2, len(edges)):
            if i == 0 and j == len(edges) - 1:
                continue  # adjacent through the closure
            c, d = edges[j]
            if properly_cross(a, b, c, d):
                return False
    return True


def _node_walk(r):
    """Closed ring -> closed walk with self-intersection points
    inserted: proper crossings (grid-rounded) and vertices lying on
    edge interiors become explicit walk vertices."""
    edges = [(r[i], r[i + 1]) for i in range(len(r) - 1)]
    splits: dict[int, set] = defaultdict(set)
    verts = set(r)
    for i, (a, b) in enumerate(edges):
        for p in verts:
            if on_segment(a, b, p):
                splits[i].add(p)
        for j in range(i + 1, len(edges)):
            c, d = edges[j]
            if properly_cross(a, b, c, d):
                p = cross_point(a, b, c, d)
                if p != a and p != b:
                    splits[i].add(p)
                if p != c and p != d:
                    splits[j].add(p)
    walk = []
    for i, (a, b) in enumerate(edges):
        pts = sorted(
            splits[i],
            key=lambda p: (abs(p[0] - a[0]), abs(p[1] - a[1])),
        )
        walk.append(a)
        walk.extend(pts)
    walk.append(r[-1])
    out = []
    for p in walk:
        if not out or p != out[-1]:
            out.append(p)
    return out


def _decompose(walk):
    """Closed walk -> simple loops via the vertex-stack sweep: each
    time a vertex repeats, the cycle between its occurrences pops off
    as one loop.  O(n); handles bowties and self-touches alike."""
    loops = []
    stack = [walk[0]]
    pos = {walk[0]: 0}
    for v in walk[1:]:
        if v in pos:
            i = pos[v]
            loop = stack[i:] + [v]
            for u in stack[i + 1:]:
                pos.pop(u)
            del stack[i + 1:]
            if len(loop) >= 4:
                loops.append(loop)
        else:
            pos[v] = len(stack)
            stack.append(v)
    return loops


def repair_ring(r):
    """Closed int ring -> list of simple loops with nonzero area.

    Iterated to a fixpoint: rounding a crossing to the grid can place
    the new vertex ON another edge (or create a fresh crossing
    between split pieces), so one node+decompose pass may emit loops
    that are still non-simple — found by deep fuzzing on heavily
    self-crossing rings (~1% of random 10-gons).  Each round re-nodes
    only the still-non-simple loops; a loop that stops making
    progress (or survives all rounds non-simple) is DROPPED like a
    zero-area loop — never emitted invalid."""
    if _ring_is_simple(r):
        return [r] if ring_area2(r) != 0 else []
    out = []
    pending = [r]
    for _ in range(8):
        nxt = []
        for lp in pending:
            if _ring_is_simple(lp):
                if ring_area2(lp) != 0:
                    out.append(lp)
                continue
            loops = [
                l for l in _decompose(_node_walk(lp))
                if ring_area2(l) != 0
            ]
            if loops == [lp]:
                continue  # no progress: drop rather than loop forever
            nxt.extend(loops)
        if not nxt:
            return out
        pending = nxt
    # Round cap hit: loops produced in the final round were never
    # simplicity-checked — harvest the ones that DID become simple
    # (valid geometry, don't drop it one round early) and discard only
    # the still-non-simple stragglers.
    for lp in pending:
        if _ring_is_simple(lp) and ring_area2(lp) != 0:
            out.append(lp)
    return out


def _inner_probe(loop, other) -> bool:
    """loop strictly inside other: some vertex of loop off other's
    boundary is inside it (loops from one decomposition may share the
    pinch vertex, which sits on both boundaries)."""
    for p in loop[:-1]:
        if not on_ring_boundary(p, other):
            return point_in_ring(p, other)
    return False


def polygons_valid(polys) -> bool:
    """Validity predicate matching make_valid_polygons' fast path:
    every ring simple with nonzero area, holes strictly inside their
    shell, no collapsed rings."""
    for rings in polys:
        # a collapsed ring (< 3 distinct vertices) has zero area
        int_rings = [closed_int_ring(ring) for ring in rings]
        if not int_rings or not all(
            _ring_is_simple(r) and ring_area2(r) != 0 for r in int_rings
        ):
            return False
        if not all(_inner_probe(h, int_rings[0]) for h in int_rings[1:]):
            return False
    return True


def make_valid_polygons(polys):
    """Repair a multipolygon's float-coordinate polygons.

    Returns ``(repaired_polys, reason)``: ``reason`` is None on
    success (repaired_polys may equal the input when already valid) or
    a short string when the feature must be rejected — in which case
    repaired_polys is None.  Mirrors the reference's keep-or-discard
    contract (map2db.py:979-1011) with the discard surfaced as data.
    """
    out = []
    for rings in polys:
        int_rings = [closed_int_ring(ring) for ring in rings]
        # a collapsed ring (< 3 distinct vertices) has no area: a
        # collapsed shell drops the polygon, a collapsed hole is dropped
        if not int_rings or len(int_rings[0]) <= 3:
            continue
        kept = [i for i, r in enumerate(int_rings) if len(r) > 3]
        int_rings = [int_rings[i] for i in kept]
        if all(
            _ring_is_simple(r) and ring_area2(r) != 0 for r in int_rings
        ) and all(_inner_probe(h, int_rings[0]) for h in int_rings[1:]):
            out.append([list(rings[i]) for i in kept])
            continue

        shell_loops = repair_ring(int_rings[0])
        hole_loops = []
        for hr in int_rings[1:]:
            hole_loops.extend(repair_ring(hr))
        if not shell_loops:
            continue  # this polygon dissolved to nothing

        # even-odd nesting among shell-derived loops: depth 0 = shell,
        # odd depth = hole of its innermost container
        depths = []
        for i, lp in enumerate(shell_loops):
            d = sum(
                1
                for j, other in enumerate(shell_loops)
                if j != i and _inner_probe(lp, other)
            )
            depths.append(d)
        shells = [lp for lp, d in zip(shell_loops, depths) if d % 2 == 0]
        nested_holes = [lp for lp, d in zip(shell_loops, depths) if d % 2 == 1]
        if not shells:
            continue

        polys_out = [[lp] for lp in shells]
        for hole in nested_holes + hole_loops:
            placed = False
            for k, shell in enumerate(shells):
                if _inner_probe(hole, shell):
                    polys_out[k].append(hole)
                    placed = True
                    break
            if not placed and hole in hole_loops:
                return None, "hole-outside-shell"
        out.extend(
            [[[from_grid(p) for p in ring] for ring in poly] for poly in polys_out]
        )
    if not out:
        return None, "no-area-after-repair"
    return out, None
