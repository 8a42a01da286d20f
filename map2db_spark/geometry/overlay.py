"""General polygon-union overlay (G5 general case, reference
map2db.py:776-784).

The reference unions stored and incoming fragments with GEOS
``.union()``, which handles arbitrary interior overlap.  The engine's
edge-cancellation dissolve (geometry/union.py) is exact but only for
the disjoint-interior tile-fragment contract; this module supplies the
missing general case with a winding-number overlay — the same
family of algorithm GEOS' overlay-ng uses, reduced to the union
operation:

1. orient every input ring (shells CCW, holes CW) and collect the
   directed integer-microdegree edges of ALL fragments;
2. node the arrangement: split edges at vertices lying on their
   interior and at proper crossings (rational intersection points
   rounded half-away to the grid — the kernel's uniform snapping
   contract), iterating until the arrangement is crossing-free;
3. net out exactly-opposite directed duplicates; for each surviving
   edge, compute the winding number of the region on its left via an
   exact rational probe (the right side differs by the edge's net
   multiplicity, so one probe prices both sides);
4. a noded edge lies on the union boundary iff one side has winding
   >= 1 (covered) and the other <= 0 (uncovered); emit it directed
   with the covered side on the LEFT, so chaining yields CCW shells
   and CW holes by construction;
5. chain boundary edges into rings with the leftmost-turn walk and
   attach holes to their containing shells.

Every predicate is integer- or rational-exact; the only inexactness
is the half-ulp grid snap of crossing points, identical to the repair
module's noding contract.  The probe offset is sized from the max
edge length so it provably stays inside the adjacent face (any
non-incident edge is at least 1/(2*Lmax) away from an edge midpoint,
while the probe displaces by less than 1/(4*Lmax)).

Winding >= 1 is the union fill rule: properly-oriented overlapping
interiors only ever add winding, so "covered by at least one
fragment" is exactly "winding >= 1".
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from fractions import Fraction

from map2db_spark.geometry.exact import (
    closed_int_ring,
    cross_point,
    from_grid,
    on_segment,
    point_in_ring,
    properly_cross,
    ring_area2,
)
from map2db_spark.geometry.normalize import normalize_multipolygon
from map2db_spark.geometry.repair import repair_ring


class FragmentOverlapError(ValueError):
    """Raised when polygon fragments cannot be unioned: either the
    caller requested the strict disjoint-interior contract
    (on_overlap="raise" in union_polygons) and it was violated, or the
    overlay's grid-snapped noding failed to converge (genuinely
    unrepresentable on the microdegree grid)."""


def directed_ring_edges(fragments):
    """All input rings as directed grid edges, shells CCW and holes CW
    (interior on the left), zero-area rings dropped."""
    edges = []
    for frag in fragments:
        for rings in frag:
            for k, ring in enumerate(rings):
                r = closed_int_ring(ring)
                a2 = ring_area2(r)
                if a2 == 0:
                    continue
                if (a2 > 0) != (k == 0):  # shells CCW, holes CW
                    r = r[::-1]
                edges.extend(zip(r, r[1:]))
    return edges


def _node_arrangement(edges, max_rounds: int = 16):
    """Split directed edges at vertices on their interior and at
    grid-rounded proper crossings, iterating until crossing-free
    (snapping a crossing can create a new incidence; each round
    strictly refines, and real inputs settle in 1-3 rounds)."""
    for _ in range(max_rounds):
        verts = set()
        for u, v in edges:
            verts.add(u)
            verts.add(v)
        splits: dict[int, set] = defaultdict(set)
        # vertex-on-interior incidences (bbox-rejected scan)
        for i, (a, b) in enumerate(edges):
            xlo, xhi = min(a[0], b[0]), max(a[0], b[0])
            ylo, yhi = min(a[1], b[1]), max(a[1], b[1])
            for p in verts:
                if xlo <= p[0] <= xhi and ylo <= p[1] <= yhi and on_segment(a, b, p):
                    splits[i].add(p)
        # proper crossings -> rational cross point snapped to grid
        for i in range(len(edges)):
            a, b = edges[i]
            xlo, xhi = min(a[0], b[0]), max(a[0], b[0])
            ylo, yhi = min(a[1], b[1]), max(a[1], b[1])
            for j in range(i + 1, len(edges)):
                c, d = edges[j]
                if (
                    max(c[0], d[0]) < xlo or xhi < min(c[0], d[0])
                    or max(c[1], d[1]) < ylo or yhi < min(c[1], d[1])
                ):
                    continue
                if properly_cross(a, b, c, d):
                    p = cross_point(a, b, c, d)
                    if p != a and p != b:
                        splits[i].add(p)
                    if p != c and p != d:
                        splits[j].add(p)
        if not splits:
            return edges
        out = []
        for i, (a, b) in enumerate(edges):
            if i not in splits:
                if a != b:
                    out.append((a, b))
                continue
            pts = sorted(
                splits[i], key=lambda p: (abs(p[0] - a[0]), abs(p[1] - a[1]))
            )
            chain = [a] + pts + [b]
            for t in range(len(chain) - 1):
                if chain[t] != chain[t + 1]:
                    out.append((chain[t], chain[t + 1]))
        edges = out
    raise FragmentOverlapError("noding-did-not-converge")


def net_multiplicities(count):
    """{directed edge: count} -> {directed edge: net multiplicity > 0}:
    exact opposite directed duplicates cancel (an edge bordered by
    interior on both sides in opposite directions nets to zero and
    carries no winding change)."""
    mult: dict = {}
    for (u, v), n in count.items():
        if (u, v) in mult or (v, u) in mult:
            continue
        m = n - count.get((v, u), 0)
        if m > 0:
            mult[(u, v)] = m
        elif m < 0:
            mult[(v, u)] = -m
    return mult


def _winding(p, mult) -> int:
    """Winding number of rational point p (off every edge) w.r.t. the
    directed net-multiplicity edge set — exact Fraction arithmetic."""
    px, py = p
    w = 0
    for (a, b), m in mult.items():
        if a[1] <= py < b[1]:  # upward crossing, p strictly left
            if (b[0] - a[0]) * (py - a[1]) - (b[1] - a[1]) * (px - a[0]) > 0:
                w += m
        elif b[1] <= py < a[1]:  # downward crossing, p strictly right
            if (b[0] - a[0]) * (py - a[1]) - (b[1] - a[1]) * (px - a[0]) < 0:
                w -= m
    return w


def _left_probe(u, v, k_denom: int):
    """A rational point strictly inside the face left of directed edge
    (u, v): the midpoint displaced along the left normal by |uv|/k
    (< 1/(4*Lmax) by the caller's choice of k, closer to the edge than
    any non-incident edge can be)."""
    return (
        Fraction(u[0] + v[0], 2) + Fraction(-(v[1] - u[1]), k_denom),
        Fraction(u[1] + v[1], 2) + Fraction(v[0] - u[0], k_denom),
    )


def chain_rings(directed_edges):
    """Chain directed edges (interior on the left) into closed rings
    with the leftmost-turn walk: at junctions take the first edge
    CLOCKWISE from the reverse of the incoming direction, which keeps
    the interior on the left and closes rings at touching vertices
    instead of crossing over."""
    out_edges: dict = defaultdict(list)
    for u, v in directed_edges:
        out_edges[u].append(v)
    for u in out_edges:
        out_edges[u].sort()

    def take_next(u, incoming):
        cands = out_edges[u]
        if not cands:
            return None
        if incoming is None or len(cands) == 1:
            return cands.pop(0)
        rev = math.atan2(incoming[1] - u[1], incoming[0] - u[0])

        def cw_delta(v):
            ang = math.atan2(v[1] - u[1], v[0] - u[0])
            d = (rev - ang) % (2 * math.pi)
            return d if d > 1e-12 else 2 * math.pi

        best = min(range(len(cands)), key=lambda i: cw_delta(cands[i]))
        return cands.pop(best)

    rings = []
    for start in sorted(out_edges.keys()):
        while out_edges[start]:
            ring = [start]
            prev = None
            cur = start
            while True:
                nxt = take_next(cur, prev)
                if nxt is None:
                    ring = None
                    break
                ring.append(nxt)
                prev, cur = cur, nxt
                if cur == start:
                    break
            if ring and len(ring) >= 4:
                rings.append(ring)
            elif ring is None:
                break
    return rings


def assemble_polygons(rings):
    """CCW rings are shells, CW rings holes; attach each hole to the
    first shell containing its probe vertex; -> float-coordinate
    multipolygon (normalized).

    A leftmost-turn face walk may legitimately pass through a PINCH
    vertex twice (two boundary lobes meeting at a point — found by
    the random-triangle fuzz), which is a valid face boundary but a
    self-touching, OGC-invalid polygon ring; such rings decompose
    into simple loops first (repair.py's vertex-stack sweep), each
    loop keeping the walk's interior-on-the-left orientation, so the
    area-sign classification below stays correct."""
    shells = []
    holes = []
    for chained in rings:
        for r in repair_ring(chained):
            a2 = ring_area2(r)
            if a2 > 0:
                shells.append(r)
            elif a2 < 0:
                holes.append(r)
    result = [[[from_grid(p) for p in s]] for s in shells]
    for h in holes:
        probe = h[0]
        for i, s in enumerate(shells):
            if point_in_ring(probe, s):
                result[i].append([from_grid(p) for p in h])
                break
    return normalize_multipolygon(result)


def union_overlay(fragments):
    """Union of arbitrarily-overlapping multipolygon fragments (float
    rings, shell first per polygon) -> dissolved multipolygon.

    Reference semantics: map2db.py:776-784 (GEOS ``.union()``); exact
    up to the microdegree grid snap of crossing points."""
    edges = directed_ring_edges(fragments)
    if not edges:
        return []
    mult = net_multiplicities(Counter(_node_arrangement(edges)))
    if not mult:
        return []
    lmax2 = max(
        (v[0] - u[0]) ** 2 + (v[1] - u[1]) ** 2 for (u, v) in mult
    )
    k_denom = 4 * lmax2
    boundary = []
    for (u, v), m in mult.items():
        wl = _winding(_left_probe(u, v, k_denom), mult)
        wr = wl - m
        if wl >= 1 and wr <= 0:
            boundary.append((u, v))
        elif wr >= 1 and wl <= 0:
            boundary.append((v, u))
    return assemble_polygons(chain_rings(boundary))
