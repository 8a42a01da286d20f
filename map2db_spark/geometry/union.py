"""Union of same-feature geometry fragments across tiles (G5,
map2db.py:776-784).

The reference computes ``fragment.union(stored)`` with GEOS.  In the
map2db dataflow the operands are always *tile-clipped fragments of one
source geometry*: disjoint interiors that share boundary segments
along tile edges, with coordinates snapped to the microdegree grid.
That special structure admits an exact, GEOS-free union:

- points: set union;
- lines: concatenate parts, dropping exact duplicates (a line lying
  exactly on a shared tile edge is emitted by both tiles);
- polygons: edge-cancellation dissolve — orient all rings
  consistently, node edges at shared vertices, cancel opposite
  directed edges (the shared tile-boundary runs), re-chain the
  remaining edges into rings, classify shells vs holes by signed
  area and containment.

All predicates run on integer microdegree coordinates (exact), never
on floats.  The operation is commutative and associative, so it is a
safe distributed aggregate (any combine order gives the same result
after normalization).

Fragments with OVERLAPPING interiors — outside the tile-fragment
contract but inside the reference's ``.union()`` semantics — are
detected exactly and routed to the winding-number overlay
(geometry/overlay.py), so ``union_polygons`` computes the general
union like the reference; ``on_overlap="raise"`` keeps the strict
contract for callers (the consolidate pipeline) that must surface
overlap as a data violation.  The dissolve stays as the fast path for
the disjoint case: it skips the overlay's crossing search and
per-edge winding probes, and gives the same polygons there
(tests/test_operators.py pins the agreement).
"""

from __future__ import annotations

from collections import defaultdict

from map2db_spark.geometry.exact import (
    closed_int_ring,
    on_ring_boundary,
    on_segment,
    point_in_ring,
    properly_cross,
)
from map2db_spark.geometry.normalize import (
    normalize_line,
    normalize_multilinestring,
    normalize_multipoint,
    normalize_multipolygon,
)
from map2db_spark.geometry.overlay import (
    FragmentOverlapError,
    assemble_polygons,
    chain_rings,
    directed_ring_edges,
    net_multiplicities,
    union_overlay,
)

__all__ = [
    "FragmentOverlapError",
    "union_points",
    "union_lines",
    "union_polygons",
]

def union_points(fragments):
    """fragments: iterable of point lists -> deduped sorted point list."""
    out = set()
    for frag in fragments:
        out.update(frag)
    return normalize_multipoint(out)


def union_lines(fragments):
    """fragments: iterable of line-part lists -> concatenated parts with
    exact duplicates dropped."""
    seen = set()
    out = []
    for frag in fragments:
        for part in frag:
            key = tuple(normalize_line(list(part)))
            if key not in seen:
                seen.add(key)
                out.append(list(part))
    return normalize_multilinestring(out)


def _strictly_inside(p, rings) -> bool:
    """p in the polygon's open interior: inside the shell, on no ring
    boundary, inside no hole."""
    if any(on_ring_boundary(p, ring) for ring in rings):
        return False
    return point_in_ring(p, rings[0]) and not any(
        point_in_ring(p, hole) for hole in rings[1:]
    )


def _frag_overlap_reason(frag_polys) -> str | None:
    """Detect overlapping interiors across fragments.  Three exact
    tests cover the ways disjoint-interior inputs can be violated:
    edges properly crossing (partial overlap), a vertex of one
    fragment strictly inside another (containment without boundary
    contact), and — checked separately in union_polygons on the noded
    edge multiset — same-direction duplicate boundary (identical /
    co-oriented fragments).  Pairwise with bbox prefilters: legitimate
    tile fragments only share thin boundary strips, so almost all
    edge pairs are rejected by the bbox test."""
    frags = []  # (closed int rings, edges, bbox) per fragment
    for polys in frag_polys:
        rings_int = []
        edges = []
        for rings in polys:
            poly_rings = []
            for ring in rings:
                r = closed_int_ring(ring)
                poly_rings.append(r)
                if len(r) > 2:  # a one-vertex ring has no edge
                    edges.extend(zip(r, r[1:]))
            if poly_rings:
                rings_int.append(poly_rings)
        if not edges:
            continue
        xs = [p[0] for e in edges for p in e]
        ys = [p[1] for e in edges for p in e]
        frags.append((rings_int, edges, (min(xs), min(ys), max(xs), max(ys))))

    def bbox_overlap(b1, b2):
        return not (
            b1[2] < b2[0] or b2[2] < b1[0] or b1[3] < b2[1] or b2[3] < b1[1]
        )

    for i in range(len(frags)):
        ri, ei, bi = frags[i]
        for j in range(i + 1, len(frags)):
            rj, ej, bj = frags[j]
            if not bbox_overlap(bi, bj):
                continue
            for u, v in ei:
                ebb = (
                    min(u[0], v[0]), min(u[1], v[1]),
                    max(u[0], v[0]), max(u[1], v[1]),
                )
                for c, d in ej:
                    if (
                        ebb[2] < min(c[0], d[0]) or max(c[0], d[0]) < ebb[0]
                        or ebb[3] < min(c[1], d[1]) or max(c[1], d[1]) < ebb[1]
                    ):
                        continue
                    if properly_cross(u, v, c, d):
                        return "edges-cross"
            for rings_j in rj:
                for u, _v in ei:
                    if _strictly_inside(u, rings_j):
                        return "vertex-inside-other-fragment"
            for rings_i in ri:
                for u, _v in ej:
                    if _strictly_inside(u, rings_i):
                        return "vertex-inside-other-fragment"
    return None


def union_polygons(fragments, on_overlap: str = "overlay"):
    """fragments: iterable of polygon lists (each polygon = rings list,
    shell first) -> dissolved polygon list (float coords).

    Fast path (the G5 tile-fragment contract): fragment interiors are
    pairwise disjoint — tile-clipped pieces of one source geometry
    that share only boundary runs — and the exact edge-cancellation
    dissolve applies.  Overlapping interiors are detected exactly and
    handled per ``on_overlap``:

    - ``"overlay"`` (default): compute the general union via the
      winding-number overlay — full reference ``.union()`` semantics
      (map2db.py:776-784);
    - ``"raise"``: raise FragmentOverlapError — the strict contract
      for pipelines that must surface overlap as a data violation
      instead of silently dissolving it (operators/consolidate.py)."""
    if on_overlap not in ("overlay", "raise"):
        raise ValueError(
            f"on_overlap must be 'overlay' or 'raise', got {on_overlap!r}"
        )
    fragments = [list(frag) for frag in fragments]
    polys = [poly for frag in fragments for poly in frag]
    if len(polys) == 1:
        return normalize_multipolygon(polys)
    reason = _frag_overlap_reason(fragments)
    if reason is not None:
        if on_overlap == "raise":
            raise FragmentOverlapError(reason)
        return union_overlay(fragments)

    # 1. orient (shells CCW, holes CW) on the exact grid,
    #    remembering which fragment each directed edge came from
    directed = [
        (fi, u, v)
        for fi, frag in enumerate(fragments)
        for u, v in directed_ring_edges([frag])
    ]

    # 2. node edges at any vertex lying on them (shared-boundary splits)
    vertices = set()
    for _fi, u, v in directed:
        vertices.add(u)
        vertices.add(v)
    noded = []
    for fi, u, v in directed:
        splits = [p for p in vertices if on_segment(u, v, p)]
        if not splits:
            noded.append((fi, u, v))
            continue
        if u[0] != v[0]:
            splits.sort(key=lambda p: p[0], reverse=u[0] > v[0])
        else:
            splits.sort(key=lambda p: p[1], reverse=u[1] > v[1])
        chain = [u] + splits + [v]
        for i in range(len(chain) - 1):
            noded.append((fi, chain[i], chain[i + 1]))

    # 3a. cancel opposite directed pairs WITHIN each fragment first: a
    # fragment whose hole boundary coincides with its own shell (a
    # degenerate touching strip) contributes nothing along that run.
    per_frag: dict = defaultdict(lambda: defaultdict(int))
    for fi, u, v in noded:
        per_frag[fi][(u, v)] += 1
    count: dict = defaultdict(int)
    for fi, edges in per_frag.items():
        for (u, v), n in edges.items():
            keep = n - min(n, edges.get((v, u), 0))
            if keep:
                count[(u, v)] += keep

    # 3b. interiors sit to the LEFT of directed edges (CCW shells, CW
    # holes), so a surviving duplicate SAME-direction edge means two
    # interiors on the same side of one boundary run — overlapping
    # fragments (e.g. an exactly duplicated polygon), which the
    # crossing/containment probes cannot see.
    if any(n >= 2 for n in count.values()):
        if on_overlap == "raise":
            raise FragmentOverlapError("coincident-boundary-same-direction")
        return union_overlay(fragments)

    # 3c. cancel opposite pairs across fragments (shared tile-boundary
    # runs disappear); every count is 1 here, so each survivor is one
    # edge
    survivors = net_multiplicities(count)

    # 4+5. chain into rings (leftmost-turn walk keeps rings simple at
    # degree>2 junctions) and classify shells/holes — shared with the
    # overlay (geometry/overlay.py), which emits boundary edges in the
    # same interior-on-the-left convention
    return assemble_polygons(chain_rings(survivors))
