"""The microdegree grid and its exact predicates.

The reference runs clip, repair, fragment union and normalize through
GEOS with ``grid_size=1e-6`` (SURVEY §2 G2-G7).  The kernel instead
works on integer microdegrees, where orientation, incidence and
crossing tests are exact.  This module owns that grid: the float <->
grid conversion, the ring preparation and every predicate that repair
(G4), the edge-cancellation dissolve and the overlay (G5) share.
Crossing points are solved rationally and rounded half-away to the
grid, the one snapping contract of the kernel.
"""

from __future__ import annotations

from fractions import Fraction

SCALE = 1_000_000  # grid units per degree


def to_grid(p):
    """(x, y) in degrees -> integer microdegrees."""
    return (int(round(p[0] * SCALE)), int(round(p[1] * SCALE)))


def from_grid(p):
    """Integer microdegrees -> (x, y) in degrees."""
    return (p[0] / SCALE, p[1] / SCALE)


def orient(p, q, r) -> int:
    """Turn p -> q -> r: 1 left, -1 right, 0 collinear."""
    d = (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])
    return (d > 0) - (d < 0)


def on_segment(a, b, p) -> bool:
    """p strictly between a and b, collinear."""
    if p == a or p == b:
        return False
    # the cross product inline, not orient(): this runs inside the
    # O(E*V) noding loops and the ring simplicity checks
    if (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0]) != 0:
        return False
    return (
        min(a[0], b[0]) <= p[0] <= max(a[0], b[0])
        and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])
    )


def properly_cross(a, b, c, d) -> bool:
    """Segments ab and cd meet at one point interior to both; shared
    endpoints, T-touches and collinear overlaps do not count."""
    return (
        orient(a, b, c) * orient(a, b, d) < 0
        and orient(c, d, a) * orient(c, d, b) < 0
    )


def _round_half_away(fr: Fraction) -> int:
    n, d = fr.numerator, fr.denominator  # d > 0
    if n >= 0:
        return (2 * n + d) // (2 * d)
    return -((-2 * n + d) // (2 * d))


def cross_point(a, b, c, d):
    """Intersection point of properly-crossing segments ab, cd,
    rounded half-away to the grid (exact rational solve)."""
    r = (b[0] - a[0], b[1] - a[1])
    s = (d[0] - c[0], d[1] - c[1])
    denom = r[0] * s[1] - r[1] * s[0]
    t = Fraction((c[0] - a[0]) * s[1] - (c[1] - a[1]) * s[0], denom)
    return (
        _round_half_away(a[0] + t * r[0]),
        _round_half_away(a[1] + t * r[1]),
    )


def ring_area2(ring):
    """Twice the signed area of a closed ring (positive = CCW).  The
    sum starts at int 0, so grid rings stay exact and float rings give
    the float value."""
    s = 0
    for i in range(len(ring) - 1):
        x0, y0 = ring[i]
        x1, y1 = ring[i + 1]
        s += x0 * y1 - x1 * y0
    return s


def point_in_ring(p, ring) -> bool:
    """Even-odd rule on a closed grid ring; boundary counts as inside."""
    x, y = p
    inside = False
    for i in range(len(ring) - 1):
        a, b = ring[i], ring[i + 1]
        if p == a or on_segment(a, b, p):
            return True
        if (a[1] > y) != (b[1] > y):
            # x left of the edge's x at height y (exact rational compare)
            xnum = (b[0] - a[0]) * (y - a[1])
            xden = b[1] - a[1]
            lhs = (x - a[0]) * xden
            if (lhs < xnum) if xden > 0 else (lhs > xnum):
                inside = not inside
    return inside


def on_ring_boundary(p, ring) -> bool:
    for i in range(len(ring) - 1):
        if p == ring[i] or on_segment(ring[i], ring[i + 1], p):
            return True
    return False


def closed_int_ring(ring):
    """Float ring -> closed grid ring with consecutive duplicates
    dropped.  Fewer than 4 entries means fewer than 3 distinct
    vertices: such a ring has zero area but keeps its edges."""
    out = []
    for p in ring:
        p = to_grid(p)
        if not out or p != out[-1]:
            out.append(p)
    if len(out) >= 2 and out[0] == out[-1]:
        out.pop()
    return out + out[:1]
