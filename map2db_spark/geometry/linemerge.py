"""Line merging (G6, map2db.py:1080-1182).

Two layers:

- ``linemerge(parts)``: GEOS ``shapely.ops.linemerge`` semantics —
  sew line parts together at endpoints where exactly two line-ends
  meet (graph nodes of degree 2), reversing parts as needed.  Parts
  stay separate at junctions (degree > 2) and at free ends.

- ``merge_feature(parts)``: the reference's full per-feature merge:
  linemerge; if still multi-part, snap endpoints of later parts onto
  endpoints of earlier parts within tol=2.1 microdegrees (rounding
  slack), then linemerge again; classify residual multi-parts as
  loop-containing or not.  Returns (parts, stats) where stats mirrors
  the reference's diagnostic counters multi_count0/1/2 + loop flag
  (map2db.py:1086-1090, 1174-1181).

Everything is per-feature coordinate logic — no GEOS required — and
runs inside a mapInPandas kernel over one row per feature
(operators/linemerge.py), so it parallelizes per feature.
"""

from __future__ import annotations

from collections import defaultdict

TOL = 0.0000021  # 2.1 microdegrees: 2 plus rounding slack (map2db.py:1083-1085)


def linemerge(parts):
    """Sew parts at degree-2 endpoints; returns the merged part list."""
    parts = [list(p) for p in parts if len(p) >= 2]
    if len(parts) <= 1:
        return parts

    # endpoint -> list of (part_idx, is_start); rebuilt per pass
    alive = {i: p for i, p in enumerate(parts)}
    merged = True
    while merged:
        merged = False
        ends: dict = defaultdict(list)
        for i, p in alive.items():
            ends[p[0]].append((i, True))
            ends[p[-1]].append((i, False))
        for node, incident in ends.items():
            if len(incident) != 2:
                continue
            (i, i_start), (j, j_start) = incident
            if i == j:
                continue  # closed loop onto itself
            a = alive[i]
            b = alive[j]
            # orient a to END at node, b to START at node
            if i_start:
                a = a[::-1]
            if not j_start:
                b = b[::-1]
            alive[i] = a + b[1:]
            del alive[j]
            merged = True
            break  # endpoint map is stale; rebuild
    return list(alive.values())


def _close_enough(p, q) -> bool:
    return abs(p[0] - q[0]) <= TOL and abs(p[1] - q[1]) <= TOL


def snap_endpoints(parts):
    """Reference snap pass (map2db.py:1116-1144): for each part i, snap
    its start to any earlier part's end and its end to any earlier
    part's start, when within tolerance.  Direction is assumed
    already correct (forgemap preserved it)."""
    coords = [list(p) for p in parts]
    for i in range(1, len(coords)):
        for j in range(i):
            if _close_enough(coords[i][0], coords[j][-1]):
                coords[i] = [coords[j][-1]] + coords[i][1:]
            if _close_enough(coords[i][-1], coords[j][0]):
                coords[i] = coords[i][:-1] + [coords[j][0]]
    return coords


def merge_feature(parts):
    """Full reference merge for one feature's MultiLineString.

    Returns (merged_parts, stats) with stats keys:
    was_multi, still_multi_after_merge, still_multi_after_snap,
    has_loop, improved (whether the stored geometry should change).
    """
    parts = [list(p) for p in parts]
    stats = {
        "was_multi": False,
        "still_multi_after_merge": False,
        "still_multi_after_snap": False,
        "has_loop": False,
        "improved": False,
    }
    if len(parts) <= 1:
        return parts, stats
    stats["was_multi"] = True
    gcount = len(parts)
    merged = linemerge(parts)
    if len(merged) > 1:
        stats["still_multi_after_merge"] = True
        merged = linemerge(snap_endpoints(merged))
        if len(merged) > 1:
            stats["still_multi_after_snap"] = True
            stats["has_loop"] = any(p[0] == p[-1] for p in merged)
    if len(merged) < gcount or len(merged) == 1:
        stats["improved"] = True
    return merged, stats
