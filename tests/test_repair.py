"""Validity repair (F7/G4) unit tests: the pure-Python make_valid
covering the invalidity classes microdegree rounding produces
(reference guards these with GEOS make_valid, map2db.py:979-1011)."""

from __future__ import annotations

from map2db_spark.geometry.repair import make_valid_polygons


SQ = [[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]]


def _area2(ring):
    s = 0.0
    for i in range(len(ring) - 1):
        s += ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
    return s


def test_valid_polygon_unchanged():
    out, reason = make_valid_polygons([SQ])
    assert reason is None and out == [SQ]


def test_bowtie_splits_into_two_shells():
    bow = [[[(0.0, 0.0), (2.0, 2.0), (2.0, 0.0), (0.0, 2.0), (0.0, 0.0)]]]
    out, reason = make_valid_polygons(bow)
    assert reason is None
    assert len(out) == 2 and all(len(p) == 1 for p in out)
    # total area is preserved: two unit triangles... each lobe is
    # a triangle with |area| 1.0 (half of the 2x2 square per side)
    areas = sorted(abs(_area2(p[0])) / 2 for p in out)
    assert areas == [1.0, 1.0]
    # the crossing point became a vertex of both
    assert all((1.0, 1.0) in p[0] for p in out)


def test_self_touch_pocket_becomes_hole():
    touch = [[[
        (0.0, 0.0), (4.0, 0.0), (2.0, 2.0), (3.0, 2.0), (2.0, 3.0),
        (2.0, 2.0), (4.0, 0.001), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0),
    ]]]
    out, reason = make_valid_polygons(touch)
    assert reason is None
    assert len(out) == 1 and len(out[0]) == 2  # shell + repaired hole
    assert set(out[0][1]) == {(2.0, 2.0), (3.0, 2.0), (2.0, 3.0)}


def test_zero_area_sliver_rejected():
    sliver = [[[(0.0, 0.0), (1.0, 0.0), (2.0, 0.0), (0.0, 0.0)]]]
    out, reason = make_valid_polygons(sliver)
    assert out is None and reason == "no-area-after-repair"


def test_hole_outside_shell_rejected():
    bad = [[
        [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)],
        [(5.0, 5.0), (6.0, 5.0), (6.0, 6.0), (5.0, 6.0), (5.0, 5.0)],
    ]]
    out, reason = make_valid_polygons(bad)
    assert out is None and reason == "hole-outside-shell"


def test_repair_output_is_valid_property():
    """Idempotence rail: whatever ring the repair is fed, a successful
    repair must emit polygons its own validity predicate accepts (so a
    second repair pass is a no-op), and total area must not exceed the
    loops it was given.  Random walks generate plenty of bowties and
    self-touches."""
    import random

    from map2db_spark.geometry.repair import polygons_valid

    rng = random.Random(20260813)
    for _ in range(60):
        n = rng.randint(3, 9)
        ring = [
            (round(rng.uniform(0, 4), 1), round(rng.uniform(0, 4), 1))
            for _ in range(n)
        ]
        ring.append(ring[0])
        out, reason = make_valid_polygons([[ring]])
        if reason is not None:
            assert out is None
            continue
        assert polygons_valid(out), f"repair emitted invalid output for {ring}"
        out2, reason2 = make_valid_polygons(out)
        assert reason2 is None and polygons_valid(out2)


def test_multipolygon_mixed_valid_and_bowtie():
    bow = [[(10.0, 10.0), (12.0, 12.0), (12.0, 10.0), (10.0, 12.0), (10.0, 10.0)]]
    out, reason = make_valid_polygons([SQ, bow])
    assert reason is None
    assert len(out) == 3  # valid square + two bowtie lobes


def test_degenerate_polygon_dropped_but_rest_kept():
    sliver = [[(5.0, 5.0), (6.0, 5.0), (7.0, 5.0), (5.0, 5.0)]]
    out, reason = make_valid_polygons([SQ, sliver])
    assert reason is None and out == [SQ]


def test_make_valid_fuzz_random_tangles():
    """Deep-fuzz regression (r3): heavily self-crossing random rings
    must repair to VALID polygons or reject with a reason — never
    emit an invalid output.  Caught the one-pass noding gap: a
    grid-snapped crossing can land ON another edge, so _repair_ring
    now iterates node+decompose to a fixpoint."""
    import random

    from map2db_spark.geometry.repair import make_valid_polygons, polygons_valid

    u = 1e-6
    rng = random.Random(20260814)
    for _ in range(120):
        n = rng.randint(4, 12)
        pts = [(rng.randint(0, 60) * u, rng.randint(0, 60) * u) for _ in range(n)]
        out, reason = make_valid_polygons([[pts + [pts[0]]]])
        if reason is None:
            assert polygons_valid(out), pts


def test_clip_fuzz_stays_in_box_and_valid():
    """Random convex shapes clipped to a box: every output vertex lies
    in the (snap-tolerant) box and outputs are valid polygons."""
    import math
    import random

    from map2db_spark.geometry import clip as gclip
    from map2db_spark.geometry.repair import polygons_valid

    rng = random.Random(42)
    u = 1e-6
    box = (10 * u, 10 * u, 40 * u, 40 * u)
    eps = 1.01e-6
    for trial in range(120):
        n = rng.choice([3, 4])
        raw = [(rng.randint(0, 50), rng.randint(0, 50)) for _ in range(n)]
        if n == 4:
            cx = sum(p[0] for p in raw) / 4
            cy = sum(p[1] for p in raw) / 4
            raw = sorted(raw, key=lambda p: math.atan2(p[1] - cy, p[0] - cx))
        a2 = sum(
            raw[i][0] * raw[(i + 1) % n][1] - raw[(i + 1) % n][0] * raw[i][1]
            for i in range(n)
        )
        if a2 == 0:
            continue
        if a2 < 0:
            raw = raw[::-1]
        ring = [(x * u, y * u) for x, y in raw] + [(raw[0][0] * u, raw[0][1] * u)]
        out = gclip.clip_polygons([[ring]], box)
        for rings in out:
            for rg in rings:
                for x, y in rg:
                    assert box[0] - eps <= x <= box[2] + eps, (trial, x)
                    assert box[1] - eps <= y <= box[3] + eps, (trial, y)
        if out:
            assert polygons_valid(out), (trial, raw)


def test_linemerge_fuzz_conserves_length():
    """A shattered, shuffled, randomly-reversed path re-merges with
    total segment length exactly conserved (stitching moves no
    geometry when endpoints already coincide)."""
    import math
    import random

    from map2db_spark.geometry.linemerge import merge_feature

    rng = random.Random(7)

    def length(parts):
        return sum(
            math.hypot(b[0] - a[0], b[1] - a[1])
            for p in parts
            for a, b in zip(p, p[1:])
        )

    for _ in range(150):
        n = rng.randint(3, 12)
        pts = [(rng.randint(0, 100) / 1e6, rng.randint(0, 100) / 1e6) for _ in range(n)]
        path = [pts[0]]
        for p in pts[1:]:
            if p != path[-1]:
                path.append(p)
        if len(path) < 3:
            continue
        segs = [[path[i], path[i + 1]] for i in range(len(path) - 1)]
        rng.shuffle(segs)
        for s in segs:
            if rng.random() < 0.5:
                s.reverse()
        merged, _stats = merge_feature(segs)
        assert abs(length(merged) - length(segs)) <= 1e-9


def test_overlay_union_fuzz_valid_and_area_within_snap_tolerance():
    """r4 overlay fuzz distillation: random overlapping convex shapes
    and doughnuts through the general winding-number union must (a)
    never raise, (b) always emit VALID polygons, and (c) keep the
    union area within max(component) - tol .. sum(components) + tol,
    where tol is the documented half-ulp crossing-snap drift bound
    (<= 0.5 grid units per unit of input boundary; axis-parallel
    inputs have zero drift — verified by the rectangle cases)."""
    import math
    import random

    from map2db_spark.geometry.exact import ring_area2 as _ring_area2_int
    from map2db_spark.geometry.repair import polygons_valid
    from map2db_spark.geometry.union import union_polygons

    u = 1e-6
    rng = random.Random(77)

    def convex(n, cx, cy, rad):
        angs = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
        raw = list(dict.fromkeys(
            (cx + int(rad * math.cos(a)), cy + int(rad * math.sin(a)))
            for a in angs
        ))
        if len(raw) < 3:
            return None
        a2 = sum(
            raw[i][0] * raw[(i + 1) % len(raw)][1]
            - raw[(i + 1) % len(raw)][0] * raw[i][1]
            for i in range(len(raw))
        )
        if a2 == 0:
            return None
        if a2 < 0:
            raw = raw[::-1]
        return [[(x * u, y * u) for x, y in raw]
                + [(raw[0][0] * u, raw[0][1] * u)]]

    def doughnut(cx, cy, r_out, r_in):
        def sq(r, ccw):
            pts = [(cx - r, cy - r), (cx + r, cy - r),
                   (cx + r, cy + r), (cx - r, cy + r)]
            if not ccw:
                pts = pts[::-1]
            return [(x * u, y * u) for x, y in pts] + [
                (pts[0][0] * u, pts[0][1] * u)
            ]
        return [sq(r_out, True), sq(r_in, False)]

    def area2(polys):
        tot = 0
        for rings in polys:
            for i, r in enumerate(rings):
                ir = [(round(x / u), round(y / u)) for x, y in r]
                a = abs(_ring_area2_int(ir))
                tot += a if i == 0 else -a
        return tot

    def perim_units(polys):
        return sum(
            math.hypot((r[i + 1][0] - r[i][0]) / u, (r[i + 1][1] - r[i][1]) / u)
            for rings in polys for r in rings for i in range(len(r) - 1)
        )

    n_run = 0
    for _ in range(250):
        polys = []
        for _k in range(rng.randint(2, 4)):
            if rng.random() < 0.6:
                p = convex(rng.randint(3, 7), rng.randint(10, 50),
                           rng.randint(10, 50), rng.randint(3, 20))
                if p:
                    polys.append(p)
            else:
                r_out = rng.randint(4, 15)
                polys.append(doughnut(rng.randint(20, 40), rng.randint(20, 40),
                                      r_out, rng.randint(1, r_out - 2)))
        if len(polys) < 2:
            continue
        n_run += 1
        out = union_polygons([[p] for p in polys], on_overlap="overlay")
        assert polygons_valid(out), polys
        a_un = area2(out)
        a_sum = sum(area2([p]) for p in polys)
        a_max = max(area2([p]) for p in polys)
        tol = perim_units(polys)
        assert a_max - tol <= a_un <= a_sum + tol, (a_max, a_un, a_sum, tol)
    assert n_run > 200
