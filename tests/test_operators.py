"""Operator-level tests: scalable id assignment, as-of edge cases,
line-merge loop classification, polygon dissolve properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from map2db_spark.geometry.linemerge import linemerge, merge_feature
from map2db_spark.geometry.union import FragmentOverlapError, union_polygons
from map2db_spark.operators.ids import assign_sequential_ids


def test_assign_sequential_ids_global_order(spark):
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 37 % 1000).alias("key")
    )
    out = assign_sequential_ids(df, [F.col("key")], id_col="seq", num_partitions=8)
    rows = out.orderBy("key").collect()
    # ids follow the key order exactly, dense from 0
    assert [r["seq"] for r in rows] == list(range(1000))


def test_with_ntile_matches_window_function(spark):
    """with_ntile's two-pass arithmetic must reproduce the window
    ntile exactly — including the uneven-bucket boundary (first n%k
    buckets one row larger) and the n<k degenerate case."""
    from pyspark.sql.window import Window as W

    from map2db_spark.operators.ids import with_ntile

    for n, k in [(1000, 10), (997, 7), (5, 9), (64, 64)]:
        df = spark.range(0, n).select(
            F.col("id"), (F.col("id") * 37 % n).alias("key")
        )
        got = {
            r["id"]: r["b"]
            for r in with_ntile(df, ["key", "id"], k, bucket_col="b").collect()
        }
        want = {
            r["id"]: r["b"]
            for r in df.select(
                "id", F.ntile(k).over(W.orderBy("key", "id")).alias("b")
            ).collect()
        }
        assert got == want, (n, k)


def test_with_percent_rank_matches_window_function(spark):
    from pyspark.sql.window import Window as W

    from map2db_spark.operators.ids import with_percent_rank

    df = spark.range(0, 500).select(
        F.col("id"), (F.col("id") * 13 % 500).alias("key")
    )
    got = {
        r["id"]: r["pr"]
        for r in with_percent_rank(df, [F.desc("key"), "id"]).collect()
    }
    want = {
        r["id"]: r["pr"]
        for r in df.select(
            "id",
            F.percent_rank().over(W.orderBy(F.desc("key"), "id")).alias("pr"),
        ).collect()
    }
    assert got == want  # bit-identical doubles, no tolerance


def test_linemerge_chain_and_branch():
    # A-B-C chain merges; D junction (degree 3) stays split
    chain = [[(0, 0), (1, 0)], [(1, 0), (2, 0)], [(2, 0), (3, 0)]]
    assert len(linemerge(chain)) == 1
    branch = [[(0, 0), (1, 0)], [(1, 0), (2, 0)], [(1, 0), (1, 1)]]
    assert len(linemerge(branch)) == 3  # degree-3 node blocks merging


def test_merge_feature_loop_classification():
    # a closed square loop + a separate segment: unmergeable, has_loop
    loop = [
        [(0, 0), (1, 0), (1, 1)],
        [(1, 1), (0, 1), (0, 0)],
        [(5, 5), (6, 6)],
    ]
    merged, stats = merge_feature(loop)
    assert stats["was_multi"]
    assert stats["still_multi_after_snap"]
    assert stats["has_loop"]
    assert any(p[0] == p[-1] for p in merged)


def test_merge_feature_snap_tolerance():
    # endpoints 2 microdegrees apart (within 2.1 tol) snap then merge
    parts = [[(0.0, 0.0), (1.0, 0.0)], [(1.000002, 0.0), (2.0, 0.0)]]
    merged, stats = merge_feature(parts)
    assert len(merged) == 1
    assert stats["still_multi_after_merge"] and not stats["still_multi_after_snap"]


def test_union_polygons_commutative():
    left = [[[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]]]
    right = [[[(1.0, 0.0), (2.0, 0.0), (2.0, 1.0), (1.0, 1.0), (1.0, 0.0)]]]
    ab = union_polygons([left, right])
    ba = union_polygons([right, left])
    assert ab == ba  # commutative after normalization
    assert len(ab) == 1 and len(ab[0]) == 1
    xs = {p[0] for p in ab[0][0]}
    assert xs == {0.0, 1.0, 2.0}


def test_union_polygons_four_quadrants():
    """A square cut into 2x2 quadrant fragments (the cross-tile case at
    a tile corner) dissolves to one ring regardless of combine order."""
    q = lambda x0, y0: [[
        (x0, y0), (x0 + 1.0, y0), (x0 + 1.0, y0 + 1.0), (x0, y0 + 1.0), (x0, y0)
    ]]
    frags = [[q(0.0, 0.0)], [q(1.0, 0.0)], [q(0.0, 1.0)], [q(1.0, 1.0)]]
    import itertools

    results = {
        tuple(map(tuple, (tuple(map(tuple, poly[0])) for poly in union_polygons(perm))))
        for perm in itertools.permutations(frags)
    }
    assert len(results) == 1  # order-independent
    out = union_polygons(frags)
    assert len(out) == 1 and len(out[0]) == 1
    ring = out[0][0]
    xs = {p[0] for p in ring}
    ys = {p[1] for p in ring}
    assert xs == {0.0, 1.0, 2.0} and ys == {0.0, 1.0, 2.0}


def _sq(x0, y0, s):
    return [[
        (x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s), (x0, y0)
    ]]


def test_union_polygons_strict_mode_rejects_overlapping_fragments():
    """The consolidate pipeline's strict contract: overlapping
    interiors raise (surfaced as a data violation), never dissolve to
    a silently wrong polygon."""
    import pytest

    sq = _sq
    # partial overlap: edges properly cross
    with pytest.raises(FragmentOverlapError, match="edges-cross"):
        union_polygons([[sq(0.0, 0.0, 2.0)], [sq(1.0, 1.0, 2.0)]], on_overlap="raise")
    # containment without boundary contact: vertex strictly inside
    with pytest.raises(FragmentOverlapError, match="vertex-inside"):
        union_polygons([[sq(0.0, 0.0, 3.0)], [sq(1.0, 1.0, 1.0)]], on_overlap="raise")
    # exact duplicate: same-direction coincident boundary
    with pytest.raises(FragmentOverlapError, match="coincident-boundary"):
        union_polygons([[sq(0.0, 0.0, 1.0)], [sq(0.0, 0.0, 1.0)]], on_overlap="raise")
    # legitimate shared-edge fragments still dissolve with the guard on
    out = union_polygons([[sq(0.0, 0.0, 1.0)], [sq(1.0, 0.0, 1.0)]], on_overlap="raise")
    assert len(out) == 1 and len(out[0]) == 1


def _area2_int(polys):
    """Sum over polygons of |shell double-area| minus |hole
    double-areas| (µdeg² units) — the union's exact area × 2,
    independent of the normalizer's ring-orientation convention."""
    from map2db_spark.geometry.exact import ring_area2 as _ring_area2_int
    from map2db_spark.geometry.exact import to_grid as _to_int

    total = 0
    for rings in polys:
        for idx, ring in enumerate(rings):
            r = [_to_int(p) for p in ring]
            if r[0] != r[-1]:
                r.append(r[0])
            a2 = abs(_ring_area2_int(r))
            total += a2 if idx == 0 else -a2
    return total


def _covered_by_any(p_int, fragments):
    """p covered by >= 1 input polygon (shell minus holes, exact)."""
    from map2db_spark.geometry.exact import point_in_ring as _point_in_ring
    from map2db_spark.geometry.exact import to_grid as _to_int

    for frag in fragments:
        for rings in frag:
            int_rings = []
            for ring in rings:
                r = [_to_int(q) for q in ring]
                if r[0] != r[-1]:
                    r.append(r[0])
                int_rings.append(r)
            if _point_in_ring(p_int, int_rings[0]) and not any(
                _point_in_ring(p_int, h) for h in int_rings[1:]
            ):
                return True
    return False


def test_union_overlay_matches_pointwise_coverage():
    """G5 general case: default union_polygons COMPUTES overlapping
    unions (reference map2db.py:776-784 semantics).  Fixtures use
    integer-grid crossings so the overlay is exact; a dense grid of
    probe points must agree between 'covered by the union result' and
    'covered by any input fragment', and the union area must match
    the inclusion-exclusion value exactly."""
    from map2db_spark.geometry.exact import on_ring_boundary as _on_ring_boundary
    from map2db_spark.geometry.exact import point_in_ring as _point_in_ring
    from map2db_spark.geometry.exact import to_grid as _to_int

    sq = _sq
    u = 1e-6  # 1 µdeg in degrees
    cases = [
        # partial overlap of two squares: area 4 + 4 - 1 = 7
        ([[sq(0 * u, 0 * u, 2 * u)], [sq(1 * u, 1 * u, 2 * u)]], 7),
        # containment: inner square adds nothing -> 9
        ([[sq(0 * u, 0 * u, 3 * u)], [sq(1 * u, 1 * u, 1 * u)]], 9),
        # exact duplicate -> 1
        ([[sq(0 * u, 0 * u, 1 * u)], [sq(0 * u, 0 * u, 1 * u)]], 1),
        # three-way overlap chain: 4 + 4 + 4 - 1 - 1 = 10
        (
            [
                [sq(0 * u, 0 * u, 2 * u)],
                [sq(1 * u, 1 * u, 2 * u)],
                [sq(2 * u, 2 * u, 2 * u)],
            ],
            10,
        ),
        # ring of 4 overlapping rectangles around an empty 2x2 center
        # -> union is a square annulus: 16 - 4 = 12 (tests hole
        # emission from pure overlap)
        (
            [
                [[[ (0*u,0*u),(4*u,0*u),(4*u,1*u),(0*u,1*u),(0*u,0*u) ]]],
                [[[ (0*u,3*u),(4*u,3*u),(4*u,4*u),(0*u,4*u),(0*u,3*u) ]]],
                [[[ (0*u,0*u),(1*u,0*u),(1*u,4*u),(0*u,4*u),(0*u,0*u) ]]],
                [[[ (3*u,0*u),(4*u,0*u),(4*u,4*u),(3*u,4*u),(3*u,0*u) ]]],
            ],
            12,
        ),
    ]
    for fragments, want_area in cases:
        out = union_polygons(fragments)
        assert _area2_int(out) == 2 * want_area, (fragments, out)
        # pointwise agreement on a dense probe grid (off boundaries,
        # using quarter-µdeg offsets scaled up: probe the int grid at
        # 1µdeg steps and skip points on any boundary)
        out_int = [
            [
                ([_to_int(p) for p in ring] + [_to_int(ring[0])])
                if _to_int(ring[0]) != _to_int(ring[-1])
                else [_to_int(p) for p in ring]
                for ring in rings
            ]
            for rings in out
        ]

        def covered_by_out(p):
            for rings in out_int:
                if _point_in_ring(p, rings[0]) and not any(
                    _point_in_ring(p, h) and not _on_ring_boundary(p, h)
                    for h in rings[1:]
                ):
                    return True
            return False

        for x in range(-1, 6):
            for y in range(-1, 6):
                p = (x, y)
                on_any_boundary = any(
                    _on_ring_boundary(p, ([_to_int(q) for q in ring] + [_to_int(ring[0])]))
                    for frag in fragments
                    for rings in frag
                    for ring in rings
                ) or any(
                    _on_ring_boundary(p, rings_i[0]) or
                    any(_on_ring_boundary(p, h) for h in rings_i[1:])
                    for rings_i in out_int
                )
                if on_any_boundary:
                    continue
                assert covered_by_out(p) == _covered_by_any(p, fragments), (
                    p, want_area,
                )


def test_overlay_agrees_with_dissolve_on_disjoint_fragments():
    """Consistency of the two G5 engines: for inputs INSIDE the
    tile-fragment contract (disjoint interiors, shared boundary runs)
    the general winding-number overlay must produce exactly the same
    multipolygon as the edge-cancellation dissolve fast path, on
    hand-built unit cells and on tile-clipped random polygons."""
    import itertools
    import math
    import random

    from map2db_spark.geometry.clip import clip_polygons
    from map2db_spark.geometry.overlay import union_overlay
    from map2db_spark.sources.tilemath import tile_bounds_deg, x_from_lon, y_from_lat

    u = 1e-6
    q = lambda x0, y0: _sq(x0 * u, y0 * u, u)
    cases = [
        # 2x2 quadrants of a square
        [[q(0, 0)], [q(1, 0)], [q(0, 1)], [q(1, 1)]],
        # a strip with a gap (two output polygons)
        [[q(0, 0)], [q(1, 0)], [q(3, 0)]],
        # L-shape assembled from 3 cells
        [[q(0, 0)], [q(0, 1)], [q(1, 0)]],
        # ring of 8 cells around an empty center (hole emerges)
        [
            [q(0, 0)], [q(1, 0)], [q(2, 0)],
            [q(0, 1)], [q(2, 1)],
            [q(0, 2)], [q(1, 2)], [q(2, 2)],
        ],
    ]
    for frags in cases:
        fast = union_polygons(frags, on_overlap="raise")
        general = union_overlay(frags)
        assert fast == general, (frags, fast, general)
        # and order independence of the general path on these inputs
        for perm in itertools.islice(itertools.permutations(frags), 6):
            assert union_overlay(list(perm)) == fast

    # the shape consolidate feeds the union: seeded random simple
    # 6-12-gons on the microdegree grid (one vertex per equal angular
    # sector around the center, so the ring is star-shaped), clipped to
    # the z12 tiles they span
    rng = random.Random(20261018)
    spanning = 0
    for trial in range(40):
        cx, cy = rng.uniform(-60.0, 60.0), rng.uniform(-60.0, 60.0)
        r = rng.uniform(0.03, 0.15)
        n = rng.randint(6, 12)
        angles = [(k + rng.random()) * 2 * math.pi / n for k in range(n)]
        ring = []
        for a in angles:
            rr = r * rng.uniform(0.3, 1.0)
            ring.append(
                (round(cx + rr * math.cos(a), 6), round(cy + rr * math.sin(a), 6))
            )
        ring.append(ring[0])
        lons = [p[0] for p in ring]
        lats = [p[1] for p in ring]
        xs = range(int(x_from_lon(12, min(lons))), int(x_from_lon(12, max(lons))) + 1)
        ys = range(int(y_from_lat(12, max(lats))), int(y_from_lat(12, min(lats))) + 1)
        frags = []
        for tx in xs:
            for ty in ys:
                frag = clip_polygons([[ring]], tile_bounds_deg(12, tx, ty))
                if frag:
                    frags.append(frag)
        spanning += len(frags) > 1
        fast = union_polygons(frags, on_overlap="raise")
        assert union_overlay(frags) == fast, (trial, ring)
    assert spanning >= 30, spanning


def test_union_overlay_fuzz_vs_cell_decomposition():
    """Property fuzz: the overlay union's exact area over random
    overlapping axis-aligned rectangles must equal the coordinate-
    compression cell-decomposition area (an independent algorithm —
    the in-process twin of the m2db_overlay_union SQL oracle), and the
    output must be a valid multipolygon."""
    import random

    from map2db_spark.geometry.overlay import union_overlay
    from map2db_spark.geometry.repair import polygons_valid

    u = 1e-6
    rng = random.Random(20260814)
    for trial in range(60):
        n = rng.randint(1, 8)
        rects = []
        for _ in range(n):
            x0 = rng.randint(0, 30)
            y0 = rng.randint(0, 30)
            rects.append((x0, y0, x0 + rng.randint(1, 12), y0 + rng.randint(1, 12)))
        frags = [
            [[[(x0 * u, y0 * u), (x1 * u, y0 * u), (x1 * u, y1 * u),
               (x0 * u, y1 * u), (x0 * u, y0 * u)]]]
            for x0, y0, x1, y1 in rects
        ]
        out = union_overlay(frags)
        assert polygons_valid(out), (trial, rects)
        # independent oracle: coordinate compression
        xs = sorted({v for r in rects for v in (r[0], r[2])})
        ys = sorted({v for r in rects for v in (r[1], r[3])})
        want = 0
        for xa, xb in zip(xs, xs[1:]):
            for ya, yb in zip(ys, ys[1:]):
                if any(
                    r[0] <= xa and xb <= r[2] and r[1] <= ya and yb <= r[3]
                    for r in rects
                ):
                    want += (xb - xa) * (yb - ya)
        assert _area2_int(out) == 2 * want, (trial, rects)


def test_union_overlay_order_independent():
    """Overlay union is the same multipolygon for every fragment
    order (normalization makes it canonical)."""
    import itertools

    u = 1e-6
    frags = [
        [_sq(0 * u, 0 * u, 2 * u)],
        [_sq(1 * u, 1 * u, 2 * u)],
        [_sq(1 * u, 0 * u, 1 * u)],
    ]
    results = {
        repr(union_polygons(list(perm)))
        for perm in itertools.permutations(frags)
    }
    assert len(results) == 1


def test_union_overlay_nongrid_crossing_snaps():
    """Diagonal overlap whose crossing points are NOT on the grid:
    the overlay snaps them half-away to the µdeg grid (the kernel's
    uniform contract) and still produces a valid polygon whose area
    is within a half-grid band of the rational value."""
    u = 1e-6
    # diamond overlapping a square: crossings at half-integers
    diamond = [[[
        (3 * u, 0 * u), (6 * u, 3 * u), (3 * u, 6 * u), (0 * u, 3 * u),
        (3 * u, 0 * u),
    ]]]
    square = [_sq(0 * u, 0 * u, 3 * u)]
    out = union_polygons([square, diamond])
    from map2db_spark.geometry.repair import polygons_valid

    assert polygons_valid(out)
    area2 = _area2_int(out)
    # rational union area: square 9 + diamond 18 - overlap 4.75 = 22.25
    assert abs(area2 - 2 * 22.25) <= 4  # within the snap tolerance
    # strict mode still refuses
    import pytest

    with pytest.raises(FragmentOverlapError):
        union_polygons([square, diamond], on_overlap="raise")


def test_lsh_bucket_cap_skips_hot_bucket(spark):
    """The bucket-size rail: a band bucket over the cap contributes no
    candidate pairs; pairs from small buckets survive."""
    import map2db_spark.functions.dedup as D

    # 30 docs with identical signatures (one huge bucket per band) +
    # 2 docs sharing a distinct signature (small buckets)
    rows = [(i, "aaaa", "bbbb", "cccc", "dddd") for i in range(30)]
    rows += [(100 + i, "eeee", "ffff", "gggg", "hhhh") for i in range(2)]
    sigs = spark.createDataFrame(rows, "sid LONG, mh0 STRING, mh1 STRING, mh2 STRING, mh3 STRING")
    capped = D.lsh_candidate_pairs(sigs, num_hashes=4, band_size=2, bucket_cap=10)
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert pairs == {(100, 101)}
    uncapped = D.lsh_candidate_pairs(sigs, num_hashes=4, band_size=2)
    assert uncapped.count() == 30 * 29 // 2 + 1


def test_ivf_trained_centroids_exact_on_separated_clusters(spark):
    """Trained coarse centroids (exact-int Lloyd's) on well-separated
    clusters make nprobe=1 IVF exactly match brute force: every true
    neighbor shares the query's cell."""
    import map2db_spark.functions.similarity as S
    from map2db_spark.functions.clustering import train_centroids

    rows = []
    for cid in range(3):
        for j in range(20):
            vec = [0.05 * ((cid * 7 + j * 3 + d) % 5) for d in range(8)]
            vec[cid] += 3.0
            rows.append((j * 3 + cid, vec))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    centroids = train_centroids(df, k=3, iters=3, dim=8)
    queries = df.where(F.col("vec_id") < 3)
    ivf = S.ivf_topk(df, queries, centroids, k=3, nprobe=1)
    brute = S.brute_force_topk(df, queries, k=3)
    assert sorted(map(tuple, ivf.collect())) == sorted(map(tuple, brute.collect()))


def test_ivf_nprobe_all_cells_equals_brute(spark):
    """Probing every cell must recover brute-force exactly, whatever
    the centroids — the recall knob's boundary condition."""
    import map2db_spark.functions.similarity as S

    rows = [
        (i, [0.1 * ((i * 13 + d * 5) % 11) - 0.5 for d in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    centroids = S.ivf_centroids(dim=8, n_cells=4, seed=7)
    queries = df.where(F.col("vec_id") < 4)
    ivf = S.ivf_topk(df, queries, centroids, k=5, nprobe=4)
    brute = S.brute_force_topk(df, queries, k=5)
    assert sorted(map(tuple, ivf.collect())) == sorted(map(tuple, brute.collect()))


def test_corpus_seed_centroids_balance(spark):
    """The data-seeded quantizer must actually spread the organic
    corpus across cells — the property the random ivf_centroids lacked
    (99% of vectors in one cell) and the reason the IVF/semantic-dedup
    family moved to it in r4.  Pins: every cell used, no cell holding
    more than 25% of the corpus, assignments deterministic."""
    import map2db_spark.functions.similarity as S
    from tests.conftest import SF_CORRECT

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    cents = S.corpus_seed_centroids(emb, 16)
    assert len(cents) == 16 and all(len(c) == 64 for c in cents)
    prep = S.ivf_prepared(
        emb, cents, "vec_id", "embedding", "vid", "vec", "norm"
    )
    counts = {r["cell"]: r["count"] for r in prep.groupBy("cell").count().collect()}
    total = sum(counts.values())
    assert len(counts) == 16, counts
    assert max(counts.values()) <= total // 4, counts
    assert S.corpus_seed_centroids(emb, 16) == cents  # deterministic


def test_misra_gries_prunes_but_keeps_heavy_keys(spark):
    """In the pruning regime (m far below the key cardinality) the MG
    summaries must still surface every key above the N/m bar, and the
    verified top-k must equal the exact top-k when the k-th frequency
    clears that bar."""
    from map2db_spark.functions.sketches import (
        heavy_hitters_topk,
        mg_partition_summaries,
    )

    # 2000 singleton keys + 3 heavy keys (600/400/200 occurrences)
    rows = [(i + 10_000,) for i in range(2000)]
    rows += [(1,)] * 600 + [(2,)] * 400 + [(3,)] * 200
    df = spark.createDataFrame(rows, "k LONG").repartition(8)
    n_total = len(rows)
    m = 24  # bar = N/m ≈ 133 < 200, far below the 2003 distinct keys
    cands = {r.key for r in mg_partition_summaries(df, "k", m).collect()}
    assert {1, 2, 3} <= cands
    assert len(cands) < 2003  # it actually pruned
    top = heavy_hitters_topk(df, "k", k=3, m=m).collect()
    assert [(r.key, r.n) for r in sorted(top, key=lambda r: r.rank)] == [
        (1, 600), (2, 400), (3, 200),
    ]


def test_union_polygons_hole_preserved():
    # fragment A covers left half incl. half the hole; B the right half
    a = [[
        [(0.0, 0.0), (1.0, 0.0), (1.0, 2.0), (0.0, 2.0), (0.0, 0.0)],
        [(0.5, 0.5), (1.0, 0.5), (1.0, 1.5), (0.5, 1.5), (0.5, 0.5)],
    ]]
    b = [[
        [(1.0, 0.0), (2.0, 0.0), (2.0, 2.0), (1.0, 2.0), (1.0, 0.0)],
        [(1.0, 0.5), (1.5, 0.5), (1.5, 1.5), (1.0, 1.5), (1.0, 0.5)],
    ]]
    out = union_polygons([a, b])
    assert len(out) == 1
    assert len(out[0]) == 2  # shell + reunified hole
    hole = out[0][1]
    assert {p[0] for p in hole} == {0.5, 1.0, 1.5}

def test_multimodal_resize_real_pixels(spark):
    """resize_images is REAL now: decode (stdlib codecs) -> exact
    nearest-neighbor -> PNG re-encode.  The resized payloads decode
    back to the NN-sampled source pixels, verified value-by-value."""
    import numpy as np

    from map2db_spark.functions.multimodal import (
        documents_as_png_media,
        resize_images,
    )
    from map2db_spark.functions.png import decode_png
    from map2db_spark.tables import load
    from tests.conftest import SF_SMOKE

    docs = load(spark, SF_SMOKE, "documents").where("doc_id < 10")
    media = documents_as_png_media(docs)
    out = resize_images(media, 6, 5).collect()
    assert len(out) == 10
    for r in out:
        assert r["meta_width"] == 6 and r["meta_height"] == 5
        px = decode_png(bytes(r["payload"]))
        assert px.shape == (5, 6, 3)
        did = r["media_id"]
        w, h = 4 + did % 5, 3 + did % 4
        for ty in range(5):
            for tx in range(6):
                sx, sy = (tx * w) // 6, (ty * h) // 5
                want = [(did * 7 + sx * 3 + sy * 5 + c * 11) % 256 for c in range(3)]
                assert list(px[ty, tx]) == want, (did, tx, ty)


def test_union_polygons_corner_touch():
    """Squares touching only at a corner stay two separate polygons
    (no shared edges cancel; the degree-4 vertex walk keeps rings
    apart)."""
    a = [[[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]]]
    b = [[[(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0), (1.0, 1.0)]]]
    out = union_polygons([a, b])
    assert len(out) == 2
    assert all(len(p) == 1 for p in out)


def test_union_polygons_partial_edge_overlap():
    """Fragments sharing only PART of an edge: noding must split the
    longer edge at the shared endpoints before cancellation."""
    a = [[[(0.0, 0.0), (2.0, 0.0), (2.0, 1.0), (0.0, 1.0), (0.0, 0.0)]]]
    b = [[[(0.5, 1.0), (1.5, 1.0), (1.5, 2.0), (0.5, 2.0), (0.5, 1.0)]]]
    out = union_polygons([a, b])
    assert len(out) == 1 and len(out[0]) == 1
    ring = out[0][0]
    # T-shape: 8 corners; shared run (0.5,1)-(1.5,1) is interior now
    corners = set(ring[:-1])
    assert (0.5, 1.0) in corners and (1.5, 1.0) in corners
    assert len(corners) == 8


def test_clip_line_through_corner():
    """A diagonal passing exactly through a box corner yields the
    single touching point run -> dropped as degenerate (reference F5
    discards point residues)."""
    from map2db_spark.geometry.clip import clip_line, clip_lines

    box = (0.0, 0.0, 1.0, 1.0)
    # passes through (1,1) corner only
    parts = clip_line([(0.5, 1.5), (1.5, 0.5)], box)
    assert parts == []  # single-point contact is not a line
    # crosses properly -> one clipped run
    parts = clip_lines([[(-0.5, 0.5), (1.5, 0.5)]], box)
    assert parts == [[(0.0, 0.5), (1.0, 0.5)]]


def test_morton_code_matches_reference(spark):
    """The codegen bit-spread must equal a straightforward python
    interleave for random coordinates."""
    import random

    from map2db_spark.functions.spatial import morton_code

    rng = random.Random(5)
    pts = [(rng.uniform(-180, 180), rng.uniform(-90, 90)) for _ in range(50)]
    df = spark.createDataFrame(pts, "lon DOUBLE, lat DOUBLE")
    got = [r["morton"] for r in df.select(
        morton_code(F.col("lon"), F.col("lat"))).collect()]

    def py_morton(lon, lat, bits=16):
        def quant(c, lo, hi):
            return int(round((c - lo) / (hi - lo) * ((1 << bits) - 1)))

        def spread(v):
            out = 0
            for i in range(bits):
                out |= ((v >> i) & 1) << (2 * i)
            return out

        return spread(quant(lon, -180.0, 180.0)) | (
            spread(quant(lat, -90.0, 90.0)) << 1
        )

    want = [py_morton(lon, lat) for lon, lat in pts]
    assert got == want


def test_cluster_by_morton_sorts_neighbors(spark):
    from map2db_spark.functions.spatial import cluster_by_morton
    from map2db_spark.geometry import wkb as gwkb

    rows = [
        (i, gwkb.encode_multipoint([(float(i % 10), float(i // 10))]))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id LONG, geom BINARY").coalesce(1)
    ordered = [r["id"] for r in cluster_by_morton(df).collect()]
    assert sorted(ordered) == list(range(100))
    assert ordered != list(range(100))  # actually reordered (Z-curve)


# ---------------------------------------------------------------------------
# connected components (operators/components.py)
# ---------------------------------------------------------------------------


def test_connected_components_basic(spark):
    from map2db_spark.operators.components import connected_components, duplicate_clusters

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 3)], "src bigint, dst bigint"
    )
    comps = {r.node: r.comp for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 8: 1, 5: 5, 6: 5}
    clusters = {
        r.cluster_id: (r.size, r.members) for r in duplicate_clusters(edges).collect()
    }
    assert clusters == {1: (4, "1,2,3,8"), 5: (2, "5,6")}


def test_connected_components_long_chain_converges(spark):
    """A diameter-9 chain needs ~9 propagation rounds — exercises the
    iteration + convergence check, not just the 1-hop case."""
    from map2db_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "src bigint, dst bigint"
    )
    comps = {r.node: r.comp for r in connected_components(edges).collect()}
    assert comps == {i: 1 for i in range(1, 11)}


def test_connected_components_raises_without_convergence(spark):
    """max_iter=0 must raise, never return silently-wrong labels."""
    import pytest as _pytest

    from map2db_spark.operators.components import connected_components

    edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, max_iter=0)


def test_minhash_rowlocal_matches_exploded(spark):
    """The shuffle-free row-local signatures must be value-identical
    to the exploded groupBy-min form on real corpus data."""
    from map2db_spark.functions import dedup as D
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    a = D.minhash_signatures(D.shingle_table(docs), num_hashes=8)
    b = D.minhash_signatures_rowlocal(docs, num_hashes=8)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_kmeans_deterministic_and_exhaustive(spark):
    """Two runs must produce identical exact values (integer-scaled
    arithmetic leaves no float nondeterminism), clusters must
    partition the input, and SSD must be non-negative."""
    from map2db_spark.functions.clustering import kmeans_int
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    a = sorted(tuple(r) for r in kmeans_int(emb, k=4, iters=2).collect())
    b = sorted(tuple(r) for r in kmeans_int(emb, k=4, iters=2).collect())
    assert a == b
    assert sum(r[1] for r in a) == emb.count()
    assert all(r[2] >= 0 for r in a)


def test_kmeans_arrow_matches_hof(spark):
    """The vectorized numpy assignment kernel must be bit-identical to
    the interpreted HOF expression path (same int64 arithmetic, same
    lowest-cid tie-break)."""
    from map2db_spark.functions.clustering import kmeans_int
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    a = sorted(tuple(r) for r in kmeans_int(emb, k=4, iters=2, impl="arrow").collect())
    h = sorted(tuple(r) for r in kmeans_int(emb, k=4, iters=2, impl="hof").collect())
    assert a == h


def test_asof_join_edge_cases(spark):
    """Backward as-of: inclusive on equal timestamps, None (outer mode)
    when no earlier right row exists, no row duplication on duplicate
    left timestamps."""
    from map2db_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame([(1, 100), (1, 50), (2, 10)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 100, "exact"), (1, 99, "near"), (1, 40, "old"), (3, 5, "other")],
        "k long, t long, v string",
    )
    out = {
        (r["k"], r["t"]): r["asof_v"]
        for r in asof_join_backward(
            left, right, on="k", left_ts="t", right_ts="t",
            right_value_cols=["v"], inner=False,
        ).collect()
    }
    assert out == {(1, 100): "exact", (1, 50): "old", (2, 10): None}
    dup = spark.createDataFrame([(1, 100), (1, 100)], "k long, t long")
    assert (
        asof_join_backward(
            dup, right, on="k", left_ts="t", right_ts="t", right_value_cols=["v"]
        ).count()
        == 2
    )


def test_copurchase_edge_builder_order_cap(spark):
    """g_betweenness' quadratic-per-order pair builder enforces its
    own rail (r3 verdict item 6): an order above the cap contributes
    NO pairs, one within it pairs normally, and the rail is a
    LeftSemi in the plan."""
    from map2db_spark.queries_round5 import _copurchase_edges

    rows = [(1, p) for p in range(30)] + [(2, 100), (2, 101), (2, 102)]
    li0 = spark.createDataFrame(rows, "o long, p long")
    edges = _copurchase_edges(li0, order_cap=25)
    got = sorted((r["u"], r["v"]) for r in edges.collect())
    # only order 2's 3 items pair (6 directed edges); order 1's 30
    # items (435 pairs) are skipped by the rail
    assert got == sorted(
        [(100, 101), (100, 102), (101, 102),
         (101, 100), (102, 100), (102, 101)]
    )
    assert "LeftSemi" in edges._jdf.queryExecution().executedPlan().toString()


def test_with_prefix_sums_matches_window(spark):
    """Two-pass range-partitioned running sums == the single-partition
    window they replace, NULLs counted as 0, across many partitions."""
    import random

    from map2db_spark.operators.ids import with_prefix_sums

    random.seed(7)
    rows = [
        (i, random.randint(-5, 5), random.choice([None, 1, 2, 3]))
        for i in random.sample(range(10_000), 500)
    ]
    df = spark.createDataFrame(rows, "k long, a long, b long").repartition(13)
    got = {
        r["k"]: (r["cum_a"], r["cum_b"])
        for r in with_prefix_sums(df, ["k"], ["a", "b"], num_partitions=11).collect()
    }
    ca = cb = 0
    want = {}
    for k, a, b in sorted(rows):
        ca += a
        cb += b or 0
        want[k] = (ca, cb)
    assert got == want


def test_asof_backward_null_right_column_no_cross_row_mixing(spark):
    """A NULL in one right value column must NOT make that output
    column fall back to an older right row while asof_ts comes from
    the newer one — the carried right row is atomic (struct carry,
    r3 verdict item 3)."""
    from map2db_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame([(1, 100)], "k long, t long")
    # newest right row (t=90) has v=NULL but w='new'; older row (t=40)
    # has both.  The match is the t=90 row, so asof_v must be NULL —
    # not 'old_v' mixed in from t=40.
    right = spark.createDataFrame(
        [(1, 90, None, "new"), (1, 40, "old_v", "old_w")],
        "k long, t long, v string, w string",
    )
    [row] = asof_join_backward(
        left, right, on="k", left_ts="t", right_ts="t",
        right_value_cols=["v", "w"],
    ).collect()
    assert row["asof_ts"] == 90
    assert row["asof_v"] is None
    assert row["asof_w"] == "new"


def test_connected_components_self_loop_and_ids_sparse_partitions(spark):
    """Self-loop-only nodes are absent (own component by convention);
    sequential ids stay dense when partitions outnumber rows."""
    from map2db_spark.operators.components import connected_components
    from map2db_spark.operators.ids import assign_sequential_ids

    edges = spark.createDataFrame(
        [(1, 1), (2, 3), (3, 2), (4, 5)], "src bigint, dst bigint"
    )
    comps = sorted((r["node"], r["comp"]) for r in connected_components(edges).collect())
    assert comps == [(2, 2), (3, 2), (4, 4), (5, 4)]
    df = spark.range(0, 10).repartition(50).select(
        F.col("id"), (F.col("id") * 7 % 10).alias("key")
    )
    out = assign_sequential_ids(df, [F.col("key")], id_col="seq", num_partitions=40)
    assert sorted((r["key"], r["seq"]) for r in out.collect()) == [
        (i, i) for i in range(10)
    ]


def test_asof_nearest_directions_ties_and_no_match(spark):
    """Nearest as-of: picks the closer side, earlier row wins exact
    ties, no-match drops in inner mode and nulls in outer mode."""
    from map2db_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame(
        [(1, 100), (1, 10), (1, 55), (2, 7)], "k long, t long"
    )
    right = spark.createDataFrame(
        [(1, 97, "back"), (1, 102, "fwd"), (1, 50, "lo"), (1, 60, "hi")],
        "k long, t long, v string",
    )
    out = {
        (r["k"], r["t"]): (r["asof_v"], r["asof_ts"])
        for r in asof_join_nearest(
            left, right, on="k", left_ts="t", right_ts="t",
            right_value_cols=["v"], inner=False,
        ).collect()
    }
    assert out[(1, 100)] == ("fwd", 102)   # dist 2 fwd beats 3 back
    assert out[(1, 10)] == ("lo", 50)      # only forward exists
    assert out[(1, 55)] == ("lo", 50)      # exact tie 5/5 -> earlier
    assert out[(2, 7)] == (None, None)     # no rights for key
    inner = asof_join_nearest(
        left, right, on="k", left_ts="t", right_ts="t", right_value_cols=["v"]
    )
    assert inner.count() == 3


def test_asof_nearest_null_value_columns_stay_atomic(spark):
    """Regression (r2 ADVICE): with per-column carries, a NULL in one
    right value column let the pick mix values (and asof_ts) from
    DIFFERENT right rows.  The struct-packed carry must return the
    nearest ROW atomically — its NULL fields included."""
    from map2db_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame([(1, 100)], "k long, t long")
    # nearest right row (t=99) has v1 NULL; the farther row (t=90)
    # has both.  The old per-column carry returned v1 from t=90 with
    # v2/ts from t=99 — a row that never existed.
    right = spark.createDataFrame(
        [(1, 90, "old1", "old2"), (1, 99, None, "new2")],
        "k long, t long, v1 string, v2 string",
    )
    (row,) = asof_join_nearest(
        left, right, on="k", left_ts="t", right_ts="t",
        right_value_cols=["v1", "v2"],
    ).collect()
    assert (row["asof_v1"], row["asof_v2"], row["asof_ts"]) == (None, "new2", 99)


def test_cdc_boundaries_resync_after_prefix_edit(spark):
    """The CDC claim: prepend words to a document and the chunking
    re-synchronizes — the two versions share most chunks, while a
    fixed-span scheme would share none.  Also: chunks partition the
    token stream exactly (no token lost or duplicated)."""
    import random

    from map2db_spark.queries_round5 import cdc_chunk_frame

    rng = random.Random(7)
    words = [f"w{rng.randrange(500)}" for _ in range(400)]
    base = " ".join(words)
    edited = "inserted prefix words " + base
    docs = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    rows = cdc_chunk_frame(docs).collect()
    a = [r["chunk_md5"] for r in rows if r["doc_id"] == 1]
    b = [r["chunk_md5"] for r in rows if r["doc_id"] == 2]
    shared = set(a) & set(b)
    # all of doc 1's chunks except (at most) the first must reappear
    # verbatim in the edited doc — boundaries resynced
    assert len(shared) >= len(a) - 1, (len(a), len(b), len(shared))
    # fixed 20-token spans from offset 0 would share nothing after a
    # 3-word shift; sanity-check that contrast holds here
    span_a = {" ".join(words[i:i + 20]) for i in range(0, 400, 20)}
    ew = edited.split()
    span_b = {" ".join(ew[i:i + 20]) for i in range(0, len(ew), 20)}
    assert not (span_a & span_b)


def test_cdc_chunks_partition_tokens_exactly(spark):
    """Chunk boundaries tile the document: joining the chunk texts
    reproduces the token stream (checked via per-doc md5 of chunks
    being derivable only if slices are disjoint and complete — here
    by counting: sum of chunk token counts == doc token count)."""
    from pyspark.sql import functions as F

    from map2db_spark.queries_round5 import (
        _CDC_MASK,
        _CDC_V_SPARK,
        _CDC_VS_SPARK,
        _CDC_W,
        _cdc_hash,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{(i * 31 + j) % 97}" for j in range(50 + i)))
         for i in range(1, 8)],
        "doc_id long, text string",
    )
    t = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("doc_id", t.alias("t")).withColumn(
        "vs", F.expr(_CDC_VS_SPARK)
    )
    out = base.select(
        "doc_id",
        F.size("t").alias("n"),
        F.expr(
            f"""aggregate(
              transform(
                CASE WHEN size(filter(sequence({_CDC_W}, size(t)),
                         i -> {_cdc_hash(_CDC_V_SPARK)} % {_CDC_MASK} = 0)) > 0
                      AND element_at(filter(sequence({_CDC_W}, size(t)),
                         i -> {_cdc_hash(_CDC_V_SPARK)} % {_CDC_MASK} = 0), -1)
                         = size(t)
                 THEN filter(sequence({_CDC_W}, size(t)),
                         i -> {_cdc_hash(_CDC_V_SPARK)} % {_CDC_MASK} = 0)
                 ELSE concat(filter(sequence({_CDC_W}, size(t)),
                         i -> {_cdc_hash(_CDC_V_SPARK)} % {_CDC_MASK} = 0),
                      array(size(t))) END,
                x -> x),
              named_struct('prev', 0, 'total', 0),
              (acc, x) -> named_struct('prev', x,
                                       'total', acc.total + (x - acc.prev)),
              acc -> acc.total)"""
        ).alias("covered"),
    ).collect()
    for r in out:
        assert r["covered"] == r["n"], r


def test_union_overlay_fuzz_random_triangles():
    """Overlay fuzz with NON-axis-aligned inputs: random triangles
    whose crossings land off-grid.  Invariants under grid snapping:
    output is a valid multipolygon; area is at least the largest
    input (union superset, up to snap tolerance) and at most the sum
    of inputs plus tolerance; order independence holds exactly."""
    import random

    from map2db_spark.geometry.overlay import union_overlay
    from map2db_spark.geometry.repair import polygons_valid

    u = 1e-6
    rng = random.Random(777)
    for trial in range(40):
        n = rng.randint(2, 5)
        frags = []
        areas2 = []
        for _ in range(n):
            while True:
                pts = [
                    (rng.randint(0, 40), rng.randint(0, 40)) for _ in range(3)
                ]
                (x0, y0), (x1, y1), (x2, y2) = pts
                a2 = (x1 - x0) * (y2 - y0) - (y1 - y0) * (x2 - x0)
                if abs(a2) >= 8:  # non-degenerate
                    break
            if a2 < 0:
                pts = pts[::-1]
                a2 = -a2
            areas2.append(a2)
            ring = [(px * u, py * u) for px, py in pts] + [
                (pts[0][0] * u, pts[0][1] * u)
            ]
            frags.append([[ring]])
        out = union_overlay(frags)
        assert polygons_valid(out), (trial, frags)
        got2 = _area2_int(out)
        # snap moves each crossing <= ~0.71 grid units; bound loosely
        # by the total boundary length (edges <= 60 units each)
        tol2 = 2 * 3 * n * 60  # 2*area units of slack per edge
        assert got2 >= max(areas2) - tol2, (trial, got2, areas2)
        assert got2 <= sum(areas2) + tol2, (trial, got2, areas2)
        # exact order independence (canonical normalization)
        assert union_overlay(list(reversed(frags))) == out, trial


def test_wkb_fuzz_corruption_typed_errors_only():
    """r4 fuzz distillation (found a real hole): bit flips and
    truncation of valid WKB must raise ValueError or decode — the
    original campaign surfaced raw struct.error (4280/8000 samples)
    and IndexError escapes, now wrapped.  Round-tripped SQLite
    geodatabases make WKB an external surface."""
    import random

    from map2db_spark.geometry import wkb as W

    pyr = random.Random(11)
    samples = [
        W.encode_multipoint([(1.5, 2.5), (3.0, -4.0)]),
        W.encode_multilinestring([[(0, 0), (1, 1), (2, 0)], [(5, 5), (6, 7)]]),
        W.encode_multipolygon([[[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]]]),
    ]
    for _ in range(1000):
        e = bytearray(pyr.choice(samples))
        if pyr.random() < 0.5:
            for _k in range(pyr.randint(1, 3)):
                i = pyr.randrange(0, len(e))
                e[i] ^= 1 << pyr.randrange(8)
            data = bytes(e)
        else:
            data = bytes(e[: pyr.randrange(1, len(e))])
        try:
            W.decode(data)
        except ValueError:
            pass


def test_resize_normalize_orientation(spark):
    """resize_images(normalize_orientation=True): a JPEG payload with
    EXIF orientation 6 (rotated 90 CW in storage) is uprighted before
    the resample — the resized output equals resizing the uprighted
    pixels; without the flag (and for EXIF-less payloads) storage
    orientation is kept."""
    import struct

    import numpy as np

    from map2db_spark.functions.exif import (
        apply_orientation,
        encode_exif_app1,
    )
    from map2db_spark.functions.jpeg_codec import encode_jpeg_baseline
    from map2db_spark.functions.multimodal import resize_images
    from map2db_spark.functions.png import decode_png

    # block-constant source so the lossy JPEG round-trip is bit-exact
    src = np.repeat(np.repeat(
        np.arange(8, dtype=np.uint8).reshape(2, 4) * 16, 8, 0), 8, 1)
    jpg = encode_jpeg_baseline(src)  # 16x32, stored rotated
    app1 = encode_exif_app1(orientation=6)
    seg = struct.pack(">BBH", 0xFF, 0xE1, len(app1) + 2) + app1
    rows = [
        (0, "image", bytearray(jpg[:2] + seg + jpg[2:]), 0, 0, 0),
        (1, "image", bytearray(jpg), 0, 0, 0),  # no EXIF: kept as-is
    ]
    media = spark.createDataFrame(
        rows,
        "media_id LONG, kind STRING, payload BINARY, meta_width INT,"
        " meta_height INT, meta_duration_ms INT",
    )
    out = {r["media_id"]: r for r in
           resize_images(media, 8, 16, normalize_orientation=True).collect()}
    up = apply_orientation(np.stack([src] * 3, -1), 6)  # 32x16 upright
    ys = (np.arange(16) * up.shape[0]) // 16
    xs = (np.arange(8) * up.shape[1]) // 8
    assert np.array_equal(decode_png(bytes(out[0]["payload"])), up[ys][:, xs])
    # EXIF-less payload: storage orientation, same resample math
    flat = np.stack([src] * 3, -1)
    ys2 = (np.arange(16) * flat.shape[0]) // 16
    xs2 = (np.arange(8) * flat.shape[1]) // 8
    assert np.array_equal(
        decode_png(bytes(out[1]["payload"])), flat[ys2][:, xs2]
    )


def test_extrema_attach_matches_string_min_max(spark):
    """r16 functions/extrema.py: the split no-sort string extremum
    must equal min()/max() exactly across the semantics corners the
    rewrite has to reproduce — NULL group keys (groupBy keeps them,
    plain equi-join would drop them), NULL values mixed into a group
    (min/max ignore NULLs), and an all-NULL group (extremum NULL)."""
    from map2db_spark.functions.extrema import (
        attach_global_extremum,
        attach_group_extremum,
    )

    rows = [
        ("a", "m2"), ("a", "m1"), ("a", None),
        ("b", None), ("b", None),
        (None, "z9"), (None, "z1"),
    ]
    df = spark.createDataFrame(rows, "g STRING, v STRING")
    want_min = {
        tuple(r)
        for r in df.groupBy("g")
        .agg(F.count("*").alias("n"), F.min("v").alias("m"))
        .collect()
    }
    aggs = df.groupBy("g").agg(F.count("*").alias("n"))
    got_min = {
        tuple(r)
        for r in attach_group_extremum(aggs, df, ["g"], F.col("v"), "m").collect()
    }
    assert got_min == want_min
    want_max = {
        tuple(r)
        for r in df.groupBy("g")
        .agg(F.count("*").alias("n"), F.max("v").alias("m"))
        .collect()
    }
    got_max = {
        tuple(r)
        for r in attach_group_extremum(
            aggs, df, ["g"], F.col("v"), "m", ascending=False
        ).collect()
    }
    assert got_max == want_max


def test_extrema_group_missing_from_base_keeps_its_row(spark):
    """attach_group_extremum LEFT-joins from ``aggs``: a group with no
    ``base`` row keeps its aggregates with a NULL extremum (an inner
    join dropped the row silently), and a ``base`` group missing from
    ``aggs`` adds no row."""
    from map2db_spark.functions.extrema import attach_group_extremum

    base = spark.createDataFrame(
        [("a", "m2"), ("a", "m1"), (None, "z1"), ("x", "q")], "g STRING, v STRING"
    )
    aggs = spark.createDataFrame(
        [("a", 2), (None, 1), ("gone", 5)], "g STRING, n LONG"
    )
    got = sorted(
        (tuple(r) for r in attach_group_extremum(aggs, base, ["g"], "v", "m").collect()),
        key=repr,
    )
    assert got == sorted([("a", 2, "m1"), (None, 1, "z1"), ("gone", 5, None)], key=repr)


def test_extrema_global_empty_input_keeps_one_row(spark):
    """r16: the global form must keep min()'s one-row (count=0,
    NULL) output on EMPTY input — the degenerate-input gate class; an
    inner/cross join against the 0-row top-1 frame would drop it."""
    from map2db_spark.functions.extrema import attach_global_extremum

    empty = spark.createDataFrame([], "v STRING")
    aggs = empty.agg(F.count("*").alias("n"))
    out = attach_global_extremum(aggs, empty, F.col("v"), "m").collect()
    assert [tuple(r) for r in out] == [(0, None)]


def test_minhash_numeric_chunks_equal_conv_of_hex(spark):
    """ADVICE r15: pin the numeric=True hex->int chunk bijection
    row-for-row — minhash_signatures(numeric=True) values must equal
    conv(chunk, 16, 10) of the numeric=False output (the claim the
    dedup.py docstring cites to THIS test)."""
    from map2db_spark.functions import dedup as D
    from map2db_spark.tables import Tables

    from tests.conftest import SF_CORRECT

    sh = D.shingle_table(
        Tables(spark, SF_CORRECT).documents.where("doc_id < 60")
    )
    k = 8
    hex_rows = {
        r["sid"]: tuple(r[f"mh{i}"] for i in range(k))
        for r in D.minhash_signatures(sh, num_hashes=k).collect()
    }
    num_rows = {
        r["sid"]: tuple(r[f"mh{i}"] for i in range(k))
        for r in D.minhash_signatures(sh, num_hashes=k, numeric=True).collect()
    }
    assert set(hex_rows) == set(num_rows) and hex_rows
    for sid, hx in hex_rows.items():
        assert num_rows[sid] == tuple(int(c, 16) for c in hx), sid
