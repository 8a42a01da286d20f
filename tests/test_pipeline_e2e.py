"""End-to-end pipeline goldens: fixture map -> Spark pipeline -> SQLite
geodatabase, checked row by row (SURVEY §5 item 2)."""

from __future__ import annotations

import json
import sqlite3

import pytest

from map2db_spark.geometry import wkb as gwkb
from map2db_spark.pipeline import consolidated_features, map2db
from map2db_spark.sources.sample_maps import LICENSE, dbl_map, nondbl_map


@pytest.fixture(scope="module")
def dbl_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("maps") / "dbl.map"
    dbl_map().write(str(p))
    return str(p)


@pytest.fixture(scope="module")
def db(spark, dbl_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out") / "dbl.db")
    result = map2db(spark, dbl_path, out, sink="sqlite")
    con = sqlite3.connect(out)
    yield con, result
    con.close()


def test_counts_and_metadata(db):
    con, result = db
    assert result["dbl"] is True
    # P3 clipped away; P1, P2, P4 remain
    assert result["counts"] == {"points": 3, "lines": 4, "areas": 2}
    texts = dict(con.execute("SELECT desc, text FROM README").fetchall())
    assert LICENSE in texts.values()
    limits = dict(con.execute("SELECT key, value FROM limits").fetchall())
    assert limits == {"minlat": 0.1, "minlon": 0.1, "maxlat": 2.0, "maxlon": 2.0}
    subfiles = con.execute(
        "SELECT subfile_num, level, minzoom, maxzoom FROM subfiles ORDER BY 1"
    ).fetchall()
    assert subfiles == [(0, 6, 0, 7), (1, 8, 8, 11)]
    gc = con.execute(
        "SELECT f_table_name, geometry_type, srid, geometry_format"
        " FROM geometry_columns ORDER BY 1"
    ).fetchall()
    assert gc == [("areas", 6, 1, "WKB"), ("lines", 5, 1, "WKB"),
                  ("points", 4, 1, "WKB")]
    srs = con.execute("SELECT srid, auth_name, auth_srid FROM spatial_ref_sys").fetchone()
    assert srs == (1, "EPSG", 4326)


def test_multilevel_consolidation(db):
    con, _ = db
    # P2 seen at levels 6 and 8: keeps level 8, minz from level 6
    lvl, minz, maxz = con.execute(
        "SELECT m2db_level, m2db_minz, m2db_maxz FROM points WHERE m2db_pnum = 2"
    ).fetchone()
    assert (lvl, minz, maxz) == (8, 6, 11)


def test_point_attributes_and_dynamic_columns(db):
    con, _ = db
    cols = [r[1] for r in con.execute("PRAGMA table_info(points)").fetchall()]
    # fixed core first, then vtag columns in first-sighting order
    assert cols[:7] == ["m2db_pnum", "m2db_level", "m2db_minz", "m2db_maxz",
                        "m2db_geometry", "m2db_layer_num", "m2db_tags"]
    assert cols[7:] == ["population", "width", "note", "m2db_name",
                        "m2db_house_num", "m2db_elevation"]
    row = con.execute(
        "SELECT m2db_layer_num, m2db_tags, population, width, note,"
        " m2db_name, m2db_house_num, m2db_elevation"
        " FROM points WHERE m2db_pnum = 1"
    ).fetchone()
    assert row[0] == 2
    assert json.loads(row[1]) == ["amenity=cafe"]
    assert row[2:] == ("1234", "2.5", "hi", "Cafe One", "12b", 345)


def test_cross_tile_line_merged(db):
    con, _ = db
    (blob,) = con.execute(
        "SELECT m2db_geometry FROM lines WHERE m2db_lnum = 1"
    ).fetchone()
    kind, lines = gwkb.decode(blob)
    assert kind == "multilinestring"
    assert len(lines) == 1  # stitched across the tile boundary
    xs = [p[0] for p in lines[0]]
    assert min(xs) == 1.2 and max(xs) == 1.6
    assert 1.40625 in xs  # the boundary node survives (GEOS parity)


def test_cross_tile_area_dissolved(db):
    con, _ = db
    (blob,) = con.execute(
        "SELECT m2db_geometry FROM areas WHERE m2db_anum = 2"
    ).fetchone()
    kind, polys = gwkb.decode(blob)
    assert kind == "multipolygon"
    assert len(polys) == 1 and len(polys[0]) == 1  # one polygon, no hole
    ring = polys[0][0]
    xs = sorted({p[0] for p in ring})
    ys = sorted({p[1] for p in ring})
    # full square extent restored; boundary x retained as collinear nodes
    assert xs == [1.3, 1.40625, 1.5]
    assert ys == [0.2, 0.4]


def test_hole_polygon_intact(db):
    con, _ = db
    (blob,) = con.execute(
        "SELECT m2db_geometry FROM areas WHERE m2db_anum = 1"
    ).fetchone()
    _, polys = gwkb.decode(blob)
    assert len(polys) == 1 and len(polys[0]) == 2  # shell + hole


def test_violation_surfaced_not_fatal(spark, dbl_path):
    final = consolidated_features(spark, dbl_path)
    bad = {r["fid"]: r["violation"] for r in final.where(
        "violation IS NOT NULL").collect()}
    assert set(bad) == {4}
    assert "zoom-discontinuity" in bad[4] or "zoom-gap" in bad[4]
    # P4 still lands in the output with its attributes intact
    ok = final.where("ftype = 'point' AND fid = 4").collect()
    assert len(ok) == 1 and ok[0]["minz"] == 6


def test_three_level_consolidation_chain(spark, tmp_path):
    """A feature present in THREE subfiles with a continuous zoom range
    consolidates without violation: level = max, minz from the lowest
    subfile, maxz of the top subfile (assumption 2+4, map2db.py:95-113)."""
    from map2db_spark.sources.fixture import MapWriter, Poi
    from map2db_spark.sources.sample_maps import BBOX

    w = MapWriter(BBOX, [(4, 0, 5), (6, 6, 7), (8, 8, 11)], dbl_license="L")
    # tile containing (0.7, 0.7) at each level: z4=(8,7), z6=(32,31), z8=(128,127)
    w.add_poi(2, 128, 127, Poi(lat=0.7, lon=0.7, zoom=8, pnum=9))
    w.add_poi(1, 32, 31, Poi(lat=0.7, lon=0.7, zoom=6, pnum=9))
    w.add_poi(0, 8, 7, Poi(lat=0.7, lon=0.7, zoom=3, pnum=9))
    src = str(tmp_path / "three.map")
    w.write(src)
    rows = consolidated_features(spark, src).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["violation"] is None
    assert (r["level"], r["minz"], r["maxz"]) == (8, 3, 11)


def test_sqlite_sink_large(spark, tmp_path):
    """The streamed SQLite export handles the 7.7k-feature map without
    collect(): counts and PK integrity verified."""
    import sqlite3

    from map2db_spark.queries_mapsforge import _fixture_map

    out = str(tmp_path / "large.db")
    result = map2db(spark, _fixture_map("large"), out, sink="sqlite")
    assert result["counts"] == {"points": 5120, "lines": 1280, "areas": 1280}
    con = sqlite3.connect(out)
    try:
        n, distinct_n = con.execute(
            "SELECT count(*), count(DISTINCT m2db_pnum) FROM points"
        ).fetchone()
        assert n == distinct_n == 5120
        # merged multi-part lines are single-part after linemerge
        (blob,) = con.execute(
            "SELECT m2db_geometry FROM lines LIMIT 1"
        ).fetchone()
        kind, parts = gwkb.decode(blob)
        assert kind == "multilinestring" and len(parts) == 1
    finally:
        con.close()


def test_parquet_sink_partition_pruning(spark, dbl_path, tmp_path):
    """The canonical parquet sink partitions by level; a level filter
    must prune partitions at scan time (PartitionFilters, not a full
    scan + filter)."""
    import contextlib
    import io

    from map2db_spark.sinks.parquet_sink import write_parquet

    final = consolidated_features(spark, dbl_path)
    paths = write_parquet(final, str(tmp_path / "pq"))
    pts = spark.read.parquet(paths["points"]).where("level = 8")
    assert pts.count() == 3
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pts.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "level" in plan.split("PartitionFilters")[1].splitlines()[0]


def test_attr_mismatch_violation(spark, tmp_path):
    """Assumption 3 (map2db.py:104-108): same id at same level across
    tiles must carry identical attributes; a corrupted map surfaces a
    violation row instead of killing the job."""
    from map2db_spark.sources.fixture import MapWriter, Way
    from map2db_spark.sources.sample_maps import BBOX, T_EAST, T_MAIN

    w = MapWriter(BBOX, [(8, 8, 11)], dbl_license="L")
    seg = [(1.2, 0.5), (1.6, 0.5)]
    w.add_way(0, *T_MAIN, Way(blocks=[[seg]], zoom=9, lnum=1, tags=("highway=a",)))
    w.add_way(0, *T_EAST, Way(blocks=[[seg]], zoom=9, lnum=1, tags=("highway=B",)))
    src = str(tmp_path / "corrupt.map")
    w.write(src)
    final = consolidated_features(spark, src)
    bad = final.where("violation IS NOT NULL").collect()
    assert len(bad) == 1
    assert "attr-mismatch" in bad[0]["violation"]


def test_nondbl_pipeline(spark, tmp_path):
    src = str(tmp_path / "nondbl.map")
    nondbl_map().write(src)
    out = str(tmp_path / "nondbl.db")
    result = map2db(spark, src, out, sink="sqlite")
    assert result["dbl"] is False
    assert result["counts"] == {"points": 1, "lines": 1, "areas": 2}
    con = sqlite3.connect(out)
    try:
        ids = [r[0] for r in con.execute(
            "SELECT m2db_anum FROM areas ORDER BY 1").fetchall()]
        assert ids == [0, 1]  # deterministic sequential numbering
        texts = [t for (_, t) in con.execute("SELECT desc, text FROM README")]
        assert any("does not appear to have been created" in t for t in texts)
    finally:
        con.close()


def test_colour_vtag_column_in_sqlite(spark, tmp_path):
    """A :colour variable tag becomes a quoted dynamic column in the
    SQLite export (the reference's unquoted ALTER TABLE would fail on
    this key)."""
    from map2db_spark.sources.fixture import MapWriter, Poi
    from map2db_spark.sources.sample_maps import BBOX, T_MAIN

    w = MapWriter(BBOX, [(8, 8, 11)], dbl_license="L")
    w.add_poi(0, *T_MAIN, Poi(lat=0.7, lon=0.7, zoom=8, pnum=1,
                              vtags={"roof:colour": 0x00FF00}))
    src = str(tmp_path / "colour.map")
    w.write(src)
    out = str(tmp_path / "colour.db")
    map2db(spark, src, out, sink="sqlite")
    con = sqlite3.connect(out)
    try:
        cols = [r[1] for r in con.execute("PRAGMA table_info(points)").fetchall()]
        assert "roof:colour" in cols
        (val,) = con.execute('SELECT "roof:colour" FROM points').fetchone()
        assert val == "ff00"
    finally:
        con.close()


def test_export_typed_vtag_coercion_roundtrip(spark, tmp_path):
    """The vectorized export flattens variable tags via Spark casts
    (m2db_elevation -> long, m2db_label_lat/lon -> double); this must
    stay equivalent to the reference's Python int()/float() coercion
    for every value the decoder can produce."""
    import sqlite3

    from map2db_spark.sinks.sqlite_sink import prepare_db, write_features

    rows = [
        ("point", 1, 1, 9, 13, b"\x01", 0, ["kind=a"],
         {"m2db_elevation": "120", "m2db_label_lat": "1.234567",
          "m2db_name": "x"}),
        ("point", 2, 1, 9, 13, b"\x02", 0, [],
         {"m2db_elevation": "-5", "m2db_label_lon": "-0.5"}),
        ("line", 1, 1, 10, 13, b"\x03", 2, ["highway=x"], {}),
    ]
    df = spark.createDataFrame(
        rows,
        "ftype STRING, fid LONG, level LONG, minz LONG, maxz LONG,"
        " geom BINARY, layer LONG, tags ARRAY<STRING>,"
        " vtags MAP<STRING,STRING>",
    )
    db = str(tmp_path / "coerce.db")
    with sqlite3.connect(db) as dbc:
        prepare_db(dbc)
        counts = write_features(
            dbc,
            df,
            {"point": ["m2db_elevation", "m2db_label_lat", "m2db_label_lon",
                       "m2db_name"],
             "line": [], "area": []},
        )
    assert counts == {"points": 2, "lines": 1, "areas": 0}
    con = sqlite3.connect(db)
    got = con.execute(
        "SELECT m2db_pnum, m2db_elevation, m2db_label_lat, m2db_label_lon,"
        " m2db_name, m2db_tags FROM points ORDER BY m2db_pnum"
    ).fetchall()
    con.close()
    # ints stay INTEGER (not "120"), floats stay REAL, text stays TEXT,
    # missing keys are NULL, tags use the reference's json.dumps format
    assert got[0] == (1, 120, 1.234567, None, "x", '["kind=a"]')
    assert got[1] == (2, -5, None, -0.5, None, "[]")
    assert isinstance(got[0][1], int) and isinstance(got[0][2], float)


def test_sink_parity_parquet_vs_sqlite(spark, dbl_path, db, tmp_path_factory):
    """VERDICT r6 #6: the cluster-default parquet sink and the SQLite
    export consume the same final DataFrame — pin that they AGREE
    table-by-table on the dbl fixture: identical content multisets
    (level/minz/maxz/layer/tags/vtags/geometry), identical counts,
    and the parquet manifest carries the README/limits/subfiles
    provenance the SQLite metadata tables record."""
    con, sq_result = db
    out = str(tmp_path_factory.mktemp("out") / "dbl_parquet")
    pq_result = map2db(spark, dbl_path, out)  # parquet is the default
    assert pq_result["sink"] == "parquet"
    assert pq_result["counts"] == {"points": 3, "lines": 4, "areas": 2}
    assert pq_result["counts"] == sq_result["counts"]
    assert pq_result["vtag_cols"] == sq_result["vtag_cols"]
    assert pq_result["license"] == sq_result["license"]

    import hashlib

    def canon_vtag(v):
        if v is None:
            return None
        s = str(v)
        # sqlite stores m2db_elevation as int, the map column keeps
        # the decoded string; '7' == 7
        return s[:-2] if s.endswith(".0") else s

    for ftype, table in [("point", "points"), ("line", "lines"),
                         ("area", "areas")]:
        vkeys = sq_result["vtag_cols"][ftype]
        pdf = (
            spark.read.parquet(pq_result["paths"][table])
            .collect()
        )
        pq_rows = sorted(
            (
                r["level"], r["minz"], r["maxz"], r["layer"],
                json.dumps(list(r["tags"] or []), ensure_ascii=False),
                tuple(repr(canon_vtag((r["vtags"] or {}).get(k))) for k in vkeys),
                hashlib.md5(bytes(r["geom"])).hexdigest(),
            )
            for r in pdf
        )
        quoted = ", ".join('"' + k.replace('"', '""') + '"' for k in vkeys)
        cols = (
            "m2db_level, m2db_minz, m2db_maxz, m2db_layer_num, m2db_tags,"
            " m2db_geometry" + (", " + quoted if vkeys else "")
        )
        sq_rows = sorted(
            (
                lvl, minz, maxz, layer, tags,
                tuple(repr(canon_vtag(v)) for v in extra),
                hashlib.md5(geom).hexdigest(),
            )
            for lvl, minz, maxz, layer, tags, geom, *extra in con.execute(
                f"SELECT {cols} FROM {table}"
            ).fetchall()
        )
        assert pq_rows == sq_rows, table

    # manifest provenance mirrors the sqlite metadata tables
    with open(pq_result["manifest"], encoding="utf-8") as f:
        manifest = json.load(f)
    sq_readme = dict(con.execute("SELECT desc, text FROM README").fetchall())
    assert manifest["readme"][0]["text"] in sq_readme.values()
    assert manifest["limits"] == dict(
        con.execute("SELECT key, value FROM limits").fetchall()
    )
    assert [
        (s["subfile_num"], s["level"], s["minzoom"], s["maxzoom"])
        for s in manifest["subfiles"]
    ] == con.execute(
        "SELECT subfile_num, level, minzoom, maxzoom FROM subfiles ORDER BY 1"
    ).fetchall()
    # dbl map: both sinks emit the forgemap TOML (same vtag order)
    assert pq_result["config"].endswith(".config.toml")


def test_parquet_sink_level_partition_pruning(spark, dbl_path, tmp_path_factory):
    """The parquet sink's layout claim (partition by level so zoom
    queries prune whole partitions) must be visible in the plan:
    a level-filtered read shows the filter as a PartitionFilter and
    scans only the matching level directory."""
    import contextlib
    import io

    out = str(tmp_path_factory.mktemp("out") / "dbl_prune")
    result = map2db(spark, dbl_path, out)  # parquet default
    df = spark.read.parquet(result["paths"]["points"]).where("level = 8")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [isnotnull(level" in plan, plan
    assert "(level#" in plan.split("PartitionFilters")[1].splitlines()[0], plan
    # and the pruned read returns only level-8 rows
    assert {r["level"] for r in df.collect()} == {8}


def test_parquet_sink_zero_row_ftype(spark, tmp_path):
    """A map where an ftype has zero rows must not crash the parquet
    sink's count step: a zero-row ftype writes a table with no part
    files, and a schema-less spark.read.parquet of it raises
    AnalysisException — counts come from the written part files'
    footers, reporting 0 like the sqlite sink does (ADVICE r7).  The
    empty tables still exist, each with its _SUCCESS marker, and the
    sink's staging directory is gone."""
    import os

    from map2db_spark.sinks.parquet_sink import STAGING_DIR
    from map2db_spark.sources.fixture import MapWriter, Poi
    from map2db_spark.sources.sample_maps import BBOX

    w = MapWriter(BBOX, [(8, 0, 11)], dbl_license="L")
    w.add_poi(0, 128, 127, Poi(lat=0.7, lon=0.7, zoom=8, pnum=9))
    src = str(tmp_path / "points_only.map")
    w.write(src)
    out = str(tmp_path / "points_only_pq")
    result = map2db(spark, src, out, sink="parquet")
    assert result["counts"] == {"points": 1, "lines": 0, "areas": 0}
    for table in ("points", "lines", "areas"):
        assert os.path.isfile(os.path.join(out, table, "_SUCCESS")), table
    assert os.listdir(os.path.join(out, "lines")) == ["_SUCCESS"]
    assert os.listdir(os.path.join(out, "areas")) == ["_SUCCESS"]
    assert not os.path.exists(os.path.join(out, STAGING_DIR))


def test_parquet_sink_rewrite_keeps_one_generation(spark, dbl_path, tmp_path):
    """Converting twice into the same directory replaces each table
    (mode "overwrite"): one part file per (table, level), not two."""
    import glob
    import os

    out = str(tmp_path / "twice")
    first = map2db(spark, dbl_path, out)
    second = map2db(spark, dbl_path, out)
    assert second["counts"] == first["counts"] == {"points": 3, "lines": 4, "areas": 2}
    for table in ("points", "lines", "areas"):
        levels = sorted(os.listdir(os.path.join(out, table)))
        assert "_SUCCESS" in levels
        level_dirs = [d for d in levels if d.startswith("level=")]
        assert level_dirs, table
        for d in level_dirs:
            parts = glob.glob(os.path.join(out, table, d, "*.parquet"))
            assert len(parts) == 1, (table, d, parts)
    assert spark.read.parquet(os.path.join(out, "lines")).count() == 4


def _stitch_line_map(seed: int):
    """Seeded two-subfile map whose roads cross the z8 tile edges
    (lon 1.40625, lat ~1.4069) and are encoded unclipped into every
    tile they touch at both levels, so consolidation unions clipped
    pieces and the merge has joints to stitch.  It also carries a
    single-sighting line made of two touching parts, and a multi-part
    cross-tile road with a zoom gap (a violation row)."""
    import random

    from map2db_spark.sources.fixture import MapWriter, Poi, Way
    from map2db_spark.sources.sample_maps import BBOX
    from map2db_spark.sources.tilemath import x_from_lon, y_from_lat

    rng = random.Random(seed)
    w = MapWriter(BBOX, [(6, 0, 7), (8, 8, 11)], dbl_license="L")

    def z8_tiles(pts):
        xs = {int(x_from_lon(8, lon)) for lon, _ in pts}
        ys = {int(y_from_lat(8, lat)) for _, lat in pts}
        return [(x, y) for x in range(min(xs), max(xs) + 1)
                for y in range(min(ys), max(ys) + 1)]

    def place(blocks, fid, z8_zoom, **attrs):
        pts = [p for block in blocks for part in block for p in part]
        for tx, ty in z8_tiles(pts):
            w.add_way(1, tx, ty, Way(blocks=blocks, zoom=z8_zoom, lnum=fid, **attrs))
        w.add_way(0, 32, 31, Way(blocks=blocks, zoom=7, lnum=fid, **attrs))

    def walk():
        pts = [(round(rng.uniform(1.0, 1.8), 6), round(rng.uniform(1.0, 1.8), 6))]
        for _ in range(rng.randint(2, 5)):
            lon, lat = pts[-1]
            pts.append((round(min(1.95, max(0.15, lon + rng.uniform(-0.3, 0.3))), 6),
                        round(min(1.95, max(0.15, lat + rng.uniform(-0.3, 0.3))), 6)))
        return pts

    for fid in range(24):
        a = walk()
        blocks = [[a]] if fid % 3 else [[a], [walk()]]
        place(blocks, fid, 8, tags=(f"highway=h{fid % 4}",))
    # zoom gap: minz 9 at level 8, but the level-6 subfile tops out at 7
    cross = [(1.2, 0.5), (1.6, 0.5)]
    bend = [(1.6, 0.5), (1.6, 0.7)]
    place([[cross], [bend]], 100, 9)
    # one sighting, two parts that share an end point
    w.add_way(1, 128, 127, Way(
        blocks=[[[(0.2, 0.2), (0.4, 0.2)]], [[(0.4, 0.2), (0.4, 0.4)]]],
        zoom=8, lnum=101))
    w.add_poi(1, 128, 127, Poi(lat=0.7, lon=0.7, zoom=8, pnum=1))
    return w


@pytest.mark.parametrize("fixture", ["dbl", "stitch"])
def test_fused_merge_matches_merge_lines(spark, dbl_path, tmp_path, fixture):
    """The pipeline merges lines inside the consolidate task; its rows
    must equal the standalone operators composed — merge_lines over
    consolidate's lines, unioned with consolidate's other rows, stat
    columns dropped — row for row, including single-sighting
    multi-part lines and violation rows."""
    from pyspark.sql import functions as F

    from map2db_spark.operators.consolidate import consolidate
    from map2db_spark.operators.linemerge import (
        MERGE_STATS_COLS,
        merge_lines,
        wkb_nparts_expr,
    )
    from map2db_spark.pipeline import _final_features, load_features
    from map2db_spark.sources.header import read_header

    if fixture == "dbl":
        src = dbl_path
    else:
        src = str(tmp_path / "stitch.map")
        _stitch_line_map(7).write(src)
    header = read_header(src)
    feats = load_features(spark, src, header).where(F.col("ftype") != "reject")

    def rows(df):
        return sorted(
            (r["ftype"], r["fid"], r["level"], r["minz"], r["maxz"], r["layer"],
             tuple(r["tags"]), tuple(sorted((r["vtags"] or {}).items())),
             bytes(r["geom"]), r["violation"])
            for r in df.collect()
        )

    cons = consolidate(feats, header)
    composed = cons.where(F.col("ftype") != "line").unionByName(
        merge_lines(cons.where(F.col("ftype") == "line")).drop(*MERGE_STATS_COLS)
    )
    fused = rows(_final_features(feats, header))
    assert fused == rows(composed)

    # the cases the merge must not skip are present, and it did work
    sightings = feats.where("ftype = 'line'").groupBy("fid").count()
    lines = cons.where("ftype = 'line'").withColumn("n", wkb_nparts_expr(F.col("geom")))
    single_multi = lines.join(sightings.where("count = 1"), "fid").where("n > 1")
    assert single_multi.count() >= 1
    unmerged = {(r[0], r[1]): r[8] for r in rows(cons)}
    changed = [r for r in fused if r[0] == "line" and r[8] != unmerged[(r[0], r[1])]]
    assert changed
    assert any(r[9] is not None for r in fused)
    if fixture == "stitch":
        assert any(r[1] == 100 and r[9] is not None for r in changed)
        assert any(r[1] == 101 for r in changed)


@pytest.mark.parametrize("sink", ["parquet", "sqlite"])
def test_map2db_releases_persistent_rdds(spark, dbl_path, tmp_path, sink):
    """map2db() persists the decoded features (they feed the vtag key
    order and the sink); nothing it persisted may outlive the call."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keys())
    out = str(tmp_path / ("out.db" if sink == "sqlite" else "out"))
    map2db(spark, dbl_path, out, sink=sink)
    assert set(persistent().keys()) == before
