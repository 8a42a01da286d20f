"""The traversal summary against the formulations it replaced.

``operators/consolidate.traversal_summary`` gives the non-dbl ids (a
per-tile offset plus the decoder's ``seq``) and the variable-tag column
order from one ``mapInArrow`` pass.  The oracles below are the Spark
formulations it replaced, kept as references: a ``row_number()``
window per ftype over (level desc, tile_y, tile_x, seq), and a
``groupBy(ftype, key).min(struct)`` over the exploded map keys."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from map2db_spark.operators.consolidate import assign_ids, traversal_summary
from map2db_spark.pipeline import load_features
from map2db_spark.sources import sample_maps
from map2db_spark.sources.fixture import MapWriter, Poi, Way
from map2db_spark.sources.sample_maps import BBOX

Z8_TILES = [(128, 126), (129, 126), (128, 127), (129, 127)]
Z6_TILE = (32, 31)


def _window_ids(features) -> set[tuple]:
    w = Window.partitionBy("ftype").orderBy(F.desc("level"), "tile_y", "tile_x", "seq")
    rows = (
        features.where("fid IS NULL")
        .withColumn("fid", (F.row_number().over(w) - 1).cast("long"))
        .select("ftype", "level", "tile_y", "tile_x", "seq", "fid")
        .collect()
    )
    return {tuple(r) for r in rows}


def _min_struct_vtag_order(features) -> dict[str, list[str]]:
    firsts = (
        features.select(
            "ftype", "level", "tile_y", "tile_x", "seq",
            F.posexplode(F.map_keys("vtags")).alias("pos", "key"),
        )
        .select(
            "ftype", "key",
            F.struct(
                (-F.col("level")).alias("neg_level"), "tile_y", "tile_x", "seq", "pos"
            ).alias("ord"),
        )
        .groupBy("ftype", "key")
        .agg(F.min("ord").alias("first_seen"))
        .collect()
    )
    out: dict[str, list[str]] = {}
    for ftype in ["point", "line", "area"]:
        rows = sorted(
            (r for r in firsts if r["ftype"] == ftype),
            key=lambda r: (tuple(r["first_seen"]), r["key"]),
        )
        out[ftype] = [r["key"] for r in rows]
    return out


def _seeded_nondbl_map(seed: int) -> MapWriter:
    """Two subfiles (z6, z8), no feature ids.  Features land in random
    tiles, so some are clipped away in their tile's edge buffer (their
    counter never ticks); sliver rings are rejected by repair; the
    ``low_only`` key appears only at z6, the lower level, which the
    traversal visits last."""
    rng = random.Random(seed)
    w = MapWriter(BBOX, [(6, 0, 7), (8, 8, 11)], dbl_license=None)

    def spot():
        return round(rng.uniform(0.15, 1.95), 6), round(rng.uniform(0.15, 1.95), 6)

    def vtags(keys):
        return {k: rng.randint(0, 9) for k in rng.sample(keys, rng.randint(0, len(keys)))}

    placements = [(1, t, ["k_a", "k_b", "k_c", "k_d"]) for t in Z8_TILES]
    placements.append((0, Z6_TILE, ["k_b", "k_d", "low_only"]))
    for sf, (tx, ty), keys in placements:
        zoom_lo = 8 if sf else 0
        for _ in range(rng.randint(4, 9)):
            lon, lat = spot()
            w.add_poi(sf, tx, ty, Poi(
                lat=lat, lon=lon, zoom=zoom_lo + rng.randint(0, 2), vtags=vtags(keys),
                name=rng.choice([None, f"p{rng.randint(0, 99)}"]),
            ))
        for _ in range(rng.randint(3, 7)):
            lon, lat = spot()
            d = round(rng.uniform(0.01, 0.2), 6)
            e, n = round(lon + d, 6), round(lat + d, 6)
            kind = rng.choice(["line", "area", "sliver"])
            if kind == "line":
                ring = [(lon, lat), (e, lat), (e, n)]
            elif kind == "area":
                ring = [(lon, lat), (e, lat), (e, n), (lon, n), (lon, lat)]
            else:  # closed, zero area: repair rejects it
                ring = [(lon, lat), (e, lat), (round(lon + d / 2, 6), lat), (lon, lat)]
            w.add_way(sf, tx, ty, Way(blocks=[[ring]], zoom=zoom_lo + 1, vtags=vtags(keys)))
    return w


MAPS = ["nondbl_map", "parity_nondbl_map", "dbl_map", "seeded_1", "seeded_2"]


def _build(name: str) -> MapWriter:
    if name.startswith("seeded_"):
        return _seeded_nondbl_map(int(name.split("_")[1]))
    return getattr(sample_maps, name)()


@pytest.mark.parametrize("name", MAPS)
def test_summary_matches_window_and_min_struct_oracles(spark, tmp_path, name):
    src = str(tmp_path / f"{name}.map")
    _build(name).write(src)
    raw = load_features(spark, src).persist()
    try:
        feats = raw.where(F.col("ftype") != "reject")
        summary = traversal_summary(feats)
        assert summary.vtag_order == _min_struct_vtag_order(feats)
        ids = {
            tuple(r)
            for r in assign_ids(feats, summary.offsets(spark))
            .select("ftype", "level", "tile_y", "tile_x", "seq", "fid")
            .collect()
        }
        assert ids == _window_ids(feats)
        # called without offsets, assign_ids runs the summary itself
        assert {
            tuple(r)
            for r in assign_ids(feats)
            .select("ftype", "level", "tile_y", "tile_x", "seq", "fid")
            .collect()
        } == ids
        unnumbered = feats.where("fid IS NULL").groupBy("ftype").count().collect()
        assert summary.totals == {r["ftype"]: r["count"] for r in unnumbered}
        if name.startswith("seeded_"):
            # the map exercises what it claims: rejects, two levels,
            # and a key first seen at the lower level
            assert raw.where(F.col("ftype") == "reject").count() > 0
            assert {r["level"] for r in feats.select("level").distinct().collect()} == {6, 8}
            assert any("low_only" in keys for keys in summary.vtag_order.values())
    finally:
        raw.unpersist()


def test_offsets_refuse_sparse_sequence_numbers(spark):
    """``off + seq`` is only an id when a tile's unnumbered rows hold the
    ordinals 0..n-1; a tile whose rows mix numbered and unnumbered
    features of one ftype is refused rather than numbered with gaps."""
    df = spark.createDataFrame(
        [("point", 7, 6, 32, 31, 0, {}), ("point", None, 6, 32, 31, 1, {})],
        "ftype STRING, fid LONG, level INT, tile_x INT, tile_y INT, seq INT,"
        " vtags MAP<STRING,STRING>",
    )
    summary = traversal_summary(df)
    assert summary.totals == {"point": 1}
    with pytest.raises(ValueError, match="not dense"):
        summary.offsets(spark)
