"""Source-format breadth: the engine's tables round-trip through CSV
and JSON sources with explicit schemas (the parquet catalog is the
canonical path; these prove the read surface isn't format-bound)."""

from __future__ import annotations

from pyspark.sql import functions as F

from map2db_spark.tables import load
from tests.conftest import SF_SMOKE


def test_csv_and_json_sources_roundtrip(spark, tmp_path):
    src = load(spark, SF_SMOKE, "nation")
    csv_dir = str(tmp_path / "nation_csv")
    json_dir = str(tmp_path / "nation_json")
    src.write.option("header", True).csv(csv_dir)
    src.write.json(json_dir)

    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    from_csv = spark.read.schema(schema).option("header", True).csv(csv_dir)
    from_json = spark.read.schema(schema).json(json_dir)

    want = sorted(tuple(r) for r in src.collect())
    assert sorted(tuple(r) for r in from_csv.collect()) == want
    assert sorted(tuple(r) for r in from_json.collect()) == want


def test_timestamp_survives_json(spark, tmp_path):
    """Spark's default JSON timestampFormat truncates to milliseconds;
    microsecond data needs the explicit format on BOTH sides —
    documented here as a test because it silently loses precision
    otherwise."""
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ev = load(spark, SF_SMOKE, "events").select("event_id", "ts").limit(100)
    json_dir = str(tmp_path / "ev_json")
    ev.write.option("timestampFormat", fmt).json(json_dir)
    back = (
        spark.read.schema("event_id LONG, ts TIMESTAMP")
        .option("timestampFormat", fmt)
        .json(json_dir)
    )
    want = {(r["event_id"], r["ts"]) for r in ev.collect()}
    got = {(r["event_id"], r["ts"]) for r in back.collect()}
    assert got == want


def test_orc_source_roundtrip(spark, tmp_path):
    """ORC is the third columnar format the engine reads/writes natively
    (after parquet and CSV/JSON); values and schema must survive a
    round-trip including timestamps and doubles."""
    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    path = str(tmp_path / "orders_orc")
    src.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.schema == src.schema
    a = sorted(src.collect(), key=lambda r: r.o_orderkey)
    b = sorted(back.collect(), key=lambda r: r.o_orderkey)
    assert a == b


def test_schema_evolution_merge(spark, tmp_path):
    """Parquet schema evolution: a partition written before a column
    existed must still union-read with later partitions (mergeSchema),
    nulling the missing column — how a long-lived 100 TB table
    actually looks after a year of pipeline changes."""
    base = str(tmp_path / "evolving")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], schema="id long, name string"
    )
    v2 = spark.createDataFrame(
        [(3, "c", 30), (4, "d", 40)], schema="id long, name string, score int"
    )
    v1.write.parquet(f"{base}/batch=1")
    v2.write.parquet(f"{base}/batch=2")

    merged = spark.read.option("mergeSchema", True).parquet(base)
    assert set(merged.columns) >= {"id", "name", "score"}
    rows = {r.id: (r.name, r.score) for r in merged.collect()}
    assert rows[1] == ("a", None)  # pre-evolution rows null the new column
    assert rows[3] == ("c", 30)
    # and the new column filters without error across both generations
    assert merged.where(F.col("score") > 35).count() == 1


def test_corrupt_json_records_are_quarantined(spark, tmp_path):
    """PERMISSIVE-mode JSON ingestion: malformed lines land in
    _corrupt_record instead of killing the job — the ingest-robustness
    contract a crawl pipeline needs (violations-are-data, same
    philosophy as the pipeline's rejects tables)."""
    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "v": 10}\n'
        "{broken json line\n"
        '{"id": 2, "v": 20}\n'
        '{"id": "not-a-number", "v": 30}\n'
    )
    df = spark.read.schema(
        "id LONG, v LONG, _corrupt_record STRING"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(str(p))
    rows = df.collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.id for r in good} == {1, 2}
    # the syntactically-broken line AND the type-mismatched line are
    # both quarantined with their original text preserved
    assert len(bad) == 2
    assert any("broken" in r._corrupt_record for r in bad)
    assert any("not-a-number" in r._corrupt_record for r in bad)


# ---------------------------------------------------------------------------
# MapsForge Python DataSource connector (official Spark 4 source API)
# ---------------------------------------------------------------------------


def test_mapsforge_datasource_rows_identical_to_pipeline(spark):
    """Both connector paths — the batch source
    (spark.read.format('mapsforge')) and the streaming source
    (mapsforge_stream, drained to completion as m2db_stream_ingest
    does) — must be row-identical to pipeline.load_features on a dbl
    and a non-dbl map: same tile-read loop, different packaging."""
    from map2db_spark.pipeline import load_features
    from map2db_spark.queries_mapsforge import _fixture_map
    from map2db_spark.session import ship_package
    from map2db_spark.sources import spark_datasource as sds
    from map2db_spark.streaming.events import run_available_now_df

    ship_package(spark)
    sds.register(spark)
    for name in ["dbl", "nondbl"]:
        path = _fixture_map(name)
        via_pipe = sorted(map(str, load_features(spark, path).collect()))
        via_batch = spark.read.format("mapsforge").load(path)
        stream = (
            spark.readStream.format("mapsforge_stream")
            .option("plan", sds.stream_plan_json(path))
            .load(path)
        )
        via_stream = run_available_now_df(stream, "append")
        assert len(via_pipe) > 0, name
        for source, df in [("batch", via_batch), ("stream", via_stream)]:
            assert sorted(map(str, df.collect())) == via_pipe, (name, source)


def test_mapsforge_datasource_level_filter_prunes_partitions():
    """pushFilters(level = N) must drop the other subfiles' partitions
    at PLANNING time — their index and tile bytes are never read."""
    from pyspark.sql.datasource import EqualTo

    from map2db_spark.queries_mapsforge import _fixture_map
    from map2db_spark.sources.spark_datasource import MapsforgeReader

    r = MapsforgeReader({"path": _fixture_map("dbl")})
    levels = [sf.level for sf in r.headers[0].subfiles]
    assert len(set(levels)) > 1, "fixture must have multiple zoom levels"
    all_parts = r.partitions()
    leftover = list(r.pushFilters([EqualTo(("level",), levels[0])]))
    assert leftover == []  # fully consumed
    pruned = r.partitions()
    assert 0 < len(pruned) < len(all_parts)
    kept_levels = {r.headers[0].subfiles[p.subfile_idx].level for p in pruned}
    assert kept_levels == {levels[0]}


def test_mapsforge_datasource_unsupported_filters_handed_back():
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from map2db_spark.queries_mapsforge import _fixture_map
    from map2db_spark.sources.spark_datasource import MapsforgeReader

    r = MapsforgeReader({"path": _fixture_map("dbl")})
    unsupported = list(
        r.pushFilters([GreaterThan(("layer",), 2), EqualTo(("ftype",), "line")])
    )
    # the layer predicate comes back for Spark to re-apply; ftype is kept
    assert len(unsupported) == 1
    assert r.ftype_filter == {"line"}


def test_mapsforge_datasource_multi_path_partitions():
    """Multi-file scans plan one partition set per file: tile chunks
    carry their path index, and counts sum across files."""
    from map2db_spark.queries_mapsforge import _fixture_map
    from map2db_spark.sources.spark_datasource import MapsforgeReader

    single = MapsforgeReader({"path": _fixture_map("dbl")})
    multi = MapsforgeReader(
        {"paths": _fixture_map("dbl") + "," + _fixture_map("nondbl")}
    )
    nd = MapsforgeReader({"path": _fixture_map("nondbl")})
    p_single = single.partitions()
    p_multi = multi.partitions()
    p_nd = nd.partitions()
    assert len(p_multi) == len(p_single) + len(p_nd)
    assert {p.path_idx for p in p_multi} == {0, 1}
    assert {p.path_idx for p in p_single} == {0}
