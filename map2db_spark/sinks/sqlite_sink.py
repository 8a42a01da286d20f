"""FDO RFC 16 SQLite geodatabase sink (S10-S12/S14, reference
map2db.py:129-255 DDL + metadata emit 1398-1467, 1519-1527).

The canonical large-scale output of this engine is partitioned parquet
(parquet_sink.py); SQLite is an *export format* — a single-file
database written on the driver from the final consolidated DataFrames
via an executor-written temp parquet streamed back as pyarrow record
batches (bounded driver memory: one batch at a time, never a full
collect).

Schema parity: the reference grows feature tables with ALTER TABLE as
new variable-tag keys appear mid-stream (map2db.py:860-871).  Here the
internal representation is a MapType column, so the full key set is
known before DDL: columns are created up front, ordered by first
sighting in the reference's traversal order (level desc, row-major
tile sweep, intra-tile sequence) to match the reference's column
order.
"""

from __future__ import annotations

import json
import os
import sqlite3

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SRS_WKT = (
    "GEOGCS["
    '"WGS 84",'
    "DATUM["
    '"WGS_1984",'
    "SPHEROID["
    '"WGS 84",'
    "6378137,"
    "298.257223563,"
    'AUTHORITY["EPSG","7030"]],'
    'AUTHORITY["EPSG","6326"]],'
    'PRIMEM["Greenwich",0,AUTHORITY["EPSG","8901"]],'
    'UNIT["degree",0.0174532925199433,AUTHORITY["EPSG","9122"]],'
    'AXIS["Latitude",NORTH],'
    'AXIS["Longitude",EAST],'
    'AUTHORITY["EPSG","4326"]]'
)

FIXED_COLS = ["m2db_level", "m2db_minz", "m2db_maxz", "m2db_geometry",
              "m2db_layer_num", "m2db_tags"]

TABLE_FOR_FTYPE = {"point": "points", "line": "lines", "area": "areas"}
PK_FOR_FTYPE = {"point": "m2db_pnum", "line": "m2db_lnum", "area": "m2db_anum"}
GEOMETRY_TYPE_CODE = {"points": 4, "lines": 5, "areas": 6}  # FDO RFC 16

# typed variable-tag columns (everything else is TEXT); the reference
# stores these as the Python types it computed (int / float)
_INT_VTAGS = {"m2db_elevation"}
_FLOAT_VTAGS = {"m2db_label_lat", "m2db_label_lon"}


def prepare_db(dbc: sqlite3.Connection) -> None:
    """DDL parity with reference _prepare_dbc (map2db.py:129-255)."""
    dbc.execute(
        "CREATE TABLE geometry_columns (f_table_name TEXT,"
        " f_geometry_column TEXT, geometry_type INTEGER,"
        " coord_dimension INTEGER, srid INTEGER, geometry_format TEXT);"
    )
    dbc.execute(
        "CREATE TABLE spatial_ref_sys (srid INTEGER UNIQUE, auth_name TEXT,"
        " auth_srid INTEGER, srtext TEXT);"
    )
    dbc.execute(
        "INSERT INTO spatial_ref_sys (srid, auth_name, auth_srid, srtext)"
        " VALUES (1, 'EPSG', 4326, ?);",
        (SRS_WKT,),
    )
    dbc.execute("CREATE TABLE README (desc TEXT, text TEXT);")
    for table in ["points", "lines", "areas"]:
        pk = PK_FOR_FTYPE[[k for k, v in TABLE_FOR_FTYPE.items() if v == table][0]]
        dbc.execute(
            f"CREATE TABLE {table} ({pk} INTEGER PRIMARY KEY,"
            " m2db_level INTEGER, m2db_minz INTEGER, m2db_maxz INTEGER,"
            " m2db_geometry BLOB, m2db_layer_num INTEGER, m2db_tags TEXT);"
        )
        dbc.execute(
            "INSERT INTO geometry_columns (f_table_name, f_geometry_column,"
            " geometry_type, coord_dimension, srid, geometry_format)"
            f" VALUES ('{table}', 'm2db_geometry', {GEOMETRY_TYPE_CODE[table]},"
            " 2, 1, 'WKB');"
        )
    dbc.execute(
        "CREATE TABLE subfiles (subfile_num INTEGER PRIMARY KEY,"
        " level INTEGER, minzoom INTEGER, maxzoom INTEGER);"
    )
    dbc.execute("CREATE TABLE limits (key TEXT, value REAL);")


def vtag_key_order(features: DataFrame) -> dict[str, list[str]]:
    """First-sighting order of variable-tag keys per feature table
    (A4 + reference column-creation order, map2db.py:857-871).

    Traversal order key: (level desc, tile_y, tile_x, seq) — the
    reference's reverse-level row-major sweep.  One small aggregate;
    result is collected (key sets are tiny)."""
    exploded = features.select(
        "ftype",
        "level",
        "tile_y",
        "tile_x",
        "seq",
        F.posexplode(F.map_keys("vtags")).alias("pos", "key"),
    ).select(
        "ftype",
        "key",
        F.struct(
            (-F.col("level")).alias("neg_level"),
            F.col("tile_y"),
            F.col("tile_x"),
            F.col("seq"),
            F.col("pos"),  # intra-feature insertion order of the map keys
        ).alias("ord"),
    )
    firsts = (
        exploded.groupBy("ftype", "key")
        .agg(F.min("ord").alias("first_seen"))
        .collect()
    )
    out: dict[str, list[str]] = {"point": [], "line": [], "area": []}
    for ftype in out:
        rows = [r for r in firsts if r["ftype"] == ftype]
        rows.sort(key=lambda r: (tuple(r["first_seen"]), r["key"]))
        out[ftype] = [r["key"] for r in rows]
    return out


def write_features(
    dbc: sqlite3.Connection,
    consolidated: DataFrame,
    vtag_cols: dict[str, list[str]],
) -> dict[str, int]:
    """Stream the consolidated features into the three tables in ONE
    pass with driver-side dispatch onto per-table prepared INSERTs.

    A per-table filtered pass would re-execute the entire
    consolidate + merge plan upstream once per table (the final
    DataFrame is lazy and deliberately not persisted — at export
    scale it IS the working set); measured on the 23k-feature
    throughput fixture, three passes made the sink 3x the cost of
    the whole compute pipeline.

    Transport is a temp parquet PARTITIONED BY ftype, written by the
    EXECUTORS with every per-row transformation already applied —
    tags serialized to the reference's json.dumps format in a
    vectorized pandas UDF, variable tags flattened to typed columns
    (the reference's int/float coercions as Spark casts) — so the
    driver drain is a pure ``zip()`` of pyarrow column lists into
    executemany, with NO per-row Python.  Measured motivation, on
    progressively larger fixtures: three filtered passes re-ran the
    upstream plan 3x (23k features); toLocalIterator deserialized
    Rows at ~25k rows/s (248k features); and driver-side per-row
    dict/json work was the remaining serial bottleneck at 5.2M
    features.  Driver memory stays one record batch.  No sort and no
    extra shuffle: insert order is whatever the upstream partitioning
    produced (deterministic per plan), which is semantically free —
    rows are PK-addressed, the reference itself inserts in traversal
    order, and a repartitionByRange here would re-execute the whole
    upstream plan for range sampling (measured +1.5 s)."""
    import glob
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    counts = {"points": 0, "lines": 0, "areas": 0}
    sqls: dict[str, str] = {}
    extras: dict[str, list[str]] = {}
    for ftype, table in TABLE_FOR_FTYPE.items():
        extra = vtag_cols.get(ftype, [])
        for col in extra:
            # quoted identifiers: tag keys like roof:colour are legal
            # column names only when quoted (the reference's unquoted
            # ALTER TABLE would fail on them — intended semantics kept,
            # syntax fixed)
            quoted = col.replace('"', '""')
            dbc.execute(f'ALTER TABLE {table} ADD COLUMN "{quoted}";')
        pk = PK_FOR_FTYPE[ftype]
        cols = [pk] + FIXED_COLS + list(extra)
        col_list = ",".join('"' + c.replace('"', '""') + '"' for c in cols)
        sqls[ftype] = (
            f"INSERT INTO {table} ({col_list})"
            f" VALUES ({','.join(['?'] * len(cols))});"
        )
        extras[ftype] = list(extra)

    # union of all tables' vtag keys, flattened to stable column names
    union_keys: list[str] = []
    for ftype in TABLE_FOR_FTYPE:
        for k in extras[ftype]:
            if k not in union_keys:
                union_keys.append(k)
    key_col = {k: f"vt_{i}" for i, k in enumerate(union_keys)}

    @F.pandas_udf("string")
    def _tags_json(s):
        return s.map(
            lambda t: json.dumps(
                list(t) if t is not None else [], ensure_ascii=False
            )
        )

    def _vt(k: str):
        c = F.col("vtags").getItem(k)
        if k in _INT_VTAGS:
            return c.cast("long")
        if k in _FLOAT_VTAGS:
            return c.cast("double")
        return c

    tmpd = tempfile.mkdtemp(prefix="m2db_export_")
    try:
        (
            consolidated.select(
                "ftype", "fid", "level", "minz", "maxz", "geom", "layer",
                _tags_json(F.col("tags")).alias("tags_json"),
                *[_vt(k).alias(key_col[k]) for k in union_keys],
            )
            .write.mode("overwrite")
            .partitionBy("ftype")
            .parquet(tmpd)
        )
        base = ["fid", "level", "minz", "maxz", "geom", "layer", "tags_json"]
        for ftype, table in TABLE_FOR_FTYPE.items():
            read_cols = base + [key_col[k] for k in extras[ftype]]
            for path in sorted(glob.glob(f"{tmpd}/ftype={ftype}/part-*")):
                pf = pq.ParquetFile(path)
                for rb in pf.iter_batches(
                    batch_size=10_000, columns=read_cols
                ):
                    idx = {n: i for i, n in enumerate(rb.schema.names)}
                    lists = [rb.column(idx[n]).to_pylist() for n in read_cols]
                    dbc.executemany(sqls[ftype], zip(*lists))
                    counts[table] += rb.num_rows
        dbc.commit()
    finally:
        shutil.rmtree(tmpd, ignore_errors=True)
    return counts


def readme_license(header, src_pathname: str) -> tuple[str, str]:
    """(desc, text) of the database's primary README row: the decoded
    dbl license for dbl maps, the raw-content explanation otherwise
    (map2db.py:1398-1430).  Shared with the parquet sink's manifest so
    both sinks record identical provenance."""
    if header.is_dbl:
        return (
            "Text that was encoded in the map file specifically so that"
            " it could be included here.",
            header.dbl_license,
        )
    return (
        "Text generated by map2db_spark",
        f"The map file from which this database was created,"
        f" '{src_pathname}', does not appear to have been created"
        f" with the dbl option.  This database therefore contains"
        f" the raw content of every tile: feature fragments are"
        f" not merged across tiles, simplified duplicates from"
        f" lower zoom levels are retained, and way features are"
        f" classified as areas by the closed-ring heuristic, which"
        f" can misclassify.  No database license statement was"
        f" encoded in the map file; the user is responsible for"
        f" determining what legal restrictions apply.",
    )


def provenance(header, src_pathname: str, noun: str) -> dict:
    """The output's README rows, bbox limits and subfile zoom ranges
    (map2db.py:1398-1467), built once for both sinks: the SQLite sink
    inserts them into its README/limits/subfiles tables, the parquet
    sink records them in manifest.json.  ``noun`` names the output
    ("database" or "dataset") in the generated texts."""
    desc, text = readme_license(header, src_pathname)
    readme = [
        {"desc": desc, "text": text},
        {
            "desc": "Text generated by map2db_spark",
            "text": (
                f"(This {noun} was recreated from {src_pathname} by"
                f" map2db_spark, a PySpark-native reimplementation of"
                f" the map2db extraction semantics.)"
            ),
        },
    ]
    if header.comment:
        readme.append(
            {
                "desc": (
                    "Text from the 'comment' field in the file header of"
                    f" the map file from which this {noun} was recreated."
                    " This often includes a copyright and/or license"
                    f" statement for the map file (not for this {noun}!)."
                ),
                "text": header.comment,
            }
        )
    if header.createdby:
        readme.append(
            {
                "desc": (
                    "Text from the 'created by' field in the file header"
                    f" of the map file from which this {noun} was"
                    " recreated."
                ),
                "text": header.createdby,
            }
        )
    return {
        "readme": readme,
        "limits": {
            k: getattr(header, k)
            for k in ["minlat", "minlon", "maxlat", "maxlon"]
        },
        "subfiles": [
            {
                "subfile_num": i,
                "level": sf.level,
                "minzoom": sf.minzoom,
                "maxzoom": sf.maxzoom,
            }
            for i, sf in enumerate(header.subfiles)
        ],
    }


def write_metadata(dbc: sqlite3.Connection, header, src_pathname: str) -> str:
    """README / limits / subfiles rows.  Returns the license (or
    explanatory) text that was recorded."""
    prov = provenance(header, src_pathname, "database")
    dbc.executemany(
        "INSERT INTO README (desc, text) VALUES (:desc, :text);", prov["readme"]
    )
    dbc.executemany(
        "INSERT INTO limits (key, value) VALUES (?, ?);", prov["limits"].items()
    )
    dbc.executemany(
        "INSERT INTO subfiles (subfile_num, level, minzoom, maxzoom)"
        " VALUES (:subfile_num, :level, :minzoom, :maxzoom);",
        prov["subfiles"],
    )
    dbc.commit()
    return prov["readme"][0]["text"]


def finalize(dbc: sqlite3.Connection) -> None:
    dbc.execute(
        "INSERT INTO README (desc, text) VALUES (?, ?);",
        ("Text generated by map2db_spark", "(database recreation completed.)"),
    )
    dbc.commit()


def write_sqlite(
    db_pathname: str,
    src_pathname: str,
    header,
    consolidated: DataFrame,
    features_for_vtag_order: DataFrame,
) -> dict:
    if os.path.exists(db_pathname):
        os.remove(db_pathname)
    vtag_cols = vtag_key_order(features_for_vtag_order)
    with sqlite3.connect(db_pathname) as dbc:
        # bulk-load pragmas: the export file is written once from
        # scratch, so crash-durability buys nothing — identical final
        # content, substantially faster multi-million-row inserts
        dbc.execute("PRAGMA journal_mode=MEMORY;")
        dbc.execute("PRAGMA synchronous=OFF;")
        prepare_db(dbc)
        license_text = write_metadata(dbc, header, src_pathname)
        counts = write_features(dbc, consolidated, vtag_cols)
        finalize(dbc)
    return {"counts": counts, "license": license_text, "vtag_cols": vtag_cols}
