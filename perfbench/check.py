"""Output check for one conversion, against the generator's expectations.

Reads what the sink wrote (parquet datasets or the SQLite file) without
going through the program: WKB is parsed here, not with
``map2db_spark.geometry.wkb``.  A conversion passes when, per table, the
row count and the fid set match, no row carries a violation, and every
feature the generator stitched across tiles has the source bbox to
within 1 µdeg.  Every geometry must be NDR WKB of its table's
multi-geometry type.  Rejected (unreparable) features never reach the sink,
so a reject shows up as a count or fid-set mismatch.

Every row also feeds an order-independent digest (sum of per-row
BLAKE2 hashes), so two conversions of one map can be compared exactly.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct

from workloads import fid_digest

TABLES = ("points", "lines", "areas")
PK = {"points": "m2db_pnum", "lines": "m2db_lnum", "areas": "m2db_anum"}
WKB_TYPE = {"points": 4, "lines": 5, "areas": 6}  # multi-geometry per table
BBOX_TOL_MD = 1

_U32 = struct.Struct("<I")
_XY = struct.Struct("<2d")


def wkb_bbox(buf: bytes):
    """(minx, miny, maxx, maxy) of an NDR WKB point/line/polygon or
    multi-geometry, in degrees.  Raises ValueError on malformed input."""
    xs: list[float] = []
    ys: list[float] = []

    def geom(pos: int) -> int:
        if buf[pos] != 1:
            raise ValueError("not little-endian WKB")
        gtype = _U32.unpack_from(buf, pos + 1)[0] & 0xFF
        pos += 5
        if gtype == 1:
            x, y = _XY.unpack_from(buf, pos)
            xs.append(x)
            ys.append(y)
            return pos + 16
        if gtype == 2:
            return coords(pos)
        if gtype == 3:
            (n,) = _U32.unpack_from(buf, pos)
            pos += 4
            for _ in range(n):
                pos = coords(pos)
            return pos
        if gtype in (4, 5, 6):
            (n,) = _U32.unpack_from(buf, pos)
            pos += 4
            for _ in range(n):
                pos = geom(pos)
            return pos
        raise ValueError(f"unsupported WKB type {gtype}")

    def coords(pos: int) -> int:
        (n,) = _U32.unpack_from(buf, pos)
        pos += 4
        for _ in range(n):
            x, y = _XY.unpack_from(buf, pos)
            xs.append(x)
            ys.append(y)
            pos += 16
        return pos

    try:
        end = geom(0)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"truncated WKB ({exc})") from exc
    if end != len(buf) or not xs:
        raise ValueError("trailing bytes or empty geometry")
    return min(xs), min(ys), max(xs), max(ys)


def _canon(v):
    if isinstance(v, list) and v and isinstance(v[0], tuple):
        return tuple(sorted(v))  # map column read as (key, value) pairs
    if isinstance(v, list):
        return tuple(v)
    return v


def _rows_digest(table: str, rows: list[dict]) -> int:
    """Sum of per-row BLAKE2 hashes over every column, so row order in
    the sink does not matter."""
    if not rows:
        return 0
    cols = sorted(rows[0])
    acc = 0
    for r in rows:
        key = repr((table,) + tuple(_canon(r[c]) for c in cols)).encode()
        acc += int.from_bytes(hashlib.blake2b(key, digest_size=16).digest(), "little")
    return acc


def check_tables(expect: dict, tables: dict[str, list[dict]]) -> tuple[list[str], str]:
    """(problems, digest) for rows keyed by table.  Each row is a dict
    with at least ``fid`` and ``geom``; ``violation`` when the sink keeps
    it.  An empty problem list means the conversion is correct."""
    problems: list[str] = []
    acc = 0
    for table in TABLES:
        rows = tables.get(table, [])
        want = expect["counts"][table]
        if len(rows) != want:
            problems.append(f"{table}: {len(rows)} rows, expected {want}")
        if fid_digest(r["fid"] for r in rows) != expect["fid_digest"][table]:
            problems.append(f"{table}: fid set differs")
        bad = sum(1 for r in rows if r.get("violation") is not None)
        if bad:
            problems.append(f"{table}: {bad} violations")
        boxes = expect["bboxes"].get(table, {})
        for r in rows:
            geom = r["geom"]
            if not geom or geom[0] != 1 or geom[1] != WKB_TYPE[table]:
                problems.append(f"{table} fid {r['fid']}: not a {table} WKB")
                continue
            src = boxes.get(str(r["fid"]))
            if src is None:
                continue
            try:
                box = wkb_bbox(geom)
            except ValueError as exc:
                problems.append(f"{table} fid {r['fid']}: {exc}")
                continue
            if any(abs(round(v * 1e6) - s) > BBOX_TOL_MD for v, s in zip(box, src)):
                problems.append(f"{table} fid {r['fid']}: bbox {box} != source {src}")
        acc += _rows_digest(table, rows)
    return problems[:20], f"{acc % (1 << 128):032x}"


def read_parquet(out_dir: str) -> dict[str, list[dict]]:
    import pyarrow.dataset as ds

    tables = {}
    for table in TABLES:
        path = os.path.join(out_dir, table)
        has_parts = any(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)
        if not has_parts:
            tables[table] = []
            continue
        tables[table] = ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pylist()
    return tables


def read_sqlite(db_path: str) -> dict[str, list[dict]]:
    import sqlite3

    tables = {}
    with sqlite3.connect(db_path) as dbc:
        for table in TABLES:
            cur = dbc.execute(f"SELECT * FROM {table}")
            names = [d[0] for d in cur.description]
            rows = []
            for rec in cur:
                row = dict(zip(names, rec))
                row["fid"] = row.pop(PK[table])
                row["geom"] = row.pop("m2db_geometry")
                rows.append(row)
            tables[table] = rows
    return tables


def output_bytes(out_path: str) -> int:
    """Bytes the sink wrote: the SQLite file or the parquet tree
    (datasets + manifest), plus the TOML config when one was written."""
    total = 0
    if os.path.isdir(out_path):
        for root, _, files in os.walk(out_path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    elif os.path.exists(out_path):
        total += os.path.getsize(out_path)
    config = out_path.rstrip("/") + ".config.toml"
    if os.path.exists(config):
        total += os.path.getsize(config)
    return total


def check_output(expect: dict, out_path: str) -> dict:
    """Check one conversion's output; returns problems, digest, sizes."""
    if expect["sink"] == "sqlite":
        tables = read_sqlite(out_path)
    else:
        tables = read_parquet(out_path)
        manifest = os.path.join(out_path, "manifest.json")
        with open(manifest, encoding="utf-8") as f:
            json.load(f)
    problems, digest = check_tables(expect, tables)
    return {
        "problems": problems,
        "digest": digest,
        "features": sum(len(v) for v in tables.values()),
        "out_bytes": output_bytes(out_path),
    }
