"""Self-tests of the benchmark's generator and output check.

    python3 -m pytest perfbench/test_perfbench.py -q

They need no Spark session: the check is exercised on rows built from
the generator's own expectations.
"""

from __future__ import annotations

import struct
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import check  # noqa: E402
import workloads  # noqa: E402

SMALL = {
    "dense-tiles": dict(workloads.SHAPES["dense-tiles"], nx=3, ny=2),
    "stitch-zoom": dict(workloads.SHAPES["stitch-zoom"], roads=40, areas=40),
    "sqlite-export": dict(workloads.SHAPES["sqlite-export"], nx=3, ny=2),
}


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_bytes(workload):
    a, ea = workloads.build(workload, 7, SMALL[workload])
    b, eb = workloads.build(workload, 7, SMALL[workload])
    c, _ = workloads.build(workload, 8, SMALL[workload])
    assert a == b and ea == eb
    assert a != c


def test_shape_is_fixed_across_seeds():
    _, e1 = workloads.build("dense-tiles", 1, SMALL["dense-tiles"])
    _, e2 = workloads.build("dense-tiles", 2, SMALL["dense-tiles"])
    assert e1["counts"] == e2["counts"] and e1["tiles"] == e2["tiles"]


def _wkb(table, box):
    """Multi-geometry of the table's type whose bbox is ``box`` (µdeg)."""
    x0, y0, x1, y1 = (v / 1e6 for v in box)
    if table == "lines":
        pts = [(x0, y0), (x1, y1)]
        body = struct.pack("<bII", 1, 2, len(pts))
    else:
        pts = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
        body = struct.pack("<bII", 1, 3, 1) + struct.pack("<I", len(pts))
    body += b"".join(struct.pack("<2d", *p) for p in pts)
    return struct.pack("<bII", 1, check.WKB_TYPE[table], 1) + body


def _rows_from_expect(expect):
    """Rows a correct conversion would produce (geometry spans the source bbox)."""
    return {
        table: [{"fid": int(fid), "geom": _wkb(table, box), "violation": None}
                for fid, box in expect["bboxes"][table].items()]
        for table in check.TABLES if table in expect["bboxes"]
    }


@pytest.fixture(scope="module")
def stitched():
    _, expect = workloads.build("stitch-zoom", 3, SMALL["stitch-zoom"])
    return expect


def test_correct_rows_pass(stitched):
    problems, _ = check.check_tables(stitched, _rows_from_expect(stitched))
    assert problems == []


def test_dropped_row_fails(stitched):
    rows = _rows_from_expect(stitched)
    rows["lines"].pop()
    problems, _ = check.check_tables(stitched, rows)
    assert any("lines" in p for p in problems)


def test_altered_geometry_fails(stitched):
    rows = _rows_from_expect(stitched)
    fid = rows["areas"][0]["fid"]
    box = list(stitched["bboxes"]["areas"][str(fid)])
    box[2] += 5  # east edge moved by 5 µdeg
    rows["areas"][0]["geom"] = _wkb("areas", box)
    problems, _ = check.check_tables(stitched, rows)
    assert any(f"fid {fid}" in p for p in problems)


def test_wrong_geometry_type_fails(stitched):
    rows = _rows_from_expect(stitched)
    fid = rows["lines"][0]["fid"]
    rows["lines"][0]["geom"] = _wkb("areas", stitched["bboxes"]["lines"][str(fid)])
    problems, _ = check.check_tables(stitched, rows)
    assert any(f"fid {fid}" in p for p in problems)


def test_violation_fails(stitched):
    rows = _rows_from_expect(stitched)
    rows["lines"][0]["violation"] = "zoom-gap:nonadjacent-subfiles"
    problems, _ = check.check_tables(stitched, rows)
    assert any("violations" in p for p in problems)


def test_digest_ignores_row_order_but_not_content(stitched):
    rows = _rows_from_expect(stitched)
    _, d1 = check.check_tables(stitched, rows)
    _, d2 = check.check_tables(stitched, {t: v[::-1] for t, v in rows.items()})
    rows["lines"][0]["geom"] = _wkb("lines", [0, 0, 1, 1])
    _, d3 = check.check_tables(stitched, rows)
    assert d1 == d2 != d3


def test_wkb_bbox_rejects_truncated_input():
    good = _wkb("areas", [1, 2, 30, 40])
    assert [round(v * 1e6) for v in check.wkb_bbox(good)] == [1, 2, 30, 40]
    with pytest.raises(ValueError):
        check.wkb_bbox(good[:-3])
