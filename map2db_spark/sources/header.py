"""MapsForge file header + tile index -> tile manifest DataFrame.

Reference scans S5/S6 (map2db.py:350-421, 1476-1483).  The header is
KB-scale and parsed once on the driver (SURVEY §3.4); the tile index
can be millions of 5-byte entries for a planet-scale file, so the
manifest build has two paths:

- driver path (default below ~1M tiles): read the index locally,
  build an Arrow table, ``spark.createDataFrame``;
- distributed path: a chunk-spec DataFrame (one row per index slice)
  is exploded by ``mapInPandas`` — each task range-reads its slice of
  the index and emits manifest rows.  This keeps driver memory O(1)
  in tile count and the read parallel.

The manifest row is the engine's unit of parallelism: one row per
tile with absolute [offset, end_offset) byte range.  Empty tiles
(offset == end_offset) are filterable *before* any data read — the
engine's analog of partition pruning (reference F3, map2db.py:687-689).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd

from map2db_spark.sources.primitives import Cursor
from map2db_spark.sources.tilemath import x_from_lon, y_from_lat

MAGIC = b"mapsforge binary OSM"
INDEX_ENTRY_BYTES = 5
DEBUG_INDEX_MARKER = b"+++IndexStart+++"


@dataclass
class Subfile:
    level: int
    minzoom: int
    maxzoom: int
    offset: int  # absolute byte offset of the subfile
    length: int  # subfile length in bytes
    minx: int = 0
    maxx: int = 0
    miny: int = 0
    maxy: int = 0

    @property
    def x_count(self) -> int:
        return self.maxx - self.minx + 1

    @property
    def y_count(self) -> int:
        return self.maxy - self.miny + 1

    @property
    def tile_count(self) -> int:
        return self.x_count * self.y_count


@dataclass
class MapHeader:
    debuginfo: bool
    minlat: float
    minlon: float
    maxlat: float
    maxlon: float
    ptags: list[str]
    wtags: list[str]
    subfiles: list[Subfile]
    startlat: float | None = None
    startlon: float | None = None
    startzoom: int | None = None
    lang: str | None = None
    comment: str | None = None
    createdby: str | None = None
    levels: list[int] = field(default_factory=list)

    def __post_init__(self) -> None:
        self.levels = [s.level for s in self.subfiles]

    @property
    def dbl_license(self) -> str | None:
        """The byte-reversed license payload marking a dbl map
        (reference mode detection, map2db.py:1363-1369)."""
        if self.wtags and self.wtags[-1].startswith("_lbd_="):
            return self.wtags[-1][len("_lbd_=") :][::-1]
        return None

    @property
    def is_dbl(self) -> bool:
        return self.dbl_license is not None


def parse_header(buf: bytes) -> MapHeader:
    """Parse the file header from the leading bytes of a map file."""
    cur = Cursor(buf)
    if cur.read(20) != MAGIC:
        raise ValueError("Not a valid map file.  Wrong header bytes")
    cur.read(24)  # header size, file version, file size, creation date
    minlat = round(cur.s32() / 1e6, 6)
    minlon = round(cur.s32() / 1e6, 6)
    maxlat = round(cur.s32() / 1e6, 6)
    maxlon = round(cur.s32() / 1e6, 6)
    cur.u16()  # tile pixel size
    cur.lstr()  # projection
    flags = cur.u8()
    kw: dict = {}
    if flags & 0x40:
        kw["startlat"] = round(cur.s32() / 1e6, 6)
        kw["startlon"] = round(cur.s32() / 1e6, 6)
    if flags & 0x20:
        kw["startzoom"] = cur.u8()
    if flags & 0x10:
        kw["lang"] = cur.lstr()
    if flags & 0x08:
        kw["comment"] = cur.lstr()
    if flags & 0x04:
        kw["createdby"] = cur.lstr()
    ptags = [cur.lstr() for _ in range(cur.u16())]
    wtags = [cur.lstr() for _ in range(cur.u16())]
    subfiles = []
    for _ in range(cur.u8()):
        sf = Subfile(
            level=cur.u8(),
            minzoom=cur.u8(),
            maxzoom=cur.u8(),
            offset=cur.u64(),
            length=cur.u64(),
        )
        sf.minx = int(x_from_lon(sf.level, minlon))
        sf.maxx = int(x_from_lon(sf.level, maxlon))
        sf.miny = int(y_from_lat(sf.level, maxlat))
        sf.maxy = int(y_from_lat(sf.level, minlat))
        subfiles.append(sf)
    return MapHeader(
        debuginfo=bool(flags & 0x80),
        minlat=minlat,
        minlon=minlon,
        maxlat=maxlat,
        maxlon=maxlon,
        ptags=ptags,
        wtags=wtags,
        subfiles=subfiles,
        **kw,
    )


def read_header(path: str) -> MapHeader:
    """Driver-side one-shot header read (header size is at bytes 20:24)."""
    with open(path, "rb") as f:
        lead = f.read(28)
        if lead[:20] != MAGIC:
            raise ValueError("Not a valid map file.  Wrong header bytes")
        header_size = int.from_bytes(lead[20:24], "big")
        rest = f.read(header_size)
    return parse_header(lead + rest)


def _decode_index_entries(raw: bytes, n: int) -> list[int]:
    """Decode n 5-byte big-endian entries, masking off the MSB
    pure-water-tile flag (S6, map2db.py:1476-1483)."""
    out = []
    for i in range(n):
        chunk = raw[i * 5 : i * 5 + 5]
        v = int.from_bytes(chunk, "big")
        out.append(v & 0x7F_FFFF_FFFF)  # clear the water bit (bit 39)
    return out


def _index_base(sf: Subfile, debuginfo: bool) -> int:
    return sf.offset + (len(DEBUG_INDEX_MARKER) if debuginfo else 0)


def _manifest_chunk_rows(
    path: str, sf_idx: int, sf: Subfile, debuginfo: bool, start: int, count: int
) -> pd.DataFrame:
    """Manifest rows for index entries [start, start+count) of a subfile.

    Reads count+1 entries (one overlap) so each tile's end offset comes
    from its successor; the final tile's end is the subfile length.
    """
    base = _index_base(sf, debuginfo)
    want = min(count + 1, sf.tile_count - start)
    with open(path, "rb") as f:
        f.seek(base + start * INDEX_ENTRY_BYTES)
        raw = f.read(want * INDEX_ENTRY_BYTES)
    offs = _decode_index_entries(raw, want)
    rows = []
    for i in range(min(count, sf.tile_count - start)):
        tilenum = start + i
        ty = sf.miny + tilenum // sf.x_count
        tx = sf.minx + tilenum % sf.x_count
        off = sf.offset + offs[i]
        end = sf.offset + (offs[i + 1] if i + 1 < len(offs) else sf.length)
        rows.append((sf_idx, sf.level, tx, ty, off, end))
    return pd.DataFrame(
        rows,
        columns=[
            "subfile_idx",
            "level",
            "tile_x",
            "tile_y",
            "offset",
            "end_offset",
        ],
    )


MANIFEST_SCHEMA = (
    "subfile_idx INT, level INT, tile_x INT, tile_y INT, "
    "offset LONG, end_offset LONG"
)

CHUNK_ENTRIES = 65536  # tile-index entries per distributed read task


def tile_chunks(header: MapHeader, chunk_entries: int) -> list[tuple[int, int, int]]:
    """The tile-index split: ``(subfile_idx, start, count)`` slices of
    at most ``chunk_entries`` entries, in subfile then index order."""
    return [
        (i, start, min(chunk_entries, sf.tile_count - start))
        for i, sf in enumerate(header.subfiles)
        for start in range(0, sf.tile_count, chunk_entries)
    ]


def build_manifest(
    spark,
    path: str,
    header: MapHeader,
    *,
    distributed: bool | None = None,
    chunk_entries: int = CHUNK_ENTRIES,
):
    """Tile manifest DataFrame for every tile of every subfile.

    distributed=None picks the driver path under 1M tiles, else the
    mapInPandas chunked range-read path.
    """
    total = sum(sf.tile_count for sf in header.subfiles)
    if distributed is None:
        distributed = total > 1_000_000

    if not distributed:
        frames = [
            _manifest_chunk_rows(path, i, sf, header.debuginfo, 0, sf.tile_count)
            for i, sf in enumerate(header.subfiles)
        ]
        pdf = pd.concat(frames, ignore_index=True)
        return spark.createDataFrame(pdf, schema=MANIFEST_SCHEMA)

    # chunk specs: one row per index slice; executors range-read the index
    specs = tile_chunks(header, chunk_entries)
    spec_df = spark.createDataFrame(
        pd.DataFrame(specs, columns=["subfile_idx", "start", "count"]),
        schema="subfile_idx INT, start LONG, count LONG",
    ).repartition(max(len(specs) // 4, 1))

    subfiles = header.subfiles
    debuginfo = header.debuginfo

    def expand(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                yield _manifest_chunk_rows(
                    path, r.subfile_idx, subfiles[r.subfile_idx], debuginfo,
                    int(r.start), int(r.count),
                )

    return spec_df.mapInPandas(expand, schema=MANIFEST_SCHEMA)


def nonempty(manifest):
    """F3 empty-tile skip: prune zero-length tiles before any data read."""
    from pyspark.sql import functions as F

    return manifest.where(F.col("offset") != F.col("end_offset"))
