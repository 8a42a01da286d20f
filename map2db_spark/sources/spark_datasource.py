"""MapsForge `.map` connector via Spark's official Python DataSource
API (pyspark.sql.datasource, Spark 4+): ``spark.read.format(
"mapsforge").load(path)`` yields the decoded feature table — the
idiomatic connector packaging of the engine's scan stack (S5-S9), so
a user plugs the reference's input format into ANY Spark job exactly
like parquet or CSV.

Planning happens on the driver (header + tile-index geometry only,
KB-scale); each InputPartition is a tile-index CHUNK, and executors
range-read their chunk's index slice, then read + decode only their
own tiles — the same distributed shape as pipeline.load_features, but
behind the standard source interface, so Spark handles scheduling,
retries, and Arrow conversion.

Filter pushdown (DataSourceReader.pushFilters):

- ``level = N`` / ``level IN (...)`` prunes whole SUBFILES at
  planning time — partitions for other zoom levels are never created,
  so their index and tile bytes are never read (the columnar
  analogue of partition pruning);
- ``ftype = '...'`` / ``ftype IN (...)`` filters rows inside the
  reader before Arrow serialization (tiles must still be decoded —
  ftype is a decode output — but non-matching rows never cross the
  Python->JVM boundary).

Everything else is reported back as unsupported, so Spark re-applies
it — pushdown here is an optimization, never a semantics change.

Reference parity: both readers decode through the pipeline's own
tile-read loop (operators/decode.decode_tiles, map2db.py:815-1077
semantics), so the connector's output is row-identical to
pipeline.load_features.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
)

from map2db_spark.operators.decode import FEATURE_SCHEMA, decode_tiles
from map2db_spark.sources.header import (
    CHUNK_ENTRIES,
    _manifest_chunk_rows,
    read_header,
    tile_chunks,
)


def _decode_chunk(path: str, header, sf_idx: int, start: int, count: int):
    """Feature rows of one tile-index chunk (executor side): range-read
    the chunk's index slice, then its tiles through the shared loop."""
    tiles = _manifest_chunk_rows(
        path, sf_idx, header.subfiles[sf_idx], header.debuginfo, start, count
    )
    with open(path, "rb") as f:
        yield from decode_tiles(f, header, tiles.itertuples(index=False))


class TileChunk(InputPartition):
    """One tile-index slice of one subfile of one map file."""

    def __init__(self, subfile_idx: int, start: int, count: int,
                 path_idx: int = 0):
        self.subfile_idx = subfile_idx
        self.start = start
        self.count = count
        self.path_idx = path_idx


class MapsforgeReader(DataSourceReader):
    """Batch reader over ONE OR MORE `.map` files: `.load(path)` for a
    single file, or `.option("paths", "a.map,b.map,...")` for a fleet
    — at corpus scale the input is MANY map extracts, and one job
    scans them all (each file contributes its own tile-chunk
    partitions, so parallelism is sum-of-files, not per-file)."""

    def __init__(self, options):
        multi = options.get("paths")
        if multi:
            self.paths = [p for p in multi.split(",") if p]
        else:
            path = options.get("path")
            if not path:
                raise ValueError(
                    "mapsforge source requires .load('<file.map>') or "
                    ".option('paths', 'a.map,b.map')"
                )
            self.paths = [path]
        # driver-side planning state: header metadata only (KB-scale
        # per file, picklable — ships to executors inside the reader)
        self.headers = [read_header(p) for p in self.paths]
        self.level_filter: set[int] | None = None
        self.ftype_filter: set[str] | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            if isinstance(f, EqualTo) and col == "level":
                self.level_filter = {int(f.value)}
            elif isinstance(f, In) and col == "level":
                self.level_filter = {int(v) for v in f.value}
            elif isinstance(f, EqualTo) and col == "ftype":
                self.ftype_filter = {str(f.value)}
            elif isinstance(f, In) and col == "ftype":
                self.ftype_filter = {str(v) for v in f.value}
            else:
                yield f  # unsupported -> Spark re-applies it

    def partitions(self):
        # a pruned subfile gets no partition: its bytes are never read
        out = [
            TileChunk(i, start, count, path_idx=pi)
            for pi, header in enumerate(self.headers)
            for i, start, count in tile_chunks(header, CHUNK_ENTRIES)
            if self.level_filter is None
            or header.subfiles[i].level in self.level_filter
        ]
        if not out:
            # Spark requires >= 1 partition; an empty one yields no rows
            out.append(TileChunk(-1, 0, 0))
        return out

    def read(self, partition: TileChunk):
        if partition.subfile_idx < 0:
            return
        keep = self.ftype_filter
        for row in _decode_chunk(
            self.paths[partition.path_idx],
            self.headers[partition.path_idx],
            partition.subfile_idx, partition.start, partition.count,
        ):
            if keep is None or row[0] in keep:
                yield row


class MapsforgeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "mapsforge"

    def schema(self) -> str:
        return FEATURE_SCHEMA

    def reader(self, schema) -> MapsforgeReader:
        return MapsforgeReader(self.options)


def _stream_source_class():
    """Build the STREAMING DataSource class at call time.

    Why a factory: Spark runs Python streaming-source PLANNING
    (initialOffset / latestOffset / partitions) in a dedicated
    "python streaming source runner" process that — unlike executor
    Python workers — does NOT receive sc.addPyFile zips, so a class
    that lives in this package cannot be unpickled there.  A class
    created inside a function is serialized BY VALUE by cloudpickle,
    and its planning path below touches only stdlib + pyspark +
    plain option strings (the tile-chunk plan arrives pre-computed as
    JSON via .option("plan", stream_plan_json(path)) — computed in
    the driver process, where the package IS importable).  Only the
    executor-side read() imports the package, and executors do get
    the addPyFile zip.

    Offset model: the offset is the number of tile-index chunks
    admitted; it travels through the checkpoint log, so a restarted
    query resumes at the first unprocessed chunk.  read() decodes
    with the identical kernel as the batch connector."""
    import json

    from pyspark.sql.datasource import (
        DataSource as _DS,
        DataSourceStreamReader as _DSR,
        InputPartition as _IP,
    )

    schema_str = FEATURE_SCHEMA  # captured as a plain string

    class _Chunk(_IP):
        def __init__(self, v):
            self.v = v

    class _Reader(_DSR):
        def __init__(self, options):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("mapsforge_stream requires a path")
            plan = options.get("plan")
            if not plan:
                raise ValueError(
                    "mapsforge_stream requires .option('plan', "
                    "stream_plan_json(path)) — planning must happen in the "
                    "driver process, where the engine package is importable"
                )
            self.chunks = [tuple(c) for c in json.loads(plan)["chunks"]]

        def initialOffset(self) -> dict:
            return {"chunk": 0}

        def latestOffset(self) -> dict:
            return {"chunk": len(self.chunks)}

        def partitions(self, start: dict, end: dict):
            lo, hi = int(start["chunk"]), int(end["chunk"])
            parts = [_Chunk(c) for c in self.chunks[lo:hi]]
            return parts if parts else [_Chunk((-1, 0, 0))]

        def commit(self, end: dict) -> None:
            pass  # offsets are positional; nothing to clean up

        def read(self, partition):
            sf_idx, start, count = partition.v
            if sf_idx < 0:
                return
            # executor-side: the package zip shipped via addPyFile;
            # the KB-scale header re-parses per task
            from map2db_spark.sources.header import read_header
            from map2db_spark.sources.spark_datasource import _decode_chunk

            yield from _decode_chunk(
                self.path, read_header(self.path), sf_idx, start, count
            )

    class _Source(_DS):
        @classmethod
        def name(cls) -> str:
            return "mapsforge_stream"

        def schema(self) -> str:
            return schema_str

        def streamReader(self, schema) -> _Reader:
            return _Reader(self.options)

    return _Source


def stream_plan_json(path: str) -> str:
    """Driver-side planning for the streaming source: tile-index chunk
    specs (4096 entries each, so a micro-batch admits small slices) as
    JSON, passed via .option('plan', ...) so the package-free runner
    never needs to parse the header itself."""
    import json

    return json.dumps({"chunks": tile_chunks(read_header(path), 4096)})


def register(spark) -> None:
    """Register both formats for this session (idempotent) and enable
    Python-source filter pushdown (a runtime SQL conf, off by default
    in Spark 4.1; Spark refuses a reader that implements pushFilters
    while the conf is off, so the two must travel together)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(MapsforgeDataSource)
    spark.dataSource.register(_stream_source_class())
