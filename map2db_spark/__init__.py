"""map2db_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of pflarue/map2db, re-expressed Spark-first.

The reference (/root/reference/src/map2db.py) is a sequential, single
threaded ETL pipeline: MapsForge binary map -> decoded features ->
keyed consolidation -> FDO RFC 16 SQLite geodatabase.  This package
re-expresses those semantics as a lazy Catalyst plan:

    tile manifest DataFrame  (driver parses the KB-scale header/index)
      -> mapInPandas decode kernel, clip + repair inside it
                                          (operators/decode.py, geometry/)
      -> (ftype, fid) repartition + ONE mapInPandas: consolidation,
         fragment union and line merge in the same task
                      (operators/consolidate.py, operators/linemerge.py)
      -> sinks: parquet (canonical, one write job for all three
         tables), SQLite + TOML (compat exports)

Beyond reference parity, `functions/` adds the large-scale
training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing) and `streaming/` the Structured
Streaming surface.
"""

__version__ = "0.1.0"

from map2db_spark.session import get_spark  # noqa: F401
