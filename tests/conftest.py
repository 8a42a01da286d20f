from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from pyspark import SparkContext

    from map2db_spark.session import get_spark

    # Tests read job and stage info from the status tracker.  Its store
    # keeps spark.ui.retainedStages (1000) stages and evicts skipped
    # stages first, so once the suite has run 1000 stages a job that
    # just ran can lose its skipped stages to a cleanup pass.  A JVM
    # system property is read into the conf the session starts with.
    SparkContext._ensure_initialized()
    SparkContext._jvm.java.lang.System.setProperty("spark.ui.retainedStages", "1000000")
    s = get_spark("tests", cpus="8")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_CORRECT}/{name}.parquet')"
        )
    yield con
    con.close()
