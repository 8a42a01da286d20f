"""The benchmark's traced mode (perfbench/tracing.py) calls the
pipeline's layers one by one instead of through ``map2db()``.  These
tests run it on the fixture maps and check that it writes the same
output as ``map2db()``, so a change to a layer's name or signature
fails here, not only in a benchmark run."""

from __future__ import annotations

import importlib.util
import json
import sqlite3
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def tracing():
    spec = importlib.util.spec_from_file_location(
        "perfbench_tracing", REPO / "perfbench" / "tracing.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _config(out: str) -> str | None:
    path = Path(out.rstrip("/") + ".config.toml")
    return path.read_text("utf-8").replace(out, "<out>") if path.exists() else None


def _parquet_output(spark, out: str) -> dict:
    tables = {
        t: sorted(map(str, spark.read.parquet(f"{out}/{t}").collect()))
        for t in ["points", "lines", "areas"]
    }
    manifest = json.loads(Path(out, "manifest.json").read_text("utf-8"))
    return {"tables": tables, "manifest": manifest, "config": _config(out)}


def _sqlite_output(out: str) -> dict:
    con = sqlite3.connect(out)
    names = [r[0] for r in con.execute(
        "SELECT name FROM sqlite_master WHERE type = 'table' ORDER BY name")]
    tables = {t: sorted(map(repr, con.execute(f'SELECT * FROM "{t}"'))) for t in names}
    con.close()
    return {"tables": tables, "config": _config(out)}


@pytest.mark.parametrize("fixture,sink", [("dbl", "parquet"), ("nondbl", "sqlite")])
def test_traced_map2db_matches_map2db(spark, tmp_path, tracing, fixture, sink):
    from map2db_spark.pipeline import map2db
    from map2db_spark.queries_mapsforge import _fixture_map

    src = _fixture_map(fixture)
    outs = {}
    for mode in ["plain", "traced"]:
        out = str(tmp_path / f"{mode}.{'db' if sink == 'sqlite' else 'pq'}")
        if mode == "plain":
            map2db(spark, src, out, sink=sink)
        else:
            tracer = tracing.Tracer("test", spark)
            stats = tracing.traced_map2db(spark, src, out, sink, tracer)
            assert stats["decode_rows"] > 0
            assert {s["name"] for s in tracer.spans} >= {
                "pipeline.map2db", "decode.load_features", "sinks.write"
            }
        outs[mode] = (
            _sqlite_output(out) if sink == "sqlite" else _parquet_output(spark, out)
        )
    assert outs["traced"] == outs["plain"]
    assert any(outs["plain"]["tables"].values())


def test_kernel_us_per_feature_runs(spark, tracing):
    from map2db_spark.queries_mapsforge import _fixture_map

    assert tracing.kernel_us_per_feature(spark, _fixture_map("dbl")) > 0
