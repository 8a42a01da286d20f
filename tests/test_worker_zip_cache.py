"""session.pin_worker_zip_directories: a Spark Python worker that
imports the package stops re-reading its zip archives' directories on
every task, and the driver keeps the stdlib importer.

Deterministic, no timing: the fix is visible as object identity (a
re-read replaces each ``zipimporter``'s ``_files`` dict)."""

from __future__ import annotations

import zipimport

import map2db_spark

PKG_ZIP = ".map2db_spark_pkg.zip"


def test_worker_keeps_zip_directories_and_still_imports(spark):
    def kernel(batches):
        import importlib.machinery
        import importlib.util
        import sys
        import zipimport

        import pandas as pd

        # the kernel refers to the package, as every pipeline kernel
        # does, so the worker imports it while unpickling the kernel
        version = map2db_spark.__version__
        zips = [
            v for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        ]
        before = [id(z._files) for z in zips]
        importlib.invalidate_caches()
        kept = [id(z._files) for z in zips] == before

        # a fresh import from the shipped package zip still resolves
        # and runs (the path finder reuses the worker's importers)
        path = next(p for p in sys.path if p.endswith(PKG_ZIP))
        spec = importlib.machinery.PathFinder.find_spec(
            "map2db_spark.sinks.toml_sink", [f"{path}/map2db_spark/sinks"]
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        for _ in batches:
            pass
        yield pd.DataFrame({
            "zips": [len(zips)],
            "kept": [kept],
            "origin": [spec.origin],
            "imported": [callable(mod.write_config)],
            "version": [version],
        })

    rows = (
        spark.range(64).repartition(4)
        .mapInPandas(kernel, "zips INT, kept BOOLEAN, origin STRING, imported BOOLEAN, "
                     "version STRING")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.zips > 0 and r.kept, r
        assert PKG_ZIP in r.origin and r.imported, r
        assert r.version == map2db_spark.__version__, r


def test_driver_keeps_stdlib_zip_invalidation(spark, tmp_path):
    from map2db_spark.pipeline import map2db
    from map2db_spark.session import pin_worker_zip_directories
    from map2db_spark.sources.sample_maps import dbl_map

    src = str(tmp_path / "dbl.map")
    dbl_map().write(src)
    map2db(spark, src, str(tmp_path / "out.db"), sink="sqlite")
    pin_worker_zip_directories()  # no task context: must do nothing
    fn = zipimport.zipimporter.invalidate_caches
    assert (fn.__module__, fn.__qualname__) == (
        "zipimport", "zipimporter.invalidate_caches"
    )
