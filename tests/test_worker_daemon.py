"""The preloading Python worker daemon (``worker_daemon``): its guard
against per-task zip re-reads, and that the session's UDF workers fork
from it with the preload already imported."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

from synthetic_data_pipeline_spark import worker_daemon


def _write_module_zip(path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zipguard_mod.py", body)


def test_zip_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    """An unchanged archive is not re-read by ``invalidate_caches()``;
    one rewritten in place is, and its new module content imports."""
    archive = tmp_path / "mods.zip"
    _write_module_zip(archive, "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "zipguard_mod", raising=False)
    # restored at teardown: the guard patches the class
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read(p)
    )
    assert importlib.import_module("zipguard_mod").X == 1

    worker_daemon.guard_zip_rereads()
    importlib.invalidate_caches()  # first sight: read once, key recorded
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads

    _write_module_zip(archive, "X = 22\n")  # same inode, new size and mtime
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    del sys.modules["zipguard_mod"]
    assert importlib.import_module("zipguard_mod").X == 22


def test_udf_workers_fork_from_the_daemon(spark):
    """A pandas UDF's worker runs under the daemon module as
    ``__main__``, with every preloaded module already imported."""
    from pyspark.sql.functions import pandas_udf

    preload = worker_daemon.PRELOAD

    @pandas_udf("string")
    def main_module(x: pd.Series) -> pd.Series:
        import sys

        spec = getattr(sys.modules["__main__"], "__spec__", None)
        loaded = all(m in sys.modules for m in preload)
        return pd.Series([f"{getattr(spec, 'name', None)} {loaded}"] * len(x))

    got = {
        r.m
        for r in spark.range(0, 8, numPartitions=2)
        .select(main_module("id").alias("m"))
        .collect()
    }
    assert got == {f"{worker_daemon.__name__} True"}
