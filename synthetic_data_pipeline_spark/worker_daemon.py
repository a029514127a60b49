"""The Python worker daemon of the engine's sessions
(``spark.python.daemon.module`` in ``session._DEFAULT_CONF``).

Spark forks every Python worker from one daemon process. This one
imports what the package's UDF tasks need (pandas, pyarrow, the pyspark
worker and the package's UDF modules) once, before it forks, so a
worker starts with them loaded; then it runs pyspark's own daemon loop.

The daemon's stdout carries its port handshake with the JVM, so the
preload sends anything an import prints to stderr.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import sys
import zipimport

PRELOAD = (
    "pandas",
    "pyarrow",
    "pyspark.worker",
    "pyspark.sql.pandas.serializers",
    f"{__package__}.plans.generate",
    f"{__package__}.sources.renditions",
    f"{__package__}.operators.generation",
)


def _archive_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def guard_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's (inode, size, mtime) changed.

    pyspark calls ``importlib.invalidate_caches()`` in every task
    (``worker_util.setup_spark_files``); before Python 3.12 that re-reads
    the directory of every zip on the worker path (pyspark.zip, the
    spark-core jar), 0.13-0.18 CPU s a task. Python 3.12 re-reads lazily
    (gh-103200): delete this once the floor is 3.12.
    """
    reread = zipimport.zipimporter.invalidate_caches
    seen: dict[str, tuple | None] = {}

    def invalidate_caches(self) -> None:
        key = _archive_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and seen.get(self.archive) == key and files is not None:
            self._files = files
            return
        reread(self)
        seen[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    with contextlib.redirect_stdout(sys.stderr):
        for name in PRELOAD:
            importlib.import_module(name)
    if sys.version_info < (3, 12):
        guard_zip_rereads()
        # read every archive once here, so forked workers inherit its key
        importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
