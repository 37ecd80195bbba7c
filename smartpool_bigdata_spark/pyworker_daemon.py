"""Python-worker daemon for local engine sessions.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task (``setup_spark_files`` in PySpark's ``worker_util``). On CPython 3.11
that makes every cached ``zipimporter`` re-read its archive's directory:
a worker holds ~16 of them over ``pyspark.zip`` (1,328 files), the py4j
zip and the spark-core jar, and the re-reads cost 106–150 ms per task
before any user code runs (a 1-partition ``mapInPandas`` took 284 ms, the
same plan with no Python 29 ms, on a 4-vCPU host).

Run as ``python -m smartpool_bigdata_spark.pyworker_daemon`` (Spark does,
through ``spark.python.daemon.module``), this module wraps
``zipimporter.invalidate_caches`` and then runs PySpark's own daemon,
``pyspark.daemon.manager``. The wrapper re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since the last read of that path, so a
rewritten or new archive is still re-read and imports behave as before.
The workers the daemon forks inherit the wrapper and the archives it has
already read. ``session.session_builder`` selects this daemon for local
masters.
"""

from __future__ import annotations

import importlib
import os
import zipimport


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` so that an unchanged archive
    keeps its directory listing. Each call wraps the current method with
    a fresh record of what has been read."""
    reread = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple[int, int] | None] = {}  # archive -> stamp before its last read

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and read_at.get(self.archive) == stamp:
            # Another importer of this archive may have re-read it since
            # this one was made: share that listing.
            self._files = files
            return
        # Stat before the read: a rewrite racing the read leaves the older
        # stamp, so the next call reads again.
        reread(self)
        read_at[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    # Read each archive once here, after PySpark's imports, so that forked
    # workers start with every archive's stamp recorded.
    importlib.invalidate_caches()
    manager()
