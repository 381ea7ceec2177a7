"""Python-worker daemon for zpdfspark sessions: ``pyspark.daemon`` with a
cheaper per-task worker set-up.

Spark forks every Python worker from one daemon process. For each task,
pyspark's ``worker.main`` calls ``importlib.invalidate_caches()``. On
CPython 3.11 that makes every ``zipimporter`` cached on the path re-read
its archive's central directory; the ~16 importers inside ``pyspark.zip``
each parse its ~27k entries, which adds up to most of the ~0.3 s that a
task spends before its UDF starts. Before this module hands over to
``pyspark.daemon.manager()`` it does two things:

1. It memoizes ``zipimport._read_directory`` on (path, inode, size,
   mtime_ns). An unchanged archive is then parsed once, in the daemon,
   and a rewritten one is still re-read. A Python without
   ``zipimport._read_directory`` skips this step.
2. It imports the extraction kernel and pandas, then calls
   ``gc.freeze()``. Forked workers inherit a warm heap, and the ``gc.collect()`` that the daemon
   runs after every reused task only walks objects made since the fork.

Start it by naming it in ``spark.python.daemon.module``; ``session.get_spark``
does that when zpdfspark is importable by the executors' Python.
"""

from __future__ import annotations

import gc
import importlib
import os
import zipimport


def memoize_zip_directories() -> bool:
    """Make ``zipimport._read_directory`` return its previous result for an
    archive whose (inode, size, mtime_ns) has not changed. Returns False,
    and patches nothing, when this Python's zipimport has no such hook."""
    read = getattr(zipimport, "_read_directory", None)
    if read is None:
        return False
    seen: dict = {}

    def _read_directory(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return read(archive)  # raises the ZipImportError callers expect
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
        hit = seen.get(archive)
        if hit is None or hit[0] != key:
            hit = seen[archive] = (key, read(archive))
        return hit[1]

    zipimport._read_directory = _read_directory
    return True


def main() -> None:
    if memoize_zip_directories():
        # fill the memo for every archive already on the path, so that
        # each forked worker inherits it instead of reading them again
        importlib.invalidate_caches()
    # pyspark.daemon imports pyspark.worker; both, and the kernel, are
    # then part of the frozen heap every forked worker starts from
    import pyspark.daemon

    import zpdfspark.kernel.htmltext  # noqa: F401

    # pyarrow imports pandas the first time a worker converts Python
    # values, and the pandas-batch kernels need it as well: import it once
    # here, where it costs ~0.4 s, rather than in every new worker
    import pandas  # noqa: F401
    import pyarrow.pandas_compat  # noqa: F401

    gc.collect()
    gc.freeze()
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
