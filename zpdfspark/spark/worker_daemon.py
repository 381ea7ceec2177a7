"""Python-worker daemon for zpdfspark sessions: ``pyspark.daemon`` with a
cheaper per-task worker set-up.

Spark forks every Python worker from one daemon process. For each task,
pyspark's ``worker.main`` calls ``importlib.invalidate_caches()``. On
CPython 3.11 that makes every ``zipimporter`` cached on the path re-read
its archive's central directory; the ~16 importers inside ``pyspark.zip``
each parse its ~27k entries, which adds up to most of the ~0.3 s that a
task spends before its UDF starts. Before this module hands over to
``pyspark.daemon.manager()`` it does three things:

1. Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on the
   workers' path, and Python caches no bytecode for modules imported
   from a zip, so every daemon start compiles pyspark's ~1,170 sources
   again: the daemon's imports (pyspark's daemon and worker, pandas)
   took a median 1.40 s from the zip against 0.53 s from the installed
   package, 6 runs each on a 4-core Xeon VM. When a pyspark of the same
   ``__version__`` is installed in a directory on the path, the daemon
   drops the zip from ``sys.path`` before pyspark is first imported,
   and imports that one instead; otherwise it keeps the zip.
2. It memoizes ``zipimport._read_directory`` on (path, inode, size,
   mtime_ns). An unchanged archive is then parsed once, in the daemon,
   and a rewritten one is still re-read. A Python without
   ``zipimport._read_directory`` skips this step.
3. It imports the extraction kernel and pandas, then calls
   ``gc.freeze()``. Forked workers inherit a warm heap, and the ``gc.collect()`` that the daemon
   runs after every reused task only walks objects made since the fork.

Start it by naming it in ``spark.python.daemon.module``; ``session.get_spark``
does that when zpdfspark is importable by the executors' Python. Starting
it as ``python -m zpdfspark.spark.worker_daemon`` imports no pyspark
module before ``main()`` runs: ``zpdfspark.spark`` resolves its exports
lazily.
"""

from __future__ import annotations

import gc
import importlib
import importlib.machinery
import os
import re
import sys
import zipfile
import zipimport

_VERSION = re.compile(rb"""__version__[^=]*=\s*['"]([^'"]+)['"]""")


def _version(source: bytes) -> bytes | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def prefer_installed_pyspark() -> bool:
    """Drop every ``pyspark.zip`` from ``sys.path`` when the rest of the
    path holds a directory-installed pyspark whose ``__version__`` equals
    the zip's. Returns whether it dropped one. Call it before pyspark is
    first imported; once it is, this changes nothing."""
    if "pyspark" in sys.modules:
        return False
    zips = [p for p in sys.path if os.path.basename(p) == "pyspark.zip"]
    rest = [p for p in sys.path if p not in zips]
    spec = importlib.machinery.PathFinder.find_spec("pyspark", rest)
    if not zips or spec is None or not spec.submodule_search_locations:
        return False
    try:
        with open(os.path.join(spec.submodule_search_locations[0],
                               "version.py"), "rb") as f:
            installed = _version(f.read())
        with zipfile.ZipFile(zips[0]) as z:
            zipped = _version(z.read("pyspark/version.py"))
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    if installed is None or installed != zipped:
        return False
    sys.path[:] = rest
    return True


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
    prefer_installed_pyspark()
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
