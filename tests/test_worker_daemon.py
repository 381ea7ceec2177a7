"""zpdfspark/spark/worker_daemon.py: the Python-worker daemon that
get_spark names — zip central directories read once per unchanged
archive, still re-read when an archive changes, and workers that import
zpdfspark whatever the working directory of the launching process."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

pyspark = pytest.importorskip("pyspark")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def spark():
    from zpdfspark.spark.session import get_spark

    s = get_spark(2, "zpdfspark-daemon-tests", shuffle_partitions=2)
    yield s
    s.stop()


class _CountingIO:
    """Stands in for zipimport's ``_io`` module and records every archive
    that zipimport opens."""

    def __init__(self, real):
        self.real = real
        self.opened = []

    def __getattr__(self, name):
        return getattr(self.real, name)

    def open_code(self, path):
        self.opened.append(os.fspath(path))
        return self.real.open_code(path)


def test_get_spark_names_the_daemon(spark):
    from zpdfspark.spark.session import DAEMON_MODULE

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON_MODULE
    assert REPO in conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)


def test_task_does_not_reread_pyspark_zip(spark):
    """pyspark's worker calls importlib.invalidate_caches() for every
    task; under the daemon that no longer re-parses pyspark.zip."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        importers = sum(
            1 for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter)
            and f.archive.endswith("pyspark.zip"))
        real = zipimport._io
        opened = []

        class Counting:
            def __getattr__(self, name):
                return getattr(real, name)

            def open_code(self, path):
                opened.append(str(path))
                return real.open_code(path)

        zipimport._io = Counting()
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._io = real
        reads = sum(1 for p in opened if p.endswith("pyspark.zip"))
        yield pa.RecordBatch.from_pydict(
            {"importers": [importers], "reads": [reads]})

    if not hasattr(zipimport, "_io"):
        pytest.skip("this Python's zipimport has no _io to count reads with")
    row = spark.range(0, 1, 1, 1).mapInArrow(
        probe, "importers long, reads long").collect()[0]
    # an importer of the zip is cached (the daemon module's search went
    # through it, and pyspark's own modules when the zip is kept), so the
    # stock daemon would re-read it once per importer per call
    assert row["importers"] > 0
    assert row["reads"] == 0


def test_changed_zip_is_reread(tmp_path, monkeypatch):
    """Without Spark: the memo keys on the archive's inode, size and
    mtime, so a zip that gains a module after import is re-read and the
    new module imports; an unchanged zip is not re-read."""
    from zpdfspark.spark.worker_daemon import memoize_zip_directories

    if not hasattr(zipimport, "_read_directory"):
        pytest.skip("this Python's zipimport has no _read_directory")
    monkeypatch.setattr(zipimport, "_read_directory",
                        zipimport._read_directory)
    counting = _CountingIO(zipimport._io)
    monkeypatch.setattr(zipimport, "_io", counting)
    assert memoize_zip_directories()

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zd_first.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zd_first").VALUE == 1

        counting.opened.clear()
        importlib.invalidate_caches()
        assert archive not in counting.opened

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("zd_second.py", "VALUE = 2\n")
        importlib.invalidate_caches()
        assert archive in counting.opened
        assert importlib.import_module("zd_second").VALUE == 2
    finally:
        sys.path_importer_cache.pop(archive, None)
        for name in ("zd_first", "zd_second"):
            sys.modules.pop(name, None)


def test_udf_runs_with_cwd_outside_repo(tmp_path):
    """The daemon module is found through spark.executorEnv.PYTHONPATH,
    not through the launching process's working directory."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from pyspark.sql import functions as F\n"
        "from zpdfspark.spark.session import get_spark\n"
        "spark = get_spark(1, 'daemon-cwd-test', shuffle_partitions=1)\n"
        "try:\n"
        "    plus = F.udf(lambda x: x + 1, 'long')\n"
        "    got = [r[0] for r in spark.range(3).select(plus('id')).collect()]\n"
        "    print(spark.sparkContext.getConf()"
        ".get('spark.python.daemon.module'), got)\n"
        "finally:\n"
        "    spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "zpdfspark.spark.worker_daemon [1, 2, 3]" in out.stdout


def test_daemon_imports_pandas_before_forking():
    """Without Spark: main() imports pandas and pyarrow's pandas layer
    before it hands over to pyspark.daemon.manager(), so every forked
    worker inherits them instead of importing pandas at its first
    Python-to-Arrow conversion."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "import pyspark.daemon\n"
        "from zpdfspark.spark import worker_daemon\n"
        "before = 'pandas' in sys.modules\n"
        "pyspark.daemon.manager = lambda: print(before, all(\n"
        "    m in sys.modules for m in ('pandas', 'pyarrow.pandas_compat')))\n"
        "worker_daemon.main()\n"
    )
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split() == ["False", "True"]


def test_task_imports_compiled_pyspark(spark):
    """Workers import pyspark from the installed package, whose compiled
    bytecode is cached, not from Spark's pyspark.zip, when both hold the
    same version."""
    from zpdfspark.spark.worker_daemon import _version

    zipped = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib",
                          "pyspark.zip")
    if not os.path.isfile(zipped):
        pytest.skip("no pyspark.zip under SPARK_HOME")
    with zipfile.ZipFile(zipped) as z:
        if _version(z.read("pyspark/version.py")) != \
                pyspark.__version__.encode():
            pytest.skip("the installed pyspark is not the zip's version")

    def probe(batches):
        import pyspark as p
        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"file": [p.__file__]})

    path = spark.range(0, 1, 1, 1).mapInArrow(probe, "file string") \
        .collect()[0]["file"]
    assert os.path.isfile(path) and ".zip" not in path, path


def _fake_pyspark_zip(path, version: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = {version!r}\n")
    return str(path)


@pytest.mark.parametrize("same", [True, False])
def test_prefer_installed_pyspark(tmp_path, monkeypatch, same):
    """Without Spark: the zip leaves sys.path only when the installed
    pyspark has its version; a mismatch keeps the zip."""
    from zpdfspark.spark.worker_daemon import prefer_installed_pyspark

    version = pyspark.__version__ if same else "0.0.0"
    archive = _fake_pyspark_zip(tmp_path / "pyspark.zip", version)
    path = [archive, *sys.path]
    monkeypatch.setattr(sys, "path", path)
    monkeypatch.delitem(sys.modules, "pyspark")
    assert prefer_installed_pyspark() is same
    assert (archive in sys.path) is not same
    assert sys.path is path
