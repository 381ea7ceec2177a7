"""SparkSession builder tuned for the extraction workload.

Tuning rationale (SURVEY.md §4):
- Arrow batches carry whole PDFs, so each batch is capped twice: at 256
  records (``maxRecordsPerBatch``), which amortizes Arrow IPC overhead
  over small documents, and at ``ARROW_BATCH_BYTES`` (``maxBytesPerBatch``),
  which bounds a batch of large ones: Spark closes a batch once it holds
  that many bytes, so a batch is at most the cap plus one record. The
  cap is above every batch either benchmark builds.
- AQE enabled: coalesces the post-shuffle partitions of the relational
  shell (metrics rollups, dedup joins); the extraction stage itself is a
  map-only pipeline and is sized explicitly via repartition.
- local[N] in the sandbox; on a real cluster the same code ships via
  spark-submit --py-files (see zpdfspark/spark/pipeline.py docstring).
- Python workers fork from ``zpdfspark.spark.worker_daemon`` instead of
  ``pyspark.daemon``. Stock pyspark re-parses ``pyspark.zip``'s central
  directory ~16 times per task (``importlib.invalidate_caches()`` in
  ``worker.main``), about 0.3 s before every UDF starts; the daemon
  memoizes that read and forks workers from a frozen heap with the
  kernel already imported (see its module docstring). It also starts
  from compiled pyspark: when an installed pyspark has the zip's
  version, it drops the zip from its path before importing pyspark, so
  the daemon's imports read cached bytecode instead of compiling
  pyspark's sources from the zip at every start.
  Only ``get_spark`` names the daemon, and only when zpdfspark was
  imported from a plain directory, which it also puts on the workers'
  PYTHONPATH. Spark starts the daemon before any task, so with
  ``--py-files`` alone (``pipeline.main``) the package reaches workers
  too late and every task would fail with ``No module named
  'zpdfspark'``. A cluster with zpdfspark installed on its executors
  can pass ``--conf spark.python.daemon.module=zpdfspark.spark.worker_daemon``
  itself.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DAEMON_MODULE = "zpdfspark.spark.worker_daemon"

# Codec of every parquet file the engine writes, passed per write as
# ``.option("compression", PARQUET_COMPRESSION)`` so the session's
# ``spark.sql.parquet.compression.codec`` is never touched. zstd (level 3,
# zstd-jni ships with Spark) against Spark's default snappy, measured on
# a 4-core host with pyarrow, url + text columns, 256-row groups:
#   pdf_heavy truth text, 1,024 docs, 1.69 MB raw: snappy 0.544 MB,
#     zstd 0.365 MB (-33%), gzip 0.294 MB at 14x zstd's write time;
#   mixed corpus text, 4,000 docs, 0.55 MB raw: snappy 0.186 MB,
#     zstd 0.135 MB (-27%), gzip 0.125 MB.
# The fused WARC ingest's output (8 bucket files of ~125 rows, ~3.7 KB
# of footer each) was 11.6-16.0% smaller in each of 12 seed-matched
# pairs (medians 0.1087 -> 0.0940 MB). Corpus size differs more between
# seeds than that (parent IQR 0.0166 MB, median gap 0.0147 MB), so over
# fresh seeds the gain is smaller than the seed-to-seed spread. zstd
# writes ~40% slower than snappy (7 ms instead of 5 ms for 1.69 MB of
# text), noise beside a kernel of >= 300 us per document; loading
# zstd-jni's native library costs up to ~0.3 s once per JVM.
PARQUET_COMPRESSION = "zstd"

# Byte cap of one Arrow batch into a Python UDF (module docstring).
# Without it, 64 records of 1 MiB in one partition reach the UDF as one
# 64 MiB batch.
ARROW_BATCH_BYTES = 16 << 20


def _package_root() -> str | None:
    """The directory zpdfspark was imported from, or None when it came
    from an archive such as a ``--py-files`` zip."""
    import zpdfspark

    root = os.path.dirname(os.path.dirname(os.path.abspath(zpdfspark.__file__)))
    return root if os.path.isdir(root) else None


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API, so it works on
    whatever filesystem the path lives on (local, HDFS, or an object
    store behind an FS connector)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def job_session(spark: SparkSession) -> SparkSession:
    """A copy of ``spark`` for one library job to set its tuned conf on:
    the JVM's ``cloneSession()``, reached through py4j (PySpark does not
    expose it). It starts with the caller's runtime conf (which
    ``newSession()`` drops), copies the caller's temp views when it first
    resolves a name, and shares the SparkContext, worker daemon and
    cache. Conf set on it never reaches the caller's queries."""
    return SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())


def get_spark(
    cores: int | str = "*",
    app_name: str = "zpdfspark",
    shuffle_partitions: int | None = None,
    arrow_batch_records: int = 256,
    extra_conf: dict | None = None,
) -> SparkSession:
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_records))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_BATCH_BYTES))
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    conf = dict(extra_conf or {})
    root = _package_root()
    if root is not None:
        conf.setdefault("spark.python.daemon.module", DAEMON_MODULE)
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p for p in (root, conf.get("spark.executorEnv.PYTHONPATH")) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
