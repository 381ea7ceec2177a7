"""The scale pipeline: partitioning, skew salting, per-partition lineage,
checkpoint/resume. This is the ``main.zig`` of the engine — the job
driver deployed via ``spark-submit --py-files zpdfspark.zip
zpdfspark/spark/pipeline.py`` (north_rule).

Design for 10^12 documents (SURVEY.md §4):

- **Partition pruning**: input is an Iceberg/parquet table partitioned
  on warc_ts buckets; a ``--since/--until`` predicate prunes partitions
  at the scan (Catalyst built-in — nothing custom).
- **Skew**: one 2 GB PDF in a batch starves a task. Levers: (a)
  opt-in salted repartition on a full-width ``xxhash64(url)``
  (``--repartition-blobs``) spreads documents uniformly when the input
  file layout is size-correlated — it is OFF by default because it
  shuffles every raw blob, which a 100 TB job must not do when scan
  splits are already uniform; (b) optional big-document isolation
  (``--big-doc-bytes``, which implies the repartition): blobs above the
  threshold are unioned in from their own partition space so a giant
  never co-resides with a share of small docs (costs a second source
  pass — see ``salted``); (c) small Arrow batches (session.py) bound
  per-batch latency; (d) ``--max-doc-bytes`` skips pathological blobs
  with an error record.
- **Lineage + resume**: work is divided into ``n_buckets`` deterministic
  url-hash buckets. Each bucket's output is written under
  ``out/data/bucket=K/`` and a lineage row (bucket, counts, error
  totals, wall time, status) is appended to the sidecar, a JSON file the
  driver writes through the Hadoop FileSystem API (no Spark job). A
  bucket that got no document has a row of zeros but no ``bucket=K``
  directory. The counts are summed during the write by one
  pass-through ``mapInArrow`` above the writer exchange
  (``_lineage_rollup``): each Arrow batch adds its per-bucket sums to a
  driver accumulator. That stage is the result stage, where Spark
  applies a task's accumulator update exactly once (failed attempts'
  updates are dropped, a re-run map stage cannot repeat them), and the
  driver cost is the same at any bucket count.
  Accumulators need classic PySpark: Spark Connect has none. On
  restart, completed buckets are skipped via an anti-join of the bucket
  domain against the lineage sidecar — the driver-contract "resume
  from checkpoint".
- **Read amplification**: every job is one or more passes of
  ``_run_pass``, each over a list of pending buckets. By default there
  is one pass per bucket, each filtering the source to its bucket. On a
  raw parquet dump that re-scans the input n_buckets times; at scale
  the input table must be bucketed on the SAME
  ``xxhash64(url) % n_buckets`` expression (Iceberg ``bucket(n, url)``
  partition transform) so each per-bucket scan prunes to its own
  partition — zero amplification AND bucket-granular resume. An input
  carrying a ``bucket`` partition column (one-time preparation:
  ``write_bucketed_input``) is detected and trusted: the per-bucket
  filter then partition-prunes at the scan (plan-tested). For
  unbucketed inputs, ``--single-pass`` runs one pass over all pending
  buckets (one scan) at the cost of run-granular rather than
  bucket-granular checkpointing; with a bucketed input, single_pass is
  ignored (per-bucket is already pruned and strictly better).
- All shuffles are explicit; by default the extraction stage is
  map-only directly on scan splits (split sizing via
  ``spark.sql.files.maxPartitionBytes``), with a single opt-in salting
  exchange for skewed layouts. The split size comes from the file
  source's listed size, not one stat per file, and is set only in the
  job's clone of the caller's session (``session.job_session``), so the
  caller's other queries never plan with it. Measured on the 60k-doc
  heavy corpus at pinned local[16], skipping the blob exchange cuts the
  end-to-end single-pass job from ~22 s to ~17 s.
- **Writer sizing**: in every pass, extracted rows reach the parquet
  writer through one ``REBALANCE`` exchange on ``bucket`` that AQE sizes
  by bytes: partitions coalesce up to, and skewed ones split at,
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, so writer tasks
  and files follow data volume — one file per bucket until a bucket
  outgrows that size. This needs AQE (on by default): with it off,
  ``REBALANCE`` is a plain hash exchange on ``bucket``, one writer task
  per bucket.
- **Sink format**: every parquet file the engine writes (data, bucketed
  input, ``cdx`` and per-document formats, the streaming sink) carries
  zstd column chunks, ``session.PARQUET_COMPRESSION`` passed as a write
  option so the session's codec conf is never set: extracted text takes
  27–33% fewer bytes than with Spark's default snappy.
"""

from __future__ import annotations

import argparse
import json
import os
import time
import uuid
from typing import List, Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

# absolute import so this file also works as a spark-submit primary
# script (run as __main__ with zpdfspark shipped via --py-files)
from zpdfspark.spark.session import (PARQUET_COMPRESSION, hadoop_path_exists,
                                     job_session)
from zpdfspark.spark.udfs import (EXTRACT_SCHEMA, BucketSums,
                                  extract_arrow_batches)

# (lineage field, extraction column it sums per bucket); n_docs counts rows
_LINEAGE_SUMS = (
    ("n_pages", "n_pages"), ("n_chars", "n_chars"),
    ("n_errors", "error_count"), ("n_encrypted", "is_encrypted"),
    ("objects_resolved", "objects_resolved"),
    ("streams_decoded", "streams_decoded"),
    ("structured_pages", "structured_pages"),
    ("stream_pages", "stream_pages"),
    ("geometric_pages", "geometric_pages"),
    ("coverage_fallbacks", "coverage_fallbacks"),
)


def salted(df: DataFrame, partitions: int, big_doc_bytes: int = 0
           ) -> DataFrame:
    """Salted repartition of the input, with optional big-document
    isolation.

    Base behavior: repartition on a full-width ``xxhash64(url, 0)`` so
    Spark's hash-partitioner sees a uniform key domain. (Hashing a
    pre-computed pmod value re-hashes a tiny domain and leaves
    partitions empty/skewed — measured in tests.)

    With ``big_doc_bytes > 0``, documents above the threshold are split
    into their OWN partition space (a union of two repartitions, the big
    side keyed on another seed), so a giant blob's task carries no share
    of small documents. Hash partitioning alone cannot provide that
    isolation — a big doc's partition always co-hosts ~1/partitions of
    the small docs. The split costs a second pass over the source (the
    size predicate needs the blob), so it is opt-in; at scale, prefer
    persisting the bucket or carrying a size column in the table schema.
    """
    small_key = F.xxhash64(F.col("url"), F.lit(0))
    if not big_doc_bytes:
        return df.repartition(partitions, small_key)
    size = F.length("html")
    big_key = F.xxhash64(F.col("url"), F.lit(0x9E3779B9))
    small = df.where(size <= big_doc_bytes).repartition(partitions, small_key)
    big = df.where(size > big_doc_bytes).repartition(
        max(partitions // 4, 1), big_key)
    return small.unionByName(big)


def _lineage_rollup(df: DataFrame):
    """``df`` passed through one ``mapInArrow`` that adds each Arrow
    batch's per-bucket lineage sums (row count plus the ``_LINEAGE_SUMS``
    columns, nulls as 0) to a driver accumulator, and the accumulator.

    The rollup rides along with the write, so lineage costs no extra
    read of input or output (at 100 TB, re-scanning the output just to
    count it is a full extra job), and building it costs the driver a
    fixed number of py4j commands whatever the bucket count. Callers
    place it ABOVE the writer exchange, in the result stage: Spark
    applies a result task's accumulator update once per partition and
    drops failed attempts', while a shuffle-map stage re-applies the
    update of every map task that is re-run (a fetch failure, an
    executor loss, speculation). Accumulators need classic PySpark:
    Spark Connect has none."""
    acc = df.sparkSession.sparkContext.accumulator({}, BucketSums())
    cols = [c for _, c in _LINEAGE_SUMS]

    def rollup(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def values(batch, col):
            arr = batch.column(col)
            if arr.null_count:
                arr = pc.fill_null(arr.cast(pa.int64()), 0)
            return arr.to_numpy(zero_copy_only=False)

        for batch in batches:
            if batch.num_rows:
                rows = np.column_stack(
                    [np.ones(batch.num_rows, np.int64)]
                    + [values(batch, c) for c in cols])
                keys, at = np.unique(batch.column("bucket").to_numpy(),
                                     return_inverse=True)
                sums = np.zeros((len(keys), rows.shape[1]), np.int64)
                np.add.at(sums, at, rows)
                acc.add(dict(zip(keys.tolist(), sums.tolist())))
            yield batch

    return df.mapInArrow(rollup, df.schema), acc


def _lineage_rows(sums: dict, buckets: List[int], wall: float,
                  finished: str) -> List[dict]:
    """One lineage row per bucket from the rollup's accumulated ``sums``,
    its keys in sidecar field order (_append_lineage writes them as they
    come). A bucket that saw no document gets a row of zeros, so a rerun
    skips it like any other complete bucket."""
    zeros = [0] * (1 + len(_LINEAGE_SUMS))
    rows = []
    for b in buckets:
        got = sums.get(b, zeros)
        row = {"bucket": b, "n_docs": got[0]}
        row.update(zip((f for f, _ in _LINEAGE_SUMS), got[1:]))
        row.update(wall_secs=wall, status="ok", finished_at=finished)
        rows.append(row)
    return rows


def _append_lineage(spark: SparkSession, rows: List[dict],
                    lineage_path: str) -> None:
    """Append lineage rows to the sidecar as one JSON-lines file, written
    by the driver through the Hadoop FileSystem API, so no Spark job
    runs. The file is written under a hidden ``_`` name (readers skip
    it) and renamed into place, so a reader never sees half a file. The
    lines are the ones Spark's JSON writer printed: fields in row order,
    nulls left out, doubles in Java ``Double.toString`` form
    (``5.0E-4``, not ``0.0005``)."""
    jvm = spark._jvm
    java_double = jvm.java.lang.Double.toString
    lines = []
    for row in rows:
        fields = (f'"{k}":' + (java_double(v) if isinstance(v, float)
                               else json.dumps(v, ensure_ascii=False))
                  for k, v in row.items() if v is not None)
        lines.append("{" + ",".join(fields) + "}\n")
    Path = jvm.org.apache.hadoop.fs.Path
    name = f"part-{uuid.uuid4()}.json"
    tmp, final = Path(lineage_path, "_" + name), Path(lineage_path, name)
    fs = final.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, False)
    try:
        out.write(bytearray("".join(lines).encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise IOError(f"could not rename lineage file into {final}")


def _tune_scan_splits(spark: SparkSession, df: DataFrame,
                      partitions: int) -> None:
    """Size parquet scan splits so the source yields ≈``partitions``
    map tasks. The map-only design hinges on this: with no repartition
    exchange, scan splits ARE the work units, and the default 128 MB
    ``maxPartitionBytes`` gives a blob table too few, too-coarse splits
    (one straggler split = one idle-cores tail). Callers pass
    ``partitions`` ≈ 4× the core count (the run_extraction_job default
    and bench.py's measured sweep optimum) so every core gets ~4 waves.

    Every scan of ``spark`` plans with the size set here, so
    run_extraction_job passes its job's clone of the caller's session."""
    try:
        total = partitions and _input_bytes(spark, df)
        if total:
            target = max(total // partitions + 1, 1 << 20)
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
    except Exception:
        pass  # stats unavailable (e.g. some catalogs) — keep defaults


def _input_bytes(spark: SparkSession, df: DataFrame) -> int:
    """Summed length of the files ``df`` reads. When the optimized plan's
    one leaf is a file-source relation, its file index already holds the
    lengths from the listing it made: a fixed handful of py4j commands
    whatever the file count (a Common Crawl segment is ~90k archives).
    Otherwise each of ``inputFiles()`` is stat'ed through the Hadoop
    FileSystem, about a dozen commands per file."""
    from py4j.protocol import Py4JError

    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    if leaves.size() == 1:
        try:
            return leaves.apply(0).relation().location().sizeInBytes()
        except Py4JError:
            pass  # not a HadoopFsRelation
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    total = 0
    for f in df.inputFiles():
        p = Path(f)
        total += p.getFileSystem(conf).getFileStatus(p).getLen()
    return total


def bucket_of(url_col, n_buckets: int):
    """Deterministic resume bucket: stable across runs and cluster sizes."""
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def write_bucketed_input(spark: SparkSession, input_path: str,
                         output_path: str, n_buckets: int = 8,
                         input_format: str = "parquet") -> None:
    """One-time preparation job: rewrite a crawl table laid out by the
    resume bucket (``bucket=K`` partition directories, same
    ``bucket_of()`` expression the pipeline derives), so that EVERY
    per-bucket extraction scan partition-prunes to exactly its own
    directory — n_buckets resumable scans read the input once in total
    instead of n_buckets times (the read-amplification fix in the module
    docstring). Iceberg analog: ``PARTITIONED BY (bucket(n, url))``."""
    if input_format == "iceberg":
        df = spark.read.format("iceberg").load(input_path)
    else:
        df = spark.read.parquet(input_path)
    (df.withColumn("bucket", bucket_of(F.col("url"), n_buckets))
       .write.mode("overwrite").option("compression", PARQUET_COMPRESSION)
       .partitionBy("bucket").parquet(output_path))


def _bucket_domain_from_listing(spark: SparkSession,
                                input_path: str) -> Optional[List[str]]:
    """Partition values live in the directory names (``bucket=K``) — read
    the domain from the file listing (one metadata RPC per child, works on
    HDFS/S3 via the Hadoop FS API) instead of scanning all the data.
    Returns None when the layout isn't a bucket=K partition tree (then the
    caller falls back to a pruned filter)."""
    try:
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(input_path)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        vals = [st.getPath().getName().split("=", 1)[1]
                for st in fs.listStatus(path)
                if st.isDirectory()
                and st.getPath().getName().startswith("bucket=")]
        return vals or None
    except Exception:
        return None


def _validate_bucket_domain(spark: SparkSession, df, input_path: str,
                            input_format: str, n_buckets: int) -> None:
    """Guard against a mismatched --buckets / unrelated 'bucket' column
    (values outside range(n_buckets) would be silently skipped forever by
    the per-bucket passes). ADVICE r2: the old full distinct().collect()
    was an extra whole-input Spark job on every run — instead (a) read the
    domain from the partition listing when the layout is bucket=K
    directories, else (b) run an out-of-range FILTER, which
    partition-prunes to zero splits on a healthy partitioned layout and is
    a single pushed-filter early-exit scan otherwise."""
    if input_format != "iceberg":
        listed = _bucket_domain_from_listing(spark, input_path)
        if listed is not None:
            bad = []
            for v in listed:
                try:
                    ok = 0 <= int(v) < n_buckets
                except ValueError:
                    ok = False
                if not ok:
                    bad.append(v)
            if bad:
                raise ValueError(
                    f"input 'bucket' partitions {sorted(bad)[:8]} outside "
                    f"range({n_buckets}); rerun write_bucketed_input with "
                    f"n_buckets={n_buckets} or pass --buckets to match")
            return
    out_of_range = df.where(
        F.col("bucket").isNull() | (F.col("bucket") < 0)
        | (F.col("bucket") >= n_buckets))
    bad_rows = out_of_range.select("bucket").limit(1).collect()
    if bad_rows:
        raise ValueError(
            f"input 'bucket' column has value {bad_rows[0][0]!r} outside "
            f"range({n_buckets}); rerun write_bucketed_input with "
            f"n_buckets={n_buckets} or pass --buckets to match the layout")


def completed_buckets(spark: SparkSession, lineage_path: str) -> List[int]:
    """Buckets with an ``ok`` lineage row under the ``lineage_path``
    directory. A missing directory (a fresh output) is checked with the
    Hadoop FileSystem first: reading it would fail with PATH_NOT_FOUND
    and log the JVM stack traces on every first run."""
    if not hadoop_path_exists(spark, lineage_path):
        return []
    try:
        lineage = spark.read.json(lineage_path)
    except Exception:
        return []
    if "bucket" not in lineage.columns:
        return []
    rows = lineage.where(F.col("status") == "ok").select("bucket").distinct().collect()
    return sorted(r["bucket"] for r in rows)


def run_extraction_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    mode: str = "accuracy",
    partitions: Optional[int] = None,
    n_buckets: int = 8,
    resume: bool = True,
    since: Optional[str] = None,
    until: Optional[str] = None,
    input_format: str = "parquet",
    max_doc_bytes: int = 0,
    big_doc_bytes: int = 0,
    single_pass: bool = False,
    repartition_blobs: bool = False,
    quality_gate: bool = False,
    http_ok_only: bool = False,
) -> dict:
    """Checkpoint-resumable extraction. Returns a summary dict.

    quality_gate=True appends a pure-JVM ``quality_keep`` boolean (the
    Gopher/MassiveText gate, streaming.gopher_keep_expr — the SAME
    predicate the streaming curation twin applies) to every output row.
    A column, not a row drop: resume/lineage idempotence is untouched,
    downstream picks the survivor set with a pushed-down filter on the
    parquet column, and the reject rows stay auditable in place.

    http_ok_only (WARC input only) drops response records whose HTTP
    status is not 200 — redirect stubs and error pages never reach the
    extraction kernel; the filter runs inside the record parse (fused
    path) or as a JVM predicate on the reader (two-stage path).

    input_format="iceberg" loads an Iceberg table name instead of a
    parquet path (same code path at scale: the warc_ts predicate then
    prunes bucket(warc_ts) partitions at the snapshot level).

    The job runs in a clone of ``spark`` (``session.job_session``), which
    keeps the split size it tunes: the caller's conf is never set.
    """
    if partitions is None:
        # ~4 map work-units per core: amortizes the wave tail whether
        # the units are scan splits (map-only) or shuffle partitions
        # (salted) — the measured sweep optimum (BASELINE.md)
        partitions = 4 * spark.sparkContext.defaultParallelism
    lineage_path = os.path.join(output_path, "_lineage")
    data_path = os.path.join(output_path, "data")
    spark = job_session(spark)

    repartition_blobs = repartition_blobs or big_doc_bytes > 0

    if input_format == "warc" and single_pass and not since and not until:
        # fused shape (the scale path): parse + extract in ONE Python
        # task, blobs never round-trip through the JVM between stages
        # (1.6x end-to-end on the 60k heavy soak); the pass derives the
        # bucket from url after extraction. Resume still works (pending
        # buckets filter post-extraction) but re-parses completed
        # archives — the two-stage form (_document_frame) is the
        # resume-heavy alternative. Split sizing reads only this
        # binaryFile relation's file listing, so no per-record document
        # plan is built on this path.
        from zpdfspark.spark.warc_source import (binary_files,
                                                 warc_extract_arrow_batches)
        src = binary_files(spark, input_path).select("path", "content")
        kernel = warc_extract_arrow_batches(mode, max_doc_bytes=max_doc_bytes,
                                            http_ok_only=http_ok_only)
    else:
        src, input_bucketed = _document_frame(spark, input_path, input_format,
                                              n_buckets, since, until,
                                              http_ok_only)
        # single-pass exists FOR unbucketed inputs (one scan instead of
        # n_buckets scans); with a bucketed layout each per-bucket scan is
        # already pruned, and bucket-granular checkpointing is strictly
        # better
        single_pass = single_pass and not input_bucketed
        kernel = extract_arrow_batches(mode, max_doc_bytes=max_doc_bytes)
    if not repartition_blobs:
        # map-only path: scan splits are the work units — size them
        _tune_scan_splits(spark, src, partitions)
    done = set(completed_buckets(spark, lineage_path)) if resume else set()
    todo = [b for b in range(n_buckets) if b not in done]
    rows = []
    for buckets in ([todo] if single_pass and todo else [[b] for b in todo]):
        rows += _run_pass(spark, src, kernel, buckets, n_buckets, partitions,
                          repartition_blobs, big_doc_bytes, quality_gate,
                          data_path, lineage_path)
    return {"buckets_total": n_buckets, "buckets_skipped": len(done),
            "buckets_run": len(rows), "docs": sum(r["n_docs"] for r in rows),
            "errors": sum(r["n_errors"] for r in rows)}


def _load_documents(spark: SparkSession, input_path: str, input_format: str,
                    since: Optional[str], until: Optional[str],
                    http_ok_only: bool = False) -> DataFrame:
    """The input's documents (url, warc_ts, html, ...) within
    ``--since/--until``: an Iceberg table, the records of ``.warc.gz``
    archives (one task per file, warc_source.py), or a parquet path."""
    if input_format == "iceberg":
        df = spark.read.format("iceberg").load(input_path)
    elif input_format == "warc":
        from zpdfspark.spark.warc_source import warc_documents
        df = warc_documents(spark, input_path, http_ok_only=http_ok_only)
    else:
        df = spark.read.parquet(input_path)
    # partition-prunable time predicate (Iceberg warc_ts buckets at scale)
    if since:
        df = df.where(F.col("warc_ts") >= F.lit(since))
    if until:
        df = df.where(F.col("warc_ts") < F.lit(until))
    return df


def _document_frame(spark: SparkSession, input_path: str, input_format: str,
                    n_buckets: int, since: Optional[str],
                    until: Optional[str], http_ok_only: bool):
    """The (url, html, bucket) document frame every pass but the fused
    WARC one extracts from, and whether the input already carried the
    bucket column."""
    df = _load_documents(spark, input_path, input_format, since, until,
                         http_ok_only)
    if "bucket" not in df.columns:
        return df.select("url", "html").withColumn(
            "bucket", bucket_of(F.col("url"), n_buckets)), False
    # the input table is ALREADY laid out by the resume bucket (a
    # `bucket=K` partition column, written by write_bucketed_input or
    # an Iceberg bucket transform): trust it — a per-bucket pass's
    # `bucket = K` filter then PRUNES the scan to one partition
    # directory (zero read amplification; pipeline docstring). The
    # column must have been produced by the same bucket_of()
    # expression with the same n_buckets — VALIDATE the domain, or a
    # mismatched --buckets (or an unrelated column that happens to be
    # named 'bucket') would silently skip rows forever: todo only
    # covers range(n_buckets), so bucket values outside it are never
    # selected by any scan while the job still reports success.
    df = df.select("url", "html", F.col("bucket").cast("int").alias("bucket"))
    _validate_bucket_domain(spark, df, input_path, input_format, n_buckets)
    return df, True


def _extracted(df: DataFrame, kernel, quality_gate: bool) -> DataFrame:
    """``df`` through the extraction ``kernel`` (one ``mapInArrow`` to
    EXTRACT_SCHEMA rows), plus the pure-JVM ``quality_keep`` column when
    ``quality_gate`` (run_extraction_job docstring)."""
    result = df.mapInArrow(kernel, EXTRACT_SCHEMA)
    if quality_gate:
        from zpdfspark.spark.streaming import gopher_keep_expr
        result = result.withColumn("quality_keep", gopher_keep_expr())
    return result


def _run_pass(spark, src, kernel, todo, n_buckets, partitions,
              repartition_blobs, big_doc_bytes, quality_gate, data_path,
              lineage_path) -> List[dict]:
    """One job over the pending ``todo`` buckets of ``src``: extraction,
    one writer exchange, the lineage rollup and a write into the
    ``bucket=K`` partitions of ``data_path``. Then one lineage row per
    bucket, an empty one included, is appended, and the rows returned.

    ``src`` is a document frame (url, html, bucket), filtered to ``todo``
    before the kernel, or a fused archive frame (path, content), whose
    bucket is derived from url and filtered after it."""
    t0 = time.time()

    def pending(d: DataFrame) -> DataFrame:
        # every bucket value is in range(n_buckets) (bucket_of, or the
        # validated input layout), so with none complete the filter is
        # always true: leave it out of the plan
        return d if len(todo) == n_buckets else d.where(
            F.col("bucket").isin(todo))

    if "bucket" in src.columns:
        part = pending(src).drop("bucket")
        if repartition_blobs:
            part = salted(part, partitions, big_doc_bytes=big_doc_bytes)
        # carry the bucket through the kernel as a label (cheaper than
        # widening the kernel schema): one bucket's rows keep the bucket
        # they were scanned under, so a bucketed input's trusted layout
        # stands; several buckets re-derive it from url, which is exact
        label = F.lit(todo[0]) if len(todo) == 1 \
            else bucket_of(F.col("url"), n_buckets)
        result = _extracted(part, kernel, quality_gate) \
            .withColumn("bucket", label)
    else:
        result = pending(_extracted(src, kernel, quality_gate).withColumn(
            "bucket", bucket_of(F.col("url"), n_buckets)))
    # shuffle the EXTRACTED rows (text — ~10x smaller than the raw
    # blobs, which stay map-only) into one bucket-keyed exchange that AQE
    # sizes by bytes (module docstring): each bucket is written as one
    # file unless it outgrows the advisory partition size. The lineage
    # rollup sits ABOVE that exchange, in the result stage, where its
    # accumulator updates are exactly-once (_lineage_rollup).
    out, sums = _lineage_rollup(result.hint("rebalance", "bucket"))
    # Dynamic partition overwrite instead of a blind append: a retried
    # run (job died after some task commits were visible — v2 committer,
    # object-store direct committers, or a prior run whose lineage write
    # failed) re-extracts exactly the pending buckets and OVERWRITES
    # those bucket=K partitions, so the resume is idempotent; an append
    # would duplicate the partial rows. A bucket with no rows writes no
    # partition. Set per write: library code never changes the session
    # conf.
    out.write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .option("compression", PARQUET_COMPRESSION) \
        .partitionBy("bucket").parquet(data_path)

    rows = _lineage_rows(sums.value, todo, time.time() - t0,
                         time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
    _append_lineage(spark, rows, lineage_path)
    return rows


def parse_page_range(spec: str):
    """'a-b' or 'n' -> inclusive 1-based (a, b) (main.zig:173-177)."""
    if "-" in spec:
        a, b = spec.split("-", 1)
        lo, hi = int(a), int(b)
    else:
        lo = hi = int(spec)
    if lo < 1 or hi < lo:
        raise ValueError(f"invalid page range {spec!r}")
    return lo, hi


def run_format_job(spark: SparkSession, input_path: str, output_path: str,
                   output_format: str, page_range=None,
                   input_format: str = "parquet",
                   since: Optional[str] = None,
                   until: Optional[str] = None,
                   mode: str = "accuracy",
                   partitions: Optional[int] = None) -> dict:
    """The CLI's non-default sinks (main.zig `-f json|markdown`, `-p`):
    a simple map-only write without bucket lineage — these are
    per-document renderings, re-runnable idempotently (overwrite). The
    checkpoint-resumable scale path remains the text pipeline
    (run_extraction_job)."""
    from zpdfspark.spark.udfs import (document_json_dataframe,
                                      markdown_dataframe, metadata_dataframe,
                                      pages_dataframe)

    data_path = os.path.join(output_path, "data")
    if output_format in ("cdx", "zipnum"):
        # CDX(J) index rows straight off the archives (the warc_cdx query
        # as a CLI sink): cdx writes them as sorted parquet, the
        # relational form; zipnum as ZipNum-clustered blocks plus
        # cluster.idx, the CC secondary-index file form. Both read the
        # archives, not the filtered document frame, so page ranges and
        # --since/--until are refused rather than silently ignored.
        if input_format != "warc":
            raise ValueError(
                f"--format {output_format} requires --input-format warc")
        if page_range is not None:
            raise ValueError(f"--pages does not apply to --format "
                             f"{output_format}")
        if since or until:
            raise ValueError(f"--since/--until do not apply to --format "
                             f"{output_format}")
        from zpdfspark.spark.warc_source import warc_cdx

        if output_format == "cdx":
            out = warc_cdx(spark, input_path).orderBy("urlkey", "cdx_ts")
        else:
            from zpdfspark.spark.warc_sink import (write_cluster_idx,
                                                   write_zipnum)

            idx = write_zipnum(warc_cdx(spark, input_path), data_path,
                               partitions=partitions).cache()
            try:
                blocks = idx.count()
                n_lines = (idx.agg(F.sum("n_lines")).collect()[0][0]
                           if blocks else 0)
                cluster = write_cluster_idx(idx, data_path)
            finally:
                idx.unpersist()
            return {"format": output_format, "rows": int(n_lines or 0),
                    "blocks": int(blocks), "cluster_idx": cluster,
                    "output": data_path}
    else:
        # WARC input converts archive -> derivative in one job (the
        # canonical Common Crawl WARC -> WET/WAT conversion):
        # warc_documents yields the same (url, warc_ts, html) shape the
        # parquet path reads
        df = _load_documents(spark, input_path, input_format, since, until)
        if output_format == "json":
            out = document_json_dataframe(df, page_range=page_range)
        elif output_format == "markdown":
            out = markdown_dataframe(df, page_range=page_range)
        elif output_format == "info":
            # the `zpdf info` analog (main.zig:98-160): metadata + page
            # count + encryption flag per document. Like the reference,
            # info is a document-level report — a page range is a usage
            # error, not something to silently ignore.
            if page_range is not None:
                raise ValueError("--pages does not apply to --format info")
            out = metadata_dataframe(df)
        elif output_format in ("wet", "wat", "jsonl"):
            # derivative exports: *.warc.wet.gz conversion records /
            # *.warc.wat.gz metadata records / *.jsonl.gz dataset-release
            # shards (spark/warc_sink.py — fused mine+serialize+write,
            # one file per partition, deterministic + idempotent)
            if page_range is not None:
                raise ValueError(
                    f"--pages does not apply to --format {output_format}")
            from zpdfspark.spark.warc_sink import (write_jsonl, write_wat,
                                                   write_wet)

            if output_format == "wet":
                sink = write_wet(df, data_path, mode=mode,
                                 partitions=partitions)
            elif output_format == "jsonl":
                if "lang" not in df.columns:
                    df = df.withColumn("lang", F.lit(None).cast("string"))
                sink = write_jsonl(df, data_path, mode=mode,
                                   partitions=partitions)
            else:
                sink = write_wat(df, data_path, partitions=partitions)
            summaries = sink.collect()
            return {"format": output_format,
                    "rows": int(sum(r["n_records"] for r in summaries)),
                    "files": len(summaries), "output": data_path}
        else:  # per-page text rows for an explicit --pages range
            out = pages_dataframe(df, page_range=page_range)
    obs = Observation("fmt")
    out.observe(obs, F.count(F.lit(1)).alias("rows")) \
        .write.mode("overwrite") \
        .option("compression", PARQUET_COMPRESSION).parquet(data_path)
    return {"format": output_format, "rows": int(obs.get["rows"]),
            "output": data_path}


def main(argv: Optional[List[str]] = None) -> None:
    """spark-submit entry: the CLI analog of the reference's
    ``zpdf extract`` (/root/reference/src/main.zig:12-96)."""
    ap = argparse.ArgumentParser(description="zpdfspark extraction pipeline")
    ap.add_argument("--input", required=True, help="input parquet path/table")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--mode", choices=("accuracy", "fast"), default="accuracy")
    ap.add_argument("--format",
                    choices=("text", "json", "markdown", "info", "wet",
                             "wat", "jsonl", "zipnum", "cdx"),
                    default="text",
                    help="text = full extraction rows with lineage/resume "
                         "(the scale pipeline); json = one {metadata, "
                         "outline, pages} object per doc; markdown = "
                         "rendered markdown (main.zig -f); info = "
                         "metadata/page-count rows (the `zpdf info` "
                         "analog); wet = Common Crawl *.warc.wet.gz "
                         "conversion records of the extracted text; "
                         "wat = *.warc.wat.gz per-capture JSON "
                         "metadata records (lengths, head metadata, "
                         "outlinks); jsonl = gzipped one-object-per-"
                         "document *.jsonl.gz shards (the C4/Dolma "
                         "dataset-release interchange); "
                         "zipnum = ZipNum-clustered CDX "
                         "blocks + cluster.idx; cdx = CDX(J) index "
                         "rows as sorted parquet (both WARC input "
                         "only)")
    ap.add_argument("--pages", default=None,
                    help="inclusive 1-based page range 'a-b' or 'n' "
                         "(main.zig -p): applies the kernel-side page "
                         "filter; with --format text this emits per-page "
                         "rows instead of whole-document rows")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--http-ok-only", action="store_true",
                    help="WARC input: drop response records with a "
                         "non-200 HTTP status before extraction")
    ap.add_argument("--quality-gate", action="store_true",
                    help="append the pure-JVM Gopher quality_keep column "
                         "(same predicate as the streaming curation twin)")
    ap.add_argument("--since", default=None, help="warc_ts lower bound")
    ap.add_argument("--until", default=None, help="warc_ts upper bound")
    ap.add_argument("--input-format", choices=("parquet", "iceberg", "warc"),
                    default="parquet")
    ap.add_argument("--max-doc-bytes", type=int, default=0,
                    help="skip blobs larger than this (0 = no cap)")
    ap.add_argument("--single-pass", action="store_true",
                    help="process all pending buckets in one job (one "
                         "source scan; run-granular checkpointing)")
    ap.add_argument("--big-doc-bytes", type=int, default=0,
                    help="isolate blobs larger than this into their own "
                         "partitions (0 = off; costs a second source pass)")
    ap.add_argument("--repartition-blobs", action="store_true",
                    help="salted repartition of the raw blobs before "
                         "extraction (implied by --big-doc-bytes; "
                         "default is map-only on scan splits)")
    args = ap.parse_args(argv)

    spark = SparkSession.builder.appName("zpdfspark-extract").getOrCreate()
    if args.format != "text" or args.pages:
        summary = run_format_job(
            spark, args.input, args.output, args.format,
            page_range=parse_page_range(args.pages) if args.pages else None,
            input_format=args.input_format, since=args.since,
            until=args.until, mode=args.mode, partitions=args.partitions,
        )
        print(json.dumps(summary))
        spark.stop()
        return
    summary = run_extraction_job(
        spark, args.input, args.output, mode=args.mode,
        partitions=args.partitions, n_buckets=args.buckets,
        resume=not args.no_resume, since=args.since, until=args.until,
        input_format=args.input_format, max_doc_bytes=args.max_doc_bytes,
        big_doc_bytes=args.big_doc_bytes, single_pass=args.single_pass,
        repartition_blobs=args.repartition_blobs,
        quality_gate=args.quality_gate,
        http_ok_only=args.http_ok_only,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
