"""Common-Crawl-style WARC ingestion source.

Crawl corpora ship as WARC archives (ISO 28500; Common Crawl: ~1 GB
.warc.gz files with one gzip member per record, ~64k files per
monthly crawl), not parquet. This source reads them Spark-natively:

- `spark.read.format("binaryFile")` makes the WARC FILE the unit of
  parallelism — exactly the right granularity at crawl scale (the
  per-record gzip layout is not block-splittable, and CC sizes files
  so one file ≈ one task);
- records are parsed INSIDE the scan task (kernel/warc.py) as a 1->N
  per-archive expansion on udfs.map_rows — blobs never shuffle,
  mirroring the extraction kernel's map-only shape;
- per-record errors surface as rows with `parse_error` set (a corrupt
  record must not kill a 1 GB archive task), keeping the engine's
  permissive-parsing contract end to end; a corrupt gzip member gives
  every reader the records of the members before it (kernel/warc.py).

`warc_documents` yields the (url, warc_ts, html) shape the extraction
pipeline consumes, so `run_extraction_job(..., input_format="warc")`
runs extraction straight off crawl archives.
"""

from __future__ import annotations

import base64
import hashlib
import os

import pyspark.sql.functions as F
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession

from zpdfspark.kernel.warc import (WarcError, cdx_timestamp, iter_warc_records,
                                   iter_warc_records_spans, surt)
from zpdfspark.spark.udfs import map_rows

WARC_SCHEMA = ("url string, warc_date string, content_type string, "
               "html binary, n_bytes long, body_md5 string, "
               "warc_file string, parse_error string, "
               "http_status int, http_content_type string")


_GLOB_CHARS = frozenset("*?[{")


def binary_files(spark: SparkSession, path: str) -> DataFrame:
    """``binaryFile`` rows (path, modificationTime, length, content) of
    the archives ``path`` names. A glob in the last path component alone
    (``<dir>/*.warc.gz``) is loaded as ``<dir>`` with that
    ``pathGlobFilter``: the same files and columns, and the relation
    still reports their size for split sizing, but Spark no longer
    probes ``<glob>/_spark_metadata`` and logs a FileNotFoundException
    stack trace (the streaming drop reader uses the same form).

    The directory form is kept only when its own listing shows it reads
    what the glob would: no partition columns, every listed file directly
    in ``<dir>``, and at least one match. The listing is Spark's, made
    once at load and reused by the returned frame, so a flat directory
    is listed once. Otherwise ``path`` is loaded as given, so a glob
    that matches nothing still raises "Path does not exist", and the
    files of subdirectories stay out; a ``<dir>`` with subdirectories
    holding files is then listed twice (its whole tree, then the glob)."""
    parent, _, name = path.rpartition("/")
    if parent and _GLOB_CHARS & set(name) and not _GLOB_CHARS & set(parent):
        try:
            df = (spark.read.format("binaryFile")
                  .option("pathGlobFilter", name).load(parent))
        except PySparkException:
            df = None  # a missing parent or conflicting partition dirs
        if df is not None:
            index = (df._jdf.queryExecution().optimizedPlan()
                     .collectLeaves().apply(0).relation().location())
            if (index.partitionSchema().isEmpty()
                    and index.leafDirToChildrenFiles().size() == 1
                    and not index.allFiles().isEmpty()):
                return df
    return spark.read.format("binaryFile").load(path)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """All records of the .warc / .warc.gz files under `path`, one row
    per record (responses carry the HTTP-stripped payload in `html`),
    plus error rows with `parse_error` set, and one `file-level: ...`
    row after the records of an archive the walk cannot finish."""
    binary = binary_files(spark, path)

    def error_row(fpath, err):
        return None, None, None, None, 0, None, fpath, err, None, None

    def per_row(fpath, content):
        try:
            for rec in iter_warc_records(content):
                if rec.error:
                    yield error_row(fpath, rec.error)
                elif rec.warc_type == "response":
                    yield (rec.target_uri, rec.warc_date, rec.content_type,
                           rec.body, len(rec.body),
                           hashlib.md5(rec.body).hexdigest(), fpath, None,
                           rec.http_status, rec.http_content_type)
        except WarcError as e:
            yield error_row(fpath, f"file-level: {e}")

    return map_rows(binary.select("path", "content"), per_row, WARC_SCHEMA)


def warc_documents(spark: SparkSession, path: str,
                   http_ok_only: bool = False) -> DataFrame:
    """The (url, warc_ts, html) input shape the extraction pipeline
    consumes, from WARC archives (error rows dropped; WARC-Date parsed
    to a timestamp). http_ok_only additionally drops responses whose
    HTTP envelope carries a non-200 status (redirect stubs / error
    pages); envelope-less payloads (null status) are kept."""
    rec = read_warc(spark, path)
    if http_ok_only:
        rec = rec.where(F.col("http_status").isNull()
                        | (F.col("http_status") == 200))
    return (
        rec.where(F.col("parse_error").isNull() & F.col("url").isNotNull())
        .select(
            "url",
            # WARC 1.1 permits fractional seconds (…T00:00:00.123Z);
            # the fixed ssX pattern alone would drop those rows (under
            # ANSI it even throws). try_ whole-second first, then a
            # lenient parse — null only if neither form matches.
            F.coalesce(
                F.try_to_timestamp(F.col("warc_date"),
                                   F.lit("yyyy-MM-dd'T'HH:mm:ssX")),
                F.try_to_timestamp(F.col("warc_date")),
            ).alias("warc_ts"),
            "html")
    )


def warc_revisits(spark: SparkSession, path: str) -> DataFrame:
    """`revisit` records (WARC 1.1 §6.7) as dedup hints: Common Crawl
    emits one per unchanged re-capture, pointing at the prior capture
    via WARC-Refers-To-Target-URI/-Date. Surfacing them lets the
    re-crawl merge (recrawl_latest) skip re-extraction for unchanged
    pages — the crawl's own dedup signal, far cheaper than content
    hashing. Same file-per-task map-only shape as read_warc; bodies
    are never carried (revisits are body-less pointers)."""
    binary = binary_files(spark, path)

    def per_row(content):
        try:
            for rec in iter_warc_records(content):
                if not rec.error and rec.warc_type == "revisit":
                    yield (rec.target_uri, rec.warc_date, rec.refers_to_uri,
                           rec.refers_to_date)
        except WarcError:
            return

    return map_rows(binary.select("content"), per_row,
                    "url string, warc_date string, refers_to_uri string, "
                    "refers_to_date string")


CDX_SCHEMA = ("urlkey string, cdx_ts string, url string, mime string, "
              "http_status int, digest string, rec_offset long, "
              "rec_length long, warc_file string")


def cdx_rows(fpath, content):
    """The CDX_SCHEMA index rows of one (path, content) archive: the
    per-row function of the batch warc_cdx query and its streaming
    twin, over the same captures the document readers keep."""
    fname = os.path.basename(fpath)
    try:
        for rec, off, ln in iter_warc_records_spans(content):
            if rec.error or rec.warc_type != "response" \
                    or rec.target_uri is None:
                continue
            sha1 = base64.b32encode(hashlib.sha1(rec.body).digest()).decode()
            yield (surt(rec.target_uri), cdx_timestamp(rec.warc_date or ""),
                   rec.target_uri, rec.http_content_type or rec.content_type,
                   rec.http_status, "sha1:" + sha1, off, ln, fname)
    except WarcError:
        return


def warc_cdx(spark: SparkSession, path: str) -> DataFrame:
    """CDX(J) index generation (round 5) — the standard web-archive
    access index (pywb/OpenWayback): one line per response capture
    with the SURT urlkey, 14-digit timestamp, payload digest, and the
    (offset, length) span of the record's gzip member(s), so a
    wayback range request replays one capture without scanning the
    archive. Same file-per-task map-only shape as read_warc — index
    generation is a single pass over each archive inside its scan
    task; at CC scale the output is re-sorted by urlkey downstream
    (one range exchange), never here. Digest covers the DECODED
    payload (post envelope-strip/de-chunk/gunzip), matching the
    "payload digest" the CDX spec records."""
    binary = binary_files(spark, path)
    return map_rows(binary.select("path", "content"), cdx_rows, CDX_SCHEMA)


def warc_extract_arrow_batches(mode: str = "accuracy",
                               max_doc_bytes: int = 0,
                               http_ok_only: bool = False):
    """FUSED ingestion + extraction kernel (mapInArrow over binaryFile
    rows): WARC records are parsed AND extracted inside the same Python
    task, so document blobs never cross the Python/JVM Arrow boundary
    between an ingestion stage and an extraction stage — on the 60k
    heavy-doc soak the two-stage form spent ~76% extra wall on exactly
    that round-trip (BASELINE.md round-3 WARC soak). Delegates row
    assembly to udfs.extract_arrow_batches so extraction output is
    byte-identical to the parquet path; records are parsed a gzip
    member at a time and re-batched in bounded chunks, so a 1 GB
    archive never materializes all decompressed bodies at once.
    Records are selected by kernel/warc.py iter_responses (http_ok_only:
    the standard crawl ingestion filter on the HTTP status)."""
    from zpdfspark.spark.udfs import extract_arrow_batches

    extract = extract_arrow_batches(mode, max_doc_bytes=max_doc_bytes)
    chunk_records = 512

    def fn(batches):
        import pyarrow as pa

        from zpdfspark.kernel.warc import iter_responses

        def chunk(urls, bodies):
            return pa.RecordBatch.from_arrays(
                [pa.array(urls, pa.string()), pa.array(bodies, pa.binary())],
                names=["url", "html"])

        def parsed():
            urls, bodies = [], []
            for rb in batches:
                contents = rb.column("content")
                for j in range(len(contents)):
                    # a byte view of Arrow's buffer (whose own format is
                    # signed 'b'): as_py() would copy the whole archive
                    # into the worker's heap
                    raw = memoryview(contents[j].as_buffer()).cast("B")
                    for rec in iter_responses(raw, http_ok_only):
                        urls.append(rec.target_uri)
                        bodies.append(rec.body)
                        if len(urls) >= chunk_records:
                            yield chunk(urls, bodies)
                            urls, bodies = [], []
            if urls:
                yield chunk(urls, bodies)

        yield from extract(parsed())

    return fn
