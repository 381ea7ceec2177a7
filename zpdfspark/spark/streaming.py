"""Structured Streaming ingest: continuous extraction over an arriving
page table.

The reference is purely batch (SURVEY.md §2.12: no streaming concepts
exist in zpdf), so this layer is additive Spark-native capability: a
file-source stream of (url, warc_ts, html, ...) parquet drops is run
through the SAME mapInArrow extraction kernel inside foreachBatch and
written to the output table. End-to-end exactly-once comes from two
halves:

- Spark's checkpoint tracks file-source offsets, so each input file is
  processed by exactly one batch_id across restarts;
- the foreachBatch sink is IDEMPOTENT per batch_id: every batch writes
  to its own ``batch_id=N`` directory with mode("overwrite") and is
  skipped outright when that directory already carries a _SUCCESS
  marker. A replayed batch (query died after the write but before the
  checkpoint commit) therefore overwrites/skips instead of appending
  duplicates. A blind append here would demote the guarantee to
  at-least-once.

Event-time bookkeeping: a 1-day watermark on warc_ts bounds state for
the per-window crawl-rate aggregation, tolerating late-arriving WARC
records (crawlers deliver out of order).
"""

from __future__ import annotations

import os
from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from zpdfspark.spark.session import PARQUET_COMPRESSION, hadoop_path_exists
from zpdfspark.spark.udfs import (EXTRACT_SCHEMA, extract_arrow_batches,
                                  map_rows)
from zpdfspark.spark.warc_sink import (SUMMARY_SCHEMA, archive_jsonl_rows,
                                       archive_wat_rows, archive_wet_rows)
from zpdfspark.spark.warc_source import (CDX_SCHEMA, cdx_rows,
                                         warc_extract_arrow_batches)

INPUT_SCHEMA_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def _warc_drop_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: Optional[int]) -> DataFrame:
    """readStream over a .warc.gz drop directory: one (path, content)
    row per archive, the unit of streaming progress."""
    return (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; binaryFile's is
        # fixed by the format
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("pathGlobFilter", "*.warc.gz")
        .option("recursiveFileLookup", "true")  # crawls drop nested dirs
        .option("maxFilesPerTrigger", str(max_files_per_trigger or 8))
        .load(input_dir)
        .select("path", "content")
    )


def _start(stream: DataFrame, batch_fn, checkpoint_dir: str,
           available_now: bool):
    """Start ``stream`` through the foreachBatch body ``batch_fn`` with
    its offsets checkpointed under ``checkpoint_dir``. With
    available_now the query drains everything currently present and
    stops (test/batch-catchup mode); otherwise it runs continuously."""
    writer = stream.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _idempotent_batch_writer(spark: SparkSession, output_dir: str):
    """foreachBatch sink body: batch_id-scoped directory, skip-if-done.

    The ``batch_id=N`` naming doubles as a partition column on read, so
    downstream consumers of ``output_dir/data`` see one extra lineage
    column for free."""
    data_dir = os.path.join(output_dir, "data")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        target = os.path.join(data_dir, f"batch_id={batch_id}")
        if hadoop_path_exists(spark, os.path.join(target, "_SUCCESS")):
            return  # replayed batch after restart: already committed
        batch_df.write.mode("overwrite") \
            .option("compression", PARQUET_COMPRESSION).parquet(target)

    return write_batch


def start_streaming_extraction(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    mode: str = "accuracy",
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
):
    """readStream(parquet drops) -> extract -> idempotent parquet sink.

    Returns the StreamingQuery. With available_now=True the query
    drains everything currently present and stops (test/batch-catchup
    mode); otherwise it runs continuously.
    """
    reader = (
        spark.readStream.schema(INPUT_SCHEMA_DDL)
        .option("maxFilesPerTrigger", str(max_files_per_trigger or 16))
        .parquet(input_dir)
    )
    sink = _idempotent_batch_writer(spark, output_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        extracted = batch_df.select("url", "html").mapInArrow(
            extract_arrow_batches(mode), EXTRACT_SCHEMA
        )
        sink(extracted, batch_id)

    return _start(reader, process_batch, checkpoint_dir, available_now)


def gopher_keep_expr(text_col: str = "extracted_text"):
    """The Gopher/MassiveText quality gate as a pure-JVM boolean
    expression over an extracted-text column (same thresholds as the
    batch gopher_quality query: word-count bounds, mean-word-length
    band, symbol ratio, stopword evidence). Exposed so batch and
    streaming curation share one predicate definition."""
    t = F.col(text_col)
    words = F.split(t, " ")
    n_words = F.size(words).cast("long")
    n_chars_nospace = F.length(F.regexp_replace(t, " ", ""))
    mean_wl_x100 = F.floor(n_chars_nospace * 100 / n_words)
    n_symbols = F.length(t) - F.length(
        F.regexp_replace(t, r"[^A-Za-z0-9 ]", ""))
    symbol_ratio_x1000 = F.floor(n_symbols * 1000 / F.length(t))
    has_stopword = (t.like("% the %") | t.like("% a %")
                    | t.like("% and %"))
    return ((n_words >= 10) & (n_words <= 100000)
            & (mean_wl_x100 >= 200) & (mean_wl_x100 <= 1000)
            & (symbol_ratio_x1000 <= 100) & has_stopword)


def start_streaming_curation(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    mode: str = "accuracy",
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
):
    """Streaming curation twin of the batch pipeline: readStream ->
    fused extraction kernel -> Gopher quality gate, keepers to
    ``output_dir/data`` and rejects (with the keep flag's inputs
    preserved for auditing — real pipelines keep the reject stream) to
    ``output_dir/rejected``. Both sinks are the same batch_id-scoped
    idempotent writers as start_streaming_extraction, so a restart
    replays no batch twice; the extraction and the gate run inside the
    SAME foreachBatch (no second pass over the blobs)."""
    reader = (
        spark.readStream.schema(INPUT_SCHEMA_DDL)
        .option("maxFilesPerTrigger", str(max_files_per_trigger or 16))
        .parquet(input_dir)
    )
    keep_sink = _idempotent_batch_writer(spark, output_dir)
    reject_dir = os.path.join(output_dir, "rejected_root")
    reject_sink = _idempotent_batch_writer(spark, reject_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        extracted = batch_df.select("url", "html").mapInArrow(
            extract_arrow_batches(mode), EXTRACT_SCHEMA
        ).withColumn("keep", gopher_keep_expr())
        # one materialization serves both splits: at scale this is a
        # per-batch cache of extraction output (rows, not blobs)
        extracted = extracted.persist()
        try:
            keep_sink(extracted.where("keep").drop("keep"), batch_id)
            reject_sink(extracted.where("NOT keep").drop("keep"), batch_id)
        finally:
            extracted.unpersist()

    return _start(reader, process_batch, checkpoint_dir, available_now)


def start_streaming_warc_ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    mode: str = "accuracy",
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
    http_ok_only: bool = False,
):
    """readStream(binaryFile over a .warc.gz drop directory) -> in-task
    WARC record parse (kernel/warc.py) -> the SAME extraction kernel ->
    idempotent parquet sink. The continuous twin of
    ``run_extraction_job(..., input_format="warc")``: a crawler drops
    archives into a directory and extraction keeps up, with file-source
    offsets checkpointed so each archive is processed exactly once
    across restarts. The unit of streaming progress is the WARC FILE
    (the CC per-record-gzip layout is not block-splittable), matching
    the batch ingestion's parallelism shape. Each micro-batch runs the
    fused parse+extract kernel (warc_source.warc_extract_arrow_batches)
    in one Python stage, the kernel the single-pass batch job runs.
    """
    sink = _idempotent_batch_writer(spark, output_dir)
    kernel = warc_extract_arrow_batches(mode, http_ok_only=http_ok_only)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sink(batch_df.mapInArrow(kernel, EXTRACT_SCHEMA), batch_id)

    return _start(_warc_drop_stream(spark, input_dir, max_files_per_trigger),
                  process_batch, checkpoint_dir, available_now)


def start_streaming_warc_cdx(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
):
    """readStream(binaryFile over a .warc.gz drop directory) -> CDX(J)
    index rows (spark/warc_source.py warc_cdx arithmetic: SURT urlkey,
    14-digit timestamp, payload sha1, gzip-member offset/length) ->
    idempotent parquet sink. The continuous twin of the batch warc_cdx
    query: as a crawler drops archives, the wayback index stays
    current; file-source offsets checkpointed = each archive indexed
    exactly once across restarts. Stateless map per file, so restart
    semantics come entirely from the source offsets + idempotent sink
    (no state store)."""
    sink = _idempotent_batch_writer(spark, output_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sink(map_rows(batch_df, cdx_rows, CDX_SCHEMA), batch_id)

    return _start(_warc_drop_stream(spark, input_dir, max_files_per_trigger),
                  process_batch, checkpoint_dir, available_now)


def start_crawl_rate_aggregation(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "1 day",
):
    """Event-time windowed crawl-rate rollup with a late-data watermark:
    docs and bytes per warc_ts window, emitted to an in-memory sink
    named 'crawl_rates'."""
    stream = (
        spark.readStream.schema(INPUT_SCHEMA_DDL)
        .parquet(input_dir)
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("html")).alias("n_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_docs", "n_bytes",
        )
    )
    return (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("crawl_rates")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_streaming_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    state_ttl: Optional[str] = None,
):
    """Custom stateful operator: re-crawl url dedup across micro-batches
    via applyInPandasWithState — the streaming twin of the batch
    exact-dedup query (STATUS.md web-scale ops table).

    State is keyed BY URL: one tiny ``seen`` row per distinct url, so
    per-batch state I/O is O(urls touched this batch) — Spark's state
    store shards and persists the keys; nothing ever rewrites the full
    seen-set (the v1 design kept the whole fingerprint list in one
    array<string> row per shard and re-serialized it every batch — at
    10^12 urls that is TBs of state rewritten per trigger). Keying by
    the full url also makes the dedup EXACT: a 64-bit fingerprint would
    hash-collide ~n^2/2^65 times at web scale and silently drop distinct
    pages.

    ``state_ttl`` (e.g. ``"30 days"``, processing time) bounds total
    state for unbounded crawls: a url not seen within the TTL is
    forgotten and would be re-emitted — the standard windowed-dedup
    tradeoff, off by default.

    Production state-store config for 10^12 urls: the default
    HDFSBackedStateStoreProvider keeps every key on the executor JVM
    heap — set ``spark.sql.streaming.stateStore.providerClass =
    org.apache.spark.sql.execution.streaming.state.
    RocksDBStateStoreProvider`` (bundled with Spark, exercised in
    tests/test_streaming.py) so state lives off-heap/on-disk with
    incremental checkpointing, and size
    ``spark.sql.shuffle.partitions`` at query START (it is frozen into
    the checkpoint as the state shard count — tests drive 64).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout = (GroupStateTimeout.ProcessingTimeTimeout if state_ttl
               else GroupStateTimeout.NoTimeout)
    ttl_ms = None
    if state_ttl:
        qty, unit = state_ttl.split()
        ttl_ms = int(qty) * {
            "seconds": 1000, "minutes": 60_000, "hours": 3_600_000,
            "days": 86_400_000,
        }[unit if unit.endswith("s") else unit + "s"]

    def dedup_url(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        already_seen = state.exists
        state.update((True,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if already_seen:
            for _ in pdfs:  # drain; suppress every re-crawl of this url
                pass
            return
        emitted = False
        for batch in pdfs:
            if not emitted and len(batch) > 0:
                # first sighting wins; duplicates inside the same batch
                # are suppressed too
                yield batch[["url", "html"]].head(1)
                emitted = True

    stream = (
        spark.readStream.schema(INPUT_SCHEMA_DDL)
        .parquet(input_dir)
        .groupBy("url")
        .applyInPandasWithState(
            dedup_url,
            outputStructType="url string, html binary",
            stateStructType="seen boolean",
            outputMode="append",
            timeoutConf=timeout,
        )
    )

    return _start(stream, _idempotent_batch_writer(spark, output_dir),
                  checkpoint_dir, available_now=True)


def _start_archive_manifest(spark: SparkSession, input_dir: str,
                            output_dir: str, checkpoint_dir: str,
                            archive_rows, available_now: bool,
                            max_files_per_trigger: Optional[int]):
    """The per-archive derivative twins (WET, JSONL, WAT): the per-row
    function ``archive_rows`` (spark/warc_sink.py) writes one file per
    dropped archive, and its (file, n_records, n_bytes) summary rows go
    to the idempotent parquet manifest under ``output_dir``."""
    manifest_sink = _idempotent_batch_writer(spark, output_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        manifest_sink(map_rows(batch_df, archive_rows, SUMMARY_SCHEMA),
                      batch_id)

    return _start(_warc_drop_stream(spark, input_dir, max_files_per_trigger),
                  process_batch, checkpoint_dir, available_now)


def start_streaming_warc_wet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    mode: str = "accuracy",
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
):
    """readStream(binaryFile over a .warc.gz drop directory) -> one
    WET file PER ARCHIVE under output_dir/wet (Common Crawl's own
    per-archive derivative layout, named from the archive stem) plus
    an idempotent parquet manifest of (file, n_records, n_bytes)
    under output_dir. The continuous twin of `--format wet
    --input-format warc`: as a crawler drops archives, the WET
    mirror stays current.

    Exactly-once here is belt-and-braces: file-source offsets
    checkpoint as usual, AND the WET writer itself is idempotent
    without them — output name and bytes are pure functions of the
    archive (spark/warc_sink.py archive_wet_rows: pinned gzip
    mtimes, md5 record ids, capture order, temp+rename), so a
    replayed batch overwrites byte-identically."""
    wet_dir = os.path.join(output_dir, "wet")
    os.makedirs(wet_dir, exist_ok=True)
    return _start_archive_manifest(
        spark, input_dir, output_dir, checkpoint_dir,
        archive_wet_rows(wet_dir, mode), available_now,
        max_files_per_trigger)


def start_streaming_warc_jsonl(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    mode: str = "accuracy",
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
):
    """readStream(binaryFile over a .warc.gz drop directory) -> one
    `<stem>.jsonl.gz` dataset-release shard PER ARCHIVE under
    output_dir/jsonl plus the idempotent manifest — the streaming twin
    of `--format jsonl`: as a crawler drops archives, the release
    mirror stays current. Same belt-and-braces exactly-once as the
    WET/WAT twins: offsets checkpoint, and the writer is idempotent
    without them (output bytes are pure functions of the archive)."""
    jl_dir = os.path.join(output_dir, "jsonl")
    os.makedirs(jl_dir, exist_ok=True)
    return _start_archive_manifest(
        spark, input_dir, output_dir, checkpoint_dir,
        archive_jsonl_rows(jl_dir, mode), available_now,
        max_files_per_trigger)


def start_streaming_warc_wat(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
):
    """readStream(binaryFile over a .warc.gz drop directory) -> one
    WAT file PER ARCHIVE under output_dir/wat plus an idempotent
    parquet manifest — the metadata sibling of
    start_streaming_warc_wet, completing the streaming derivative
    set (dedup, ingest, curation, WET, CDX, WAT). Record bodies are
    rendered by the SAME wat_doc_json the batch sink uses, so batch
    and streaming WAT are byte-identical per capture; the writer is
    idempotent without checkpoint help (pure-function names/bytes,
    temp+rename), belt-and-braces with the file-source offsets."""
    wat_dir = os.path.join(output_dir, "wat")
    os.makedirs(wat_dir, exist_ok=True)
    return _start_archive_manifest(
        spark, input_dir, output_dir, checkpoint_dir,
        archive_wat_rows(wat_dir), available_now,
        max_files_per_trigger)
