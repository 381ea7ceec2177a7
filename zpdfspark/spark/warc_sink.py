"""Derivative-file sinks: Common Crawl distributes three per-crawl
derivative formats and this module writes two of them (the third,
CDX, is spark/warc_source.py warc_cdx):

- WET (*.warc.wet.gz): `conversion` records of extracted plain text —
  the hand-off shape downstream LLM-data pipelines (CCNet, C4,
  RefinedWeb) consume.
- WAT (*.warc.wat.gz): `metadata` records of per-capture JSON
  (content length, HTML head metadata, outlinks) — the shape link
  graphs and crawl analytics consume.

Scale design: extraction / metadata mining, serialization and the
file write are FUSED into one mapInArrow pass — document blobs never
cross a stage boundary (the round-3 measured finding: the two-stage
WARC form spent ~76% extra wall on exactly that Arrow round-trip).
One file per partition; `partitions` sizes the files (Common Crawl
targets ~150 MB/file — at 100 TB pick partitions accordingly).
Records stream to disk member-by-member (kernel/warc.py streamers),
so a partition never materializes its whole file in memory.

Determinism + idempotence: membership is hash(url) % partitions,
record order is sortWithinPartitions(url), record ids are md5-derived
and gzip mtimes are pinned — the same input at the same partition
count re-runs to byte-identical files, written via temp + atomic
os.replace so a re-run or speculative twin never leaves a torn file.
Local/shared-filesystem writer; an object-store deployment would swap
the open/replace pair for a committer, the record stream is unchanged.
"""

from __future__ import annotations

import os
from datetime import timezone
from typing import Optional

from pyspark.sql import DataFrame

from zpdfspark.spark.udfs import arrow_schema, iter_rows, to_batch


def _write_members(out_dir, name, attempt, members):
    """Stream one derivative file's gzip members (the warcinfo member
    first) to `out_dir/name` via temp + atomic os.replace; returns
    (n_records, n_bytes). No record after the warcinfo member -> no
    file, (0, 0)."""
    tmp = os.path.join(out_dir, f".{name}.tmp-{attempt}")
    n_records = n_bytes = 0
    f = None
    try:
        for member in members:
            if f is None:
                f = open(tmp, "wb")
            else:
                n_records += 1
            f.write(member)
            n_bytes += len(member)
    finally:
        if f is not None:
            f.close()
    if n_records == 0:
        if os.path.exists(tmp):
            os.remove(tmp)
        return 0, 0
    os.replace(tmp, os.path.join(out_dir, name))
    return n_records, n_bytes


def _write_jsonl(out_dir, name, attempt, docs):
    """Write `docs` (JSON objects) as the gzipped JSONL file
    `out_dir/name`, one sorted-key compact object per line, via temp +
    atomic os.replace; returns (n_records, n_bytes). No doc -> no file,
    (0, 0)."""
    import gzip
    import itertools
    import json

    docs = iter(docs)
    first = next(docs, None)
    if first is None:
        return 0, 0
    tmp = os.path.join(out_dir, f".{name}.tmp-{attempt}")
    n_records = 0
    # filename="" keeps the attempt-suffixed tmp name OUT of the gzip
    # header and mtime=0 pins its timestamp (determinism)
    with open(tmp, "wb") as f, gzip.GzipFile(
            filename="", fileobj=f, mode="wb", mtime=0) as gz:
        for doc in itertools.chain((first,), docs):
            gz.write((json.dumps(doc, ensure_ascii=False, sort_keys=True,
                                 separators=(",", ":")) + "\n")
                     .encode("utf-8"))
            n_records += 1
    n_bytes = os.path.getsize(tmp)
    os.replace(tmp, os.path.join(out_dir, name))
    return n_records, n_bytes


def _archive_name(path, suffix: str) -> str:
    """`<archive-stem><suffix>`: Common Crawl names each per-archive
    derivative after its source .warc.gz / .warc file."""
    stem = os.path.basename(str(path))
    for ext in (".warc.gz", ".warc"):
        if stem.endswith(ext):
            return stem[: -len(ext)] + suffix
    return stem + suffix


_EPOCH = "1970-01-01T00:00:00Z"


def _wdate(ts) -> str:
    """A capture timestamp as a WARC-Date: the instant in UTC, whatever
    the session time zone; no timestamp is the epoch."""
    if ts is None:
        return _EPOCH
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc)
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


SUMMARY_SCHEMA = "file string, n_records long, n_bytes long"


def _summary(name, n_records, n_bytes):
    """The SUMMARY_SCHEMA row of one written file; none when no file
    was written."""
    return [(name, n_records, n_bytes)] if n_records else []


def _wet_writer(out_dir, mode):
    """write(name, attempt, docs): one WET file of `conversion` records
    carrying the extraction kernel's text, per (url, warc_date, raw)
    doc."""
    def write(name, attempt, docs):
        from zpdfspark.kernel.htmltext import extract_any
        from zpdfspark.kernel.warc import wet_records

        texts = ((url, date, extract_any(raw, mode)[0])
                 for url, date, raw in docs)
        return _write_members(out_dir, name, attempt,
                              wet_records(name, texts))

    return write


def _wat_writer(out_dir):
    """write(name, attempt, docs): one WAT file of `metadata` records
    carrying wat_doc_json, per (url, warc_date, raw) doc."""
    def write(name, attempt, docs):
        from zpdfspark.kernel.warc import wat_records

        bodies = ((url, date, wat_doc_json(url, raw))
                  for url, date, raw in docs)
        return _write_members(out_dir, name, attempt,
                              wat_records(name, bodies))

    return write


def _jsonl_writer(out_dir, mode):
    """write(name, attempt, docs): one gzipped JSONL shard with one
    {url, ts, lang, kind, n_chars, text} object per
    (url, warc_date, raw, lang) doc."""
    def write(name, attempt, docs):
        from zpdfspark.kernel.htmltext import extract_any

        def objects():
            for url, date, raw, lang in docs:
                text, kind, _ = extract_any(raw, mode)
                yield {"kind": kind, "lang": lang, "n_chars": len(text),
                       "text": text, "ts": date, "url": url}

        return _write_jsonl(out_dir, name, attempt, objects())

    return write


def _per_partition(src: DataFrame, schema: str, write) -> DataFrame:
    """mapInArrow over `src` where each task calls
    write(partition_id, attempt, rows) once, with every row of its
    partition as a tuple in `src`'s column order, and yields the output
    rows it returns as one batch of `schema`."""
    out_schema = arrow_schema(schema)

    def fn(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        rows = (row for rb in batches for row in iter_rows(rb))
        yield to_batch(write(ctx.partitionId(), ctx.taskAttemptId(), rows),
                       out_schema)

    return src.mapInArrow(fn, schema)


def _write_partitions(src: DataFrame, out_dir: str,
                      partitions: Optional[int], name_fmt: str,
                      write) -> DataFrame:
    """One derivative file per hash(url) partition of
    src(url, warc_ts, html[, lang]), rows in url order: `write` gets
    the file name `name_fmt.format(partition id)`, the task attempt and
    the (url, warc_date, html[, lang]) docs. Returns the lazy summary
    DataFrame (file, n_records, n_bytes), one row per non-empty
    partition."""
    n = partitions or src.sparkSession.sparkContext.defaultParallelism
    os.makedirs(out_dir, exist_ok=True)

    def write_partition(pid, attempt, rows):
        name = name_fmt.format(pid)
        docs = ((url, _wdate(ts), *rest) for url, ts, *rest in rows)
        return _summary(name, *write(name, attempt, docs))

    return _per_partition(
        src.repartition(n, "url").sortWithinPartitions("url"),
        SUMMARY_SCHEMA, write_partition)


def _archive_rows(suffix: str, write):
    """The per-row function of the per-ARCHIVE derivative layout
    (Common Crawl names each WET/WAT file after its source archive):
    every (path, content) archive writes `<archive-stem><suffix>`
    through write(name, attempt, docs), one (url, warc_date, body) doc
    per response record in capture order, streamed with temp+rename,
    and yields its SUMMARY_SCHEMA row. Output name and bytes are pure
    functions of the archive, so re-delivery (streaming batch replay,
    speculative twins) overwrites byte-identically — sink idempotence
    without batch bookkeeping. Docs follow iter_responses, the fused
    ingest path's rule: a corrupt gzip member ends them."""
    def per_row(path, content):
        from pyspark import TaskContext

        from zpdfspark.kernel.warc import iter_responses

        name = _archive_name(path, suffix)
        docs = ((rec.target_uri, rec.warc_date or _EPOCH, rec.body)
                for rec in iter_responses(content))
        yield from _summary(
            name, *write(name, TaskContext.get().taskAttemptId(), docs))

    return per_row


def write_wet(df: DataFrame, out_dir: str, mode: str = "accuracy",
              partitions: Optional[int] = None) -> DataFrame:
    """df(url, warc_ts, html) -> WET files under out_dir; returns a
    small summary DataFrame (file, n_records, n_bytes), one row per
    non-empty partition. The returned plan is lazy — the files are
    written when the summary is consumed."""
    return _write_partitions(
        df.select("url", "warc_ts", "html"), out_dir, partitions,
        "wet-{:05d}.warc.wet.gz", _wet_writer(out_dir, mode))


_WAT_RE_TITLE = r"<title>([^<]*)</title>"
_WAT_RE_DESC = r'<meta name="description" content="([^"]*)"'
_WAT_RE_CANON = r'<link rel="canonical" href="([^"]*)"'
_WAT_RE_HREF = r'<a[^>]*\shref="([^"]*)"'
# outlinks kept per WAT record; the rest are counted as Links-Truncated
_WAT_MAX_LINKS = 1000


def wat_doc_json(url: str, raw: bytes) -> str:
    """One capture's WAT metadata record body (deterministic compact
    JSON in the Common Crawl WAT envelope shape) — shared by the batch
    sink (write_wat) and the per-archive streaming twin so both render
    byte-identical records for the same payload."""
    import json
    import re

    from zpdfspark.kernel.htmltext import looks_like_html, sniff_charset

    meta = {
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Target-URI": url,
                "WARC-Type": "response",
            },
            "Payload-Metadata": {
                "Actual-Content-Length": len(raw),
            },
        },
    }
    if looks_like_html(raw):
        text = raw.decode(sniff_charset(raw), "replace")
        links = re.findall(_WAT_RE_HREF, text)
        html_md = {
            "Head": {},
            "Links": [{"url": u} for u in links[:_WAT_MAX_LINKS]],
        }
        if len(links) > _WAT_MAX_LINKS:
            html_md["Links-Truncated"] = len(links) - _WAT_MAX_LINKS
        m = re.search(_WAT_RE_TITLE, text)
        if m:
            html_md["Head"]["Title"] = m.group(1)
        m = re.search(_WAT_RE_DESC, text)
        if m:
            html_md["Head"]["Meta-Description"] = m.group(1)
        m = re.search(_WAT_RE_CANON, text)
        if m:
            html_md["Head"]["Canonical"] = m.group(1)
        meta["Envelope"]["Payload-Metadata"]["HTML-Metadata"] = html_md
    return json.dumps(meta, sort_keys=True, separators=(",", ":"))


def write_wat(df: DataFrame, out_dir: str,
              partitions: Optional[int] = None) -> DataFrame:
    """df(url, warc_ts, html) -> WAT files under out_dir (same
    summary-DataFrame contract as write_wet). Each `metadata` record
    body is deterministic compact JSON in the Common Crawl WAT
    envelope shape: Actual-Content-Length always; HTML-Metadata
    (head title/meta-description/canonical + outlink list, capped at
    1,000 — the cap is recorded as Links-Truncated when it bites) for
    HTML payloads only. The miner is the same regex set the html_meta
    query uses, applied kernel-side in this fused pass."""
    return _write_partitions(
        df.select("url", "warc_ts", "html"), out_dir, partitions,
        "wat-{:05d}.warc.wat.gz", _wat_writer(out_dir))


def write_jsonl(df: DataFrame, out_dir: str, mode: str = "accuracy",
                partitions: Optional[int] = None) -> DataFrame:
    """df(url, warc_ts, html, lang) -> gzipped JSONL shards under
    out_dir — the interchange shape LLM dataset releases use (C4 /
    Dolma / RedPajama ship exactly this: one JSON object per document
    with text + provenance). One `jsonl-NNNNN.jsonl.gz` per
    partition; objects carry {url, ts, lang, kind, n_chars, text}.

    Same scale/determinism contract as write_wet: extraction,
    serialization and the file write FUSE into one mapInArrow pass
    (blobs never cross a stage boundary), membership is
    hash(url) % partitions, rows sort by url within the shard, gzip
    mtime is pinned and JSON uses sorted compact keys — byte-identical
    re-runs, written temp + atomic os.replace. Returns the lazy
    (file, n_records, n_bytes) summary."""
    return _write_partitions(
        df.select("url", "warc_ts", "html", "lang"), out_dir, partitions,
        "jsonl-{:05d}.jsonl.gz", _jsonl_writer(out_dir, mode))


def archive_jsonl_rows(out_dir: str, mode: str = "accuracy"):
    """Per-archive JSONL writer (the dataset-release twin of
    archive_wet_rows): every (path, content) row writes
    `<archive-stem>.jsonl.gz` — one JSON object per response record
    in capture order, the same sorted-compact shape write_jsonl emits
    (lang is null: archives carry no language column). Output name
    and bytes are pure functions of the archive (pinned gzip mtime +
    empty header filename), so streaming batch replay overwrites
    byte-identically."""
    write = _jsonl_writer(out_dir, mode)
    return _archive_rows(".jsonl.gz", lambda name, attempt, docs: write(
        name, attempt, ((*doc, None) for doc in docs)))


def archive_wet_rows(out_dir: str, mode: str = "accuracy"):
    """Per-archive WET writer (see _archive_rows): payload = the
    extraction kernel's text for each response body."""
    return _archive_rows(".warc.wet.gz", _wet_writer(out_dir, mode))


def archive_wat_rows(out_dir: str):
    """Per-archive WAT writer (see _archive_rows): payload = the same
    deterministic metadata JSON write_wat renders (wat_doc_json), so
    the streaming twin's records are byte-identical to the batch
    sink's for the same capture."""
    return _archive_rows(".warc.wat.gz", _wat_writer(out_dir))


_ZIPNUM_IDX_SCHEMA = ("urlkey string, cdx_ts string, file string, "
                      "offset long, length long, seq long, n_lines long")


def write_zipnum(cdx: DataFrame, out_dir: str,
                 lines_per_block: int = 3000,
                 partitions: Optional[int] = None) -> DataFrame:
    """ZipNum-clustered CDX (the pywb / Common Crawl `cluster.idx`
    layout — CC's fourth derivative alongside WET/WAT/CDX): the full
    (urlkey, timestamp)-sorted CDXJ index is cut into blocks of
    `lines_per_block` lines, each block an INDEPENDENT gzip member
    concatenated into per-partition part files, plus a tiny secondary
    index with one line per block. A wayback lookup binary-searches
    the secondary index, then fetches + gunzips exactly one ~N-line
    member — O(total/N) index resident, O(N) per query, which is how
    CC serves a 3-billion-capture index from a ~1 MB-per-million-lines
    cluster.idx.

    Scale shape: the global (urlkey, cdx_ts) total order is ONE range
    exchange (repartitionByRange + sortWithinPartitions — never a
    single-task global sort); block cutting, gzip and the part-file
    write are fused into the same task, streamed member-by-member.
    Returns the per-block index rows as a DataFrame (total/N rows —
    bounded by block geometry, not corpus size); pass them to
    write_cluster_idx for the flat secondary-index file.

    Determinism: record order is pinned by the full sort key
    (urlkey, cdx_ts, digest, warc_file, rec_offset), gzip mtimes are 0
    and names derive from the range-partition id, so re-runs rewrite
    byte-identical part files via temp + atomic rename."""
    n = partitions or cdx.sparkSession.sparkContext.defaultParallelism
    os.makedirs(out_dir, exist_ok=True)
    src = (cdx.repartitionByRange(n, "urlkey", "cdx_ts")
           .sortWithinPartitions("urlkey", "cdx_ts", "digest",
                                 "warc_file", "rec_offset"))

    def write_blocks(pid, attempt, rows):
        import gzip
        import io
        import itertools
        import json

        name = f"cdx-{pid:05d}.gz"
        tmp = os.path.join(out_dir, f".{name}.tmp-{attempt}")
        index = []
        offset = 0
        f = None
        try:
            while True:
                block = list(itertools.islice(rows, lines_per_block))
                if not block:
                    break
                lines = []
                for uk, ts, url, mime, status, digest, off, ln, wf in block:
                    # CC CDXJ convention: the JSON payload carries
                    # string values, fixed field order
                    payload = json.dumps({
                        "url": url, "mime": mime or "",
                        "status": "" if status is None else str(status),
                        "digest": digest, "length": str(ln),
                        "offset": str(off), "filename": wf,
                    }, separators=(", ", ": "))
                    lines.append(f"{uk} {ts} {payload}\n")
                bio = io.BytesIO()
                with gzip.GzipFile(fileobj=bio, mode="wb", mtime=0) as g:
                    g.write("".join(lines).encode("utf-8"))
                member = bio.getvalue()
                if f is None:
                    f = open(tmp, "wb")
                f.write(member)
                index.append((block[0][0], block[0][1], name, offset,
                              len(member), len(index), len(block)))
                offset += len(member)
        finally:
            if f is not None:
                f.close()
        if index:
            os.replace(tmp, os.path.join(out_dir, name))
        return index

    return _per_partition(src, _ZIPNUM_IDX_SCHEMA, write_blocks)


def write_cluster_idx(index_df: DataFrame, out_dir: str) -> str:
    """Write the flat `cluster.idx` secondary index from write_zipnum's
    per-block rows: `urlkey ts\\tpart-file\\toffset\\tlength\\tseq`,
    globally ordered (range-partition ids order the part files, seq
    orders blocks within one). The collect is bounded by block
    geometry — lines/3000 rows (CC's own 3-billion-capture crawls run
    ~1M lines / ~100 MB; at larger scale raise lines_per_block or swap
    the driver write for a coalesce(1) text sink — the row shape is
    unchanged). Atomic + idempotent like the part files."""
    rows = index_df.orderBy("file", "seq").collect()
    path = os.path.join(out_dir, "cluster.idx")
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        for i, r in enumerate(rows):
            f.write(f"{r['urlkey']} {r['cdx_ts']}\t{r['file']}\t"
                    f"{r['offset']}\t{r['length']}\t{i}\n")
    os.replace(tmp, path)
    return path
