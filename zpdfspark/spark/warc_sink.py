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
file write are FUSED into one mapInPandas pass — document blobs never
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
from typing import Optional

from pyspark.sql import DataFrame


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


def _write_partition_file(it, out_dir, name_fmt, record_stream, docs):
    """Stream one derivative file for this task's partition: returns
    the (file, n_records, n_bytes) summary rows (empty partition ->
    no file, no row)."""
    import pandas as pd
    from pyspark import TaskContext

    ctx = TaskContext.get()
    name = name_fmt.format(ctx.partitionId())
    n_records, n_bytes = _write_members(
        out_dir, name, ctx.taskAttemptId(), record_stream(name, docs(it)))
    if n_records == 0:
        return pd.DataFrame({"file": [], "n_records": [],
                             "n_bytes": []})
    return pd.DataFrame({"file": [name], "n_records": [n_records],
                         "n_bytes": [n_bytes]})


def _archive_name(path, suffix: str) -> str:
    """`<archive-stem><suffix>`: Common Crawl names each per-archive
    derivative after its source .warc.gz / .warc file."""
    stem = os.path.basename(str(path))
    for ext in (".warc.gz", ".warc"):
        if stem.endswith(ext):
            return stem[: -len(ext)] + suffix
    return stem + suffix


def _wdate(ts) -> str:
    import pandas as pd

    return ("1970-01-01T00:00:00Z" if pd.isna(ts)
            else ts.strftime("%Y-%m-%dT%H:%M:%SZ"))


_SUMMARY_SCHEMA = "file string, n_records long, n_bytes long"


def write_wet(df: DataFrame, out_dir: str, mode: str = "accuracy",
              partitions: Optional[int] = None) -> DataFrame:
    """df(url, warc_ts, html) -> WET files under out_dir; returns a
    small summary DataFrame (file, n_records, n_bytes), one row per
    non-empty partition. The returned plan is lazy — the files are
    written when the summary is consumed."""
    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism
    os.makedirs(out_dir, exist_ok=True)
    src = (df.select("url", "warc_ts", "html")
           .repartition(n, "url")
           .sortWithinPartitions("url"))

    def batches(it):
        from zpdfspark.kernel.htmltext import extract_any
        from zpdfspark.kernel.warc import wet_records

        def docs(batches_it):
            for b in batches_it:
                for url, ts, blob in zip(b["url"], b["warc_ts"],
                                         b["html"]):
                    raw = bytes(blob) if blob is not None else b""
                    yield url, _wdate(ts), extract_any(raw, mode)[0]

        yield _write_partition_file(
            it, out_dir, "wet-{:05d}.warc.wet.gz", wet_records, docs)

    return src.mapInPandas(batches, _SUMMARY_SCHEMA)



_WAT_RE_TITLE = r"<title>([^<]*)</title>"
_WAT_RE_DESC = r'<meta name="description" content="([^"]*)"'
_WAT_RE_CANON = r'<link rel="canonical" href="([^"]*)"'
_WAT_RE_HREF = r'<a[^>]*\shref="([^"]*)"'


def wat_doc_json(url: str, raw: bytes, max_links: int = 1000) -> str:
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
            "Links": [{"url": u} for u in links[:max_links]],
        }
        if len(links) > max_links:
            html_md["Links-Truncated"] = len(links) - max_links
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
              partitions: Optional[int] = None,
              max_links: int = 1000) -> DataFrame:
    """df(url, warc_ts, html) -> WAT files under out_dir (same
    summary-DataFrame contract as write_wet). Each `metadata` record
    body is deterministic compact JSON in the Common Crawl WAT
    envelope shape: Actual-Content-Length always; HTML-Metadata
    (head title/meta-description/canonical + outlink list, capped at
    `max_links` — the cap is recorded as Links-Truncated when it
    bites) for HTML payloads only. The miner is the same regex set
    the html_meta query uses, applied kernel-side in this fused
    pass."""
    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism
    os.makedirs(out_dir, exist_ok=True)
    src = (df.select("url", "warc_ts", "html")
           .repartition(n, "url")
           .sortWithinPartitions("url"))

    def batches(it):
        from zpdfspark.kernel.warc import wat_records

        def docs(batches_it):
            for b in batches_it:
                for url, ts, blob in zip(b["url"], b["warc_ts"],
                                         b["html"]):
                    raw = bytes(blob) if blob is not None else b""
                    yield url, _wdate(ts), wat_doc_json(url, raw,
                                                        max_links)

        yield _write_partition_file(
            it, out_dir, "wat-{:05d}.warc.wat.gz", wat_records, docs)

    return src.mapInPandas(batches, _SUMMARY_SCHEMA)


def _archive_derivative_batches(out_dir: str, suffix: str,
                                record_stream_name: str, payload_fn):
    """Shared mapInPandas kernel for the per-ARCHIVE derivative layout
    (Common Crawl names each WET/WAT file after its source archive):
    every input row (path, content) parses and writes
    `<archive-stem><suffix>` in capture order, streamed
    member-by-member with temp+rename. Output name and bytes are pure
    functions of the archive, so re-delivery (streaming batch replay,
    speculative twins) overwrites byte-identically — sink idempotence
    without batch bookkeeping. File-level garbage skips the archive
    (error posture of the fused ingest path). `payload_fn(rec)`
    renders one response record's derivative body; the record stream
    is resolved by name executor-side (kernel/warc.py wet_records /
    wat_records)."""

    def fn(it):
        import pandas as pd
        from pyspark import TaskContext

        from zpdfspark.kernel import warc as _warc

        record_stream = getattr(_warc, record_stream_name)
        attempt = TaskContext.get().taskAttemptId()
        for b in it:
            out = {"file": [], "n_records": [], "n_bytes": []}
            for path, content in zip(b["path"], b["content"]):
                name = _archive_name(path, suffix)
                docs = ((rec.target_uri,
                         rec.warc_date or "1970-01-01T00:00:00Z",
                         payload_fn(rec))
                        for rec in _warc.iter_responses(bytes(content)))
                n_records, n_bytes = _write_members(
                    out_dir, name, attempt, record_stream(name, docs))
                if n_records == 0:
                    continue
                out["file"].append(name)
                out["n_records"].append(n_records)
                out["n_bytes"].append(n_bytes)
            yield pd.DataFrame(out)

    return fn


def write_jsonl(df: DataFrame, out_dir: str, mode: str = "accuracy",
                partitions: Optional[int] = None) -> DataFrame:
    """df(url, warc_ts, html, lang) -> gzipped JSONL shards under
    out_dir — the interchange shape LLM dataset releases use (C4 /
    Dolma / RedPajama ship exactly this: one JSON object per document
    with text + provenance). One `jsonl-NNNNN.jsonl.gz` per
    partition; objects carry {url, ts, lang, kind, n_chars, text}.

    Same scale/determinism contract as write_wet: extraction,
    serialization and the file write FUSE into one mapInPandas pass
    (blobs never cross a stage boundary), membership is
    hash(url) % partitions, rows sort by url within the shard, gzip
    mtime is pinned and JSON uses sorted compact keys — byte-identical
    re-runs, written temp + atomic os.replace. Returns the lazy
    (file, n_records, n_bytes) summary."""
    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism
    os.makedirs(out_dir, exist_ok=True)
    src = (df.select("url", "warc_ts", "html", "lang")
           .repartition(n, "url")
           .sortWithinPartitions("url"))

    def batches(it):
        import gzip
        import json

        import pandas as pd
        from pyspark import TaskContext

        from zpdfspark.kernel.htmltext import extract_any

        ctx = TaskContext.get()
        name = f"jsonl-{ctx.partitionId():05d}.jsonl.gz"
        tmp = os.path.join(out_dir, f".{name}.tmp-{ctx.taskAttemptId()}")
        n_records = n_bytes = 0
        f = gz = None
        try:
            for b in it:
                for url, ts, blob, lang in zip(b["url"], b["warc_ts"],
                                               b["html"], b["lang"]):
                    raw = bytes(blob) if blob is not None else b""
                    text, kind, _ = extract_any(raw, mode)
                    line = json.dumps(
                        {"kind": kind, "lang": lang,
                         "n_chars": len(text), "text": text,
                         "ts": _wdate(ts), "url": url},
                        ensure_ascii=False, sort_keys=True,
                        separators=(",", ":")) + "\n"
                    if f is None:
                        f = open(tmp, "wb")
                        # filename="" keeps the attempt-suffixed tmp
                        # name OUT of the gzip header (determinism)
                        gz = gzip.GzipFile(filename="", fileobj=f,
                                           mode="wb", mtime=0)
                    gz.write(line.encode("utf-8"))
                    n_records += 1
        finally:
            if gz is not None:
                gz.close()
            if f is not None:
                f.close()
        if n_records == 0:
            if os.path.exists(tmp):
                os.remove(tmp)
            yield pd.DataFrame({"file": [], "n_records": [],
                                "n_bytes": []})
            return
        n_bytes = os.path.getsize(tmp)
        os.replace(tmp, os.path.join(out_dir, name))
        yield pd.DataFrame({"file": [name], "n_records": [n_records],
                            "n_bytes": [n_bytes]})

    return src.mapInPandas(batches, _SUMMARY_SCHEMA)



def archive_jsonl_batches(out_dir: str, mode: str = "accuracy"):
    """Per-archive JSONL writer (the dataset-release twin of
    archive_wet_batches): every (path, content) row writes
    `<archive-stem>.jsonl.gz` — one JSON object per response record
    in capture order, the same sorted-compact shape write_jsonl emits
    (lang is null: archives carry no language column). Output name
    and bytes are pure functions of the archive (pinned gzip mtime +
    empty header filename), so streaming batch replay overwrites
    byte-identically."""

    def fn(it):
        import gzip
        import json

        import pandas as pd
        from pyspark import TaskContext

        from zpdfspark.kernel import warc as _warc
        from zpdfspark.kernel.htmltext import extract_any

        attempt = TaskContext.get().taskAttemptId()
        for b in it:
            out = {"file": [], "n_records": [], "n_bytes": []}
            for path, content in zip(b["path"], b["content"]):
                name = _archive_name(path, ".jsonl.gz")
                tmp = os.path.join(out_dir, f".{name}.tmp-{attempt}")
                n_records = 0
                f = gz = None
                try:
                    for rec in _warc.iter_responses(bytes(content)):
                        text, kind, _ = extract_any(rec.body, mode)
                        line = json.dumps(
                            {"kind": kind, "lang": None,
                             "n_chars": len(text), "text": text,
                             "ts": rec.warc_date or "1970-01-01T00:00:00Z",
                             "url": rec.target_uri},
                            ensure_ascii=False, sort_keys=True,
                            separators=(",", ":")) + "\n"
                        if f is None:
                            f = open(tmp, "wb")
                            gz = gzip.GzipFile(filename="", fileobj=f,
                                               mode="wb", mtime=0)
                        gz.write(line.encode("utf-8"))
                        n_records += 1
                finally:
                    if gz is not None:
                        gz.close()
                    if f is not None:
                        f.close()
                if n_records == 0:
                    if os.path.exists(tmp):
                        os.remove(tmp)
                    continue
                n_bytes = os.path.getsize(tmp)
                os.replace(tmp, os.path.join(out_dir, name))
                out["file"].append(name)
                out["n_records"].append(n_records)
                out["n_bytes"].append(n_bytes)
            yield pd.DataFrame(out)

    return fn



def archive_wet_batches(out_dir: str, mode: str = "accuracy"):
    """Per-archive WET writer (see _archive_derivative_batches):
    payload = the extraction kernel's text for each response body."""

    def payload(rec):
        from zpdfspark.kernel.htmltext import extract_any

        return extract_any(rec.body, mode)[0]

    return _archive_derivative_batches(
        out_dir, ".warc.wet.gz", "wet_records", payload)


def archive_wat_batches(out_dir: str, max_links: int = 1000):
    """Per-archive WAT writer (see _archive_derivative_batches):
    payload = the same deterministic metadata JSON write_wat renders
    (wat_doc_json), so the streaming twin's records are byte-identical
    to the batch sink's for the same capture."""

    def payload(rec):
        return wat_doc_json(rec.target_uri, rec.body, max_links)

    return _archive_derivative_batches(
        out_dir, ".warc.wat.gz", "wat_records", payload)



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
    spark = cdx.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism
    os.makedirs(out_dir, exist_ok=True)
    src = (cdx.repartitionByRange(n, "urlkey", "cdx_ts")
           .sortWithinPartitions("urlkey", "cdx_ts", "digest",
                                 "warc_file", "rec_offset"))

    def batches(it):
        import gzip
        import io
        import json

        import pandas as pd
        from pyspark import TaskContext

        ctx = TaskContext.get()
        name = f"cdx-{ctx.partitionId():05d}.gz"
        tmp = os.path.join(out_dir, f".{name}.tmp-{ctx.taskAttemptId()}")
        idx = {k: [] for k in ("urlkey", "cdx_ts", "file", "offset",
                               "length", "seq", "n_lines")}
        state = {"f": None, "offset": 0, "seq": 0}
        buf: list = []
        first: list = []

        def flush():
            if not buf:
                return
            bio = io.BytesIO()
            with gzip.GzipFile(fileobj=bio, mode="wb", mtime=0) as g:
                g.write("".join(buf).encode("utf-8"))
            member = bio.getvalue()
            if state["f"] is None:
                state["f"] = open(tmp, "wb")
            state["f"].write(member)
            idx["urlkey"].append(first[0])
            idx["cdx_ts"].append(first[1])
            idx["file"].append(name)
            idx["offset"].append(state["offset"])
            idx["length"].append(len(member))
            idx["seq"].append(state["seq"])
            idx["n_lines"].append(len(buf))
            state["offset"] += len(member)
            state["seq"] += 1
            buf.clear()
            first.clear()

        for b in it:
            for (uk, ts, url, mime, status, digest, off, ln, wf) in zip(
                    b["urlkey"], b["cdx_ts"], b["url"], b["mime"],
                    b["http_status"], b["digest"], b["rec_offset"],
                    b["rec_length"], b["warc_file"]):
                # CC CDXJ convention: the JSON payload carries string
                # values, fixed field order
                payload = json.dumps({
                    "url": url, "mime": mime or "",
                    "status": str(status) if status is not None else "",
                    "digest": digest, "length": str(ln),
                    "offset": str(off), "filename": wf,
                }, separators=(", ", ": "))
                if not first:
                    first.extend((uk, ts))
                buf.append(f"{uk} {ts} {payload}\n")
                if len(buf) >= lines_per_block:
                    flush()
        flush()
        if state["f"] is not None:
            state["f"].close()
            os.replace(tmp, os.path.join(out_dir, name))
        yield pd.DataFrame(idx)

    return src.mapInPandas(batches, _ZIPNUM_IDX_SCHEMA)


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
