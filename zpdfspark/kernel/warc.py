"""WARC (Web ARChive) record reader for Common-Crawl-style ingestion.

Crawl corpora arrive as WARC files — ISO 28500 records, each
`WARC/1.x` + headers + Content-Length payload, conventionally one
gzip member PER RECORD concatenated into a .warc.gz (the Common Crawl
layout, which is what makes member-at-a-time streaming possible).
This reader handles both that layout and plain uncompressed WARC, and
strips the HTTP envelope from `response` records so the payload is
the raw document bytes the extraction kernel consumes.

Every reader goes through one record walk, `iter_warc_records_spans`,
which decompresses one gzip member at a time, so memory follows the
largest member, not the archive. A record split across members is
carried into the next one and read whole (at most MAX_HEADER_BYTES +
MAX_RECORD_BYTES are carried). A corrupt or truncated member yields
the records of the members before it, then raises WarcError.

Contract mirrors the rest of the kernel: a malformed RECORD yields an
error entry and the reader continues (a single corrupt record must
not kill a 1 GB archive task); a stream that is not WARC at all
raises WarcError before its first record.
"""

from __future__ import annotations

import zlib
from bisect import bisect_right
from itertools import accumulate
from typing import Iterator, Optional, Tuple

MAX_HEADER_BYTES = 64 * 1024
MAX_RECORD_BYTES = 256 * 1024 * 1024  # per-record DoS cap (Z12 spirit)


class WarcError(Exception):
    pass


class WarcRecord:
    __slots__ = ("warc_type", "target_uri", "warc_date", "content_type",
                 "body", "error", "refers_to_uri", "refers_to_date",
                 "http_status", "http_content_type")

    def __init__(self, warc_type: str = "", target_uri: Optional[str] = None,
                 warc_date: Optional[str] = None,
                 content_type: Optional[str] = None,
                 body: bytes = b"", error: Optional[str] = None,
                 refers_to_uri: Optional[str] = None,
                 refers_to_date: Optional[str] = None,
                 http_status: Optional[int] = None,
                 http_content_type: Optional[str] = None):
        self.warc_type = warc_type
        self.target_uri = target_uri
        self.warc_date = warc_date
        self.content_type = content_type
        self.body = body
        self.error = error
        # `revisit` records (WARC 1.1 §6.7; Common Crawl emits one per
        # unchanged re-capture) point at the prior capture they
        # duplicate — the crawl's own dedup hint.
        self.refers_to_uri = refers_to_uri
        self.refers_to_date = refers_to_date
        # from the response record's HTTP envelope (round 4): crawl
        # pipelines filter on these (status == 200, text/* mime)
        self.http_status = http_status
        self.http_content_type = http_content_type


_FIRST_WINDOW = 4096


def _gzip_members(raw: bytes) -> Iterator[Tuple[int, int, bytes]]:
    """Yield (offset, length, decompressed bytes) for each concatenated
    gzip member (the CC per-record layout), offsets into ``raw``; caps
    each member's output at MAX_RECORD_BYTES.

    Linear in the archive: each member is fed zero-copy ``memoryview``
    windows that double from 4 KiB, so the input zlib hands back past
    the member's end (``unused_data``, a copy) is bounded by the
    member's own size, never by the rest of the archive. Feeding
    ``raw[pos:]`` would copy the rest of the archive twice per member,
    quadratic in the member count."""
    view = memoryview(raw)
    n = len(view)
    pos = 0
    while pos < n:
        d = zlib.decompressobj(wbits=31)  # gzip wrapper
        parts, size = [], 0
        fed, window = pos, _FIRST_WINDOW
        while not d.eof:
            if fed >= n:
                raise WarcError(f"truncated gzip member at byte {pos}")
            end = min(fed + window, n)
            try:
                # one byte past the cap tells "exceeds" from "reaches"
                chunk = d.decompress(view[fed:end],
                                     MAX_RECORD_BYTES + 1 - size)
            except zlib.error as e:
                raise WarcError(f"gzip member at byte {pos}: {e}")
            size += len(chunk)
            if size > MAX_RECORD_BYTES:
                raise WarcError(f"gzip member at byte {pos} exceeds cap")
            parts.append(chunk)
            fed, window = end, window * 2
        consumed = fed - pos - len(d.unused_data)
        if consumed <= 0:  # zero-length member cannot advance
            raise WarcError("empty gzip member")
        yield pos, consumed, parts[0] if len(parts) == 1 else b"".join(parts)
        pos += consumed


def _dechunk(payload: bytes) -> bytes:
    """De-frame a Transfer-Encoding: chunked body (RFC 9112 §7.1):
    hex-size line, chunk bytes, CRLF, repeated; a 0-size chunk ends the
    stream (trailer section ignored). Heritrix/IA WARCs store bodies
    as captured on the wire, so chunk framing reaches us; Common Crawl
    stores identity bodies. Best-effort: malformed framing returns the
    bytes decoded so far plus nothing — never raises — because a
    truncated capture should still surface its readable prefix."""
    out = bytearray()
    pos = 0
    n = len(payload)
    while pos < n:
        eol = payload.find(b"\r\n", pos, pos + 18)
        if eol == -1:
            break
        size_tok = payload[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            break
        if size == 0:
            break  # terminal chunk; trailers ignored
        start = eol + 2
        if start + size > n or len(out) + size > MAX_RECORD_BYTES:
            out += payload[start:n]  # truncated capture: keep prefix
            break
        out += payload[start:start + size]
        pos = start + size + 2  # skip chunk-data CRLF
    return bytes(out)


def _decode_content(payload: bytes, encoding: str) -> bytes:
    """Undo Content-Encoding: gzip/x-gzip/deflate (the wire codings
    non-CC archives store verbatim). `deflate` tries zlib-wrapped
    first, then raw-deflate — real servers send both spellings.
    Unknown codings and decode errors pass the bytes through
    unchanged (best-effort, never raises)."""
    enc = encoding.strip().lower()
    try:
        if enc in ("gzip", "x-gzip"):
            d = zlib.decompressobj(wbits=31)
            return d.decompress(payload, MAX_RECORD_BYTES)
        if enc == "deflate":
            for wbits in (15, -15):
                d = zlib.decompressobj(wbits=wbits)
                try:
                    return d.decompress(payload, MAX_RECORD_BYTES)
                except zlib.error:
                    continue
        if enc == "br":
            # import-gated: no brotli codec is baked into this
            # container; with one installed (any real deployment) the
            # branch goes live, without it the bytes pass through
            # like every other unknown coding
            try:
                import brotli
            except ImportError:
                return payload
            try:
                out = brotli.decompress(payload)
                return out if len(out) <= MAX_RECORD_BYTES else payload
            except Exception:
                return payload
        if enc == "zstd":
            try:
                import zstandard
            except ImportError:
                return payload
            try:
                out = zstandard.ZstdDecompressor().decompress(
                    payload, max_output_size=MAX_RECORD_BYTES)
                return out
            except Exception:
                return payload
    except zlib.error:
        pass
    return payload


def _strip_http(body: bytes):
    """Split the HTTP response envelope off a response record payload:
    returns (status, content_type, payload). Non-HTTP payloads pass
    through with (None, None, body); a malformed status line or
    unterminated header block degrades the same way (best-effort —
    envelope metadata is data, not a parse gate). Transfer-Encoding:
    chunked framing is removed and Content-Encoding: gzip/deflate
    bodies are decompressed (round 5): Heritrix/IA WARCs and older
    segments store wire bytes, and chunk-size lines would otherwise
    pollute the extracted text."""
    if not body.startswith(b"HTTP/"):
        return None, None, body
    sep = body.find(b"\r\n\r\n")
    if sep == -1:
        return None, None, body
    head = body[:sep].split(b"\r\n")
    status = None
    parts = head[0].split(b" ", 2)
    if len(parts) >= 2 and parts[1].isdigit():
        status = int(parts[1])
    ctype = None
    chunked = False
    cenc = None
    for line in head[1:]:
        k, _, v = line.partition(b":")
        key = k.strip().lower()
        if key == b"content-type" and ctype is None:
            ctype = v.strip().decode("latin-1") or None
        elif key == b"transfer-encoding":
            chunked = b"chunked" in v.strip().lower()
        elif key == b"content-encoding":
            cenc = v.strip().decode("latin-1").lower() or None
    payload = body[sep + 4:]
    if chunked:
        payload = _dechunk(payload)
    if cenc:
        payload = _decode_content(payload, cenc)
    return status, ctype, payload


def iter_warc_records(raw: bytes) -> Iterator[WarcRecord]:
    """Yield WarcRecord for every record in the (possibly per-record
    gzipped) WARC byte stream: iter_warc_records_spans without spans.
    Malformed records yield an entry with `error` set and scanning
    resynchronizes at the next 'WARC/' magic. A record split across
    gzip members is read whole; a corrupt or truncated member raises
    WarcError after the records of the members before it."""
    for rec, _off, _len in iter_warc_records_spans(raw):
        yield rec


def iter_responses(raw: bytes, http_ok_only: bool = False
                   ) -> Iterator[WarcRecord]:
    """The records every document consumer keeps: `response` records
    without a parse error that carry a target URI. Real crawls
    interleave request/metadata records per capture, all with
    WARC-Target-URI; keeping them would emit ~3x rows with raw
    request/metadata bytes as bodies. http_ok_only also drops
    responses whose HTTP envelope carries a non-200 status (redirect
    stubs, error pages); envelope-less payloads (no status) are kept.
    WarcError ends the archive quietly: a corrupt gzip member keeps
    the responses before it; a non-WARC stream yields nothing."""
    try:
        for rec in iter_warc_records(raw):
            if rec.error or not rec.target_uri \
                    or rec.warc_type != "response":
                continue
            if http_ok_only and rec.http_status not in (None, 200):
                continue
            yield rec
    except WarcError:
        return


def iter_warc_records_spans(raw: bytes) -> Iterator[Tuple[WarcRecord,
                                                          int, int]]:
    """The one record walk: yield (record, offset, length) with offsets
    into the STORED byte stream — the triple a CDX(J) index line
    carries so a wayback range request can fetch one capture without
    scanning the archive. For gzip archives the span runs from the
    start of the member where the record begins to the end of the
    member where it ends (one member per record in the Common Crawl
    layout). For plain streams it is the record's uncompressed bytes.
    Members are parsed as they are decompressed; bytes they leave
    unfinished wait for the next member, so a split record reads as in
    the joined stream. A header block with no end within
    MAX_HEADER_BYTES is an error record; the walk resumes at the next
    member."""
    gz = raw[:2] == b"\x1f\x8b"
    # bytes() copies only a memoryview: the plain parse needs bytes methods
    members = _gzip_members(raw) if gz else ((0, len(raw), bytes(raw)),)
    # unparsed (plain bytes, stored offset, stored end) of members; the
    # first parse waits for the 5 bytes of the magic check
    held, need, first = [], 5, True
    for pos, length, data in members:
        held.append((data, pos, pos + length))
        need -= len(data)
        last = pos + length == len(raw)
        if need > 0 and not last:
            continue
        buf = data if len(held) == 1 else b"".join(h[0] for h in held)
        if first and not buf.startswith(b"WARC/"):
            raise WarcError("not a WARC stream")
        first = False
        edges = list(accumulate(len(h[0]) for h in held))  # ends in buf
        parts, held = held, []
        for rec, s, e in _iter_plain_spans(buf, final=last):
            off = parts[bisect_right(edges, s)][1] if gz else s
            if rec is None:  # unfinished: wait until buf[s:e] is here
                held, need = [(buf[s:], off, parts[-1][2])], e - len(buf)
                break
            end = parts[bisect_right(edges, e - 1)][2] if gz else e
            yield rec, off, end - off


def _iter_plain_spans(raw: bytes, final: bool = True
                      ) -> Iterator[Tuple[Optional[WarcRecord], int, int]]:
    """Record parser over an uncompressed WARC stream: yields
    (record, start, end) byte spans. Unless ``final``, bytes whose
    outcome depends on more input (cut-short headers, body or magic)
    end it with (None, start, needed end); headers wait for twice their
    bytes, so a record cut into tiny members is re-parsed log times."""
    pos = 0
    n = len(raw)
    while pos < n:
        if raw[pos : pos + 5] != b"WARC/":
            nxt = raw.find(b"WARC/", pos)
            if nxt == -1:
                w = raw.rfind(b"W", max(pos, n - 4))  # a cut-short magic?
                if not final and w != -1 and b"WARC/".startswith(raw[w:]):
                    yield None, w, 2 * n - w
                break  # trailing padding
            pos = nxt
        rec_start = pos
        hdr_end = raw.find(b"\r\n\r\n", pos, pos + MAX_HEADER_BYTES)
        if hdr_end == -1:
            if not final and n < pos + MAX_HEADER_BYTES:
                yield None, rec_start, 2 * n - rec_start
            else:
                yield WarcRecord(error="unterminated record headers"), \
                    rec_start, n
            break
        headers = {}
        lines = raw[pos:hdr_end].split(b"\r\n")
        for line in lines[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("latin-1")] = (
                v.strip().decode("latin-1"))
        body_start = hdr_end + 4
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            yield WarcRecord(error="missing/invalid Content-Length"), \
                rec_start, body_start
            pos = body_start
            continue
        if length < 0 or length > MAX_RECORD_BYTES:
            yield WarcRecord(error="Content-Length out of bounds"), \
                rec_start, body_start
            pos = body_start
            continue
        if body_start + length > n:
            if not final:
                yield None, rec_start, body_start + length
            else:
                yield WarcRecord(error="record body truncated"), \
                    rec_start, n
            break
        body = raw[body_start : body_start + length]
        wtype = headers.get("warc-type", "")
        http_status = http_ct = None
        if wtype == "response":
            http_status, http_ct, body = _strip_http(body)
        yield WarcRecord(
            warc_type=wtype,
            target_uri=headers.get("warc-target-uri"),
            warc_date=headers.get("warc-date"),
            content_type=headers.get("content-type"),
            body=body,
            refers_to_uri=headers.get("warc-refers-to-target-uri"),
            refers_to_date=headers.get("warc-refers-to-date"),
            http_status=http_status,
            http_content_type=http_ct), rec_start, body_start + length
        # records are followed by \r\n\r\n per the spec; resync is
        # magic-based so a missing separator cannot shift the stream
        pos = body_start + length


def surt(url: str) -> str:
    """SURT urlkey — the CDX(J) sort key every wayback-style index
    uses so one host's captures sort contiguously: scheme and
    fragment dropped, host lowercased with a leading 'www.' stripped,
    default ports dropped, host labels REVERSED comma-joined, then
    ')' and the lowercased path with query parameters sorted
    (`com,example)/page?a=1&b=2`). Parsed by hand — the key must be
    deterministic on hostile crawl URLs, not on what a URL library
    accepts."""
    u = url.strip()
    scheme_end = u.find("://")
    if scheme_end != -1:
        u = u[scheme_end + 3:]
    u = u.split("#", 1)[0]
    hostport, sep, pathq = u.partition("/")
    pathq = sep + pathq if sep else "/"
    host = hostport.rsplit("@", 1)[-1].lower()  # drop userinfo
    port = ""
    if ":" in host and not host.startswith("["):  # no IPv6 reversal
        host, _, port = host.partition(":")
    if host.startswith("www."):
        host = host[4:]
    if port and port not in ("80", "443"):
        host_key = ",".join(reversed(host.split("."))) + ":" + port
    else:
        host_key = ",".join(reversed(host.split(".")))
    path, qsep, query = pathq.partition("?")
    path = path.lower()
    if query:
        params = sorted(query.lower().split("&"))
        return host_key + ")" + path + "?" + "&".join(params)
    return host_key + ")" + path


def cdx_timestamp(warc_date: str) -> str:
    """WARC-Date (ISO-8601, optional fractional seconds) -> the CDX
    14-digit YYYYMMDDHHMMSS key."""
    digits = "".join(c for c in warc_date.split(".")[0] if c.isdigit())
    return digits[:14]


def _derivative_records(filename: str, docs, wtype: str, ctype: str,
                        id_prefix: str, description: str
                        ) -> Iterator[bytes]:
    """Shared streamer for Common Crawl derivative files (WET/WAT): a
    leading `warcinfo` record, then one record of the given type per
    (url, warc_date, payload_bytes) doc, each its own gzip member.
    Record ids are deterministic md5-derived urn:uuid values so
    re-runs emit byte-identical files (gzip mtime pinned to 0 in
    build_warc). Yields nothing for an empty doc iterable — callers
    skip the file rather than writing a warcinfo-only shell."""
    import hashlib

    first = True
    for url, date, payload in docs:
        if first:
            info = (b"software: zpdfspark\r\n"
                    b"format: WARC File Format 1.0\r\n"
                    b"description: " + description.encode() + b"\r\n")
            yield build_warc(
                [(filename, date, info, "application/warc-fields",
                  "warcinfo", {"WARC-Filename": filename})])
            first = False
        rid = hashlib.md5((id_prefix + ":" + url).encode()).hexdigest()
        ref = hashlib.md5(("response:" + url).encode()).hexdigest()
        yield build_warc(
            [(url, date, payload, ctype, wtype,
              {"WARC-Record-ID": f"<urn:uuid:{rid}>",
               "WARC-Refers-To": f"<urn:uuid:{ref}>"})])


def wet_records(filename: str, docs) -> Iterator[bytes]:
    """WET (*.warc.wet.gz extracted-text distribution): `conversion`
    records, text/plain UTF-8 bodies, per (url, warc_date, text)."""
    return _derivative_records(
        filename, ((u, d, t.encode("utf-8")) for u, d, t in docs),
        "conversion", "text/plain", "wet",
        "extracted-text conversion records")


def wat_records(filename: str, docs) -> Iterator[bytes]:
    """WAT (*.warc.wat.gz metadata distribution): `metadata` records,
    application/json bodies, per (url, warc_date, json_str)."""
    return _derivative_records(
        filename, ((u, d, j.encode("utf-8")) for u, d, j in docs),
        "metadata", "application/json", "wat",
        "WAT metadata records")


def build_warc(records, per_record_gzip: bool = True) -> bytes:
    """Minimal WARC writer for fixtures/tests — the independent
    direction against iter_warc_records. `records` is an iterable of
    (target_uri, warc_date, payload_bytes, content_type) 4-tuples
    (each a `response` record with a plain HTTP 200 envelope) or
    (..., warc_type, extra_headers) 5/6-tuples for non-response
    records (`request` gets an HTTP request envelope; `metadata`/
    `revisit`/... carry the payload raw, matching real crawls where
    only responses are HTTP-response-wrapped). Each record is gzipped
    as its own member when per_record_gzip (the Common Crawl layout)."""
    import gzip as _gzip

    out = bytearray()
    for rec_tuple in records:
        uri, date, payload, ctype = rec_tuple[:4]
        wtype = rec_tuple[4] if len(rec_tuple) > 4 else "response"
        extra = rec_tuple[5] if len(rec_tuple) > 5 else {}
        if wtype == "response":
            status = extra.pop("_http_status", "200 OK") if extra else "200 OK"
            # wire codings (round 5): `_http_content_encoding` gzips/
            # deflates the payload, `_http_chunked` frames it in N-byte
            # chunks — the Heritrix/IA capture shape iter_warc_records
            # must undo byte-identically.
            cenc = extra.pop("_http_content_encoding", None) if extra else None
            chunk = extra.pop("_http_chunked", 0) if extra else 0
            wire = payload
            enc_hdr = b""
            if cenc == "gzip":
                wire = _gzip.compress(wire, mtime=0)
                enc_hdr += b"Content-Encoding: gzip\r\n"
            elif cenc == "deflate":
                wire = zlib.compress(wire)
                enc_hdr += b"Content-Encoding: deflate\r\n"
            if chunk:
                framed = bytearray()
                for i in range(0, len(wire), chunk):
                    piece = wire[i:i + chunk]
                    framed += (b"%x\r\n" % len(piece)) + piece + b"\r\n"
                framed += b"0\r\n\r\n"
                wire = bytes(framed)
                enc_hdr += b"Transfer-Encoding: chunked\r\n"
                length_hdr = b""  # chunked forbids Content-Length
            else:
                length_hdr = (b"Content-Length: "
                              + str(len(wire)).encode() + b"\r\n")
            body = (b"HTTP/1.1 " + str(status).encode("latin-1")
                    + b"\r\nContent-Type: "
                    + ctype.encode("latin-1") + b"\r\n"
                    + enc_hdr + length_hdr
                    + b"\r\n" + wire)
            rec_ctype = b"application/http; msgtype=response"
        elif wtype == "request":
            body = (b"GET / HTTP/1.1\r\nHost: example.com\r\n\r\n" + payload)
            rec_ctype = b"application/http; msgtype=request"
        else:
            body = payload
            rec_ctype = ctype.encode("latin-1")
        hdr = bytearray(
            b"WARC/1.0\r\n"
            b"WARC-Type: " + wtype.encode("latin-1") + b"\r\n"
            b"WARC-Target-URI: " + uri.encode("latin-1") + b"\r\n"
            b"WARC-Date: " + date.encode("latin-1") + b"\r\n")
        for k, v in extra.items():
            hdr += (k.encode("latin-1") + b": " + v.encode("latin-1")
                    + b"\r\n")
        hdr += (b"Content-Type: " + rec_ctype + b"\r\n"
                b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n")
        rec = bytes(hdr) + body + b"\r\n\r\n"
        out += (_gzip.compress(rec, mtime=0) if per_record_gzip else rec)
    return bytes(out)
