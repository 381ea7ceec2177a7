"""HTML main-content extraction: boilerplate strip + DOM heuristics.

The input table is Common-Crawl-style; rows whose payload is HTML (not
PDF) go through this kernel (north_rule: "HTML boilerplate strip,
PDF/layout parse, DOM heuristics"). Deterministic, dependency-free
semantics (the spec for the fixture oracles):

1. drop <script>/<style>/<template>/<noscript> elements, comments,
   and the boilerplate containers <head>, <nav>, <header>, <footer>,
   <aside> (non-nested; hostile nesting degrades to tag-strip, never
   crashes)
2. source newlines are plain whitespace (HTML semantics) — normalized
   to spaces first, so tags/anchors wrapped across pretty-printed
   lines behave identically to single-line markup; block-level tags
   (p, div, br, li, tr, h1-h6, section, article, blockquote, pre,
   table) break lines; other tags are removed inline
3. entities unescaped (html.unescape); whitespace collapsed per line;
   empty lines dropped; lines joined with "\\n"
4. DOM heuristic: if a <main> or <article> element exists, extraction
   is restricted to the first such element (main-content selection);
   otherwise the whole stripped <body> (or document) is used
5. link-density pruning (the jusText/trafilatura-style boilerplate
   rule): a line whose anchor text makes up more than 2/3 of its
   visible characters (measured after entity unescape) is
   navigation/related-links boilerplate and is dropped; anchors that
   span block boundaries don't count as links
6. charset sniffing (round 4 — crawl pages are NOT all UTF-8): BOM
   first (utf-8/utf-16le/utf-16be; utf-16 transcodes to utf-8 before
   byte-domain tag processing), then <meta charset> in the spec's
   1024-byte prescan window via the WHATWG alias table (the iso-8859-1
   label MEANS windows-1252 on the web), else utf-8 with replacement

`extract_any` (end of file) dispatches every payload kind, HTML among
them, to its kernel; its `_KINDS` table is the one document of which
kernel reads which payload.
"""

from __future__ import annotations

import html as html_mod
import re

from . import (csvdoc, djvu, docx, eml, epub, font, ipynb, jsondoc, latex,
               odp, ods, odt, pptx, rtf, sqlitedb, subtitles, wikitext, xlsx)
from .document import Document
from .package import package_kind

_DROP_ELEMENTS = ("script", "style", "template", "noscript",
                  "head", "nav", "header", "footer", "aside")
_DROP_RES = [
    re.compile(
        rb"<" + name.encode() + rb"\b[^>]*>.*?</" + name.encode() + rb"\s*>",
        re.DOTALL | re.IGNORECASE,
    )
    for name in _DROP_ELEMENTS
]
_COMMENT_RE = re.compile(rb"<!--.*?-->", re.DOTALL)
_MAIN_RE = re.compile(rb"<(main|article)\b[^>]*>(.*?)</\1\s*>",
                      re.DOTALL | re.IGNORECASE)
_BODY_RE = re.compile(rb"<body\b[^>]*>(.*?)</body\s*>",
                      re.DOTALL | re.IGNORECASE)
_BLOCK_TAG_RE = re.compile(
    rb"</?(?:p|div|br|li|ul|ol|tr|td|th|table|h[1-6]|section|article|"
    rb"blockquote|pre|main|body|html|form|figure)\b[^>]*/?>",
    re.IGNORECASE,
)
_TAG_RE = re.compile(rb"<[^>]*>")
_A_RE = re.compile(rb"<a\b[^>]*>(.*?)</a\s*>", re.IGNORECASE)
_WS_RE = re.compile(r"[ \t\r\f\v]+")
_LINK_DENSITY_MAX = 2 / 3


_META_CHARSET_RE = re.compile(
    rb"<meta\b[^>]*charset\s*=\s*[\"']?([A-Za-z0-9_.:-]+)", re.IGNORECASE)
# label -> python codec, per the WHATWG encoding registry's common web
# aliases; everything else falls through to utf-8/replace
_CHARSET_ALIASES = {
    "utf-8": "utf-8", "utf8": "utf-8",
    "iso-8859-1": "windows-1252",  # WHATWG: latin-1 label MEANS cp1252
    "latin-1": "windows-1252", "latin1": "windows-1252",
    "windows-1252": "windows-1252", "cp1252": "windows-1252",
    "iso-8859-2": "iso-8859-2", "iso-8859-15": "iso-8859-15",
    "windows-1251": "windows-1251", "koi8-r": "koi8-r",
    "gbk": "gbk", "gb2312": "gbk", "gb18030": "gb18030",
    "big5": "big5", "shift_jis": "shift_jis", "shift-jis": "shift_jis",
    "sjis": "shift_jis", "euc-jp": "euc_jp", "euc-kr": "euc_kr",
}


def sniff_charset(raw: bytes) -> str:
    """Crawl pages are NOT all UTF-8: sniff BOM first, then a <meta
    charset> / http-equiv declaration in the first 1024 bytes (the
    HTML spec's prescan window), else default utf-8. Returns a Python
    codec name; utf-16 callers must transcode before byte-domain tag
    processing (utf-16 is not ASCII-compatible)."""
    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8"
    if raw[:2] == b"\xff\xfe":
        return "utf-16-le"
    if raw[:2] == b"\xfe\xff":
        return "utf-16-be"
    m = _META_CHARSET_RE.search(raw[:1024])
    if m:
        label = m.group(1).decode("ascii", "replace").lower()
        return _CHARSET_ALIASES.get(label, "utf-8")
    return "utf-8"


def charset_report(raw: bytes):
    """Lineage view of the sniff decision: (had_bom, declared_label,
    codec). `declared_label` is the raw <meta charset>/http-equiv label
    found in the 1024-byte prescan window (lowercased, None if absent);
    `codec` is what sniff_charset resolves to (BOM first, then the
    WHATWG alias table). A curation pipeline records all three per page
    so decode decisions are auditable after the bytes are gone."""
    had_bom = (raw[:3] == b"\xef\xbb\xbf"
               or raw[:2] in (b"\xff\xfe", b"\xfe\xff"))
    m = _META_CHARSET_RE.search(raw[:1024])
    declared = m.group(1).decode("ascii", "replace").lower() if m else None
    return had_bom, declared, sniff_charset(raw)


def looks_like_html(raw: bytes) -> bool:
    if raw[:2] in (b"\xff\xfe", b"\xfe\xff"):
        # utf-16 BOM: check the transcoded head
        try:
            raw = raw.decode(
                "utf-16-le" if raw[:2] == b"\xff\xfe" else "utf-16-be",
                "replace").encode("utf-8", "replace")
        except Exception:
            return False
    head = raw[:256].lstrip(b"\xef\xbb\xbf \t\r\n")
    return head[:1] == b"<" or b"<html" in head.lower() or b"<!doctype" in head.lower()


_FEED_RSS_RE = re.compile(rb"<rss[\s>]")
_FEED_ATOM_RE = re.compile(rb"<feed[\s>]")


def looks_like_feed(raw: bytes) -> bool:
    """RSS/Atom sniff — must run BEFORE looks_like_html in any
    dispatch (feed XML satisfies the generous html head check)."""
    head = raw[:512].lstrip(b"\xef\xbb\xbf \t\r\n")
    if not head.startswith(b"<"):
        return False
    return bool(_FEED_RSS_RE.search(head) or _FEED_ATOM_RE.search(head))


def extract_main_text(raw: bytes) -> str:
    """Boilerplate-stripped main content; never raises."""
    try:
        codec = sniff_charset(raw)
        if codec.startswith("utf-16"):
            # transcode to utf-8 so the byte-domain tag regexes work
            # (utf-16 is not ASCII-compatible); drop the BOM
            raw = raw.decode(codec, "replace").lstrip("﻿").encode(
                "utf-8", "replace")
            codec = "utf-8"
        elif raw[:3] == b"\xef\xbb\xbf":
            raw = raw[3:]

        def to_text(bs: bytes) -> str:
            return html_mod.unescape(bs.decode(codec, "replace"))

        data = _COMMENT_RE.sub(b"", raw)
        for rx in _DROP_RES:
            data = rx.sub(b"", data)
        m = _MAIN_RE.search(data)
        if m:
            data = m.group(2)
        else:
            b = _BODY_RE.search(data)
            if b:
                data = b.group(1)
        # source newlines are whitespace, not breaks: normalizing them
        # first keeps tags/anchors wrapped across pretty-printed lines
        # intact for the tag and link-density regexes below
        data = data.replace(b"\r", b" ").replace(b"\n", b" ")
        data = _BLOCK_TAG_RE.sub(b"\n", data)
        lines = []
        for raw_line in data.split(b"\n"):
            stripped = _TAG_RE.sub(b"", raw_line)
            visible = to_text(stripped).strip()
            if not visible:
                continue
            # link-density pruning on UNESCAPED characters: anchors
            # fully contained in the line vs the line's visible text
            link_chars = sum(
                len(to_text(_TAG_RE.sub(b"", m)).strip())
                for m in _A_RE.findall(raw_line))
            if link_chars / len(visible) > _LINK_DENSITY_MAX:
                continue
            # &#10; entities decode to newlines: they split lines too
            for piece in visible.split("\n"):
                piece = _WS_RE.sub(" ", piece).strip()
                if piece:
                    lines.append(piece)
        return "\n".join(lines)
    except Exception:
        return ""


_TEXT_WINDOW = 4096
# bytes that keep a payload "texty": printable ASCII + common WS; high
# bytes are allowed (utf-8 multibyte) — control bytes are the signal
_CTRL = frozenset(range(0x20)) - {0x09, 0x0A, 0x0D}


def looks_like_text(raw: bytes) -> bool:
    """Plain-text sniff for the LAST dispatch slot: non-empty, no NULs,
    <0.5% control bytes and valid-enough UTF-8 in the head window.
    Every structured sniff must run first — this accepts almost any
    prose."""
    if not raw:
        return False
    head = raw[:_TEXT_WINDOW]
    if b"\x00" in head:
        return False
    ctrl = sum(1 for b in head if b in _CTRL)
    if ctrl * 200 > len(head):
        return False
    try:
        head.decode("utf-8")
    except UnicodeDecodeError:
        # a multibyte char cut at the window edge is fine; real binary
        # is not — retry without the tail fragment
        try:
            head[:-4].decode("utf-8")
        except UnicodeDecodeError:
            return False
    return True


_GZ_CAP = 256 << 20          # the filters.py decompression-bomb bound


def _gunzip_capped(raw: bytes):
    """Bounded single-member gunzip for standalone .gz payloads; None
    on corruption or when the cap is hit (bomb posture: data, not a
    task failure)."""
    import zlib

    try:
        d = zlib.decompressobj(31)
        out = d.decompress(raw, _GZ_CAP)
        if d.unconsumed_tail:
            return None
        return out
    except zlib.error:
        return None


def _bunzip2_capped(raw: bytes):
    """Bounded bzip2 decompress for standalone .bz2 payloads (same
    bomb posture as _gunzip_capped: corruption or cap -> None, never a
    task failure). bzip2 is the classic mirror/archive coding crawls
    still hit (.tar.bz2, .html.bz2 on software mirrors)."""
    import bz2

    try:
        d = bz2.BZ2Decompressor()
        out = d.decompress(raw, _GZ_CAP)
        if not d.eof:
            # cap hit mid-stream (bomb) or truncated input — either way
            # the payload is not a document we can trust
            return None
        return out
    except OSError:
        return None


def _unxz_capped(raw: bytes):
    """Bounded xz decompress for standalone .xz payloads (bomb posture
    as above). xz ships kernel sources, wikis and dataset dumps; the
    format's own integrity checks make corruption loud."""
    import lzma

    try:
        d = lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
        out = d.decompress(raw, _GZ_CAP)
        if not d.eof:
            return None
        return out
    except lzma.LZMAError:
        return None


def _unwrap(kind: str, decompress):
    """Handler of a standalone compression wrapper (.html.gz, .tar.bz2,
    .xz dumps; servers ship them as files, distinct from the
    Content-Encoding layer kernel/warc.py strips): unpack bounded and
    re-dispatch the inner bytes once, reported as "<kind>+<inner kind>".
    A nested wrapper, a corrupt stream or a bomb reports `kind` alone."""
    def handler(raw, mode, depth):
        inner = decompress(raw) if depth == 0 else None
        if inner is None:
            return "", kind, None
        text, inner_kind, doc = extract_any(inner, mode, 1)
        return text, f"{kind}+{inner_kind}", doc
    return handler


def _pdf(raw, mode, _depth):
    doc = Document(raw)
    return doc.extract_all(mode), "pdf", doc


def _subtitles(raw, _mode, _depth):
    try:
        m = subtitles.parse_subtitles(raw)
        return m["text"], m["kind"], None
    except subtitles.SubtitleError:
        return "", "srt", None


def _parsed(parse, error):
    """Text of a kernel whose parse returns {"text": ...}; a payload
    it rejects with its own `error` extracts empty (tolerant-open
    posture: data, not a task failure)."""
    def text(raw):
        try:
            return parse(raw)["text"]
        except error:
            return ""
    return text


def _plain_text(raw: bytes) -> str:
    # newlines normalize, trailing whitespace strips; byte content is
    # otherwise untouched
    text = raw.decode(sniff_charset(raw), "replace")
    if text[:1] == "\ufeff":
        text = text[1:]
    return text.replace("\r\n", "\n").replace("\r", "\n").rstrip()


# package kind -> its kernel's text
_PACKAGES = {
    "docx": _parsed(docx.parse_docx, docx.DocxError),
    "epub": _parsed(epub.parse_epub, epub.EpubError),
    "xlsx": _parsed(xlsx.parse_xlsx, xlsx.XlsxError),
    "pptx": _parsed(pptx.parse_pptx, pptx.PptxError),
    "odt": _parsed(odt.parse_odt, odt.OdtError),
    "ods": _parsed(ods.parse_ods, ods.OdsError),
    "odp": _parsed(odp.parse_odp, odp.OdpError),
}


def _package(raw, _mode, _depth):
    # one names-only directory walk decides the package kind; a ZIP
    # that is no package falls through to the rows below
    kind = package_kind(raw)
    return None if kind is None else (_PACKAGES[kind](raw), kind, None)


# The payload-kind precedence of extract_any: the first row whose probe
# admits the payload decides. Each row is (probe, kind, text): text(raw)
# is the extracted text, None marks a census-only kind (detected and
# named, never reduced to text). A row with kind None is a handler
# (raw, mode, depth) that returns the whole (text, kind, doc) triple
# itself, or None to fall through.
_KINDS = (
    # compression wrappers first: the inner payload re-dispatches once
    (lambda raw: raw[:2] == b"\x1f\x8b", None, _unwrap("gz", _gunzip_capped)),
    (lambda raw: raw[:3] == b"BZh" and raw[3:4].isdigit(), None,
     _unwrap("bz2", _bunzip2_capped)),
    (lambda raw: raw[:6] == b"\xfd7zXZ\x00", None,
     _unwrap("xz", _unxz_capped)),
    # zstd (RFC 8878, live as Content-Encoding on the modern web): no
    # zstd library here and its FSE/Huffman stage is out of from-scratch
    # scope, so it is reported at any depth, never guessed at
    (lambda raw: raw[:4] == b"\x28\xb5\x2f\xfd", "zstd", None),
    (lambda raw: raw.startswith(b"%PDF-"), None, _pdf),
    # DOCX, EPUB, XLSX, PPTX, then the OpenDocument trio (package_kind)
    (lambda raw: raw[:4] == b"PK\x03\x04", None, _package),
    # an archive of documents is not a document: census via kernel/tar.py
    # (tar_meta), no text reduction
    (lambda raw: raw[257:262] == b"ustar" and not looks_like_html(raw),
     "tar", None),
    (lambda raw: raw[:5] == b"{\\rtf", "rtf",
     _parsed(rtf.parse_rtf, rtf.RtfError)),
    # PostScript needs an interpreter (the reference has none) and DjVu
    # page decode is IW44/JB2: both out of scope, census only
    (lambda raw: raw[:4] == b"%!PS", "ps", None),
    (djvu.is_djvu, "djvu", None),
    # a database is data, not a document (the tar rule)
    (sqlitedb.is_sqlite, "sqlite", None),
    # mail sniffs BEFORE the generous html check (an html body part
    # satisfies it); an archive of messages is census only
    (eml.is_eml, "eml", _parsed(eml.parse_eml, eml.EmlError)),
    (eml.is_mbox, "mbox", None),
    # web fonts, and archive formats named honestly, never unpacked
    (font.looks_like_font, "font", None),
    (lambda raw: raw[:6] == b"Rar!\x1a\x07", "rar", None),
    (lambda raw: raw[:6] == b"7z\xbc\xaf\x27\x1c", "7z", None),
    # notebooks are json WITH text, so they sniff before json/jsonl;
    # dataset shards and API dumps are data, not prose (the tar rule)
    (ipynb.looks_like_ipynb, "ipynb",
     _parsed(ipynb.parse_ipynb, ipynb.IpynbError)),
    (jsondoc.looks_like_jsonl, "jsonl", None),
    (jsondoc.looks_like_json, "json", None),
    # arXiv sources (scoped detex), MediaWiki XML exports (export XML
    # satisfies the generous html check) and subtitle transcripts
    (latex.looks_like_tex, "tex",
     _parsed(latex.parse_latex, latex.LatexError)),
    (wikitext.looks_like_wiki, "wiki",
     _parsed(wikitext.parse_wiki, wikitext.WikiError)),
    (lambda raw: (subtitles.looks_like_vtt(raw)
                  or subtitles.looks_like_srt(raw)), None, _subtitles),
    (looks_like_html, "html", extract_main_text),
    # delimited tables: tab/newline grid reduction (the xlsx rule)
    (csvdoc.looks_like_csv, "csv", _parsed(csvdoc.parse_csv, csvdoc.CsvError)),
    # text/plain is a huge crawl class and IS training text: the last
    # resort once every structured sniff has passed
    (looks_like_text, "txt", _plain_text),
)


def extract_any(raw: bytes, mode: str = "accuracy", _depth: int = 0):
    """Extract the text of any payload: the first _KINDS row whose
    probe admits it picks the kernel; a payload no row admits goes
    through the PDF kernel as kind "unknown". `_depth` is the wrapper
    nesting level (a wrapper inside a wrapper is never unpacked).
    Returns (text, kind, doc_or_None)."""
    for probe, kind, text in _KINDS:
        if probe(raw):
            if kind is None:
                out = text(raw, mode, _depth)
                if out is not None:
                    return out
            else:
                return ("" if text is None else text(raw)), kind, None
    doc = Document(raw)
    return doc.extract_all(mode), "unknown", doc
