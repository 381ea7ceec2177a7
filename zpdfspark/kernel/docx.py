"""DOCX (WordprocessingML) text extraction over the from-scratch ZIP
walk (kernel/ziparc.py).

Office documents are a standing fraction of crawled payloads; a
main-content extraction engine that stops at PDF/HTML silently drops
them. The text layer here is the exact analogue of the PDF kernel's
content-stream walk: the container index (central directory ~ xref)
locates `word/document.xml`, and a single ordered token scan over the
paragraph markup assembles reading-order text — `<w:t>` runs
concatenated in document order, `<w:tab/>` as TAB, `<w:br/>`/`<w:cr/>`
as newline, paragraphs joined with newline (the \x0c-join rule's
WordprocessingML sibling, kernel/document.py:414's shape). Core
properties (docProps/core.xml dc:title/dc:creator) mirror the PDF
metadata family (kernel/document.py metadata()). The container probe,
read and Dublin Core read are kernel/package.py's.

Parsing is regex-token based, not a DOM: document.xml is
machine-emitted, and the token walk is O(n) with no recursion to
protect — hostile inputs are bounded by ziparc's size caps plus the
entity-decode caps below.
"""

from __future__ import annotations

import re

from .package import dc_field, has_member, read_package
from .ziparc import zip_names


class DocxError(ValueError):
    pass


_DOC_XML = "word/document.xml"
_CORE_XML = "docProps/core.xml"

# one pass, document order: text runs, tabs, line breaks
_TOKEN = re.compile(
    rb"<w:t(?:\s[^>]*)?>(.*?)</w:t>"
    rb"|<w:tab\b[^>]*/>"
    rb"|<w:br\b[^>]*/>"
    rb"|<w:cr\b[^>]*/>", re.S)
# a paragraph is <w:p .../> (self-closing, empty) or <w:p ...>...</w:p>
_PARA = re.compile(rb"<w:p\b[^>]*/>|<w:p\b[^>]*>.*?</w:p>", re.S)
_ENTITY = re.compile(r"&(#x[0-9A-Fa-f]{1,6}|#[0-9]{1,7}|amp|lt|gt|quot|apos);")
_NAMED = {"amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'"}


def _unescape(bs: bytes) -> str:
    """UTF-8 (bad bytes replaced), then the 5 named XML entities and
    numeric references; a code point that is no character is U+FFFD."""
    def repl(m: "re.Match") -> str:
        e = m.group(1)
        if e.startswith("#x") or e.startswith("#X"):
            cp = int(e[2:], 16)
        elif e.startswith("#"):
            cp = int(e[1:])
        else:
            return _NAMED[e]
        if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
            return "�"
        return chr(cp)

    return _ENTITY.sub(repl, bs.decode("utf-8", "replace"))


def is_docx(raw: bytes) -> bool:
    """Cheap container probe: a ZIP whose directory names
    word/document.xml. Names-only walk — no decompression."""
    return has_member(raw, _DOC_XML)


def _para_text(chunk: bytes) -> str:
    parts = []
    for m in _TOKEN.finditer(chunk):
        run = m.group(1)
        if run is not None:
            parts.append(_unescape(run))
        else:
            tok = m.group(0)
            parts.append("\t" if tok.startswith(b"<w:tab") else "\n")
    return "".join(parts)


def parse_docx(raw: bytes) -> dict:
    """Extract reading-order text + core properties.

    Returns {text, n_paragraphs, n_entries, title, creator}; raises
    DocxError (wrapping ZipError) on anything that is not a readable
    WordprocessingML package — callers treat that as data, not as a
    task failure (the PDF kernel's tolerant-open posture).
    """
    members = read_package(raw, DocxError, want={_DOC_XML, _CORE_XML})
    # cannot raise: parse_zip has already checked the directory it walks
    n_entries = len(zip_names(raw))
    doc = members.get(_DOC_XML)
    if doc is None:
        raise DocxError("no word/document.xml in package")
    paras = [_para_text(m.group(0)) for m in _PARA.finditer(doc)]
    core = members.get(_CORE_XML)
    return {
        "text": "\n".join(paras),
        "n_paragraphs": len(paras),
        "n_entries": n_entries,
        "title": dc_field(core, "title", _unescape),
        "creator": dc_field(core, "creator", _unescape),
    }
