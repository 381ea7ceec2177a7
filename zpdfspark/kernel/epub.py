"""EPUB text extraction over the from-scratch ZIP walk
(kernel/ziparc.py) — the book-shaped sibling of kernel/docx.py.

An EPUB is a ZIP with a fixed discovery chain:
META-INF/container.xml names the OPF package file; the OPF's
<manifest> maps ids to hrefs and its <spine> lists the reading order.
Text is the spine's XHTML chapters, each reduced to visible text
(comments/script/style dropped, block tags to newline, tags stripped,
entities decoded, whitespace collapsed) and chapters joined with \x0c
— the PDF kernel's page-join rule (kernel/document.py:414), so a
multi-chapter book and a multi-page PDF present the same downstream
shape. Unlike the HTML path's extract_main_text, no link-density
pruning and no <main>/<article> narrowing: a book chapter IS the main
content.

Metadata mirrors the PDF family: dc:title / dc:creator from the OPF.
The container probe, read and Dublin Core read are kernel/package.py's.
"""

from __future__ import annotations

import posixpath
import re

from .package import dc_field, has_member, read_package, unesc

_CONTAINER = "META-INF/container.xml"
_MAX_CHAPTERS = 2048


class EpubError(ValueError):
    pass


_ROOTFILE = re.compile(rb'<rootfile\b[^>]*full-path="([^"]+)"')
_ITEM = re.compile(rb"<item\b[^>]*>")
_ITEMREF = re.compile(rb'<itemref\b[^>]*idref="([^"]+)"')
_ATTR_ID = re.compile(rb'\bid="([^"]+)"')
_ATTR_HREF = re.compile(rb'\bhref="([^"]+)"')

_COMMENT = re.compile(rb"<!--.*?-->", re.S)
_DROP = re.compile(rb"<(script|style)\b.*?</\1\s*>", re.S | re.I)
_BODY = re.compile(rb"<body\b[^>]*>(.*?)</body\s*>", re.S | re.I)
_BLOCK = re.compile(
    rb"</?(p|div|h[1-6]|li|ul|ol|table|tr|td|th|section|blockquote|br|hr)"
    rb"\b[^>]*>", re.I)
_TAG = re.compile(rb"<[^>]*>")
_WS = re.compile(r"[ \t\r\f\v]+")


def is_epub(raw: bytes) -> bool:
    """Container probe: a ZIP whose directory names the OCF
    container.xml. Names-only walk — no decompression."""
    return has_member(raw, _CONTAINER)


def _xhtml_text(raw: bytes) -> str:
    """Visible text of one chapter: full-content reduction (no
    boilerplate heuristics — see module docstring)."""
    data = _COMMENT.sub(b"", raw)
    data = _DROP.sub(b"", data)
    m = _BODY.search(data)
    if m:
        data = m.group(1)
    data = data.replace(b"\r", b" ").replace(b"\n", b" ")
    data = _BLOCK.sub(b"\n", data)
    lines = []
    for raw_line in data.split(b"\n"):
        visible = unesc(_TAG.sub(b"", raw_line))
        for piece in visible.split("\n"):
            piece = _WS.sub(" ", piece).strip()
            if piece:
                lines.append(piece)
    return "\n".join(lines)


def parse_epub(raw: bytes) -> dict:
    """Extract spine-ordered text + OPF metadata.

    Returns {text, n_chapters, n_entries, title, creator}; raises
    EpubError on anything that is not a readable package — callers
    treat that as data, not as a task failure."""
    members = read_package(raw, EpubError)
    container = members.get(_CONTAINER)
    if container is None:
        raise EpubError("no META-INF/container.xml")
    rf = _ROOTFILE.search(container)
    if not rf:
        raise EpubError("container.xml names no rootfile")
    opf_path = rf.group(1).decode("utf-8", "replace")
    opf = members.get(opf_path)
    if opf is None:
        raise EpubError(f"rootfile {opf_path!r} missing from package")
    base = posixpath.dirname(opf_path)

    hrefs = {}
    for m in _ITEM.finditer(opf):
        tag = m.group(0)
        i = _ATTR_ID.search(tag)
        h = _ATTR_HREF.search(tag)
        if i and h:
            hrefs[i.group(1)] = h.group(1).decode("utf-8", "replace")
    chapters = []
    for m in _ITEMREF.finditer(opf):
        href = hrefs.get(m.group(1))
        if href is None:
            continue
        path = posixpath.normpath(posixpath.join(base, href))
        body = members.get(path)
        if body is None:
            continue
        chapters.append(_xhtml_text(body))
        if len(chapters) > _MAX_CHAPTERS:
            raise EpubError("spine exceeds chapter cap")

    return {
        "text": "\x0c".join(chapters),
        "n_chapters": len(chapters),
        "n_entries": len(members),
        "title": dc_field(opf, "title"),
        "creator": dc_field(opf, "creator"),
    }
