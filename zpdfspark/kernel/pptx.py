"""PPTX (PresentationML) text extraction over the from-scratch ZIP
walk (kernel/ziparc.py) — the slide-deck sibling of kernel/docx.py
and kernel/xlsx.py, completing the OOXML trio a crawl actually
carries (conference decks, lecture slides, corporate reports).

Discovery follows the OPC package layout the way the xlsx reader
does: ppt/presentation.xml's <p:sldIdLst> lists <p:sldId> elements in
DECK order, each r:id resolved through
ppt/_rels/presentation.xml.rels to its slide part (kernel/package.py's
opc_parts) — zip member order is deliberately not trusted (slide9.xml
sorts before slide10.xml lexically, and repackagers reorder members
freely).

Slide text is DrawingML: every <p:txBody> (one per shape) contributes
its <a:p> paragraphs; a paragraph's text is its <a:t> runs
concatenated in document order with <a:br/> rendered as newline
(PowerPoint's soft line break). Paragraphs and shapes join with
newline within a slide; slides join with \x0c — the PDF page-join
rule, so a 3-slide deck presents downstream like a 3-page document.

Reference parity note: the reference engine (Lulzx/zpdf) is
PDF-only; this module extends the same extraction contract —
tolerant open, deterministic reduction, never raising on hostile
bytes past the typed error — to the web-crawl payload family, the
repo's charter (SURVEY.md §2.11).
"""

from __future__ import annotations

import re

from .package import dc_field, has_member, opc_parts, read_package, unesc

_PRES = "ppt/presentation.xml"
_CORE = "docProps/core.xml"
_MAX_SLIDES = 2048


class PptxError(ValueError):
    pass


_SLDID = re.compile(rb"<p:sldId\b[^>]*>")
_TXBODY = re.compile(rb"<p:txBody(?:\s[^>]*)?>(.*?)</p:txBody>", re.S)
# paragraphs: paired <a:p>…</a:p> or self-closing <a:p/> (empty line)
_AP = re.compile(rb"<a:p(?:\s[^>]*)?>(.*?)</a:p>|<a:p(?:\s[^>]*)?/>",
                 re.S)
# within a paragraph, text runs and soft line breaks in document order
_RUN = re.compile(rb"<a:t(?:\s[^>]*)?>(.*?)</a:t>|<a:br\s*/>", re.S)


def is_pptx(raw: bytes) -> bool:
    """Names-only container probe."""
    return has_member(raw, _PRES)


def _para_text(body: bytes) -> str:
    parts = []
    for m in _RUN.finditer(body):
        if m.group(1) is not None:
            parts.append(unesc(m.group(1)))
        else:
            parts.append("\n")
    return "".join(parts)


def parse_pptx(raw: bytes) -> dict:
    """Extract deck-ordered slide text + package facts.

    Returns {text, n_slides, n_shapes, n_entries, title}; raises
    PptxError on anything that is not a readable deck — callers treat
    that as data, not as a task failure."""
    members = read_package(raw, PptxError)
    if _PRES not in members:
        raise PptxError("no ppt/presentation.xml in package")

    slides = []          # per-slide text
    n_shapes = 0
    for _tag, part in opc_parts(members, _PRES, _SLDID):
        if len(slides) >= _MAX_SLIDES:
            raise PptxError("deck exceeds slide cap")
        lines = []
        for tb in _TXBODY.finditer(part):
            n_shapes += 1
            for p in _AP.finditer(tb.group(1)):
                body = p.group(1) if p.group(1) is not None else b""
                lines.append(_para_text(body))
        slides.append("\n".join(lines))

    return {
        "text": "\x0c".join(slides),
        "n_slides": len(slides),
        "n_shapes": n_shapes,
        "n_entries": len(members),
        "title": dc_field(members.get(_CORE), "title"),
    }
