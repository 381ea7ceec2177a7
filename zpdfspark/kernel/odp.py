"""ODP (OpenDocument Presentation) extraction over the from-scratch
ZIP walk (kernel/ziparc.py) — the OASIS sibling of kernel/pptx.py,
completing the ODF trio (odt = text, ods = spreadsheet).

The reduction rule mirrors kernel/pptx.py exactly: paragraphs joined
with newline within a frame, frames joined with newline within a
slide, slides joined with \x0c (the PDF page-join rule) — a 5-slide
deck presents downstream like a 5-page document.

Slides are <draw:page> elements in document order; visible text
lives in <draw:frame> shapes (title/outline/text-box placeholders
all carry a <draw:text-box> whose <text:p> paragraphs run through
the shared ODT token walk, kernel/package.py's odf_paragraphs: tab /
line-break / run-length spaces / invisible spans). Frames with no
paragraph text (image frames, OLE objects) contribute nothing,
matching the pptx a:t-only rule.
"""

from __future__ import annotations

import re

from .package import dc_field, odf_class, odf_paragraphs, open_odf

_META = "meta.xml"
_MAX_SLIDES = 4096


class OdpError(ValueError):
    pass


_PAGE = re.compile(rb"<draw:page\b[^>]*>.*?</draw:page>", re.S)
_FRAME = re.compile(rb"<draw:frame\b[^>]*>.*?</draw:frame>", re.S)


def is_odp(raw: bytes) -> bool:
    return odf_class(raw) == "presentation"


def parse_odp(raw: bytes) -> dict:
    """Extract slide-ordered frame text + package facts.

    Returns {text, n_slides, n_frames, n_entries, title, creator};
    raises OdpError on anything that is not a readable OpenDocument
    presentation — callers treat that as data, not a task failure.
    n_frames counts draw:frame shapes across all slides (text-bearing
    or not, the deck's shape census)."""
    members, scope = open_odf(raw, "presentation", OdpError)

    slides = []
    n_frames = 0
    for pm in _PAGE.finditer(scope):
        if len(slides) >= _MAX_SLIDES:
            raise OdpError("presentation exceeds slide cap")
        frames = []
        for fm in _FRAME.finditer(pm.group(0)):
            n_frames += 1
            txt = "\n".join(odf_paragraphs(fm.group(0)))
            if txt:
                frames.append(txt)
        slides.append("\n".join(frames))

    meta = members.get(_META)
    return {
        "text": "\x0c".join(slides),
        "n_slides": len(slides),
        "n_frames": n_frames,
        "n_entries": len(members),
        "title": dc_field(meta, "title"),
        "creator": dc_field(meta, "creator"),
    }
