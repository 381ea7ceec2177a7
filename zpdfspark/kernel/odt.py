"""ODT (OpenDocument Text) extraction over the from-scratch ZIP walk
(kernel/ziparc.py) — the OASIS sibling of kernel/docx.py.

LibreOffice/OpenOffice documents appear in crawls alongside OOXML;
the package shape is a ZIP whose `mimetype` member declares the
OpenDocument class and whose `content.xml` carries the body. Text is
the ordered walk of <text:p>/<text:h> paragraphs: inner spans
stripped, <text:tab/> as TAB, <text:line-break/> as newline,
<text:s text:c="N"/> as N spaces (the format's explicit run-length
space), entities decoded; paragraphs joined with newline (the
WordprocessingML rule). Metadata (dc:title / dc:creator) comes from
meta.xml, mirroring the PDF/DOCX metadata family. The package open,
the paragraph walk and the class probe are kernel/package.py's, shared
with kernel/ods.py and kernel/odp.py; `odf_class` is re-exported here
for the fixtures' reference sniffer.
"""

from __future__ import annotations

from .package import dc_field, odf_class, odf_paragraphs, open_odf

_META = "meta.xml"


class OdtError(ValueError):
    pass


def is_odt(raw: bytes) -> bool:
    return odf_class(raw) == "text"


def parse_odt(raw: bytes) -> dict:
    """Extract paragraph text + meta.xml properties.

    Returns {text, n_paragraphs, n_entries, title, creator}; raises
    OdtError on anything that is not a readable OpenDocument text
    package — callers treat that as data, not a task failure."""
    members, body = open_odf(raw, "text", OdtError)
    paras = odf_paragraphs(body)
    meta = members.get(_META)
    return {
        "text": "\n".join(paras),
        "n_paragraphs": len(paras),
        "n_entries": len(members),
        "title": dc_field(meta, "title"),
        "creator": dc_field(meta, "creator"),
    }
