"""The ZIP-package layer under the seven office and book kernels
(kernel/{docx,xlsx,pptx,odt,ods,odp,epub}.py), over the from-scratch
ZIP walk (kernel/ziparc.py).

Every such payload is a ZIP whose member names say what it is:
word/document.xml (DOCX), META-INF/container.xml (EPUB),
xl/workbook.xml (XLSX), ppt/presentation.xml (PPTX), and for the
OpenDocument trio content.xml plus a `mimetype` member that declares
the class. `package_kind` makes that decision with one names-only
walk and one stored-member read; it is the single ZIP-package
precedence of both sniffers (htmltext.extract_any, media.sniff_kind).

The steps the kernels share live here too: the member probe behind
each `is_*`, the container read with the kernel's own error class,
the Dublin Core field read (docProps/core.xml, meta.xml, the EPUB
OPF), the OPC relationship walk (xlsx, pptx), and the OpenDocument
open and paragraph walk (odt, ods, odp).
"""

from __future__ import annotations

import html as html_mod
import posixpath
import re

from .ziparc import ZipError, parse_zip, zip_names

# marker member -> package kind, in dispatch precedence order; the
# OpenDocument classes come last, decided by their declared mimetype
_MARKERS = (("word/document.xml", "docx"),
            ("META-INF/container.xml", "epub"),
            ("xl/workbook.xml", "xlsx"),
            ("ppt/presentation.xml", "pptx"))
_ODF_CLASSES = {
    b"application/vnd.oasis.opendocument.text": "text",
    b"application/vnd.oasis.opendocument.spreadsheet": "spreadsheet",
    b"application/vnd.oasis.opendocument.presentation": "presentation",
}
_ODF_KINDS = {"text": "odt", "spreadsheet": "ods", "presentation": "odp"}


def unesc(bs: bytes) -> str:
    """A markup byte value as text: UTF-8 (bad bytes replaced), then
    every HTML entity decoded."""
    return html_mod.unescape(bs.decode("utf-8", "replace"))


def _names(raw: bytes) -> list:
    """Member names of a ZIP payload (names-only walk, no inflate);
    [] when the payload is not a readable ZIP."""
    if raw[:4] != b"PK\x03\x04":
        return []
    try:
        return zip_names(raw)
    except ZipError:
        return []


def has_member(raw: bytes, name: str) -> bool:
    """Container probe: a ZIP whose directory names `name`."""
    return name in _names(raw)


def _odf_class(raw: bytes, names: list):
    if "content.xml" not in names or "mimetype" not in names:
        return None
    try:
        mime = parse_zip(raw, want={"mimetype"})["mimetype"]
    except ZipError:
        return None
    return _ODF_CLASSES.get(mime.strip())


def odf_class(raw: bytes):
    """The declared OpenDocument class: 'text' | 'spreadsheet' |
    'presentation' | None (a ZIP naming content.xml and mimetype, then
    one stored-member read of the mimetype)."""
    return _odf_class(raw, _names(raw))


def package_kind(raw: bytes):
    """'docx' | 'epub' | 'xlsx' | 'pptx' | 'odt' | 'ods' | 'odp' | None
    from one names walk: the first marker member present wins, then
    the OpenDocument mimetype."""
    names = _names(raw)
    for member, kind in _MARKERS:
        if member in names:
            return kind
    return _ODF_KINDS.get(_odf_class(raw, names))


def read_package(raw: bytes, error, want=None) -> dict:
    """parse_zip(raw, want), a ZipError re-raised as the kernel's own
    `error` ("container: ...")."""
    try:
        return parse_zip(raw, want)
    except ZipError as e:
        raise error(f"container: {e}") from e


_DC = {f: re.compile(rb"<dc:%s(?:\s[^>]*)?>(.*?)</dc:%s>"
                     % (f.encode(), f.encode()), re.S)
       for f in ("title", "creator")}


def dc_field(xml, field: str, unescape=unesc):
    """The first Dublin Core `field` ('title' | 'creator') of a
    metadata part, unescaped; None when the part is absent or empty or
    has no such element."""
    m = _DC[field].search(xml) if xml else None
    return unescape(m.group(1)) if m else None


_REL = re.compile(rb"<Relationship\b[^>]*>")
_ATTR_ID = re.compile(rb'\bId="([^"]+)"')
_ATTR_TARGET = re.compile(rb'\bTarget="([^"]+)"')
_ATTR_RID = re.compile(rb'\br:id="([^"]+)"')


def opc_parts(members: dict, part: str, tag_re):
    """(tag, member bytes) for each `tag_re` element of `part`, in
    document order, its r:id resolved through the part's OPC
    relationships (<dir>/_rels/<name>.rels, targets relative to
    <dir>). Elements with no r:id or a target not in the package are
    skipped: zip member order is never trusted for reading order."""
    base, name = posixpath.split(part)
    rels = {}
    for m in _REL.finditer(members.get(f"{base}/_rels/{name}.rels", b"")):
        i = _ATTR_ID.search(m.group(0))
        t = _ATTR_TARGET.search(m.group(0))
        if i and t:
            rels[i.group(1)] = posixpath.normpath(posixpath.join(
                base, t.group(1).decode("utf-8", "replace")))
    for m in tag_re.finditer(members[part]):
        rid = _ATTR_RID.search(m.group(0))
        target = members.get(rels.get(rid.group(1), "")) if rid else None
        if target is not None:
            yield m.group(0), target


_OFFICE_BODY = re.compile(rb"<office:body\b[^>]*>(.*)</office:body>", re.S)


def open_odf(raw: bytes, cls: str, error):
    """(members, body) of an OpenDocument package of class `cls`:
    the declared mimetype must match, and `body` is content.xml's
    office:body (all of content.xml when there is none), so styles and
    header declarations never leak into the text. Raises `error`."""
    members = read_package(raw, error)
    if _ODF_CLASSES.get(members.get("mimetype", b"").strip()) != cls:
        raise error(f"not an OpenDocument {cls} package")
    content = members.get("content.xml")
    if content is None:
        raise error("no content.xml in package")
    body = _OFFICE_BODY.search(content)
    return members, body.group(1) if body else content


_PARA = re.compile(
    rb"<text:(p|h)\b[^>]*/>|<text:(p|h)\b[^>]*>.*?</text:\2>", re.S)
_TOKEN = re.compile(
    rb"<text:tab\b[^>]*/>"
    rb"|<text:line-break\b[^>]*/>"
    rb"|<text:s\b[^>]*/>"
    rb"|<[^>]*>"
    rb"|[^<]+", re.S)
_S_COUNT = re.compile(rb'\btext:c="(\d{1,4})"')


def _para_text(chunk: bytes) -> str:
    parts = []
    for m in _TOKEN.finditer(chunk):
        tok = m.group(0)
        # bare-prefix dispatch is wrong here: <text:span startswith
        # <text:s and <text:table startswith <text:tab — the element
        # name must END (space or /) right after the prefix
        if tok.startswith(b"<text:tab/") or tok.startswith(b"<text:tab "):
            parts.append("\t")
        elif tok.startswith(b"<text:line-break"):
            parts.append("\n")
        elif tok.startswith(b"<text:s/") or tok.startswith(b"<text:s "):
            c = _S_COUNT.search(tok)
            parts.append(" " * (int(c.group(1)) if c else 1))
        elif tok.startswith(b"<"):
            continue  # any other tag (spans, bookmarks) is invisible
        else:
            parts.append(unesc(tok))
    return "".join(parts)


def odf_paragraphs(xml: bytes) -> list:
    """The text of each <text:p>/<text:h> paragraph in `xml`, in
    document order: inner spans stripped, <text:tab/> as TAB,
    <text:line-break/> as newline, <text:s text:c="N"/> as N spaces,
    entities decoded; a self-closing paragraph is ""."""
    # group 1 set = the self-closing (empty) alternative matched
    return ["" if m.group(1) is not None else _para_text(m.group(0))
            for m in _PARA.finditer(xml)]
