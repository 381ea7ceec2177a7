"""XLSX (SpreadsheetML) text extraction over the from-scratch ZIP
walk (kernel/ziparc.py) — the tabular sibling of kernel/docx.py.

Spreadsheets in a crawl carry real text (labels, descriptions,
catalog rows); an extraction engine that drops them loses that
content. The reduction rule mirrors the engine's other documents:
cells joined with TAB within a row, rows joined with newline within a
sheet, sheets joined with \x0c (the PDF page-join rule) — so a
3-sheet workbook presents downstream like a 3-page document.

The discovery chain is the OPC package layout: xl/workbook.xml lists
<sheet> elements in workbook order, each resolved through
xl/_rels/workbook.xml.rels (Relationship Id -> worksheet part; the
walk is kernel/package.py's opc_parts, shared with kernel/pptx.py).
Cell values resolve per the SpreadsheetML type attribute: t="s" is an
index into xl/sharedStrings.xml (<si> items, rich-text runs
concatenated), t="inlineStr" carries an inline <is><t> payload, and
everything else (numbers, t="str" formula results, booleans) is the
<v> literal as written.
"""

from __future__ import annotations

import re

from .package import dc_field, has_member, opc_parts, read_package, unesc

_WORKBOOK = "xl/workbook.xml"
_SHARED = "xl/sharedStrings.xml"
_CORE = "docProps/core.xml"
_MAX_SHEETS = 1024


class XlsxError(ValueError):
    pass


_SHEET = re.compile(rb"<sheet\b[^>]*>")
_ATTR_NAME = re.compile(rb'\bname="([^"]*)"')
_SI = re.compile(rb"<si>(.*?)</si>", re.S)
_T = re.compile(rb"<t(?:\s[^>]*)?>(.*?)</t>", re.S)
_ROW = re.compile(rb"<row\b[^>]*>(.*?)</row>", re.S)
_CELL = re.compile(rb"<c\b([^>]*)>(.*?)</c>|<c\b([^>]*)/>", re.S)
_V = re.compile(rb"<v(?:\s[^>]*)?>(.*?)</v>", re.S)
_ATTR_T = re.compile(rb'\bt="([^"]+)"')


def is_xlsx(raw: bytes) -> bool:
    """Names-only container probe."""
    return has_member(raw, _WORKBOOK)


def _cell_text(attrs: bytes, body: bytes, shared: list) -> str:
    t = _ATTR_T.search(attrs)
    kind = t.group(1) if t else b"n"
    if kind == b"s":
        v = _V.search(body)
        if not v:
            return ""
        try:
            return shared[int(v.group(1))]
        except (ValueError, IndexError):
            return ""
    if kind == b"inlineStr":
        return "".join(unesc(m.group(1)) for m in _T.finditer(body))
    v = _V.search(body)
    return unesc(v.group(1)) if v else ""


def parse_xlsx(raw: bytes) -> dict:
    """Extract workbook-ordered sheet text + package facts.

    Returns {text, n_sheets, n_cells, n_entries, sheet_names, title};
    raises XlsxError on anything that is not a readable workbook —
    callers treat that as data, not as a task failure."""
    members = read_package(raw, XlsxError)
    if _WORKBOOK not in members:
        raise XlsxError("no xl/workbook.xml in package")

    shared = []
    ss = members.get(_SHARED)
    if ss:
        shared = ["".join(unesc(t.group(1)) for t in _T.finditer(si.group(1)))
                  for si in _SI.finditer(ss)]

    sheets = []       # (name, text)
    n_cells = 0
    for tag, part in opc_parts(members, _WORKBOOK, _SHEET):
        if len(sheets) >= _MAX_SHEETS:
            raise XlsxError("workbook exceeds sheet cap")
        lines = []
        for row in _ROW.finditer(part):
            cells = []
            for c in _CELL.finditer(row.group(1)):
                attrs = c.group(1) if c.group(1) is not None else c.group(3)
                body = c.group(2) if c.group(2) is not None else b""
                cells.append(_cell_text(attrs, body, shared))
            n_cells += len(cells)
            lines.append("\t".join(cells))
        nm = _ATTR_NAME.search(tag)
        sheets.append((unesc(nm.group(1)) if nm else "", "\n".join(lines)))

    return {
        "text": "\x0c".join(s[1] for s in sheets),
        "n_sheets": len(sheets),
        "n_cells": n_cells,
        "n_entries": len(members),
        "sheet_names": [s[0] for s in sheets],
        "title": dc_field(members.get(_CORE), "title"),
    }
