"""ODS (OpenDocument Spreadsheet) extraction over the from-scratch
ZIP walk (kernel/ziparc.py) — the OASIS sibling of kernel/xlsx.py,
completing the ODF trio (kernel/odt.py is the text class,
kernel/odp.py the presentation class).

The reduction rule mirrors kernel/xlsx.py exactly: cells joined with
TAB within a row, rows joined with newline within a sheet, sheets
joined with \x0c (the PDF page-join rule) — a 3-sheet workbook
presents downstream like a 3-page document.

ODF spreadsheet specifics the walk honors:
- `table:number-columns-repeated="N"` replicates a cell N times —
  real producers (LibreOffice) emit trailing empty cells repeated
  thousands of times to pad the grid, so the repeat count is capped
  and TRAILING empty cells are stripped per row (the text a user
  sees, not the grid padding).
- cell display text is the cell's <text:p> content (the ODT token
  walk, kernel/package.py's odf_paragraphs: tab / line-break /
  run-length spaces / invisible spans);
  value-typed cells (float/date) carry their formatted display text
  in the same <text:p>, so no office:value re-formatting is needed.
- <table:covered-table-cell/> (under a merge) counts as an empty
  grid slot, exactly like an empty <table:table-cell/>.
"""

from __future__ import annotations

import re

from .package import dc_field, odf_class, odf_paragraphs, open_odf, unesc

_META = "meta.xml"
_MAX_SHEETS = 1024
_MAX_REPEAT = 1024          # DoS cap: LibreOffice pads to 16384 cols
_MAX_CELLS = 1 << 20        # per-document expanded-cell budget


class OdsError(ValueError):
    pass


_TABLE = re.compile(rb"<table:table\b[^>]*>.*?</table:table>", re.S)
_NAME = re.compile(rb'\btable:name="([^"]*)"')
_ROW = re.compile(
    rb"<table:table-row\b[^>]*/>"
    rb"|<table:table-row\b[^>]*>.*?</table:table-row>", re.S)
_CELL = re.compile(
    rb"<table:(?:covered-)?table-cell\b([^>]*)/>"
    rb"|<table:(?:covered-)?table-cell\b([^>]*)>(.*?)</table:"
    rb"(?:covered-)?table-cell>", re.S)
_REPEAT = re.compile(rb'\btable:number-columns-repeated="(\d{1,9})"')


def is_ods(raw: bytes) -> bool:
    return odf_class(raw) == "spreadsheet"


def _cell_text(body: bytes) -> str:
    # a cell's display text: its <text:p> paragraphs through the ODT
    # token walk, multi-paragraph cells joined with a space (the cell
    # must stay on its row line — TAB/newline are the grid separators)
    return " ".join(p for p in odf_paragraphs(body) if p)


def parse_ods(raw: bytes) -> dict:
    """Extract sheet-ordered grid text + package facts.

    Returns {text, n_sheets, n_cells, n_entries, sheet_names, title,
    creator}; raises OdsError on anything that is not a readable
    OpenDocument spreadsheet — callers treat that as data, not a task
    failure. n_cells counts expanded grid slots after trailing-empty
    stripping (what the text actually carries)."""
    members, scope = open_odf(raw, "spreadsheet", OdsError)

    sheets = []       # (name, text)
    n_cells = 0
    for tm in _TABLE.finditer(scope):
        if len(sheets) >= _MAX_SHEETS:
            raise OdsError("spreadsheet exceeds sheet cap")
        table = tm.group(0)
        nm = _NAME.search(table[:table.index(b">") + 1])
        lines = []
        for rm in _ROW.finditer(table):
            row = rm.group(0)
            cells = []
            for cm in _CELL.finditer(row):
                attrs = cm.group(1) if cm.group(1) is not None else cm.group(2)
                cbody = cm.group(3) if cm.group(3) is not None else b""
                rep = _REPEAT.search(attrs)
                n = min(int(rep.group(1)), _MAX_REPEAT) if rep else 1
                cells.extend([_cell_text(cbody)] * n)
            while cells and cells[-1] == "":
                cells.pop()
            n_cells += len(cells)
            if n_cells > _MAX_CELLS:
                raise OdsError("spreadsheet exceeds cell cap")
            lines.append("\t".join(cells))
        sheets.append((unesc(nm.group(1)) if nm else "",
                       "\n".join(lines)))

    meta = members.get(_META)
    return {
        "text": "\x0c".join(s[1] for s in sheets),
        "n_sheets": len(sheets),
        "n_cells": n_cells,
        "n_entries": len(members),
        "sheet_names": [s[0] for s in sheets],
        "title": dc_field(meta, "title"),
        "creator": dc_field(meta, "creator"),
    }
