"""SQLite database-file header census — from scratch.

Crawls fetch .sqlite/.db files (app bundles, open-data releases,
leaked backups); a payload classifier that cannot name them misfiles
real crawl bytes. A database is data, not a document (the tar/json
posture): census only, no text reduction.

Scope is the 100-byte file header of the SQLite file format
(https://www.sqlite.org/fileformat2.html): magic, page size (the
stored value 1 means 65536), in-header database size in pages, schema
format, text encoding (1 utf-8 / 2 utf-16le / 3 utf-16be),
user_version. B-tree walking (table/row counts) is deliberately out
of scope — the header is the crawl signal. The fixture generator
writes REAL databases with the stdlib sqlite3 module (the actual
SQLite C library), so the from-scratch reader is pinned against the
format's reference producer.
"""

from __future__ import annotations

import struct
from typing import Dict

_MAGIC = b"SQLite format 3\x00"


class SqliteError(Exception):
    pass


def is_sqlite(raw: bytes) -> bool:
    return raw[:16] == _MAGIC and len(raw) >= 100


def parse_sqlite(raw: bytes) -> Dict[str, object]:
    """Header census: {page_size, n_pages, encoding, user_version,
    valid_size} — valid_size checks page_size * n_pages == file size
    (a torn download fails it; the crawl-integrity signal)."""
    if not is_sqlite(raw):
        raise SqliteError("not a sqlite3 database")
    ps = struct.unpack(">H", raw[16:18])[0]
    if ps == 1:
        ps = 65536
    if ps < 512 or ps & (ps - 1):
        raise SqliteError("invalid page size")
    n_pages = struct.unpack(">I", raw[28:32])[0]
    if n_pages >> 31:
        raise SqliteError("page count out of range")
    enc_code = struct.unpack(">I", raw[56:60])[0]
    user_version = struct.unpack(">i", raw[60:64])[0]
    encoding = {1: "utf-8", 2: "utf-16le", 3: "utf-16be"}.get(
        enc_code, "unknown")
    return {
        "page_size": ps,
        "n_pages": n_pages,
        "encoding": encoding,
        "user_version": user_version,
        "valid_size": ps * n_pages == len(raw),
    }
