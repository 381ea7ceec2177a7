"""Font encoding: glyph code -> Unicode (UTF-8 bytes) decoding.

Fresh Python implementation matching /root/reference/src/encoding.zig:

- precedence: ToUnicode CMap > /Encoding name/dict > built-in; Type0 =>
  CID path (encoding.zig:417-540)
- simple 8-bit decode: byte -> codepoint_map; 0 => space; ligature
  multi-map checked first (encoding.zig:258-276)
- CID decode: bytes_per_char (1-2) code; multi-map -> CMap hash -> CMap
  range (binary search) -> Identity-as-UTF-16BE incl. surrogate pairs ->
  raw code; 0 => space (encoding.zig:278-368)
- named encodings WinAnsi/MacRoman/Standard/PDFDoc (encoding.zig:830-841)
- /Differences remap via AGL (encoding.zig:843-860)
- ToUnicode CMap: /WMode, bfchar single + multi-byte UTF-16BE ligatures,
  bfrange contiguous + array form; ranges sorted for bisect; any mapping
  sets is_cid (encoding.zig:863-1029)
- predefined CMaps: Identity-H/V, UniGB/CNS/JIS/KS -UCS2/-UTF16 -H/-V;
  "-V" suffix sets wmode=1; unknown => 2-byte (encoding.zig:776-828)
- widths: /FirstChar /LastChar /Widths; CID /DW + /W both forms
  (encoding.zig:601-703)
- FontDescriptor metrics (encoding.zig:543-567)
- CIDToGIDMap /Identity or big-endian u16 stream (encoding.zig:725-757)

CFF (FontFile3) glyph-name fallback (encoding.zig:570-597): embedded
Type1C/CIDFontType0C charsets are parsed so glyph names resolve through
AGL when no ToUnicode CMap exists.

Output is UTF-8 *bytes* throughout so the pipeline matches the
reference's byte stream exactly (surrogate-half codepoints from broken
CMaps map to U+FFFD, the only sanctioned divergence since Zig's
utf8Encode rejects them too).
"""

from __future__ import annotations

from bisect import bisect_right
from typing import Dict, List, Optional, Tuple

from . import filters
from .objects import (
    Name,
    Stream,
    dict_get_array,
    dict_get_dict,
    dict_get_name,
    dict_get_number,
    dict_get_string,
)
from .encodings_data import (
    MAC_ROMAN_ENCODING,
    PDF_DOC_ENCODING,
    STANDARD_ENCODING,
    WIN_ANSI_ENCODING,
    glyph_name_to_unicode,
)

_WS_SET = frozenset(b"\x00\t\n\x0c\r ")

# process-wide cache of built simple-font decode tables keyed by the
# (codepoint_map, low-byte multi-map) content; bounded so hostile docs
# with thousands of distinct /Differences cannot grow it unboundedly
_SIMPLE_TABLE_CACHE: dict = {}
_SIMPLE_TABLE_CACHE_CAP = 512


def _encode_cp(cp: int) -> bytes:
    """UTF-8 encode a codepoint; surrogate halves -> U+FFFD."""
    if 0xD800 <= cp <= 0xDFFF or cp > 0x10FFFF:
        cp = 0xFFFD
    return chr(cp).encode("utf-8")


class FontMetrics:
    __slots__ = ("ascender", "descender", "cap_height", "x_height", "bbox",
                 "default_width", "italic_angle", "missing_width")

    def __init__(self):
        self.ascender = 800.0
        self.descender = -200.0
        self.cap_height = 700.0
        self.x_height = 500.0
        self.bbox = [0.0, -200.0, 1000.0, 800.0]
        self.default_width = 600.0
        self.italic_angle = 0.0
        self.missing_width = 0.0


class GlyphWidths:
    __slots__ = ("simple_widths", "cid_widths", "default_width", "first_char", "last_char")

    def __init__(self):
        self.simple_widths = [600.0] * 256
        self.cid_widths: List[Tuple[int, int, float]] = []
        self.default_width = 1000.0
        self.first_char = 0
        self.last_char = 255

    def get_width(self, char_code: int) -> float:
        if char_code < self.first_char or char_code > self.last_char:
            return self.default_width
        return self.simple_widths[char_code]

    def get_cid_width(self, cid: int) -> float:
        for start, end, w in self.cid_widths:
            if start <= cid <= end:
                return w
        return self.default_width


class FontEncoding:
    __slots__ = (
        "codepoint_map", "cmap_ranges", "cmap_range_starts", "cmap_hash",
        "cmap_multi", "is_cid", "bytes_per_char", "wmode", "metrics",
        "widths", "cid_system_info", "cid_to_gid_map", "cff",
        "_simple_cache", "_ascii_identity",
    )

    def __init__(self):
        self.codepoint_map: List[int] = WIN_ANSI_ENCODING[:]
        # sorted list of (src_start, src_end, dst_start) bfrange entries
        self.cmap_ranges: List[Tuple[int, int, int]] = []
        self.cmap_range_starts: List[int] = []
        self.cmap_hash: Dict[int, int] = {}
        self.cmap_multi: Dict[int, bytes] = {}
        self.is_cid = False
        self.bytes_per_char = 1
        self.wmode = 0
        self.metrics = FontMetrics()
        self.widths = GlyphWidths()
        self.cid_system_info = ("Adobe", "Identity", 0)
        self.cid_to_gid_map: Optional[List[int]] = None  # None = identity
        self.cff = None  # CffParser when FontFile3 carries Type1C/CIDFontType0C
        self._simple_cache: Optional[List[bytes]] = None
        self._ascii_identity = False

    # -- decode ----------------------------------------------------------

    def decode(self, data: bytes) -> bytes:
        if self.is_cid:
            return self._decode_cid(data)
        return self._decode_simple(data)

    def _simple_table(self) -> List[bytes]:
        tbl = self._simple_cache
        if tbl is None:
            # font encodings repeat endlessly across a crawl corpus
            # (most docs carry a pristine base encoding), so built
            # tables are shared process-wide, keyed by content — the
            # per-instance build would otherwise re-run the 256-entry
            # encode + identity check once per font per document
            cm = self.codepoint_map
            multi = self.cmap_multi
            key = (tuple(cm),
                   tuple(sorted(multi.items())) if multi else None)
            hit = _SIMPLE_TABLE_CACHE.get(key)
            if hit is None:
                tbl = []
                for b in range(256):
                    if b in multi:
                        tbl.append(multi[b])
                    elif cm[b] == 0:
                        tbl.append(b" ")
                    else:
                        tbl.append(_encode_cp(cm[b]))
                # ASCII identity fast path: true for WinAnsi/MacRoman/
                # PDFDoc (codepoints 1-127 map to themselves) unless
                # Differences or bfchar entries remapped a low byte.
                # Byte 0 is excluded — it maps to space per the
                # 0->space rule — so the fast path additionally
                # requires NUL-free input.
                hit = (tbl, all(
                    tbl[b] == bytes((b,)) for b in range(1, 128)))
                if len(_SIMPLE_TABLE_CACHE) < _SIMPLE_TABLE_CACHE_CAP:
                    _SIMPLE_TABLE_CACHE[key] = hit
            tbl, self._ascii_identity = hit
            self._simple_cache = tbl
        return tbl

    def _decode_simple(self, data: bytes) -> bytes:
        tbl = self._simple_table()
        if self._ascii_identity and data.isascii() and 0 not in data:
            return data
        return b"".join([tbl[b] for b in data])

    def _lookup_cmap(self, code: int) -> Optional[int]:
        dst = self.cmap_hash.get(code)
        if dst is not None:
            return dst
        starts = self.cmap_range_starts
        if starts:
            idx = bisect_right(starts, code) - 1
            if idx >= 0:
                s, e, d = self.cmap_ranges[idx]
                if s <= code <= e:
                    return d + (code - s)
        return None

    def _decode_cid(self, data: bytes) -> bytes:
        out = []
        i = 0
        n = len(data)
        two_byte = self.bytes_per_char == 2
        multi = self.cmap_multi
        while i < n:
            if two_byte and i + 1 < n:
                code = (data[i] << 8) | data[i + 1]
                consumed = 2
            else:
                code = data[i]
                consumed = 1
            i += consumed
            m = multi.get(code)
            if m is not None:
                out.append(m)
                continue
            cp = self._lookup_cmap(code)
            if cp is None and self.cff is not None:
                # CFF glyph-name fallback (encoding.zig:299-309)
                name = self.cff.glyph_name(code & 0xFFFF)
                if name is not None:
                    from .encodings_data import glyph_name_to_unicode
                    u = glyph_name_to_unicode(name)
                    if u is not None:
                        cp = u
            if cp is None and consumed == 2:
                # Identity interpretation: code might be UTF-16BE
                # (encoding.zig:311-335)
                if 0 < code <= 0x10FFFF:
                    if 0xD800 <= code <= 0xDBFF:
                        if i + 2 <= n:
                            low = (data[i] << 8) | data[i + 1]
                            if 0xDC00 <= low <= 0xDFFF:
                                cp = 0x10000 + ((code - 0xD800) << 10) + (low - 0xDC00)
                                i += 2
                    elif not (0xDC00 <= code <= 0xDFFF):
                        cp = code
            final = cp if cp is not None else code
            if final == 0:
                out.append(b" ")
            elif final <= 0x10FFFF:
                out.append(_encode_cp(final))
            else:
                out.append(b" ")
        return b"".join(out)

    def _finalize_ranges(self):
        self.cmap_ranges.sort(key=lambda r: r[0])
        self.cmap_range_starts = [r[0] for r in self.cmap_ranges]
        self._simple_cache = None


def apply_named_encoding(enc: FontEncoding, name: bytes) -> None:
    if name == b"WinAnsiEncoding":
        enc.codepoint_map = WIN_ANSI_ENCODING[:]
    elif name == b"MacRomanEncoding":
        enc.codepoint_map = MAC_ROMAN_ENCODING[:]
    elif name == b"StandardEncoding":
        enc.codepoint_map = STANDARD_ENCODING[:]
    elif name == b"PDFDocEncoding":
        enc.codepoint_map = PDF_DOC_ENCODING[:]
    enc._simple_cache = None


def apply_differences(enc: FontEncoding, diffs: list) -> None:
    """/Differences: [code /name /name ... code /name] (encoding.zig:843-860)."""
    code = 0
    for item in diffs:
        if type(item) is int:
            code = max(0, min(255, item))
        elif isinstance(item, Name):
            if code < 256:
                cp = glyph_name_to_unicode(item.decode("latin-1"))
                enc.codepoint_map[code] = cp if cp is not None else 0
                code += 1
    enc._simple_cache = None


def apply_predefined_cmap(enc: FontEncoding, name: bytes) -> None:
    """(encoding.zig:776-828): every branch sets 2-byte codes; -V => wmode."""
    if name.endswith(b"-V"):
        enc.wmode = 1
    enc.bytes_per_char = 2


def _utf16be_to_utf8(b: bytes) -> bytes:
    out = []
    i = 0
    n = len(b)
    while i + 1 < n:
        unit = (b[i] << 8) | b[i + 1]
        i += 2
        if 0xD800 <= unit <= 0xDBFF:
            if i + 1 < n:
                low = (b[i] << 8) | b[i + 1]
                if 0xDC00 <= low <= 0xDFFF:
                    cp = 0x10000 + ((unit - 0xD800) << 10) + (low - 0xDC00)
                    i += 2
                else:
                    cp = 0xFFFD
            else:
                cp = 0xFFFD
        elif 0xDC00 <= unit <= 0xDFFF:
            cp = 0xFFFD
        else:
            cp = unit
        out.append(_encode_cp(cp))
    return b"".join(out)


def _match_at(data: bytes, pos: int, needle: bytes) -> bool:
    return data[pos : pos + len(needle)] == needle


def _skip_ws(data: bytes, pos: int) -> int:
    n = len(data)
    while pos < n and data[pos] in _WS_SET:
        pos += 1
    return pos


def _parse_hex_token(data: bytes, pos: int) -> Tuple[Optional[int], int]:
    """<XXXX> -> int value. Returns (value_or_None, new_pos)."""
    if pos >= len(data) or data[pos] != 0x3C:
        return None, pos
    pos += 1
    value = 0
    n = len(data)
    while pos < n and data[pos] != 0x3E:
        c = data[pos]
        pos += 1
        if 0x30 <= c <= 0x39:
            nib = c - 0x30
        elif 0x41 <= c <= 0x46:
            nib = c - 0x41 + 10
        elif 0x61 <= c <= 0x66:
            nib = c - 0x61 + 10
        else:
            continue
        value = ((value << 4) | nib) & 0xFFFFFFFF
    if pos < n and data[pos] == 0x3E:
        pos += 1
    return value, pos


def _parse_hex_token_raw(data: bytes, pos: int) -> Tuple[Optional[bytes], int]:
    """<...> -> raw bytes (max 16), odd nibble pads trailing byte."""
    if pos >= len(data) or data[pos] != 0x3C:
        return None, pos
    pos += 1
    out = bytearray()
    nibble_count = 0
    current = 0
    n = len(data)
    while pos < n and data[pos] != 0x3E:
        c = data[pos]
        pos += 1
        if 0x30 <= c <= 0x39:
            nib = c - 0x30
        elif 0x41 <= c <= 0x46:
            nib = c - 0x41 + 10
        elif 0x61 <= c <= 0x66:
            nib = c - 0x61 + 10
        else:
            continue
        if nibble_count % 2 == 0:
            current = nib << 4
        else:
            current |= nib
            if len(out) < 16:
                out.append(current)
        nibble_count += 1
    if nibble_count % 2 == 1 and len(out) < 16:
        out.append(current)
    if pos < n and data[pos] == 0x3E:
        pos += 1
    return bytes(out), pos


def _skip_to_next_entry(data: bytes, pos: int) -> int:
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in (0x0A, 0x0D, 0x3C):
            return pos
        if _match_at(data, pos, b"end"):
            return pos
        pos += 1
    return pos


def parse_tounicode_cmap(stream: Stream, enc: FontEncoding) -> None:
    """Positional scan for /WMode, beginbfchar, beginbfrange
    (encoding.zig:863-1029)."""
    try:
        data = filters.decompress_stream(stream.raw, stream.dict.get("Filter"), stream.dict.get("DecodeParms"))
    except filters.DecompressError:
        return
    pos = 0
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _WS_SET:
            pos += 1
            continue
        if c == 0x25:  # '%' comment
            while pos < n and data[pos] != 0x0A:
                pos += 1
            continue
        if _match_at(data, pos, b"/WMode"):
            pos += 6
            pos = _skip_ws(data, pos)
            if pos < n and 0x30 <= data[pos] <= 0x39:
                enc.wmode = data[pos] - 0x30
            pos += 1
            continue
        if _match_at(data, pos, b"beginbfchar"):
            pos += 11
            pos = _parse_bfchar(data, pos, enc)
        elif _match_at(data, pos, b"beginbfrange"):
            pos += 12
            pos = _parse_bfrange(data, pos, enc)
        else:
            pos += 1
    enc._finalize_ranges()
    if enc.cmap_ranges or enc.cmap_hash:
        enc.is_cid = True


def _parse_bfchar(data: bytes, pos: int, enc: FontEncoding) -> int:
    n = len(data)
    last_pos = -1
    while pos < n:
        if pos == last_pos:
            # zero progress (e.g. an unclosed section hitting 'endcmap'):
            # hardening divergence — the reference loops forever here
            # (encoding.zig:927-973 + skipToNextEntry stopping at 'end')
            pos += 1
            continue
        last_pos = pos
        pos = _skip_ws(data, pos)
        if _match_at(data, pos, b"endbfchar"):
            return pos + 9
        src, pos = _parse_hex_token(data, pos)
        if src is None:
            pos = _skip_to_next_entry(data, pos)
            continue
        pos = _skip_ws(data, pos)
        dst_raw, pos = _parse_hex_token_raw(data, pos)
        if dst_raw is None:
            pos = _skip_to_next_entry(data, pos)
            continue
        if len(dst_raw) > 2:
            # multi-character mapping (ligatures) stored as UTF-8
            enc.cmap_multi[src] = _utf16be_to_utf8(dst_raw)
        else:
            dst = int.from_bytes(dst_raw, "big") if dst_raw else 0
            if src <= 255 and dst <= 0x10FFFF:
                enc.codepoint_map[src] = dst
            enc.cmap_hash[src] = dst
    return pos


def _parse_bfrange(data: bytes, pos: int, enc: FontEncoding) -> int:
    n = len(data)
    last_pos = -1
    while pos < n:
        if pos == last_pos:
            pos += 1  # zero-progress guard (see _parse_bfchar)
            continue
        last_pos = pos
        pos = _skip_ws(data, pos)
        if _match_at(data, pos, b"endbfrange"):
            return pos + 10
        src_start, pos = _parse_hex_token(data, pos)
        if src_start is None:
            pos = _skip_to_next_entry(data, pos)
            continue
        pos = _skip_ws(data, pos)
        src_end, pos = _parse_hex_token(data, pos)
        if src_end is None:
            pos = _skip_to_next_entry(data, pos)
            continue
        pos = _skip_ws(data, pos)
        if pos < n and data[pos] == 0x3C:  # '<'
            dst_start, pos = _parse_hex_token(data, pos)
            if dst_start is None:
                pos = _skip_to_next_entry(data, pos)
                continue
            enc.cmap_ranges.append((src_start, src_end, dst_start))
        elif pos < n and data[pos] == 0x5B:  # '['
            pos += 1
            src = src_start
            while src <= src_end and pos < n:
                pos = _skip_ws(data, pos)
                if pos < n and data[pos] == 0x5D:  # ']'
                    pos += 1
                    break
                dst, pos = _parse_hex_token(data, pos)
                if dst is None:
                    break
                enc.cmap_hash[src] = dst
                src += 1
        else:
            pos = _skip_to_next_entry(data, pos)
    return pos


# -- font dictionary parsing ----------------------------------------------


def parse_font_encoding(font_dict: dict, resolver) -> FontEncoding:
    """Build a FontEncoding from a font dictionary (encoding.zig:417-540).

    ``resolver(obj)`` resolves indirect references (returns obj unchanged
    on failure), mirroring the reference's resolve_fn callback.
    """
    enc = FontEncoding()
    subtype = dict_get_name(font_dict, "Subtype")
    is_type0 = subtype == b"Type0"

    if is_type0:
        enc.is_cid = True
        enc.bytes_per_char = 2
        enc_obj = font_dict.get("Encoding")
        if enc_obj is not None:
            resolved = resolver(enc_obj)
            if isinstance(resolved, Name):
                apply_predefined_cmap(enc, bytes(resolved))
            elif isinstance(resolved, Stream):
                parse_tounicode_cmap(resolved, enc)
        descendants = dict_get_array(font_dict, "DescendantFonts")
        if descendants:
            cid_font = resolver(descendants[0])
            if isinstance(cid_font, dict):
                _parse_cid_system_info(cid_font, resolver, enc)
                cid_subtype = dict_get_name(cid_font, "Subtype")
                if cid_subtype == b"CIDFontType2":
                    _parse_cid_to_gid_map(cid_font, resolver, enc)
                if not enc.cmap_ranges and not enc.cmap_hash:
                    tu = cid_font.get("ToUnicode")
                    if tu is not None:
                        tu_resolved = resolver(tu)
                        if isinstance(tu_resolved, Stream):
                            parse_tounicode_cmap(tu_resolved, enc)

    tu = font_dict.get("ToUnicode")
    if tu is not None:
        resolved = resolver(tu)
        if isinstance(resolved, Stream):
            parse_tounicode_cmap(resolved, enc)
            return enc

    if not is_type0:
        enc_obj = font_dict.get("Encoding")
        if enc_obj is not None:
            resolved = resolver(enc_obj)
            if isinstance(resolved, Name):
                apply_named_encoding(enc, bytes(resolved))
            elif isinstance(resolved, dict):
                base = dict_get_name(resolved, "BaseEncoding")
                if base is not None:
                    apply_named_encoding(enc, bytes(base))
                diffs = dict_get_array(resolved, "Differences")
                if diffs is not None:
                    apply_differences(enc, diffs)
        if subtype in (b"CIDFontType0", b"CIDFontType2"):
            enc.is_cid = True
            enc.bytes_per_char = 2

    _parse_font_descriptor(font_dict, resolver, enc)
    _parse_widths(font_dict, enc)

    if is_type0:
        descendants = dict_get_array(font_dict, "DescendantFonts")
        if descendants:
            cid_font = resolver(descendants[0])
            if isinstance(cid_font, dict):
                _parse_cid_widths(cid_font, enc)
                _parse_font_descriptor(cid_font, resolver, enc)
    return enc


def _parse_font_descriptor(font_dict: dict, resolver, enc: FontEncoding) -> None:
    fd_obj = font_dict.get("FontDescriptor")
    if fd_obj is None:
        return
    fd = resolver(fd_obj)
    if not isinstance(fd, dict):
        return
    m = enc.metrics
    for attr, key in (
        ("ascender", "Ascent"), ("descender", "Descent"),
        ("cap_height", "CapHeight"), ("x_height", "XHeight"),
        ("italic_angle", "ItalicAngle"), ("missing_width", "MissingWidth"),
    ):
        v = dict_get_number(fd, key)
        if v is not None:
            setattr(m, attr, v)
    bbox = dict_get_array(fd, "FontBBox")
    if bbox and len(bbox) >= 4:
        for i in range(4):
            if type(bbox[i]) in (int, float):
                m.bbox[i] = float(bbox[i])
    # FontFile3: CFF charset for the glyph-name fallback (encoding.zig:570-597)
    ff3 = fd.get("FontFile3")
    if ff3 is not None:
        resolved_ff3 = resolver(ff3)
        if isinstance(resolved_ff3, Stream):
            st = dict_get_name(resolved_ff3.dict, "Subtype")
            if st in (b"Type1C", b"CIDFontType0C"):
                try:
                    data = filters.decompress_stream(
                        resolved_ff3.raw,
                        resolved_ff3.dict.get("Filter"),
                        resolved_ff3.dict.get("DecodeParms"),
                    )
                    from .cff import CffParser
                    enc.cff = CffParser(data)
                except Exception:
                    pass


def _parse_widths(font_dict: dict, enc: FontEncoding) -> None:
    fc = dict_get_number(font_dict, "FirstChar")
    lc = dict_get_number(font_dict, "LastChar")
    first = int(max(0, min(255, fc))) if fc is not None else 0
    last = int(max(0, min(255, lc))) if lc is not None else 255
    enc.widths.first_char = first
    enc.widths.last_char = last
    arr = dict_get_array(font_dict, "Widths")
    if arr:
        for i, w in enumerate(arr):
            code = first + i
            if code > 255:
                break
            if type(w) in (int, float):
                enc.widths.simple_widths[code] = float(w)


def _parse_cid_widths(cid_font: dict, enc: FontEncoding) -> None:
    dw = dict_get_number(cid_font, "DW")
    if dw is not None:
        enc.widths.default_width = dw
    w_arr = dict_get_array(cid_font, "W")
    if not w_arr:
        return
    out = enc.widths.cid_widths
    i = 0
    n = len(w_arr)
    while i < n:
        first = w_arr[i]
        if type(first) not in (int, float) or first < 0:
            i += 1
            continue
        first_cid = int(first)
        if i + 1 >= n:
            break
        second = w_arr[i + 1]
        if isinstance(second, list):
            for j, w in enumerate(second):
                if type(w) in (int, float):
                    out.append((first_cid + j, first_cid + j, float(w)))
            i += 2
        elif type(second) in (int, float):
            if i + 2 >= n:
                break
            if second < 0:
                i += 1
                continue
            w = w_arr[i + 2]
            if type(w) not in (int, float):
                i += 3
                continue
            out.append((first_cid, int(second), float(w)))
            i += 3
        else:
            i += 1


def _parse_cid_system_info(cid_font: dict, resolver, enc: FontEncoding) -> None:
    csi_obj = cid_font.get("CIDSystemInfo")
    if csi_obj is None:
        return
    csi = resolver(csi_obj)
    if not isinstance(csi, dict):
        return
    registry = dict_get_string(csi, "Registry")
    ordering = dict_get_string(csi, "Ordering")
    supplement = dict_get_number(csi, "Supplement")
    enc.cid_system_info = (
        registry.decode("latin-1") if registry else "Adobe",
        ordering.decode("latin-1") if ordering else "Identity",
        int(supplement) if supplement is not None else 0,
    )


def _parse_cid_to_gid_map(cid_font: dict, resolver, enc: FontEncoding) -> None:
    map_obj = cid_font.get("CIDToGIDMap")
    if map_obj is None:
        return
    resolved = resolver(map_obj)
    if isinstance(resolved, Name):
        if resolved == b"Identity":
            enc.cid_to_gid_map = None
    elif isinstance(resolved, Stream):
        try:
            data = filters.decompress_stream(
                resolved.raw, resolved.dict.get("Filter"), resolved.dict.get("DecodeParms")
            )
        except filters.DecompressError:
            return
        num = len(data) // 2
        enc.cid_to_gid_map = [
            (data[i * 2] << 8) | data[i * 2 + 1] for i in range(num)
        ]
