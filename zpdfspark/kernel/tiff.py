"""Minimal pure-Python standalone-TIFF parser: metadata AND strip
decode.

kernel/exif.py walks the TIFF IFD structure embedded in a JPEG APP1
segment; a standalone .tif file IS that structure with no JPEG
wrapper, so this module gives the multimodal path real TIFF identity
(dimensions, depth, compression, description) with the same bounded
IFD walk — and, round 5 second half, REAL pixel decode for the
grayscale strip layouts all four fixture compressions produce:
uncompressed, PackBits (the 8-byte RLE of TIFF §9), Deflate (zlib),
and LZW — TIFF's LZW is byte-for-byte PDF's LZWDecode with
/EarlyChange 1, so the strip path reuses kernel/filters.decode_lzw
(the reference codebase ships that decoder for PDF streams;
decompress.zig:372+). Horizontal differencing (Predictor 2) rides
kernel/filters.apply_predictor. JPEG-in-TIFF and tiled layouts raise
TiffError (data, never a task failure).

Supported value types: BYTE(1)/ASCII(2)/SHORT(3)/LONG(4); multi-IFD
chains are followed (page count) with a pointer-loop cap.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

MAX_PIXEL_BYTES = 64 * 1024 * 1024  # decoded-size DoS cap (Z12 spirit)

_WIDTH = 0x0100
_HEIGHT = 0x0101
_BITS = 0x0102
_COMPRESSION = 0x0103
_PHOTOMETRIC = 0x0106
_DESCRIPTION = 0x010E
_SAMPLES = 0x0115
_MAX_ENTRIES = 512
_MAX_IFDS = 64

_COMPRESSION_NAMES = {1: "none", 2: "ccitt-rle", 3: "g3", 4: "g4",
                      5: "lzw", 6: "jpeg-old", 7: "jpeg", 8: "deflate",
                      32773: "packbits"}


class TiffError(Exception):
    pass


def _read_value(tiff: bytes, endian: str, vtype: int, count: int,
                raw4: bytes):
    unit = {1: 1, 2: 1, 3: 2, 4: 4}.get(vtype)
    if unit is None:
        return None
    size = unit * count
    if size <= 4:
        data = raw4[:size]
    else:
        (off,) = struct.unpack(endian + "I", raw4)
        if off + size > len(tiff):
            return None
        data = tiff[off:off + size]
    if vtype == 2:
        return data.split(b"\x00", 1)[0].decode("ascii", "replace") or None
    fmt = {1: "B", 3: "H", 4: "I"}[vtype]
    vals = struct.unpack(endian + fmt * count, data)
    return vals[0] if count == 1 else vals


def parse_tiff(raw: bytes) -> dict:
    """Standalone TIFF bytes -> {width, height, bits_per_sample,
    samples_per_pixel, compression, photometric, description,
    n_pages, endian}. First IFD carries the image identity; the /Next
    chain is followed only to count pages. Raises TiffError."""
    if len(raw) < 8:
        raise TiffError("too short")
    if raw[:2] == b"II":
        endian = "<"
    elif raw[:2] == b"MM":
        endian = ">"
    else:
        raise TiffError("bad byte-order mark")
    (magic, ifd_off) = struct.unpack(endian + "HI", raw[2:8])
    if magic != 42:
        raise TiffError(f"bad magic {magic}")
    out = {"width": None, "height": None, "bits_per_sample": None,
           "samples_per_pixel": None, "compression": None,
           "photometric": None, "description": None, "n_pages": 0,
           "endian": "little" if endian == "<" else "big"}
    seen = set()
    first = True
    while ifd_off:
        if ifd_off in seen or len(seen) >= _MAX_IFDS:
            raise TiffError("IFD pointer loop")
        seen.add(ifd_off)
        if ifd_off + 2 > len(raw):
            raise TiffError("IFD offset out of range")
        (n,) = struct.unpack(endian + "H", raw[ifd_off:ifd_off + 2])
        n = min(n, _MAX_ENTRIES)
        for i in range(n):
            e = ifd_off + 2 + 12 * i
            if e + 12 > len(raw):
                raise TiffError("truncated IFD entry")
            tag, vtype, count = struct.unpack(endian + "HHI",
                                              raw[e:e + 8])
            if not first:
                continue
            raw4 = raw[e + 8:e + 12]
            if tag == _WIDTH:
                out["width"] = _read_value(raw, endian, vtype, count, raw4)
            elif tag == _HEIGHT:
                out["height"] = _read_value(raw, endian, vtype, count, raw4)
            elif tag == _BITS:
                v = _read_value(raw, endian, vtype, count, raw4)
                out["bits_per_sample"] = v if isinstance(v, int) else \
                    (v[0] if v else None)
            elif tag == _SAMPLES:
                out["samples_per_pixel"] = _read_value(
                    raw, endian, vtype, count, raw4)
            elif tag == _COMPRESSION:
                v = _read_value(raw, endian, vtype, count, raw4)
                if isinstance(v, int):
                    out["compression"] = _COMPRESSION_NAMES.get(
                        v, f"unknown-{v}")
            elif tag == _PHOTOMETRIC:
                out["photometric"] = _read_value(
                    raw, endian, vtype, count, raw4)
            elif tag == _DESCRIPTION:
                out["description"] = _read_value(
                    raw, endian, vtype, count, raw4)
        out["n_pages"] += 1
        first = False
        nxt = ifd_off + 2 + 12 * n
        if nxt + 4 > len(raw):
            raise TiffError("truncated next-IFD pointer")
        (ifd_off,) = struct.unpack(endian + "I", raw[nxt:nxt + 4])
    # a dimension entry whose count is not 1 reads as a tuple
    if not (isinstance(out["width"], int)
            and isinstance(out["height"], int)):
        raise TiffError("IFD0 lacks single-valued dimensions")
    # a LONG entry reaches 2**32 - 1, which no int column holds, and a
    # description entry of a numeric type reads as numbers
    if (any(v is not None and v >> 31
            for v in (out["width"], out["height"], out["bits_per_sample"]))
            or not isinstance(out["description"], (str, type(None)))):
        raise TiffError("IFD0 value out of range or of the wrong type")
    return out


def _unpackbits(data: bytes, cap: int) -> bytes:
    """TIFF §9 PackBits RLE decode."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        b = data[pos]
        pos += 1
        if b == 128:  # noop
            continue
        if b < 128:  # literal run of b+1
            if pos + b + 1 > n:
                raise TiffError("PackBits literal overruns strip")
            out += data[pos:pos + b + 1]
            pos += b + 1
        else:  # repeat next byte 257-b times
            if pos >= n:
                raise TiffError("PackBits repeat overruns strip")
            out += bytes([data[pos]]) * (257 - b)
            pos += 1
        if len(out) > cap:
            raise TiffError("PackBits output cap")
    return bytes(out)


def _decode_strip(data: bytes, compression, cap: int) -> bytes:
    if compression in (None, "none"):
        return data
    if compression == "packbits":
        return _unpackbits(data, cap)
    if compression == "deflate":
        d = zlib.decompressobj()
        try:
            out = d.decompress(data, cap)
        except zlib.error as e:
            raise TiffError(f"deflate strip: {e}")
        if d.decompress(b"", 1):
            raise TiffError("deflate output cap")
        return out
    if compression == "lzw":
        # TIFF LZW == PDF LZWDecode with /EarlyChange 1 (width bumps
        # one code early) — reuse the PDF filter decoder
        from .filters import DecompressError, decode_lzw
        try:
            out = decode_lzw(data, early_change=1)
        except DecompressError as e:
            raise TiffError(f"lzw strip: {e}")
        if len(out) > cap:
            raise TiffError("lzw output cap")
        return out
    raise TiffError(f"unsupported compression for decode: {compression}")


def decode_tiff(raw: bytes):
    """Standalone TIFF bytes -> (width, height, channels,
    pixels ndarray) — REAL strip decode for the first IFD of
    single-sample (grayscale) images at 1/8/16 bits with
    none/PackBits/Deflate/LZW compression and optional horizontal
    differencing. 1-bit expands to 0/255 uint8; 16-bit keeps uint16
    in the file's byte order. Anything outside that envelope (tiles,
    palettes, multi-sample, JPEG-in-TIFF) raises TiffError — callers
    treat a failed decode as data (the kernel contract)."""
    meta = parse_tiff(raw)
    endian = "<" if meta["endian"] == "little" else ">"
    (off,) = struct.unpack(endian + "I", raw[4:8])
    (n,) = struct.unpack(endian + "H", raw[off:off + 2])
    n = min(n, _MAX_ENTRIES)
    tags = {}
    for i in range(n):
        e = off + 2 + 12 * i
        tag, vtype, count = struct.unpack(endian + "HHI", raw[e:e + 8])
        tags[tag] = _read_value(raw, endian, vtype, count, raw[e + 8:e + 12])
    w, h = meta["width"], meta["height"]
    bits = meta["bits_per_sample"] or 1
    samples = meta["samples_per_pixel"] or 1
    if samples != 1:
        raise TiffError(f"decode supports 1 sample/pixel, got {samples}")
    if bits not in (1, 8, 16):
        raise TiffError(f"decode supports 1/8/16 bits, got {bits}")
    if 0x0142 in tags or 0x0144 in tags:
        raise TiffError("tiled TIFF not supported")
    offsets = tags.get(0x0111)
    counts = tags.get(0x0117)
    if offsets is None or counts is None:
        raise TiffError("missing strip offsets/byte counts")
    if isinstance(offsets, int):
        offsets, counts = (offsets,), (counts,)
    if len(offsets) != len(counts):
        raise TiffError("strip offset/count mismatch")
    row_bytes = (w * bits + 7) // 8
    expected = row_bytes * h
    if expected > MAX_PIXEL_BYTES:
        raise TiffError("image too large")
    predictor = tags.get(0x013D, 1)
    if predictor not in (1, 2):
        raise TiffError(f"unsupported predictor {predictor}")
    if predictor == 2 and bits != 8:
        raise TiffError("predictor 2 decode supports 8-bit only")
    data = bytearray()
    for o, c in zip(offsets, counts):
        if o + c > len(raw):
            raise TiffError("strip overruns file")
        strip = _decode_strip(bytes(raw[o:o + c]), meta["compression"],
                              MAX_PIXEL_BYTES)
        if predictor == 2:
            from .filters import apply_predictor
            strip = apply_predictor(strip, 2, w, 1, bits)
        data += strip
    if len(data) < expected:
        raise TiffError(f"strip data short: {len(data)} < {expected}")
    data = bytes(data[:expected])
    if bits == 8:
        px = np.frombuffer(data, dtype=np.uint8).reshape(h, w)
    elif bits == 16:
        px = np.frombuffer(data, dtype=np.dtype(endian + "u2")).reshape(h, w)
    else:  # 1-bit: unpack rows (row-aligned to byte boundary), 0/255
        rows = np.frombuffer(data, dtype=np.uint8).reshape(h, row_bytes)
        px = (np.unpackbits(rows, axis=1)[:, :w] * 255).astype(np.uint8)
    return w, h, 1, px


def _packbits(data: bytes) -> bytes:
    """Test-side PackBits encoder (the independent direction against
    _unpackbits): greedy runs, literals capped at 128."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        # find run length at i
        j = i
        while j + 1 < n and data[j + 1] == data[i] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i = j + 1
            continue
        # literal stretch until next >=3 run or 128 bytes
        lit_start = i
        while i < n and i - lit_start < 128:
            if i + 2 < n and data[i] == data[i + 1] == data[i + 2]:
                break
            i += 1
        out += bytes([i - lit_start - 1]) + data[lit_start:i]
    return bytes(out)


def _lzw_encode_tiff(data: bytes) -> bytes:
    """Test-side TIFF LZW encoder (early-change width timing)."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    bits = []

    def emit(code):
        bits.append(format(code, f"0{width}b"))

    emit(256)  # clear
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w += c
            continue
        emit(table[w])
        if next_code < 4096:
            table[w + c] = next_code
            next_code += 1
            if next_code + 1 > (1 << width) and width < 12:
                width += 1
        w = c
    if w:
        emit(table[w])
    emit(257)  # EOD
    s = "".join(bits)
    s += "0" * ((8 - len(s) % 8) % 8)
    return bytes(int(s[i:i + 8], 2) for i in range(0, len(s), 8))


def page_pixels(width: int, height: int, bits: int, page: int = 0):
    """Deterministic test pixels for one page (shared by build_tiff
    and the round-trip tests)."""
    r = np.arange(height).reshape(-1, 1)
    c = np.arange(width).reshape(1, -1)
    if bits == 16:
        return ((r * 31 + c * 7 + page * 13) * 257 % 65536).astype(np.uint16)
    if bits == 1:
        return (((r * 3 + c + page) % 5) < 2).astype(np.uint8)
    return ((r * 31 + c * 7 + page * 13) % 256).astype(np.uint8)


def build_tiff(width: int, height: int, bits: int = 8,
               compression: int = 1, description: str = None,
               endian: str = "<", n_pages: int = 1,
               predictor: int = 1) -> bytes:
    """Test-side encoder: real TIFF header + IFD chain with REAL
    strip data (deterministic page_pixels, multiple strips per page,
    compressed per `compression`: 1 none / 5 LZW / 8 deflate /
    32773 PackBits; optional horizontal differencing for 8-bit)."""
    heap = bytearray()
    rows_per_strip = max(1, height // 3)
    row_bytes = (width * bits + 7) // 8

    def raw_rows(page):
        px = page_pixels(width, height, bits, page)
        if bits == 16:
            return px.astype(np.dtype(endian + "u2")).tobytes()
        if bits == 1:
            padded = np.zeros((height, row_bytes * 8), dtype=np.uint8)
            padded[:, :width] = px
            return np.packbits(padded, axis=1).tobytes()
        return px.tobytes()

    def compress(strip):
        if compression == 5:
            return _lzw_encode_tiff(strip)
        if compression == 8:
            return zlib.compress(strip)
        if compression == 32773:
            return _packbits(strip)
        return strip

    def diff(strip):
        if predictor != 2:
            return strip
        a = np.frombuffer(strip, dtype=np.uint8).reshape(-1, width).astype(
            np.int16)
        a[:, 1:] = a[:, 1:] - a[:, :-1]
        return (a & 0xFF).astype(np.uint8).tobytes()

    # pass 1: entry lists per page (values placed later)
    def entries_for(page):
        n_strips = (height + rows_per_strip - 1) // rows_per_strip
        ent = [(_WIDTH, 4, 1), (_HEIGHT, 4, 1), (_BITS, 3, 1),
               (_COMPRESSION, 3, 1), (_PHOTOMETRIC, 3, 1),
               (_SAMPLES, 3, 1), (0x0111, 4, n_strips),
               (0x0117, 4, n_strips), (0x0116, 4, 1)]
        if predictor == 2:
            ent.append((0x013D, 3, 1))
        if description is not None and page == 0:
            ent.append((_DESCRIPTION, 2, None))
        return sorted(ent)

    out = bytearray()
    out += (b"II" if endian == "<" else b"MM") + \
        struct.pack(endian + "HI", 42, 8)
    ifd_offsets = []
    pos = 8
    for p in range(n_pages):
        ifd_offsets.append(pos)
        pos += 2 + 12 * len(entries_for(p)) + 4
    heap_base = pos
    ifds = []
    for p in range(n_pages):
        data = raw_rows(p)
        strip_offs, strip_lens = [], []
        for s0 in range(0, height, rows_per_strip):
            rows = min(rows_per_strip, height - s0)
            strip = data[s0 * row_bytes:(s0 + rows) * row_bytes]
            enc = compress(diff(strip))
            strip_offs.append(heap_base + len(heap))
            strip_lens.append(len(enc))
            heap.extend(enc)
        values = {
            _WIDTH: width, _HEIGHT: height, _BITS: bits,
            _COMPRESSION: compression, _PHOTOMETRIC: 1, _SAMPLES: 1,
            0x0111: strip_offs, 0x0117: strip_lens,
            0x0116: rows_per_strip, 0x013D: predictor,
        }
        ent = entries_for(p)
        body = struct.pack(endian + "H", len(ent))
        for tag, vtype, count in ent:
            if vtype == 2:
                dat = description.encode("ascii") + b"\x00"
                if len(dat) <= 4:
                    body += struct.pack(endian + "HHI", tag, 2, len(dat)) \
                        + dat.ljust(4, b"\x00")
                else:
                    body += struct.pack(endian + "HHII", tag, 2, len(dat),
                                        heap_base + len(heap))
                    heap.extend(dat)
                continue
            vals = values[tag]
            if not isinstance(vals, (list, tuple)):
                vals = [vals]
            fmt = "H" if vtype == 3 else "I"
            packed = struct.pack(endian + fmt * len(vals), *vals)
            if len(packed) <= 4:
                body += struct.pack(endian + "HHI", tag, vtype,
                                    len(vals)) + packed.ljust(4, b"\x00")
            else:
                body += struct.pack(endian + "HHII", tag, vtype, len(vals),
                                    heap_base + len(heap))
                heap.extend(packed)
        nxt = ifd_offsets[p + 1] if p + 1 < n_pages else 0
        body += struct.pack(endian + "I", nxt)
        ifds.append(body)
    return bytes(out) + b"".join(ifds) + bytes(heap)
