"""Minimal ISO BMFF (MP4/MOV) metadata parser for the multimodal
kernel.

Box walk only: ftyp major brand, mvhd timescale/duration, per-track
tkhd display dimensions, stsd sample-entry fourcc. There is NO codec
decode here — video frame/sample decode remains the honest
NotImplementedError stub in spark/media.py (no codec libraries in this
container). This parser is the metadata layer a crawl pipeline
extracts from video WITHOUT codecs: duration, track count, dims,
codec identifiers — enough for media routing, size/duration filters,
and sampling decisions.

Contract mirrors kernel/png.py: anything malformed raises Mp4Error;
callers treat a failed parse as data, never as a task failure. Box
recursion is depth- and count-bounded so crafted files cannot loop.
"""

from __future__ import annotations

import struct
from typing import Iterator, Tuple

MAX_BOXES = 10_000
MAX_DEPTH = 8


class Mp4Error(Exception):
    pass


def _boxes(raw: bytes, start: int, end: int,
           budget: list) -> Iterator[Tuple[bytes, int, int]]:
    """Yield (type, content_start, box_end) for boxes in [start, end).
    Handles 64-bit largesize and size==0 (to end); trailing bytes
    shorter than a header are ignored (real muxers pad)."""
    pos = start
    while pos + 8 <= end:
        budget[0] -= 1
        if budget[0] < 0:
            raise Mp4Error("too many boxes")
        (size,) = struct.unpack(">I", raw[pos : pos + 4])
        btype = raw[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise Mp4Error("truncated largesize")
            (size,) = struct.unpack(">Q", raw[pos + 8 : pos + 16])
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise Mp4Error("bad box size")
        yield btype, pos + hdr, pos + size
        pos += size


def parse_mp4(raw: bytes) -> dict:
    """raw ISO BMFF bytes -> {brand, duration_ms, timescale, n_tracks,
    width, height, codecs} (first video-sized track wins the dims)."""
    if len(raw) < 12 or raw[4:8] != b"ftyp":
        raise Mp4Error("not an ISO BMFF file")
    brand = raw[8:12].decode("latin-1")
    budget = [MAX_BOXES]
    duration_ms = None
    timescale = None
    n_tracks = 0
    width = height = 0
    codecs = []
    for btype, s, e in _boxes(raw, 0, len(raw), budget):
        if btype != b"moov":
            continue
        for t2, s2, e2 in _boxes(raw, s, e, budget):
            if t2 == b"mvhd":
                if s2 >= e2:
                    raise Mp4Error("empty mvhd")
                ver = raw[s2]
                try:
                    if ver == 1:
                        (timescale,) = struct.unpack(">I", raw[s2 + 20 : s2 + 24])
                        (dur,) = struct.unpack(">Q", raw[s2 + 24 : s2 + 32])
                    else:
                        (timescale,) = struct.unpack(">I", raw[s2 + 12 : s2 + 16])
                        (dur,) = struct.unpack(">I", raw[s2 + 16 : s2 + 20])
                except struct.error:
                    raise Mp4Error("truncated mvhd")
                if not timescale:
                    raise Mp4Error("zero timescale")
                duration_ms = dur * 1000 // timescale
                if duration_ms >> 63:     # a 64-bit duration can overflow
                    raise Mp4Error("duration out of range")
            elif t2 == b"trak":
                n_tracks += 1
                for t3, s3, e3 in _boxes(raw, s2, e2, budget):
                    if t3 == b"tkhd":
                        if s3 >= e3:
                            raise Mp4Error("empty tkhd")
                        off = s3 + (88 if raw[s3] == 1 else 76)
                        if off + 8 <= e3:
                            (w16,) = struct.unpack(">I", raw[off : off + 4])
                            (h16,) = struct.unpack(">I", raw[off + 4 : off + 8])
                            if w16 and h16 and not width:
                                width, height = w16 >> 16, h16 >> 16
                    elif t3 == b"mdia":
                        codecs.extend(_track_codecs(raw, s3, e3, budget))
    if duration_ms is None:
        raise Mp4Error("missing moov/mvhd")
    return {
        "brand": brand, "duration_ms": duration_ms, "timescale": timescale,
        "n_tracks": n_tracks, "width": width, "height": height,
        "codecs": codecs,
    }


def _track_codecs(raw: bytes, s: int, e: int, budget: list) -> list:
    out = []
    for t4, s4, e4 in _boxes(raw, s, e, budget):  # mdia children
        if t4 != b"minf":
            continue
        for t5, s5, e5 in _boxes(raw, s4, e4, budget):
            if t5 != b"stbl":
                continue
            for t6, s6, e6 in _boxes(raw, s5, e5, budget):
                if t6 != b"stsd" or s6 + 16 > e6:
                    continue
                # verflags(4) count(4) then the first sample entry
                # (size(4) fourcc(4) ...)
                out.append(raw[s6 + 12 : s6 + 16].decode("latin-1"))
    return out


def parse_avif(raw: bytes) -> dict:
    """AVIF (HEIF/ISO BMFF still image) metadata: resolve the PRIMARY
    item's spatial extents the way the spec means it — pitm names the
    primary item id, ipma associates it with 1-based indices into
    ipco's ordered property list, and the associated ispe carries
    width/height (so a thumbnail's smaller ispe in the same file is
    correctly ignored). pixi gives channel count + bit depth, av1C
    presence identifies the codec. NO AV1 sample decode here — that
    stays the honest NotImplementedError stub in spark/media.py.

    Returns {brand, width, height, depth, channels, n_items, codec}.
    Malformed input raises Mp4Error (shared _boxes walker: same box
    budget / largesize / size-0 handling as parse_mp4)."""
    if len(raw) < 12 or raw[4:8] != b"ftyp":
        raise Mp4Error("not an ISO BMFF file")
    brand = raw[8:12].decode("latin-1")
    if brand not in ("avif", "avis", "heic", "heix", "mif1"):
        raise Mp4Error(f"not a HEIF still-image brand: {brand}")

    def u(fmt: str, off: int, end: int):
        n = struct.calcsize(fmt)
        if off + n > end:
            raise Mp4Error("truncated field")
        return struct.unpack(fmt, raw[off : off + n])

    budget = [MAX_BOXES]
    primary = None
    props: list = []   # ordered ipco children: (fourcc, start, end)
    assoc: dict = {}   # item_id -> 1-based property indices
    n_items = 0
    for btype, s, e in _boxes(raw, 0, len(raw), budget):
        if btype != b"meta":
            continue
        # meta is a FullBox: 4 version/flags bytes precede children
        for t2, s2, e2 in _boxes(raw, s + 4, e, budget):
            if t2 == b"pitm":
                (ver,) = u(">B", s2, e2)
                primary = (u(">H", s2 + 4, e2)[0] if ver == 0
                           else u(">I", s2 + 4, e2)[0])
            elif t2 == b"iinf":
                (ver,) = u(">B", s2, e2)
                n_items = (u(">H", s2 + 4, e2)[0] if ver == 0
                           else u(">I", s2 + 4, e2)[0])
            elif t2 == b"iprp":
                for t3, s3, e3 in _boxes(raw, s2, e2, budget):
                    if t3 == b"ipco":
                        props = list(_boxes(raw, s3, e3, budget))
                    elif t3 == b"ipma":
                        ver, flags = raw[s3], raw[s3 + 3]
                        (cnt,) = u(">I", s3 + 4, e3)
                        pos = s3 + 8
                        if cnt > MAX_BOXES:
                            raise Mp4Error("ipma entry bomb")
                        for _ in range(cnt):
                            if ver < 1:
                                (iid,) = u(">H", pos, e3)
                                pos += 2
                            else:
                                (iid,) = u(">I", pos, e3)
                                pos += 4
                            (ac,) = u(">B", pos, e3)
                            pos += 1
                            idxs = []
                            for _ in range(ac):
                                if flags & 1:
                                    (v,) = u(">H", pos, e3)
                                    pos += 2
                                    idxs.append(v & 0x7FFF)
                                else:
                                    idxs.append(raw[pos] & 0x7F)
                                    (_,) = u(">B", pos, e3)
                                    pos += 1
                            assoc[iid] = idxs
    if primary is None:
        raise Mp4Error("missing meta/pitm")
    idxs = assoc.get(primary)
    if not idxs:
        raise Mp4Error("primary item has no property associations")
    width = height = depth = channels = 0
    codec = ""
    for idx in idxs:
        if not 1 <= idx <= len(props):
            raise Mp4Error("ipma index out of range")
        t4, s4, e4 = props[idx - 1]
        if t4 == b"ispe":
            width, height = u(">II", s4 + 4, e4)
        elif t4 == b"pixi":
            (channels,) = u(">B", s4 + 4, e4)
            if channels:
                (depth,) = u(">B", s4 + 5, e4)
        elif t4 == b"av1C":
            codec = "av01"
        elif t4 == b"hvcC":
            codec = "hvc1"
    if not width or not height:
        raise Mp4Error("primary item has no ispe")
    if width >> 31 or height >> 31:
        raise Mp4Error("ispe dimension out of range")
    return {
        "brand": brand, "width": width, "height": height,
        "depth": depth, "channels": channels, "n_items": n_items,
        "codec": codec,
    }


def encode_avif(width: int, height: int, thumb=None, depth: int = 8,
                channels: int = 3, brand: bytes = b"avif",
                codec: bytes = b"av1C") -> bytes:
    """Minimal AVIF muxer for fixtures/tests — the independent
    direction against parse_avif. Emits pitm/iinf/iprp(ipco+ipma)
    with the primary item's ispe/pixi/av1C; `thumb=(w, h)` adds a
    second item whose SMALLER ispe must be ignored by primary-item
    resolution. The av1C payload is an opaque config stub (no AV1
    encoder here, deliberately)."""

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", brand + struct.pack(">I", 0) + brand + b"mif1")
    items = [(1, width, height)] + ([(2, *thumb)] if thumb else [])
    pitm = box(b"pitm", b"\x00\x00\x00\x00" + struct.pack(">H", 1))
    item_type = b"av01" if codec == b"av1C" else b"hvc1"
    infes = b"".join(
        box(b"infe", b"\x02\x00\x00\x00" + struct.pack(">HH", iid, 0)
            + item_type + b"Image\x00")
        for iid, _, _ in items)
    iinf = box(b"iinf", b"\x00\x00\x00\x00"
               + struct.pack(">H", len(items)) + infes)
    ipco_children = [
        box(b"ispe", b"\x00\x00\x00\x00" + struct.pack(">II",
                                                       width, height)),
        box(b"pixi", b"\x00\x00\x00\x00" + bytes([channels])
            + bytes([depth] * channels)),
        box(codec, b"\x81\x04\x0c\x00"),  # opaque config stub
    ]
    assoc = {1: [1, 2, 3]}
    if thumb:
        ipco_children.append(
            box(b"ispe", b"\x00\x00\x00\x00" + struct.pack(">II",
                                                           *thumb)))
        assoc[2] = [4, 3]
    ipma_entries = b"".join(
        struct.pack(">H", iid) + bytes([len(idxs)]) + bytes(idxs)
        for iid, idxs in sorted(assoc.items()))
    ipma = box(b"ipma", b"\x00\x00\x00\x00"
               + struct.pack(">I", len(assoc)) + ipma_entries)
    iprp = box(b"iprp", box(b"ipco", b"".join(ipco_children)) + ipma)
    hdlr = box(b"hdlr", b"\x00\x00\x00\x00" + b"\x00" * 4 + b"pict"
               + b"\x00" * 12 + b"\x00")
    meta = box(b"meta", b"\x00\x00\x00\x00" + hdlr + pitm + iinf + iprp)
    mdat = box(b"mdat", bytes((width * 7 + height * 3 + i) % 251
                              for i in range(64)))
    return ftyp + meta + mdat


def encode_mp4(duration_units: int, timescale: int,
               tracks: list, brand: bytes = b"isom") -> bytes:
    """Minimal muxer for fixtures/tests — the independent direction
    against parse_mp4. `tracks` is a list of (width, height, fourcc);
    width/height 0 emits a non-visual track (dims zero in tkhd)."""

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", brand + struct.pack(">I", 0x200) + brand + b"mp41")
    mvhd = box(b"mvhd", (
        b"\x00\x00\x00\x00"                      # version 0 + flags
        + struct.pack(">II", 0, 0)               # ctime, mtime
        + struct.pack(">II", timescale, duration_units)
        + struct.pack(">I", 0x00010000)          # rate 1.0
        + struct.pack(">H", 0x0100) + b"\x00" * 10   # volume + reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", len(tracks) + 1)))
    traks = b""
    for tid, (w, h, fourcc) in enumerate(tracks, start=1):
        tkhd = box(b"tkhd", (
            b"\x00\x00\x00\x07"
            + struct.pack(">II", 0, 0)           # ctime, mtime
            + struct.pack(">I", tid) + b"\x00" * 4
            + struct.pack(">I", duration_units) + b"\x00" * 8
            + struct.pack(">HHH", 0, 0, 0) + b"\x00" * 2
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + struct.pack(">II", w << 16, h << 16)))
        entry = struct.pack(">I", 16) + fourcc + b"\x00" * 6 + struct.pack(">H", 1)
        stsd = box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry)
        mdia = box(b"mdia", box(b"minf", box(b"stbl", stsd)))
        traks += box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + traks)
    mdat = box(b"mdat", bytes((duration_units * (i + 3)) % 251
                              for i in range(48)))
    return ftyp + moov + mdat
