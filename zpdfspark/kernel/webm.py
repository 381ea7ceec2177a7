"""WebM / Matroska (EBML) metadata — the web's royalty-free video
container (every <video> tag era crawl carries .webm alongside .mp4;
kernel/mp4.py is the ISO BMFF sibling).

EBML is a binary XML: every element is (vint ID, vint size, payload),
masters nest. This walk decodes exactly the no-codec metadata layer a
crawl pipeline keeps:

- EBML header: DocType ("webm" / "matroska"), DocTypeVersion
- Segment > Info: TimestampScale (default 1,000,000 ns) + Duration
  (float, in scale units) -> duration_ms
- Segment > Tracks > TrackEntry: TrackType (1=video, 2=audio),
  CodecID, Video PixelWidth/PixelHeight, Audio SamplingFrequency /
  Channels

Frame decode stays honestly stubbed (no VP8/VP9/AV1/Opus codecs in
this container) — the posture of kernel/webp.py / kernel/mp4.py.

VINT rules honored: IDs keep their length-marker bit (the 4-byte
0x1A45DFA3 magic IS the first ID); sizes strip it; an all-ones size
is "unknown" (live-muxed segments — common in real WebM!) and means
"extends to the end of the enclosing element". Cluster payloads are
skipped, never parsed. DoS bounds: element-count and depth caps, and
every declared size is clamped against the enclosing span.
"""

from __future__ import annotations

import math
import struct

_MAX_ELEMENTS = 100_000
_MAX_DEPTH = 16

# master elements we recurse into; everything else is a leaf/skip
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_VIDEO = 0xE0
_AUDIO = 0xE1
_EBML = 0x1A45DFA3
_MASTERS = {_EBML, _SEGMENT, _INFO, _TRACKS, _TRACK_ENTRY, _VIDEO, _AUDIO}

_DOC_TYPE = 0x4282
_DOC_TYPE_VERSION = 0x4287
_TIMESTAMP_SCALE = 0x2AD7B1
_DURATION = 0x4489
_TRACK_TYPE = 0x83
_CODEC_ID = 0x86
_PIXEL_WIDTH = 0xB0
_PIXEL_HEIGHT = 0xBA
_SAMPLING_FREQ = 0xB5
_CHANNELS = 0x9F


class WebmError(ValueError):
    pass


def is_webm(raw: bytes) -> bool:
    return raw[:4] == b"\x1aE\xdf\xa3"


def _read_id(raw: bytes, pos: int):
    """EBML ID: length from the first byte's leading-one position,
    value kept WITH the marker bit."""
    if pos >= len(raw):
        raise WebmError("truncated id")
    b0 = raw[pos]
    if b0 == 0:
        raise WebmError("invalid id lead byte")
    n = 1
    mask = 0x80
    while not b0 & mask:
        mask >>= 1
        n += 1
        if n > 4:
            raise WebmError("id longer than 4 bytes")
    if pos + n > len(raw):
        raise WebmError("truncated id")
    return int.from_bytes(raw[pos:pos + n], "big"), pos + n


def _read_size(raw: bytes, pos: int):
    """EBML size: marker bit stripped; all-ones payload = unknown
    (returns None)."""
    if pos >= len(raw):
        raise WebmError("truncated size")
    b0 = raw[pos]
    if b0 == 0:
        raise WebmError("invalid size lead byte")
    n = 1
    mask = 0x80
    while not b0 & mask:
        mask >>= 1
        n += 1
        if n > 8:
            raise WebmError("size longer than 8 bytes")
    if pos + n > len(raw):
        raise WebmError("truncated size")
    val = (b0 & (mask - 1)).to_bytes(1, "big") + raw[pos + 1:pos + n]
    size = int.from_bytes(val, "big")
    all_ones = (1 << (7 * n)) - 1
    return (None if size == all_ones else size), pos + n


def _uint(payload: bytes) -> int:
    return int.from_bytes(payload, "big") if payload else 0


def _float(payload: bytes) -> float:
    if len(payload) == 4:
        return struct.unpack(">f", payload)[0]
    if len(payload) == 8:
        return struct.unpack(">d", payload)[0]
    raise WebmError(f"float element of {len(payload)} bytes")


def parse_webm(raw: bytes) -> dict:
    """Walk the EBML tree. Returns {doc_type, doc_type_version,
    duration_ms, n_tracks, width, height, video_codec, audio_codec,
    sample_rate, channels}; raises WebmError on anything that is not
    a readable EBML document — callers treat that as data, not a task
    failure."""
    if not is_webm(raw):
        raise WebmError("no EBML magic")
    out = {
        "doc_type": None, "doc_type_version": None, "duration_ms": None,
        "n_tracks": 0, "width": None, "height": None,
        "video_codec": None, "audio_codec": None,
        "sample_rate": None, "channels": None,
    }
    scale = [1_000_000]
    duration = [None]
    budget = [_MAX_ELEMENTS]

    def walk(start: int, end: int, depth: int, track_type: int) -> None:
        pos = start
        while pos < end:
            budget[0] -= 1
            if budget[0] <= 0:
                raise WebmError("element budget exceeded")
            eid, pos = _read_id(raw, pos)
            size, pos = _read_size(raw, pos)
            payload_end = end if size is None else min(pos + size, end)
            payload = raw[pos:payload_end]
            if eid in _MASTERS:
                if depth >= _MAX_DEPTH:
                    raise WebmError("nesting too deep")
                tt = track_type
                if eid == _TRACK_ENTRY:
                    out["n_tracks"] += 1
                    # peek TrackType inside this entry for codec slotting
                    tt = _peek_track_type(pos, payload_end)
                walk(pos, payload_end, depth + 1, tt)
            elif eid == _DOC_TYPE:
                out["doc_type"] = payload.split(b"\x00")[0].decode(
                    "ascii", "replace")
            elif eid == _DOC_TYPE_VERSION:
                out["doc_type_version"] = _uint(payload)
            elif eid == _TIMESTAMP_SCALE:
                scale[0] = _uint(payload) or 1_000_000
            elif eid == _DURATION:
                duration[0] = _float(payload)
            elif eid == _CODEC_ID:
                cid = payload.split(b"\x00")[0].decode("ascii", "replace")
                if track_type == 1 and out["video_codec"] is None:
                    out["video_codec"] = cid
                elif track_type == 2 and out["audio_codec"] is None:
                    out["audio_codec"] = cid
            elif eid == _PIXEL_WIDTH and out["width"] is None:
                out["width"] = _uint(payload)
            elif eid == _PIXEL_HEIGHT and out["height"] is None:
                out["height"] = _uint(payload)
            elif eid == _SAMPLING_FREQ and out["sample_rate"] is None:
                rate = _float(payload)
                if not math.isfinite(rate):      # int() raises on it
                    raise WebmError("sampling frequency not finite")
                out["sample_rate"] = int(rate)
            elif eid == _CHANNELS and out["channels"] is None:
                out["channels"] = _uint(payload)
            pos = payload_end

    def _peek_track_type(start: int, end: int) -> int:
        pos = start
        for _ in range(64):                  # TrackType sits early
            if pos >= end:
                break
            try:
                eid, pos = _read_id(raw, pos)
                size, pos = _read_size(raw, pos)
            except WebmError:
                break
            nxt = end if size is None else min(pos + size, end)
            if eid == _TRACK_TYPE:
                return _uint(raw[pos:nxt])
            pos = nxt
        return 0

    walk(0, len(raw), 0, 0)
    # EBML uints are unbounded: a value no int column holds is damage
    if any(v is not None and v >> 31 for v in (out["width"], out["height"])):
        raise WebmError("pixel dimension out of range")
    if duration[0] is not None:
        ms = duration[0] * scale[0] / 1_000_000
        if not abs(ms) < 1 << 63:          # also NaN and infinity
            raise WebmError("duration out of range")
        out["duration_ms"] = int(ms)
    return out
