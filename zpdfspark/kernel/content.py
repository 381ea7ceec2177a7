"""Content-stream lexer + unified text-extraction state machine.

Fresh Python implementation matching the reference's production path:

Lexer (/root/reference/src/interpreter.zig:495-824):
- tokens: number, string, hex-string, name, operator, array (max 512
  elements); ``<<`` dict tokens skipped; stray ``]``/``>`` skipped
- BI ... EI inline images skipped binary-safely: EI must be whitespace-
  preceded and whitespace/delimiter-followed (interpreter.zig:558-563,
  771-785)

Extraction (/root/reference/src/root.zig:1978-2182), three modes:
- stream: text streamed to an output buffer; newline heuristics:
  * Td/TD: newline iff |disp| > 0.7*max(font_size, last_text_font_size)
    and prev_y != 0; wmode picks tx vs ty (root.zig:2061-2083)
  * Tm: same with the e/f translation vs prev_x/prev_y on the wmode
    axis (root.zig:2084-2105)
  * T*: always newline; ' and ": newline then show (root.zig:2106-2176)
  * TJ numbers: space iff n < -100 (root.zig:2296-2313)
  * superscript guard: last_text_font_size tracks the last *shown*
    size (root.zig:1996-2000)
- bounds: spans flushed at positioning ops into a SpanCollector with
  width = len(text)*font_size*0.5 (interpreter.zig:396-469); TJ numbers
  flush iff n < -150 and advance x by -n/1000*font_size
  (root.zig:2316-2335)
- structured: BDC/BMC/EMC MCID stack; per-show text capped at 4096
  bytes (silent truncation, root.zig:2004-2007)
- Do: Form XObject recursion, depth cap 10 (root.zig:2184-2260)
- operands: max 128 buffered, cleared after every operator
  (root.zig:1987-1988, 2180)

All text is handled as UTF-8 *bytes* for byte-parity; the document API
decodes utf-8 errors="replace" at the boundary like the reference's
Python binding (python/zpdf/__init__.py:175-179).
"""

from __future__ import annotations

import re
from typing import Callable, Dict, List, Optional, Tuple

from . import filters, pagetree
from .objects import (Name, Ref, Stream, dict_get_dict, dict_get_name,
                      scan_hex_string, scan_literal_string)
from .encoding import FontEncoding
from .encodings_data import WIN_ANSI_ENCODING

_WS_SET = frozenset(b"\x00\t\n\x0c\r ")
_DELIM_SET = frozenset(b"()<>[]{}/%")

# token kinds
T_NUM = 0
T_STR = 1
T_HEX = 2
T_NAME = 3
T_OP = 4
T_ARR = 5

_NUMCHARS_RE = re.compile(rb"[0-9.+\-]+")
_EI_RE = re.compile(rb"EI(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|\Z)")
# master token scan (hot path): ws/comment skip + number | name |
# operator | any-single-byte in ONE C regex call per token; the
# single-byte group routes strings/hex/arrays/strays to their scanners
_TOK_RE = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*"
    rb"(?:([+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+))"
    rb"|/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|([A-Za-z'\"*][^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|(.))",
    re.DOTALL)


class ContentLexer:
    """Streaming tokenizer over decoded content bytes."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def tokens(self):
        """Yield (kind, value) tuples (one _TOK_RE scan per token; same
        observable stream as the per-class dispatch it replaced)."""
        data = self.data
        n = len(data)
        pos = self.pos
        match = _TOK_RE.match
        while pos < n:
            m = match(data, pos)
            if m is None:  # trailing whitespace/comment only
                pos = n
                break
            g = m.lastindex
            if g == 1:  # number
                pos = m.end()
                yield (T_NUM, float(m.group(1)))
            elif g == 2:  # /name
                pos = m.end()
                yield (T_NAME, m.group(2))
            elif g == 3:  # operator
                op = m.group(3)
                pos = m.end()
                if op == b"BI":
                    # skip inline image binary-safely
                    pos = self._skip_inline_image(pos)
                    continue
                yield (T_OP, op)
            else:
                c = m.group(4)
                start = m.start(4)
                if c == b"(":
                    self.pos = start
                    s = self._scan_string()
                    pos = self.pos
                    yield (T_STR, s)
                elif c == b"<":
                    if data[start + 1 : start + 2] == b"<":
                        # skip dict start (interpreter.zig:531-536)
                        pos = start + 2
                        continue
                    self.pos = start
                    s = self._scan_hex_string()
                    pos = self.pos
                    yield (T_HEX, s)
                elif c == b"[":
                    self.pos = start
                    arr = self._scan_array()
                    pos = self.pos
                    yield (T_ARR, arr)
                elif c in b"+-.":  # number chars that aren't a number
                    m2 = _NUMCHARS_RE.match(data, start)
                    pos = m2.end() if m2 else start + 1
                    yield (T_NUM, 0.0)
                else:  # stray ']' '>' or junk byte
                    pos = m.end()
        self.pos = pos

    def _skip_inline_image(self, pos: int) -> int:
        data = self.data
        n = len(data)
        search = pos
        while True:
            m = _EI_RE.search(data, search)
            if m is None:
                return n
            s = m.start()
            if s == 0 or data[s - 1] in _WS_SET:
                return m.end()
            search = s + 1

    def _scan_string(self) -> bytes:
        s, self.pos = scan_literal_string(self.data, self.pos)
        return s

    def _scan_hex_string(self) -> bytes:
        s, self.pos = scan_hex_string(self.data, self.pos)
        return s

    def _scan_array(self) -> list:
        """Array literal for TJ operands, max 512 elements
        (interpreter.zig:787-823)."""
        data = self.data
        pos = self.pos + 1  # '['
        out = []
        append = out.append
        n = len(data)
        match = _TOK_RE.match
        while pos < n and len(out) < 512:
            m = match(data, pos)
            if m is None:
                pos = n
                break
            g = m.lastindex
            if g == 1:  # number (TJ kerning: the common element)
                append((T_NUM, float(m.group(1))))
                pos = m.end()
            elif g == 2:  # /name
                append((T_NAME, m.group(2)))
                pos = m.end()
            elif g == 3:  # operator bytes are skipped inside arrays
                pos = m.end()
            else:
                c = m.group(4)
                start = m.start(4)
                if c == b"]":
                    pos = m.end()
                    break
                if c == b"(":
                    self.pos = start
                    append((T_STR, self._scan_string()))
                    pos = self.pos
                elif c == b"<":
                    # '<' in a TJ array is always a hex string here
                    # (no dict skip, matching the per-byte original)
                    self.pos = start
                    append((T_HEX, self._scan_hex_string()))
                    pos = self.pos
                elif c in b"+-.":
                    m2 = _NUMCHARS_RE.match(data, start)
                    pos = m2.end() if m2 else start + 1
                    append((T_NUM, 0.0))
                else:
                    pos = m.end()
        self.pos = pos
        return out


# -- span collection (bounds mode) ----------------------------------------


class TextSpan:
    __slots__ = ("x0", "y0", "x1", "y1", "text", "font_size", "page")

    def __init__(self, x0, y0, x1, y1, text, font_size, page=0):
        self.x0 = x0
        self.y0 = y0
        self.x1 = x1
        self.y1 = y1
        self.text = text
        self.font_size = font_size
        self.page = page


class SpanCollector:
    """interpreter.zig:396-469: width = len*size*0.5, height = size*1.2."""

    __slots__ = ("spans", "buf", "current_x", "current_y", "current_font_size", "avg_char_width")

    def __init__(self):
        self.spans: List[TextSpan] = []
        self.buf = bytearray()
        self.current_x = 0.0
        self.current_y = 0.0
        self.current_font_size = 12.0
        self.avg_char_width = 0.5

    def set_position(self, x: float, y: float) -> None:
        self.current_x = x
        self.current_y = y

    def set_font_size(self, size: float) -> None:
        self.current_font_size = size

    def write(self, data: bytes) -> None:
        self.buf += data

    def flush(self) -> None:
        if not self.buf:
            return
        text = bytes(self.buf)
        width = len(text) * self.current_font_size * self.avg_char_width
        height = self.current_font_size * 1.2
        self.spans.append(
            TextSpan(self.current_x, self.current_y, self.current_x + width,
                     self.current_y + height, text, self.current_font_size)
        )
        self.current_x += width
        self.buf.clear()


# -- structured mode (MCID tracking) --------------------------------------

MCID_TEXT_BUF_SIZE = 4096


class MarkedContentExtractor:
    """BDC/EMC MCID stack + per-MCID text buffers (structtree.zig:367-450)."""

    __slots__ = ("content_by_mcid", "mcid_stack")

    def __init__(self):
        self.content_by_mcid: Dict[int, bytearray] = {}
        self.mcid_stack: List[int] = []

    def begin(self, mcid: Optional[int]) -> None:
        if mcid is not None:
            self.mcid_stack.append(mcid)
            self.content_by_mcid.setdefault(mcid, bytearray())
        else:
            self.mcid_stack.append(-1)

    def end(self) -> None:
        if self.mcid_stack:
            self.mcid_stack.pop()

    def current_mcid(self) -> Optional[int]:
        for m in reversed(self.mcid_stack):
            if m >= 0:
                return m
        return None

    def add_text(self, text: bytes) -> None:
        m = self.current_mcid()
        if m is not None:
            buf = self.content_by_mcid.get(m)
            if buf is not None:
                buf += text

    def text_for_mcid(self, mcid: int) -> Optional[bytes]:
        buf = self.content_by_mcid.get(mcid)
        return bytes(buf) if buf is not None else None


# -- fallback decoding (no font) ------------------------------------------

def _build_fallback_table() -> List[bytes]:
    """writeTextFallback (root.zig:2277-2294): printable ASCII passthrough,
    NUL dropped, else WinAnsi (zero mapping dropped)."""
    tbl = []
    for b in range(256):
        if 32 <= b < 127:
            tbl.append(bytes((b,)))
        elif b == 0:
            tbl.append(b"")
        else:
            cp = WIN_ANSI_ENCODING[b]
            if cp == 0:
                tbl.append(b"")
            else:
                tbl.append(chr(cp).encode("utf-8"))
    return tbl


_FALLBACK = _build_fallback_table()
# bytes OUTSIDE printable ASCII: if data.translate(None, delete=these)
# is unchanged in length, every byte is printable and maps to itself
_NON_PRINTABLE = bytes(b for b in range(256) if not (32 <= b < 127))


def decode_text(data: bytes, font: Optional[FontEncoding]) -> bytes:
    if font is not None:
        return font.decode(data)
    # printable-ASCII fast path (identity under writeTextFallback)
    if len(data.translate(None, _NON_PRINTABLE)) == len(data):
        return data
    tbl = _FALLBACK
    return b"".join([tbl[b] for b in data])


# -- extraction context for Form XObjects ---------------------------------

MAX_XOBJECT_DEPTH = 10


class ExtractionContext:
    """Resolution context enabling Do-operator recursion (root.zig:1873-1884)."""

    __slots__ = ("data", "xref", "object_cache", "font_cache", "page_num", "depth")

    def __init__(self, data, xref, object_cache, font_cache, page_num, depth=0):
        self.data = data
        self.xref = xref
        self.object_cache = object_cache
        self.font_cache = font_cache
        self.page_num = page_num
        self.depth = depth


def _extract_mcid(operands: list) -> Optional[int]:
    """MCID from BDC operands: array-shaped dict token or flattened
    /MCID n pairs (root.zig:2337-2375)."""
    if len(operands) < 2:
        return None
    prop = operands[1]
    if prop[0] == T_ARR:
        arr = prop[1]
        for i in range(len(arr) - 1):
            if arr[i][0] == T_NAME and arr[i][1] == b"MCID" and arr[i + 1][0] == T_NUM:
                return int(arr[i + 1][1])
    for i in range(1, len(operands) - 1):
        if operands[i][0] == T_NAME and operands[i][1] == b"MCID" and operands[i + 1][0] == T_NUM:
            return int(operands[i + 1][1])
    return None


def extract_content_stream(
    content: bytes,
    mode: str,
    font_cache: Dict[Tuple[int, bytes], FontEncoding],
    page_num: int,
    out: Optional[bytearray] = None,
    collector: Optional[SpanCollector] = None,
    extractor: Optional[MarkedContentExtractor] = None,
    resources: Optional[dict] = None,
    ctx: Optional[ExtractionContext] = None,
) -> None:
    """Unified content-stream interpreter (root.zig:1978-2182).

    mode: "stream" | "bounds" | "structured".
    """
    lexer = ContentLexer(content)
    operands: list = []

    current_font: Optional[FontEncoding] = None
    prev_x = 0.0
    prev_y = 0.0
    current_x = 0.0
    current_y = 0.0
    font_size = 12.0
    last_text_font_size = 12.0

    stream_mode = mode == "stream"
    bounds_mode = mode == "bounds"
    structured_mode = mode == "structured"

    def opnum(i: int) -> float:
        t = operands[i]
        return t[1] if t[0] == T_NUM else 0.0

    for tok in lexer.tokens():
        kind = tok[0]
        if kind != T_OP:
            if len(operands) < 128:
                operands.append(tok)
            continue
        op = tok[1]
        try:
            if op == b"Tf":
                if len(operands) >= 2:
                    if operands[0][0] == T_NAME:
                        current_font = font_cache.get((page_num, operands[0][1]))
                    font_size = opnum(1)
                    if bounds_mode:
                        collector.set_font_size(font_size)
            elif op in (b"Td", b"TD"):
                if len(operands) >= 2:
                    if stream_mode:
                        wmode = current_font.wmode if current_font is not None else 0
                        displacement = opnum(0) if wmode == 1 else opnum(1)
                        ref_size = font_size if font_size > last_text_font_size else last_text_font_size
                        if abs(displacement) > ref_size * 0.7 and prev_y != 0:
                            out.append(0x0A)
                        prev_y = opnum(1)
                    elif bounds_mode:
                        current_x += opnum(0)
                        current_y += opnum(1)
                        collector.flush()
                        collector.set_position(current_x, current_y)
            elif op == b"Tm":
                if len(operands) >= 6:
                    if stream_mode:
                        wmode = current_font.wmode if current_font is not None else 0
                        new_pos = opnum(4) if wmode == 1 else opnum(5)
                        prev_pos = prev_x if wmode == 1 else prev_y
                        ref_size = font_size if font_size > last_text_font_size else last_text_font_size
                        if abs(new_pos - prev_pos) > ref_size * 0.7 and prev_pos != 0:
                            out.append(0x0A)
                        prev_x = opnum(4)
                        prev_y = opnum(5)
                    elif bounds_mode:
                        current_x = opnum(4)
                        current_y = opnum(5)
                        collector.flush()
                        collector.set_position(current_x, current_y)
            elif op == b"T*":
                if stream_mode:
                    out.append(0x0A)
                elif bounds_mode:
                    collector.flush()
            elif op == b"Tj":
                if operands:
                    _show(operands[0], current_font, stream_mode, out, collector, extractor)
                    if stream_mode:
                        last_text_font_size = font_size
            elif op == b"TJ":
                if operands:
                    _show_tj(operands[0], current_font, mode, out, collector, extractor)
                    if stream_mode:
                        last_text_font_size = font_size
            elif op == b"'":
                if operands:
                    if stream_mode:
                        out.append(0x0A)
                    elif bounds_mode:
                        collector.flush()
                    _show(operands[0], current_font, stream_mode, out, collector, extractor)
                    if stream_mode:
                        last_text_font_size = font_size
            elif op == b'"':
                if len(operands) >= 3:
                    if stream_mode:
                        out.append(0x0A)
                    elif bounds_mode:
                        collector.flush()
                    _show(operands[2], current_font, stream_mode, out, collector, extractor)
                    if stream_mode:
                        last_text_font_size = font_size
            elif op == b"BDC":
                if structured_mode and len(operands) >= 2:
                    extractor.begin(_extract_mcid(operands))
            elif op == b"BMC":
                if structured_mode and len(operands) >= 1:
                    extractor.begin(None)
            elif op == b"EMC":
                if structured_mode:
                    extractor.end()
            elif op == b"Do":
                if stream_mode and operands and operands[0][0] == T_NAME:
                    _handle_do(operands[0][1], resources, ctx, out)
        finally:
            operands.clear()


def _show(operand, font, stream_mode, out, collector, extractor) -> None:
    kind, value = operand
    if kind not in (T_STR, T_HEX):
        return
    decoded = decode_text(value, font)
    if stream_mode:
        out += decoded
    elif collector is not None:
        collector.write(decoded)
    elif extractor is not None:
        if len(decoded) > MCID_TEXT_BUF_SIZE:
            decoded = decoded[:MCID_TEXT_BUF_SIZE]
        if decoded:
            extractor.add_text(decoded)


def _show_tj(operand, font, mode, out, collector, extractor) -> None:
    kind, value = operand
    if kind != T_ARR:
        return
    if mode == "stream":
        for item in value:
            ik = item[0]
            if ik in (T_STR, T_HEX):
                out += decode_text(item[1], font)
            elif ik == T_NUM and item[1] < -100:
                out.append(0x20)
    elif mode == "bounds":
        for item in value:
            ik = item[0]
            if ik in (T_STR, T_HEX):
                collector.write(decode_text(item[1], font))
            elif ik == T_NUM:
                n = item[1]
                if n < -150:
                    collector.flush()
                collector.current_x += -n / 1000.0 * collector.current_font_size
    else:  # structured: buffer then add, 4 KiB cap (root.zig:2414-2432)
        buf = bytearray()
        for item in value:
            ik = item[0]
            if ik in (T_STR, T_HEX):
                if len(buf) < MCID_TEXT_BUF_SIZE:
                    buf += decode_text(item[1], font)
            elif ik == T_NUM and item[1] < -100 and len(buf) < MCID_TEXT_BUF_SIZE:
                buf.append(0x20)
        if len(buf) > MCID_TEXT_BUF_SIZE:
            del buf[MCID_TEXT_BUF_SIZE:]
        if buf:
            extractor.add_text(bytes(buf))


def _handle_do(xobject_name: bytes, resources, ctx: Optional[ExtractionContext], out) -> None:
    """Form XObject recursion (root.zig:2184-2260)."""
    if ctx is None or resources is None:
        return
    if ctx.depth >= MAX_XOBJECT_DEPTH:
        return
    xobjects = resources.get("XObject")
    xobjects = pagetree.resolve(ctx.data, ctx.xref, xobjects, ctx.object_cache)
    if not isinstance(xobjects, dict):
        return
    xobj = xobjects.get(xobject_name.decode("latin-1"))
    xobj = pagetree.resolve(ctx.data, ctx.xref, xobj, ctx.object_cache)
    if not isinstance(xobj, Stream):
        return
    subtype = dict_get_name(xobj.dict, "Subtype")
    if subtype != b"Form":
        return
    try:
        form_content = filters.decompress_stream(
            xobj.raw, xobj.dict.get("Filter"), xobj.dict.get("DecodeParms")
        )
    except filters.DecompressError:
        return
    form_resources = dict_get_dict(xobj.dict, "Resources")
    if form_resources is None:
        form_resources = resources
    child = ExtractionContext(
        ctx.data, ctx.xref, ctx.object_cache, ctx.font_cache, ctx.page_num, ctx.depth + 1
    )
    try:
        extract_content_stream(
            form_content, "stream", ctx.font_cache, ctx.page_num,
            out=out, resources=form_resources, ctx=child,
        )
    except MemoryError:
        raise
    except Exception:
        pass  # domain errors: skip silently (root.zig:2253-2259)
