"""PDF object model + recursive-descent object parser.

Fresh Python implementation of the PDF 1.x COS object grammar, matching
the observable behavior of the reference parser
(/root/reference/src/parser.zig:16-640) so extraction output is
byte-identical per document:

- object kinds: null, boolean, integer, real, string, hex-string, name,
  array, dict, stream, indirect reference (parser.zig:16-27)
- names with #XX hex escapes (parser.zig:210-255)
- literal strings with nested parens, \\n \\r \\t \\b \\f escapes, octal
  (1-3 digits, wrapping mod 256), line continuations (parser.zig:257-323)
- whitespace-tolerant hex strings, odd nibble padded low (parser.zig:325-366)
- "N G R" reference lookahead with backtracking (parser.zig:484-541)
- dict-or-stream: /Length-driven streams, `endstream` fallback search with
  right-trimmed whitespace when /Length is absent or indirect
  (parser.zig:395-437)
- max nesting 100 (parser.zig:125), PDF whitespace incl. NUL/FF, %-comments
  (parser.zig:607-640)

Representation choices (Python-idiomatic, not a translation):
- names   -> ``Name`` (a ``bytes`` subclass) so name comparisons work
             against plain byte literals
- strings -> plain ``bytes`` (literal and hex strings are unified; the
             reference treats them identically everywhere it matters,
             see parser.zig:85-92 getString)
- arrays  -> ``list``
- dicts   -> ``dict`` with *first occurrence wins* on duplicate keys,
             mirroring the reference's linear-scan ``Dict.get``
             (parser.zig:37-42); keys are ``str`` (latin-1)
- streams -> ``Stream`` (dict + raw encoded bytes)
- refs    -> ``Ref`` named tuple
"""

from __future__ import annotations

import re
from typing import NamedTuple, Optional

WHITESPACE = b"\x00\t\n\x0c\r "
_WS_SET = frozenset(WHITESPACE)
_DELIM_SET = frozenset(b"()<>[]{}/%")
_DIGITS = frozenset(b"0123456789")

MAX_NESTING = 100


class Name(bytes):
    """A PDF name (without the leading slash), e.g. Name(b"Font")."""

    __slots__ = ()

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return "/" + self.decode("latin-1", "replace")


class Ref(NamedTuple):
    num: int
    gen: int


class Stream:
    """A PDF stream object: dictionary + raw (still-encoded) data."""

    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Stream({self.dict!r}, {len(self.raw)} bytes)"


class ParseError(Exception):
    pass


# --- typed dict accessors (mirror parser.zig:44-92 semantics) ------------


def dict_get_int(d: dict, key: str) -> Optional[int]:
    v = d.get(key)
    return v if type(v) is int else None


def dict_get_number(d: dict, key: str) -> Optional[float]:
    v = d.get(key)
    if type(v) is int or type(v) is float:
        return float(v)
    return None


def dict_get_name(d: dict, key: str) -> Optional[Name]:
    v = d.get(key)
    return v if isinstance(v, Name) else None


def dict_get_string(d: dict, key: str) -> Optional[bytes]:
    v = d.get(key)
    # bytes but NOT Name (Name subclasses bytes)
    if isinstance(v, bytes) and not isinstance(v, Name):
        return v
    return None


def dict_get_array(d: dict, key: str) -> Optional[list]:
    v = d.get(key)
    return v if isinstance(v, list) else None


def dict_get_dict(d: dict, key: str) -> Optional[dict]:
    v = d.get(key)
    return v if isinstance(v, dict) else None


_NUMBER_RE = re.compile(rb"[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)")
# "N G R" fast hit: plain-whitespace-separated second int then R
_REF_RE = re.compile(rb"[\x00\t\n\x0c\r ]+([0-9]+)[\x00\t\n\x0c\r ]+R")
# provable fast miss: second number, plain whitespace, then a follower
# byte that is neither 'R' nor a comment start
_NONREF_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]+[0-9]+(?:\.[0-9]*)?[\x00\t\n\x0c\r ]*([^\x00\t\n\x0c\r ]?)")
# single-scan union of _REF_RE and _NONREF_RE: branch 1 (group 2) is the
# "G R" ref tail, branch 2 (group 3) the provable-miss follower byte —
# one regex call answers both the hit and the miss lookahead
_REF_OR_MISS_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]+([0-9]+)"
    rb"(?:([\x00\t\n\x0c\r ]+R)"
    rb"|(?:\.[0-9]*)?[\x00\t\n\x0c\r ]*([^\x00\t\n\x0c\r ]?))")
# single-scan union of _NUMBER_RE and _REF_OR_MISS_RE (hot path: one C
# regex call per number token answers number + ref-hit + provable-miss
# at once). Group 1 = the number; groups 2-4 mirror _REF_OR_MISS_RE;
# group 5 = the first non-ws follower byte when no second integer
# exists (only a '%' there can hide a comment-separated ref and needs
# the general path).
_NUMREF_RE = re.compile(
    rb"([+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+))"
    rb"(?:[\x00\t\n\x0c\r ]+([0-9]+)"
    rb"(?:([\x00\t\n\x0c\r ]+R)"
    rb"|(?:\.[0-9]*)?[\x00\t\n\x0c\r ]*([^\x00\t\n\x0c\r ]?))"
    rb"|[\x00\t\n\x0c\r ]*([^\x00\t\n\x0c\r ]?))")
# "N G obj" header in one scan (comments between the tokens fall back
# to the general skip_ws path); the lookahead enforces the same
# keyword-boundary rule as match_keyword
_OBJ_HEADER_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]*([0-9]+)[\x00\t\n\x0c\r ]+([0-9]+)"
    rb"[\x00\t\n\x0c\r ]+obj(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)")
# bounded intern caches for names / dict keys: PDF name vocabulary is
# tiny and extremely repetitive (/Type /Page /Font ...); the cap keeps
# hostile inputs with millions of distinct names from growing the cache
_NAME_INTERN: dict = {}
_KEY_INTERN: dict = {}
_INTERN_CAP = 4096
_WS_COMMENT_RE = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)+")
_NAME_BODY_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")
_UINT_RE = re.compile(rb"[0-9]+")


def decode_name_escapes(raw: bytes) -> bytes:
    """#XX hex escapes inside names (parser.zig:233-255).

    An escape is decoded only when two more bytes follow the '#'
    *strictly inside* the name (i + 2 < len), matching the reference.
    """
    out = bytearray()
    i = 0
    n = len(raw)
    while i < n:
        if raw[i] == 0x23 and i + 2 < n:  # '#'
            try:
                out.append(int(raw[i + 1 : i + 3], 16))
                i += 3
                continue
            except ValueError:
                pass
        out.append(raw[i])
        i += 1
    return bytes(out)


def scan_literal_string(data: bytes, pos: int):
    """Scan a literal string starting at '(' — shared by the object
    parser (parser.zig:257-323) and the content lexer
    (interpreter.zig:588-683), which implement identical semantics.
    Returns (bytes, new_pos)."""
    pos += 1  # '('
    # fast path: no escapes or nested parens before the closing ')'
    end = data.find(b")", pos)
    if end != -1:
        seg = data[pos:end]
        if b"\\" not in seg and b"(" not in seg:
            return seg, end + 1
    out = bytearray()
    depth = 1
    n = len(data)
    while pos < n and depth > 0:
        c = data[pos]
        if c == 0x5C and pos + 1 < n:  # backslash
            pos += 1
            e = data[pos]
            pos += 1
            if e == 0x6E:
                out.append(0x0A)
            elif e == 0x72:
                out.append(0x0D)
            elif e == 0x74:
                out.append(0x09)
            elif e == 0x62:
                out.append(0x08)
            elif e == 0x66:
                out.append(0x0C)
            elif e in (0x28, 0x29, 0x5C):
                out.append(e)
            elif e == 0x0D:
                if pos < n and data[pos] == 0x0A:
                    pos += 1
            elif e == 0x0A:
                pass
            elif 0x30 <= e <= 0x37:
                octal = e - 0x30
                cnt = 1
                while cnt < 3 and pos < n:
                    oc = data[pos]
                    if 0x30 <= oc <= 0x37:
                        octal = (octal * 8 + (oc - 0x30)) & 0xFF
                        pos += 1
                        cnt += 1
                    else:
                        break
                out.append(octal)
            else:
                out.append(e)
        elif c == 0x28:
            depth += 1
            out.append(c)
            pos += 1
        elif c == 0x29:
            depth -= 1
            if depth > 0:
                out.append(c)
            pos += 1
        else:
            out.append(c)
            pos += 1
    return bytes(out), pos


def scan_hex_string(data: bytes, pos: int):
    """Scan a hex string starting at '<': whitespace- and junk-tolerant
    nibbles, odd tail padded low (parser.zig:325-366 and
    interpreter.zig:684-725 — both skip any non-hex byte). Returns
    (bytes, new_pos)."""
    pos += 1  # '<'
    end = data.find(b">", pos)
    if end == -1:
        chunk = data[pos:]
        new_pos = len(data)
    else:
        chunk = data[pos:end]
        new_pos = end + 1
    hexdigits = re.sub(rb"[^0-9A-Fa-f]", b"", chunk)
    if len(hexdigits) % 2:
        hexdigits += b"0"
    try:
        return bytes.fromhex(hexdigits.decode("ascii")), new_pos
    except ValueError:
        return b"", new_pos


class Parser:
    """Recursive-descent parser over a bytes buffer (parser.zig:128-626)."""

    __slots__ = ("data", "pos", "nesting")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.nesting = 0

    # -- whitespace / keywords -------------------------------------------

    def skip_ws(self) -> None:
        data = self.data
        pos = self.pos
        n = len(data)
        while pos < n:
            c = data[pos]
            if c in _WS_SET:
                pos += 1
            elif c == 0x25:  # '%' comment: regex handles comment+ws runs
                m = _WS_COMMENT_RE.match(data, pos)
                pos = m.end()
            else:
                break
        self.pos = pos

    def match_keyword(self, kw: bytes) -> bool:
        data, pos = self.data, self.pos
        end = pos + len(kw)
        if data[pos:end] != kw:
            return False
        if end < len(data):
            c = data[end]
            if c not in _WS_SET and c not in _DELIM_SET:
                return False
        self.pos = end
        return True

    # -- entry points ----------------------------------------------------

    def parse_object(self):
        data = self.data
        pos = self.pos
        n = len(data)
        # inline whitespace/comment skip (hot path)
        while pos < n:
            c = data[pos]
            if c in _WS_SET:
                pos += 1
            elif c == 0x25:
                m = _WS_COMMENT_RE.match(data, pos)
                pos = m.end()
            else:
                break
        self.pos = pos
        if pos >= n:
            raise ParseError("unexpected EOF")
        c = data[pos]
        if c == 0x2F:  # '/'
            return self.parse_name()
        if c == 0x28:  # '('
            return self.parse_string()
        if c == 0x3C:  # '<'
            if data[pos + 1 : pos + 2] == b"<":
                return self.parse_dict_or_stream()
            return self.parse_hex_string()
        if c == 0x5B:  # '['
            return self.parse_array()
        if c in _DIGITS or c in (0x2D, 0x2B, 0x2E):  # digit - + .
            return self.parse_number_or_ref()
        if self.match_keyword(b"null"):
            return None
        if self.match_keyword(b"true"):
            return True
        if self.match_keyword(b"false"):
            return False
        raise ParseError(f"unexpected token at {pos}")

    def parse_indirect_object(self):
        """Parse ``N G obj ... endobj`` (parser.zig:185-208)."""
        m = _OBJ_HEADER_RE.match(self.data, self.pos)
        if m:
            num = int(m.group(1))
            gen = int(m.group(2))
            self.pos = m.end()
        else:  # comments between header tokens: general path
            self.skip_ws()
            num = self._parse_uint()
            self.skip_ws()
            gen = self._parse_uint()
            self.skip_ws()
            if not self.match_keyword(b"obj"):
                raise ParseError("expected 'obj'")
        obj = self.parse_object()
        self.skip_ws()
        self.match_keyword(b"endobj")  # optional
        if num > 0xFFFFFFFF or gen > 0xFFFF:
            raise ParseError("invalid object number")
        return num, gen, obj

    # -- scalar literals -------------------------------------------------

    def parse_name(self) -> Name:
        self.pos += 1  # '/'
        m = _NAME_BODY_RE.match(self.data, self.pos)
        raw = m.group(0)
        self.pos = m.end()
        name = _NAME_INTERN.get(raw)
        if name is None:
            name = Name(decode_name_escapes(raw) if b"#" in raw else raw)
            if len(_NAME_INTERN) < _INTERN_CAP:
                _NAME_INTERN[raw] = name
        return name

    def parse_string(self) -> bytes:
        s, self.pos = scan_literal_string(self.data, self.pos)
        return s

    def parse_hex_string(self) -> bytes:
        s, self.pos = scan_hex_string(self.data, self.pos)
        return s

    def _parse_number(self):
        """Number literal: int vs real by presence of '.' (parser.zig:543-578)."""
        m = _NUMBER_RE.match(self.data, self.pos)
        if not m:
            raise ParseError("invalid number")
        self.pos = m.end()
        text = m.group(0)
        if b"." in text:
            return float(text)
        return int(text)

    def parse_number_or_ref(self):
        """N G R lookahead with backtracking (parser.zig:484-541).

        Fast path: ONE regex (_NUMREF_RE) parses the number and answers
        the common hit ("N G R") and miss (number arrays) cases without
        re-parsing the next token; ambiguous followers fall through to
        the fully general path (which also handles comments between the
        tokens and a missing space before 'R'), so observable behavior
        is unchanged. Float / negative firsts return immediately: the
        general path's Ref type-check always fails for them and
        backtracks to exactly the post-number position.
        """
        m = _NUMREF_RE.match(self.data, self.pos)
        if not m:
            raise ParseError("invalid number")
        text, second_text, g_r, follow2, follow1 = m.group(1, 2, 3, 4, 5)
        if b"." in text:
            self.pos = m.end(1)
            return float(text)
        first = int(text)
        if second_text is not None:  # second integer present
            if first >= 0 and g_r is not None:  # "G R" hit
                gen = int(second_text)
                if gen <= 65535:
                    self.pos = m.end()
                    return Ref(first, gen)
                self.pos = m.end(1)
                return first  # same outcome as the general backtrack
            if follow2 not in (b"R", b"%"):
                # provable miss: the general path would parse the
                # second number, skip plain whitespace, fail the 'R'
                # check and backtrack to exactly this position
                self.pos = m.end(1)
                return first
        elif follow1 != b"%":
            # no second integer and no comment that could hide one
            self.pos = m.end(1)
            return first
        after_first = self.pos = m.end(1)
        self.skip_ws()
        data = self.data
        if self.pos < len(data) and data[self.pos] in _DIGITS:
            try:
                second = self._parse_number()
            except ParseError:
                self.pos = after_first
                return first
            self.skip_ws()
            if self.pos < len(data) and data[self.pos] == 0x52:  # 'R'
                if (
                    type(first) is int
                    and first >= 0
                    and type(second) is int
                    and 0 <= second <= 65535
                ):
                    self.pos += 1
                    return Ref(first, second)
        self.pos = after_first
        return first

    def _parse_uint(self) -> int:
        m = _UINT_RE.match(self.data, self.pos)
        if not m:
            raise ParseError("expected unsigned int")
        self.pos = m.end()
        return int(m.group(0))

    # -- composites ------------------------------------------------------

    def parse_array(self) -> list:
        self.pos += 1  # '['
        self.nesting += 1
        if self.nesting > MAX_NESTING:
            self.nesting -= 1
            raise ParseError("nesting too deep")
        out = []
        data = self.data
        n = len(data)
        append = out.append
        try:
            while True:
                # inline ws/comment skip + element dispatch (hot path:
                # number/ref and name elements skip the parse_object
                # call and its duplicate ws scan)
                pos = self.pos
                while pos < n:
                    c = data[pos]
                    if c in _WS_SET:
                        pos += 1
                    elif c == 0x25:
                        m = _WS_COMMENT_RE.match(data, pos)
                        pos = m.end()
                    else:
                        break
                self.pos = pos
                if pos >= n:
                    raise ParseError("unexpected EOF in array")
                c = data[pos]
                if c == 0x5D:  # ']'
                    self.pos = pos + 1
                    break
                if 0x30 <= c <= 0x39 or c in (0x2D, 0x2B, 0x2E):
                    append(self.parse_number_or_ref())
                elif c == 0x2F:
                    append(self.parse_name())
                else:
                    append(self.parse_object())
        finally:
            self.nesting -= 1
        return out

    def parse_dict(self) -> dict:
        data = self.data
        if data[self.pos : self.pos + 2] != b"<<":
            raise ParseError("expected '<<'")
        self.pos += 2
        self.nesting += 1
        if self.nesting > MAX_NESTING:
            self.nesting -= 1
            raise ParseError("nesting too deep")
        out: dict = {}
        n = len(data)
        try:
            while True:
                # inline whitespace/comment skip
                pos = self.pos
                while pos < n:
                    c = data[pos]
                    if c in _WS_SET:
                        pos += 1
                    elif c == 0x25:
                        m = _WS_COMMENT_RE.match(data, pos)
                        pos = m.end()
                    else:
                        break
                self.pos = pos
                if pos >= n:
                    raise ParseError("unexpected EOF in dict")
                if data[pos] == 0x3E:  # '>'
                    if data[pos + 1 : pos + 2] != b">":
                        raise ParseError("stray '>' in dict")
                    self.pos = pos + 2
                    break
                if data[self.pos] != 0x2F:  # keys must be names
                    raise ParseError("dict key must be a name")
                m = _NAME_BODY_RE.match(data, self.pos + 1)
                raw = m.group(0)
                self.pos = m.end()
                key = _KEY_INTERN.get(raw)
                if key is None:
                    key = (decode_name_escapes(raw) if b"#" in raw
                           else raw).decode("latin-1")
                    if len(_KEY_INTERN) < _INTERN_CAP:
                        _KEY_INTERN[raw] = key
                # inline value dispatch (hot path): same switch as
                # parse_object minus the keyword cases, saving one call
                # + duplicate ws scan per value
                pos = self.pos
                while pos < n:
                    c = data[pos]
                    if c in _WS_SET:
                        pos += 1
                    elif c == 0x25:
                        m = _WS_COMMENT_RE.match(data, pos)
                        pos = m.end()
                    else:
                        break
                self.pos = pos
                if pos >= n:
                    raise ParseError("unexpected EOF")
                c = data[pos]
                if c == 0x2F:
                    value = self.parse_name()
                elif 0x30 <= c <= 0x39 or c in (0x2D, 0x2B, 0x2E):
                    value = self.parse_number_or_ref()
                elif c == 0x3C:
                    if data[pos + 1 : pos + 2] == b"<":
                        value = self.parse_dict_or_stream()
                    else:
                        value = self.parse_hex_string()
                elif c == 0x5B:
                    value = self.parse_array()
                elif c == 0x28:
                    value = self.parse_string()
                else:
                    value = self.parse_object()
                if key not in out:  # first occurrence wins (parser.zig:37-42)
                    out[key] = value
        finally:
            self.nesting -= 1
        return out

    def parse_dict_or_stream(self):
        d = self.parse_dict()
        self.skip_ws()
        if not self.match_keyword(b"stream"):
            return d
        data = self.data
        # skip a single EOL after "stream" (parser.zig:402-404)
        if self.pos < len(data) and data[self.pos] == 0x0D:
            self.pos += 1
        if self.pos < len(data) and data[self.pos] == 0x0A:
            self.pos += 1
        length = dict_get_int(d, "Length")
        if length is None:
            # /Length missing or indirect: search for endstream and
            # right-trim whitespace (parser.zig:407-419)
            end_pos = data.find(b"endstream", self.pos)
            if end_pos == -1:
                raise ParseError("stream without endstream")
            actual_end = end_pos
            while actual_end > self.pos and data[actual_end - 1] in _WS_SET:
                actual_end -= 1
            raw = data[self.pos : actual_end]
            self.pos = end_pos + 9
            return Stream(d, raw)
        if length < 0 or self.pos + length > len(data):
            raise ParseError("invalid stream length")
        raw = data[self.pos : self.pos + length]
        self.pos += length
        self.skip_ws()
        self.match_keyword(b"endstream")
        return Stream(d, raw)
