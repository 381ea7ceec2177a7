"""Kernel unit + integration tests (mirrors SURVEY.md §5 levels 1-2)."""

import pytest

from zpdfspark import fixtures
from zpdfspark.kernel import Document
from zpdfspark.kernel.objects import Name, Parser, Ref, Stream
from zpdfspark.kernel import filters


# -- level 1: parser unit tests (parser.zig:646-881 analog) ---------------

class TestParser:
    def p(self, data):
        return Parser(data)

    def test_literals(self):
        assert self.p(b"null").parse_object() is None
        assert self.p(b"true").parse_object() is True
        assert self.p(b"false").parse_object() is False
        assert self.p(b"42").parse_object() == 42
        assert self.p(b"-17").parse_object() == -17
        assert self.p(b"3.14").parse_object() == pytest.approx(3.14)
        assert self.p(b".5").parse_object() == pytest.approx(0.5)
        assert self.p(b"-.5").parse_object() == pytest.approx(-0.5)
        assert self.p(b"5.").parse_object() == pytest.approx(5.0)

    def test_name(self):
        assert self.p(b"/Font").parse_object() == Name(b"Font")
        assert self.p(b"/Font#20Name").parse_object() == Name(b"Font Name")
        assert self.p(b"/A#42").parse_object() == Name(b"AB")

    def test_string_escapes(self):
        assert self.p(rb"(hello)").parse_object() == b"hello"
        assert self.p(rb"(a\nb)").parse_object() == b"a\nb"
        assert self.p(rb"(a\(b\))").parse_object() == b"a(b)"
        assert self.p(b"(nested (parens) ok)").parse_object() == b"nested (parens) ok"
        assert self.p(rb"(\101)").parse_object() == b"A"
        assert self.p(rb"(\53)").parse_object() == b"+"
        # octal wraps mod 256: \777 = 511 & 0xFF = 255
        assert self.p(rb"(\777)").parse_object() == bytes([255])
        # line continuation
        assert self.p(b"(a\\\nb)").parse_object() == b"ab"

    def test_hex_string(self):
        assert self.p(b"<48656C6C6F>").parse_object() == b"Hello"
        assert self.p(b"<48 65 6C\n6C 6F>").parse_object() == b"Hello"
        assert self.p(b"<484>").parse_object() == b"H@"  # odd padded low

    def test_array(self):
        assert self.p(b"[1 2 3]").parse_object() == [1, 2, 3]
        assert self.p(b"[/A [1 2] (x)]").parse_object() == [Name(b"A"), [1, 2], b"x"]

    def test_reference_lookahead(self):
        assert self.p(b"1 0 R").parse_object() == Ref(1, 0)
        assert self.p(b"1 2").parse_object() == 1  # not a ref -> backtrack
        assert self.p(b"[1 0 R 2 0 R]").parse_object() == [Ref(1, 0), Ref(2, 0)]
        assert self.p(b"[1 2 3]").parse_object() == [1, 2, 3]

    def test_dict(self):
        d = self.p(b"<< /Type /Page /Count 3 >>").parse_object()
        assert d == {"Type": Name(b"Page"), "Count": 3}

    def test_dict_first_key_wins(self):
        d = self.p(b"<< /K 1 /K 2 >>").parse_object()
        assert d["K"] == 1

    def test_stream_with_length(self):
        s = self.p(b"<< /Length 5 >>\nstream\nHello\nendstream").parse_object()
        assert isinstance(s, Stream)
        assert s.raw == b"Hello"

    def test_stream_missing_length(self):
        s = self.p(b"<< >>\nstream\nHello  \nendstream").parse_object()
        assert isinstance(s, Stream)
        assert s.raw == b"Hello"  # whitespace right-trimmed

    def test_nesting_cap(self):
        from zpdfspark.kernel.objects import ParseError
        with pytest.raises(ParseError):
            self.p(b"[" * 150 + b"]" * 150).parse_object()

    def test_comment_skipped(self):
        assert self.p(b"% comment\n42").parse_object() == 42

    def test_name_interning_escape_aliases(self):
        # /A#42 and /AB decode to the same name via DIFFERENT raw
        # spellings; the intern cache is keyed on raw bytes, so both
        # must still decode correctly and compare equal
        a = self.p(b"/A#42").parse_object()
        b = self.p(b"/AB").parse_object()
        assert a == b == Name(b"AB")
        # first-occurrence-wins must hold across alias spellings too
        d = self.p(b"<< /A#42 1 /AB 2 >>").parse_object()
        assert d == {"AB": 1}

    def test_intern_cache_cap(self):
        from zpdfspark.kernel import objects as obj_mod
        # hostile input with many distinct names must not grow the
        # caches past the cap (and parsing must stay correct)
        before = len(obj_mod._NAME_INTERN)
        payload = b" ".join(b"/N%d" % i for i in range(obj_mod._INTERN_CAP + 500))
        p = self.p(b"[" + payload + b"]")
        arr = p.parse_object()
        assert arr[0] == Name(b"N0")
        assert arr[-1] == Name(b"N%d" % (obj_mod._INTERN_CAP + 499))
        assert len(obj_mod._NAME_INTERN) <= obj_mod._INTERN_CAP

    def test_simple_font_ascii_fast_path(self):
        from zpdfspark.kernel.encoding import FontEncoding

        f = FontEncoding()  # stock WinAnsi map
        f._simple_table()
        # bytes 1-127 are identity under WinAnsi; byte 0 maps to space,
        # so the flag must hold (it excludes 0) and NUL input must still
        # take the table path
        assert f._ascii_identity is True
        assert f._decode_simple(b"Hello, World!") == b"Hello, World!"
        assert f._decode_simple(b"a\x00b") == b"a b"
        assert f._decode_simple(b"caf\xe9") == "café".encode("utf-8")
        # a /Differences remap of a low byte must disable the fast path
        g = FontEncoding()
        g.codepoint_map = g.codepoint_map[:]
        g.codepoint_map[0x41] = 0x42  # 'A' -> 'B'
        g._simple_table()
        assert g._ascii_identity is False
        assert g._decode_simple(b"A") == b"B"

    def test_ref_lookahead_edge_cases(self):
        # missing space before R: general path still yields a ref
        assert self.p(b"1 2R").parse_object() == Ref(1, 2)
        # gen > 65535 is not a ref
        assert self.p(b"1 70000 R").parse_object() == 1
        # float second number is not a ref
        assert self.p(b"1 2.5 R").parse_object() == 1
        # comment between tokens: still a ref via the general path
        assert self.p(b"1 % c\n0 R").parse_object() == Ref(1, 0)
        # number at EOF backtracks cleanly
        assert self.p(b"7 8").parse_object() == 7


class TestFilters:
    def test_asciihex(self):
        assert filters.decode_asciihex(b"48656C6C6F>") == b"Hello"
        assert filters.decode_asciihex(b"48 65 6C 6C 6F >") == b"Hello"
        assert filters.decode_asciihex(b"484>") == b"H@"

    def test_ascii85(self):
        assert filters.decode_ascii85(b"87cURDZ~>") == b"Hello"
        import base64
        data = b"The quick brown fox"
        enc = base64.a85encode(data) + b"~>"
        assert filters.decode_ascii85(enc) == data

    def test_ascii85_z(self):
        assert filters.decode_ascii85(b"z~>") == b"\x00\x00\x00\x00"

    def test_runlength(self):
        # literal run: length 4 -> 5 bytes; repeat: 254 -> 3 copies; EOD 128
        data = bytes([4]) + b"Hello" + bytes([254]) + b"x" + bytes([128])
        assert filters.decode_runlength(data) == b"Helloxxx"

    def test_flate_partial(self):
        import zlib
        comp = zlib.compress(b"A" * 1000)[:-5]
        out = filters._decode_flate(comp, None)
        assert out.startswith(b"AAA")

    def test_png_up_predictor(self):
        # two rows of 4 bytes, Up filter
        rows = [b"\x01\x02\x03\x04", b"\x05\x06\x07\x08"]
        enc = bytearray()
        prev = b"\x00" * 4
        for r in rows:
            enc.append(2)
            enc += bytes((r[i] - prev[i]) & 0xFF for i in range(4))
            prev = r
        out = filters._png_predictor(bytes(enc), 4, 1, 8)
        assert out == b"".join(rows)

    def test_flate_bomb_capped_incrementally(self):
        """A small crafted blob inflating past the 256 MiB cap must be
        rejected WITHOUT materializing the full output (ADVICE round 1:
        the post-hoc check let flush() inflate a 1 GiB bomb to 2.1 GB
        peak). We cap-check via a shrunk cap so the test stays fast."""
        import zlib
        bomb = zlib.compress(b"\x00" * (8 * 1024 * 1024), 9)  # ~8 KB -> 8 MiB
        orig = filters.MAX_DECOMPRESSED_SIZE
        filters.MAX_DECOMPRESSED_SIZE = 1024 * 1024
        try:
            with pytest.raises(filters.DecompressError):
                filters._decode_flate(bomb, None)
        finally:
            filters.MAX_DECOMPRESSED_SIZE = orig
        # and a normal stream still round-trips with flush engaged
        assert filters._decode_flate(zlib.compress(b"hi" * 100), None) == b"hi" * 100

    def test_filter_chain_junk_raises(self):
        """A /Filter array longer than 16 entries, or containing
        non-Name junk, must raise so stream_data falls back to the RAW
        bytes — not return partially-decoded output as if it succeeded
        (decompress.zig:40-47 error path)."""
        from zpdfspark.kernel.objects import Name
        with pytest.raises(filters.DecompressError):
            filters.decompress_stream(b"x", [Name(b"ASCIIHexDecode")] * 17, None)
        with pytest.raises(filters.DecompressError):
            filters.decompress_stream(b"x", [Name(b"ASCIIHexDecode"), 42], None)
        # a 16-name chain of no-ops still decodes
        out = filters.decompress_stream(
            b"48656C6C6F>", [Name(b"ASCIIHexDecode")], None)
        assert out == b"Hello"

    def test_lzw_roundtrip_simple(self):
        # Hand-built LZW stream: clear(256), 'A'(65), 'B'(66), EOD(257) @9 bits
        bits = ""
        for code in (256, 65, 66, 257):
            bits += format(code, "09b")
        bits += "0" * ((8 - len(bits) % 8) % 8)
        data = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
        # pad so the conservative bit reader can see the last code
        data += b"\x00\x00\x00"
        assert filters.decode_lzw(data) == b"AB"

    @staticmethod
    def _lzw_encode(data: bytes, early: int) -> bytes:
        """Independent test-side LZW encoder with selectable
        /EarlyChange width timing."""
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
                if next_code + early > (1 << width) and width < 12:
                    width += 1
            w = c
        if w:
            emit(table[w])
        emit(257)  # EOD
        s = "".join(bits)
        s += "0" * ((8 - len(s) % 8) % 8)
        return bytes(int(s[i:i + 8], 2)
                     for i in range(0, len(s), 8)) + b"\x00\x00\x00"

    def test_lzw_early_change_both_modes(self):
        """/EarlyChange support (the reference's own TODO,
        decompress.zig:467): payloads long enough to cross the 9->10
        and 10->11 bit width boundaries must round-trip in BOTH width
        timings, and decoding with the wrong timing must NOT equal the
        input (the boundary is observable)."""
        import random
        rnd = random.Random(3)
        data = bytes(rnd.randrange(256) for _ in range(2000))
        for early in (0, 1):
            enc = self._lzw_encode(data, early)
            assert filters.decode_lzw(enc, early_change=early) == data
        enc1 = self._lzw_encode(data, 1)
        assert filters.decode_lzw(enc1, early_change=0) != data

    def test_lzw_early_change_param_honored(self):
        """decompress_stream must route /EarlyChange from DecodeParms
        to the decoder (default stays 0 = the reference's hardcoded
        behavior, so param-less byte parity holds)."""
        import random
        from zpdfspark.kernel.objects import Name
        rnd = random.Random(5)
        data = bytes(rnd.randrange(256) for _ in range(1500))
        enc1 = self._lzw_encode(data, 1)
        assert filters.decompress_stream(
            enc1, Name(b"LZWDecode"), {"EarlyChange": 1}) == data
        enc0 = self._lzw_encode(data, 0)
        assert filters.decompress_stream(
            enc0, Name(b"LZWDecode"), None) == data


# -- level 2: end-to-end fixture extraction -------------------------------

GOLDEN_CASES = [
    "minimal", "multipage", "tj", "cid", "notype", "inline_image",
    "superscript", "incremental", "flate", "a85", "ahx", "rl",
    "a85_fl", "xref_stream", "differences", "ligatures", "surrogate",
    "form_xobject", "tagged", "missing_length", "big", "cff",
    "quote_ops", "vertical",
    "enc_rc4_40", "enc_rc4_128", "enc_aes128", "enc_aes256", "enc_objstm",
]


@pytest.mark.parametrize("gen", GOLDEN_CASES)
def test_golden_extraction(gen):
    pdf, expected = fixtures.GENERATORS[gen](7)
    doc = Document(pdf)
    got = doc.extract_all("accuracy")
    assert got == expected, f"{gen}: {got!r} != {expected!r}"


def test_minimal_basics():
    pdf, expected = fixtures.minimal("Hello World")
    doc = Document(pdf)
    assert doc.page_count == 1
    assert not doc.is_encrypted
    assert doc.extract_all() == "Hello World"
    assert doc.extract_all("fast") == "Hello World"


def test_multipage_separator():
    pdf, expected = fixtures.multi_page(["One", "Two", "Three"])
    doc = Document(pdf)
    assert doc.page_count == 3
    assert doc.extract_all() == "One\x0cTwo\x0cThree"
    assert doc.extract_page(1) == "Two"


def test_incremental_update_wins():
    pdf, _ = fixtures.incremental()
    doc = Document(pdf)
    text = doc.extract_all()
    assert "Updated" in text
    assert "Original" not in text


def test_encrypted_detection():
    # /O //U-less Encrypt dict: authentication impossible, the
    # reference's detection-only posture holds (root.zig:292-302)
    pdf, _ = fixtures.encrypted()
    doc = Document(pdf)
    assert doc.is_encrypted
    assert not doc.decrypted
    assert any(kind == "encrypted" for kind, _, _ in doc.errors)
    assert doc.page_count == 1


class TestCrypto:
    """kernel/crypto.py: cipher primitives pinned by PUBLISHED vectors
    (classic RC4 vectors; FIPS-197 App. C; SP 800-38A F.2) and the
    Standard security handler pinned by the write-direction fixture
    encryptor (zpdfspark/fixtures.py, independent implementation)."""

    def test_rc4_published_vectors(self):
        from zpdfspark.kernel.crypto import rc4
        assert rc4(b"Key", b"Plaintext") == bytes.fromhex("bbf316e8d940af0ad3")
        assert rc4(b"Wiki", b"pedia") == bytes.fromhex("1021bf0420")
        assert rc4(b"Secret", b"Attack at dawn") == bytes.fromhex(
            "45a01f645fc35b383552544b9bf5")
        # symmetric
        assert rc4(b"Key", rc4(b"Key", b"round trip")) == b"round trip"

    def test_aes_fips197_appendix_c(self):
        from zpdfspark.kernel.crypto import aes_decrypt_block, aes_encrypt_block
        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        k128 = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
        k192 = bytes.fromhex("000102030405060708090a0b0c0d0e0f1011121314151617")
        k256 = bytes.fromhex(
            "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f")
        c1 = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")  # C.1
        c2 = bytes.fromhex("dda97ca4864cdfe06eaf70a0ec0d7191")  # C.2
        c3 = bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")  # C.3
        assert aes_encrypt_block(k128, pt) == c1
        assert aes_encrypt_block(k192, pt) == c2
        assert aes_encrypt_block(k256, pt) == c3
        assert aes_decrypt_block(k128, c1) == pt
        assert aes_decrypt_block(k192, c2) == pt
        assert aes_decrypt_block(k256, c3) == pt

    def test_aes_cbc_sp800_38a_f2(self):
        from zpdfspark.kernel.crypto import aes_cbc_decrypt, aes_cbc_encrypt
        key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
        iv = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
        pt = bytes.fromhex(
            "6bc1bee22e409f96e93d7e117393172a"
            "ae2d8a571e03ac9c9eb76fac45af8e51"
            "30c81c46a35ce411e5fbc1191a0a52ef"
            "f69f2445df4f9b17ad2b417be66c3710")
        ct = bytes.fromhex(
            "7649abac8119b246cee98e9b12e9197d"
            "5086cb9b507219ee95db113a917678b2"
            "73bed6b8e3c1743b7116e69e22229516"
            "3ff1caa1681fac09120eca307586e1a7")
        assert aes_cbc_encrypt(key, iv, pt) == ct        # F.2.1
        assert aes_cbc_decrypt(key, iv, ct) == pt        # F.2.2

    def test_libcrypto_fast_path_cross_pinned(self):
        """The optional platform-OpenSSL EVP fast path must be
        byte-identical to the pure-Python reference on random vectors
        at every key size, both directions, including the
        ragged-tail-truncation decrypt contract. (When libcrypto is
        absent the public functions ARE the reference and this is a
        self-identity check — still meaningful for the ragged path.)"""
        import random

        from zpdfspark.kernel.crypto import (_aes_cbc_decrypt_py,
                                             _aes_cbc_encrypt_py,
                                             aes_cbc_decrypt,
                                             aes_cbc_encrypt)

        rng = random.Random(23)
        for _ in range(40):
            key = bytes(rng.randrange(256)
                        for _ in range(rng.choice([16, 24, 32])))
            iv = bytes(rng.randrange(256) for _ in range(16))
            data = bytes(rng.randrange(256)
                         for _ in range(16 * rng.randint(1, 6)))
            assert aes_cbc_encrypt(key, iv, data) == \
                _aes_cbc_encrypt_py(key, iv, data)
            assert aes_cbc_decrypt(key, iv, data) == \
                _aes_cbc_decrypt_py(key, iv, data)
            ragged = data + b"\x01\x02\x03"
            assert aes_cbc_decrypt(key, iv, ragged) == \
                _aes_cbc_decrypt_py(key, iv, ragged)

    def test_pkcs7_strip(self):
        from zpdfspark.kernel.crypto import _strip_pkcs7
        assert _strip_pkcs7(b"abc" + b"\x02\x02") == b"abc"
        assert _strip_pkcs7(b"\x10" * 16) == b""
        assert _strip_pkcs7(b"abc\x00") == b"abc\x00"    # 0 is not a pad
        assert _strip_pkcs7(b"ab\x03\x03") == b"ab\x03\x03"  # malformed kept
        assert _strip_pkcs7(b"") == b""

    def test_hash_2b_read_write_agreement(self):
        # the two independently-written Algorithm 2.B implementations
        # (kernel read-direction vs fixture write-direction) must agree
        from zpdfspark.fixtures import _hash_2b_write
        from zpdfspark.kernel.crypto import _hash_2b
        for pw, salt, udata in [
            (b"", b"saltsalt", b""),
            (b"pw", b"12345678", b"U" * 48),
        ]:
            assert _hash_2b(pw, salt, udata) == _hash_2b_write(pw, salt, udata)

    @pytest.mark.parametrize("gen,title", [
        ("encrypted_rc4_r2", None),
        ("encrypted_rc4_r3", "Locked title 5"),
        ("encrypted_aes128", None),
        ("encrypted_aes256", "Locked 256 5"),
        ("encrypted_objstm", None),
    ])
    def test_empty_password_documents_decrypt(self, gen, title):
        pdf, want = getattr(fixtures, gen)(5)
        doc = Document(pdf)
        assert doc.is_encrypted and doc.decrypted
        assert not any(kind == "encrypted" for kind, _, _ in doc.errors)
        assert doc.extract_all("accuracy") == want
        assert doc.extract_all("fast") == want
        if title is not None:
            assert doc.metadata()["title"] == title

    def test_owner_empty_recovery_path(self):
        # user password set, owner password empty: Algorithm 3 key from
        # the empty owner password opens /O, Algorithm 7 recovers the
        # user password, extraction proceeds
        pdf, want = fixtures.encrypted_owner_empty(2)
        doc = Document(pdf)
        assert doc.decrypted
        assert doc.extract_all() == want

    def test_real_password_keeps_detection_posture(self):
        pdf, want = fixtures.encrypted_password_locked()
        assert want is None
        doc = Document(pdf)
        assert doc.is_encrypted and not doc.decrypted
        assert any(kind == "encrypted" for kind, _, _ in doc.errors)

    def test_unencrypted_documents_unaffected(self):
        pdf, want = fixtures.minimal("No crypt here")
        doc = Document(pdf)
        assert not doc.is_encrypted and not doc.decrypted
        assert doc.extract_all() == want


def test_search():
    pdf, _ = fixtures.multi_page(["alpha beta", "gamma ALPHA delta"])
    doc = Document(pdf)
    results = doc.search("alpha")
    assert len(results) == 2
    assert results[0]["page"] == 0
    assert results[1]["page"] == 1


def test_bounds_spans():
    pdf, _ = fixtures.superscript()
    doc = Document(pdf)
    spans = doc.extract_bounds(0)
    assert len(spans) == 3
    texts = [s.text for s in spans]
    assert texts == [b"Hello", b"2", b" World"]
    # width = len * size * 0.5 (interpreter.zig:446), where size is the
    # font size at flush time — "Hello" flushes at the Tm *after* the
    # superscript Tf 7, matching the reference's setFontSize-at-Tf order
    # (root.zig:2057-2059)
    assert spans[0].x1 - spans[0].x0 == pytest.approx(5 * 7 * 0.5)
    assert spans[2].x1 - spans[2].x0 == pytest.approx(6 * 12 * 0.5)


def test_form_xobject_via_extract_page():
    """Do recursion only on the full-context page path (root.zig:484-531)."""
    pdf, _ = fixtures.form_xobject("Outer", "Inner")
    doc = Document(pdf)
    assert doc.extract_page(0) == "OuterInner"
    assert doc.extract_all() == "Outer"  # null-ctx path skips Do


def test_page_info():
    pdf, _ = fixtures.minimal()
    doc = Document(pdf)
    info = doc.get_page_info(0)
    assert info == {"width": 612.0, "height": 792.0, "rotation": 0}


# -- level 3: malformed robustness sweep (never crash) --------------------

@pytest.mark.parametrize("name", sorted(fixtures.MALFORMED))
def test_malformed_never_crashes(name):
    pdf, _ = fixtures.MALFORMED[name]()
    doc = Document(pdf)  # must not raise
    text = doc.extract_all()
    assert isinstance(text, str)


def test_truncated_flate_partial_output():
    pdf, _ = fixtures.truncated_flate()
    doc = Document(pdf)
    text = doc.extract_all()
    # partial inflate keeps a prefix of the content; extraction still runs
    assert isinstance(text, str)


def test_corpus_rows_deterministic():
    rows1 = list(fixtures.corpus_rows(50, seed=42))
    rows2 = list(fixtures.corpus_rows(50, seed=42))
    assert rows1 == rows2
    assert len(rows1) == 50


def test_corpus_golden_self_check():
    """Every well-formed corpus row's carried text matches extraction
    through the payload dispatch (PDF kernel / HTML boilerplate strip)."""
    from zpdfspark.kernel.htmltext import extract_any
    for url, ts, raw, expected, lang in fixtures.corpus_rows(120, seed=1):
        got, _kind, _doc = extract_any(raw, "accuracy")
        if expected is not None:
            assert got == expected, url


def test_tiff_predictor():
    # predictor 2: horizontal differencing add-back per row
    raw = bytes([10, 5, 5, 20, 1, 2])  # 2 rows of 3 cols, colors=1
    out = filters._tiff_predictor(raw, 3, 1)
    assert out == bytes([10, 15, 20, 20, 21, 23])


def test_oversized_doc_guard():
    import pyarrow as pa
    from zpdfspark.spark.udfs import extract_arrow_batches
    pdf, _ = fixtures.minimal("Big")
    fn = extract_arrow_batches("accuracy", max_doc_bytes=10)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["u1"], pa.string()), pa.array([pdf], pa.binary())],
        names=["url", "html"])
    out = next(fn(iter([batch]))).to_pydict()
    assert out["extracted_text"][0] == ""
    assert out["error_count"][0] == 1
    assert out["errors"][0][0]["kind"] == "oversized"


def test_document_dunder_api():
    pdf, _ = fixtures.multi_page(["A", "B"])
    with Document(pdf) as doc:
        assert len(doc) == 2
        assert list(doc) == ["A", "B"]


def test_page_not_found_parity():
    """Out-of-range extract_page raises like the reference binding
    (python/zpdf/__init__.py:133-134) and leaves no stray error record."""
    from zpdfspark.kernel import PageNotFoundError
    pdf, _ = fixtures.minimal("One page")
    doc = Document(pdf)
    with pytest.raises(PageNotFoundError):
        doc.extract_page(1)
    with pytest.raises(PageNotFoundError):
        doc.extract_page(-1)
    assert doc.errors == []


def test_objstm_memo_single_decode(monkeypatch):
    """The ObjStm container is decoded once per document (O(N^2) guard)."""
    from zpdfspark.kernel import filters as fmod
    pdf, expected = fixtures.xref_stream("MemoCheck")
    calls = {"n": 0}
    orig = fmod.decompress_stream
    def counting(raw, filt, parms):
        calls["n"] += 1
        return orig(raw, filt, parms)
    monkeypatch.setattr(fmod, "decompress_stream", counting)
    doc = Document(pdf)
    assert doc.extract_all() == expected
    # xref stream + objstm container (once) + any content streams;
    # the 4 packed objects must not re-decode the container
    assert calls["n"] <= 4


# -- secondary interpreter (interpreter.zig:62-394 port; NOT the
# production path — documents the reference's intended fuller semantics)

class TestSecondaryInterpreter:
    def _run(self, content: bytes) -> str:
        from zpdfspark.kernel.interpreter2 import ContentInterpreter
        interp = ContentInterpreter(None, lambda o: o)
        return interp.process(content).decode("utf-8", "replace")

    def test_leading_based_quote(self):
        """' moves by (0, -TL) then shows: with leading set the move
        crosses the 0.3xfs threshold -> newline; with TL=0 it does NOT
        (unlike the production path's unconditional \\n)."""
        out = self._run(b"BT /F1 12 Tf 12 TL 100 700 Td (A) Tj (B) ' ET")
        assert out == "A\nB"
        out = self._run(b"BT /F1 12 Tf 100 700 Td (A) Tj (B) ' ET")
        assert out == "AB"  # leading 0: no line move

    def test_dquote_sets_spacing_then_shows(self):
        out = self._run(b"BT /F1 12 Tf 12 TL 100 700 Td (A) Tj 1 2 (B) \" ET")
        assert out == "A\nB"

    def test_tj_space_guard(self):
        """n < -100 emits ONE space even across consecutive kerns
        (last_was_space guard, interpreter.zig:344-347 — the production
        path has no guard and emits one per number)."""
        out = self._run(b"BT /F1 12 Tf [(X) -200 -200 (Y)] TJ ET")
        assert out == "X Y"

    def test_q_Q_state_stack(self):
        """Q restores the pre-q text state: the restored 12pt font makes
        a 5pt y-move a line break (5 > 0.3*12); an unrestored 24pt font
        would not (5 < 0.3*24)."""
        out = self._run(
            b"BT /F1 12 Tf 0 700 Td (A) Tj q /F1 24 Tf Q 0 -5 Td (B) Tj ET")
        assert out == "A\nB"
        out = self._run(
            b"BT /F1 12 Tf 0 700 Td (A) Tj /F1 24 Tf 0 -5 Td (B) Tj ET")
        assert out == "AB"

    def test_line_break_factor_differs_from_production(self):
        """0.3xfs rule (interpreter.zig:296) vs production 0.7xmax —
        the superscript fixture diverges BY DESIGN between the two."""
        from zpdfspark.kernel.interpreter2 import extract_page_interpreter
        pdf, text = fixtures.superscript()
        doc = Document(pdf)
        assert doc.extract_all() == text == "Hello2 World"
        assert extract_page_interpreter(doc, 0) == "Hello\n2\n World"

    def test_fallback_drops_high_bytes(self):
        """No-font fallback: printable ASCII + NUL->space only
        (interpreter.zig:318-326), narrower than production WinAnsi."""
        out = self._run(b"BT (A\x00B\xc9C) Tj ET")
        assert out == "A BC"

    def test_agrees_with_production_on_plain_streams(self):
        for gen in ("minimal", "tj", "multipage", "flate", "cid"):
            from zpdfspark.kernel.interpreter2 import extract_page_interpreter
            pdf, text = fixtures.GENERATORS[gen](0)
            doc = Document(pdf)
            got = "\x0c".join(extract_page_interpreter(doc, p)
                              for p in range(doc.page_count))
            assert got == text, gen


class TestPng:
    """kernel/png.py: the REAL image-decode path of the media pipeline
    (zlib + the same PNG row filters the PDF kernel uses)."""

    def _round(self, shape):
        import numpy as np
        from zpdfspark.kernel import png as P
        rng = np.random.default_rng(shape[0] * 100 + shape[-1])
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        w, h, c, out = P.decode_png(P.encode_png(px))
        assert (h, w, c) == (shape[0], shape[1], shape[2])
        assert (out == px).all()

    def test_roundtrip_all_color_types(self):
        for c in (1, 2, 3, 4):
            self._round((11, 5, c))

    def test_adam7_roundtrip_and_agreement(self):
        """Interlaced encode -> decode must reproduce pixels exactly
        AND agree with the non-interlaced decode of the same pixels,
        across sizes that exercise empty passes (w or h < 5 leaves
        some Adam7 passes pixel-less) and every channel count."""
        import numpy as np
        from zpdfspark.kernel import png as P
        rng = np.random.default_rng(7)
        for h, w in ((1, 1), (1, 9), (9, 1), (3, 4), (7, 7), (8, 8),
                     (17, 23), (31, 2)):
            for c in (1, 2, 3, 4):
                px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
                W, H, C, out = P.decode_png(P.encode_png(px, interlace=True))
                assert (W, H, C) == (w, h, c)
                assert (out == px).all(), (h, w, c)
                _, _, _, plain = P.decode_png(P.encode_png(px))
                assert (out == plain).all()

    def test_adam7_short_idat_rejected(self):
        """An interlaced stream whose IDAT carries fewer bytes than the
        pass layout requires must fail loudly, not scatter garbage."""
        import struct, zlib
        import numpy as np
        from zpdfspark.kernel import png as P
        raw = bytearray(P.encode_png(
            np.zeros((10, 10, 3), dtype=np.uint8), interlace=True))
        # rebuild with IDAT truncated pre-compression
        ihdr = struct.pack(">IIBBBBB", 10, 10, 8, 2, 0, 0, 1)
        idat = zlib.compress(b"\x00" * 50)

        def chunk(t, d):
            return struct.pack(">I", len(d)) + t + d + struct.pack(
                ">I", zlib.crc32(t + d) & 0xFFFFFFFF)

        doc = (P.SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
               + chunk(b"IEND", b""))
        try:
            P.decode_png(doc)
            assert False, "short interlaced IDAT accepted"
        except P.PngError:
            pass

    def test_adam7_hostile_mutations(self):
        import random
        import numpy as np
        from zpdfspark.kernel import png as P
        base = P.encode_png(
            (np.arange(675, dtype=np.uint8) % 256).reshape(15, 15, 3),
            interlace=True)
        rnd = random.Random(11)
        for _ in range(300):
            b = bytearray(base)
            for _ in range(rnd.randint(1, 8)):
                b[rnd.randrange(len(b))] = rnd.randrange(256)
            try:
                P.decode_png(bytes(b))
            except P.PngError:
                pass  # the only acceptable failure mode

    def test_palette_expansion(self):
        import struct, zlib
        import numpy as np
        from zpdfspark.kernel import png as P
        # hand-build a 2x2 palette image: indices [[0,1],[1,0]]
        pal = bytes([255, 0, 0, 0, 0, 255])  # red, blue
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
        idat = zlib.compress(b"\x00\x00\x01" + b"\x00\x01\x00")
        def chunk(t, d):
            return struct.pack(">I", len(d)) + t + d + struct.pack(
                ">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        raw = (P.SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"PLTE", pal)
               + chunk(b"IDAT", idat) + chunk(b"IEND", b""))
        w, h, c, out = P.decode_png(raw)
        assert (w, h, c) == (2, 2, 3)
        assert out[0, 0].tolist() == [255, 0, 0]
        assert out[0, 1].tolist() == [0, 0, 255]

    def test_resize_nearest_exact(self):
        import numpy as np
        from zpdfspark.kernel.png import resize_nearest
        px = np.arange(24, dtype=np.uint8).reshape(4, 6, 1)
        out = resize_nearest(px, 3, 2)
        # ys = [0, 2], xs = [0, 2, 4]
        assert out[:, :, 0].tolist() == [[0, 2, 4], [12, 14, 16]]

    def test_hostile_pngs_raise_pngerror_only(self):
        import random
        import numpy as np
        from zpdfspark.kernel import png as P
        base = P.encode_png(np.zeros((9, 9, 3), dtype=np.uint8))
        rnd = random.Random(3)
        for _ in range(500):
            b = bytearray(base)
            for _ in range(rnd.randint(1, 10)):
                b[rnd.randrange(len(b))] = rnd.randrange(256)
            raw = bytes(b[:rnd.randrange(8, len(b))]
                        if rnd.random() < 0.3 else b)
            try:
                P.decode_png(raw)
            except P.PngError:
                pass  # the only acceptable failure mode

    def test_decode_caps_giant_dimensions(self):
        import struct, zlib
        from zpdfspark.kernel import png as P
        ihdr = struct.pack(">IIBBBBB", 1 << 20, 1 << 20, 8, 2, 0, 0, 0)
        def chunk(t, d):
            return struct.pack(">I", len(d)) + t + d + struct.pack(
                ">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        raw = (P.SIGNATURE + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(b"\x00"))
               + chunk(b"IEND", b""))
        with pytest.raises(P.PngError, match="too large"):
            P.decode_png(raw)

    def test_idat_bomb_is_capped_before_allocation(self):
        # tiny declared dims + high-ratio IDAT: inflate must stop at the
        # declared scanline size (ADVICE r2: uncapped zlib.decompress let
        # a 510 KB file allocate 513 MB before the size check)
        import struct, tracemalloc, zlib
        from zpdfspark.kernel import png as P
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
        bomb = zlib.compress(b"\x00" * (256 * 1024 * 1024), 9)

        def chunk(t, d):
            return struct.pack(">I", len(d)) + t + d + struct.pack(
                ">I", zlib.crc32(t + d) & 0xFFFFFFFF)

        raw = (P.SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"IDAT", bomb)
               + chunk(b"IEND", b""))
        tracemalloc.start()
        with pytest.raises(P.PngError, match="longer than declared"):
            P.decode_png(raw)
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        # peak must be O(compressed size), nowhere near the 256 MB payload
        assert peak < 8 * 1024 * 1024

    def test_idat_overshoot_rejected(self):
        # stream inflates to MORE than height*(width*channels+1): corrupt
        # data must not decode "successfully" from a truncated prefix
        import struct, zlib
        from zpdfspark.kernel import png as P
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
        idat = zlib.compress(b"\x00\x00\x00" * 2 + b"extra!")

        def chunk(t, d):
            return struct.pack(">I", len(d)) + t + d + struct.pack(
                ">I", zlib.crc32(t + d) & 0xFFFFFFFF)

        raw = (P.SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
               + chunk(b"IEND", b""))
        with pytest.raises(P.PngError, match="longer than declared"):
            P.decode_png(raw)

    def test_exact_length_stream_still_decodes(self):
        # the cap must not false-positive on a valid stream whose adler
        # trailer sits past the output limit
        import numpy as np
        from zpdfspark.kernel import png as P
        px = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
        w, h, c, out = P.decode_png(P.encode_png(px))
        assert (w, h, c) == (5, 4, 3) and (out == px).all()


class TestJpeg:
    """kernel/jpeg.py: REAL baseline-JPEG decode (marker walk +
    canonical Huffman + dequant + numpy IDCT), round-tripped against
    the module's independent encoder (forward DCT + its own canonical
    tables — the encode_png pattern). quant=1 bounds round-trip error
    to DCT rounding (a few levels)."""

    def _round(self, px, maxerr=3, **enc):
        import numpy as np
        from zpdfspark.kernel import jpeg as J
        w, h, c, out = J.decode_jpeg(J.encode_jpeg(px, **enc))
        exp_c = 1 if px.ndim == 2 else px.shape[2]
        assert (h, w, c) == (px.shape[0], px.shape[1], exp_c)
        ref = px if px.ndim == 3 else px[:, :, None]
        err = int(np.abs(out.astype(int) - ref.astype(int)).max())
        assert err <= maxerr, err

    def test_gray_roundtrip_awkward_dims(self):
        import numpy as np
        rng = np.random.default_rng(11)
        for shape in [(8, 8), (13, 9), (1, 1), (7, 30)]:
            self._round(rng.integers(0, 256, size=shape, dtype=np.uint8))

    def test_rgb_444_roundtrip(self):
        import numpy as np
        rng = np.random.default_rng(12)
        for shape in [(8, 8, 3), (17, 11, 3)]:
            self._round(rng.integers(0, 256, size=shape, dtype=np.uint8),
                        maxerr=4)

    def test_rgb_420_subsampled_constant_chroma(self):
        # constant chroma makes the 2x2 box-average + nearest upsample
        # exact, isolating the decoder's chroma-upsampling path
        import numpy as np
        g = np.random.default_rng(13).integers(
            0, 256, size=(19, 21), dtype=np.uint8)
        self._round(np.stack([g, g, g], axis=-1), maxerr=4, subsample=True)

    def test_restart_intervals(self):
        import numpy as np
        rng = np.random.default_rng(14)
        self._round(rng.integers(0, 256, size=(24, 40), dtype=np.uint8),
                    restart_interval=2)
        self._round(np.stack([rng.integers(0, 256, size=(24, 40),
                                           dtype=np.uint8)] * 3, axis=-1),
                    maxerr=4, subsample=True, restart_interval=1)

    def test_checkerboard_extreme_coefficients(self):
        # max-frequency block: stresses the AC category range
        import numpy as np
        px = np.zeros((8, 8), dtype=np.uint8)
        px[::2, ::2] = 255
        px[1::2, 1::2] = 255
        self._round(px)

    def test_hostile_jpegs_raise_jpegerror_only(self):
        import random
        import numpy as np
        from zpdfspark.kernel import jpeg as J
        base = J.encode_jpeg(np.random.default_rng(15).integers(
            0, 256, size=(16, 16, 3), dtype=np.uint8))
        rnd = random.Random(4)
        for _ in range(500):
            b = bytearray(base)
            for _ in range(rnd.randint(1, 10)):
                b[rnd.randrange(len(b))] = rnd.randrange(256)
            raw = bytes(b[:rnd.randrange(4, len(b))]
                        if rnd.random() < 0.3 else b)
            try:
                J.decode_jpeg(raw)
            except J.JpegError:
                pass  # the only acceptable failure mode

    def test_decode_caps_giant_dimensions(self):
        import struct
        from zpdfspark.kernel import jpeg as J
        sof = struct.pack(">BHHB", 8, 30000, 30000, 3) + bytes(
            [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0])
        dqt = bytes([0x00]) + bytes(64)
        dht = bytes([0x00]) + bytes([0] * 16)
        sos = bytes([3, 1, 0, 2, 0, 3, 0, 0, 63, 0])

        def m(mk, p):
            return struct.pack(">BBH", 0xFF, mk, len(p) + 2) + p

        raw = (b"\xff\xd8" + m(0xDB, dqt) + m(0xC0, sof) + m(0xC4, dht)
               + m(0xDA, sos) + b"\x00" + b"\xff\xd9")
        with pytest.raises(J.JpegError, match="too large"):
            J.decode_jpeg(raw)

    def test_hierarchical_and_arithmetic_rejected(self):
        import struct
        from zpdfspark.kernel import jpeg as J
        for m in (0xC3, 0xC9, 0xCB):  # lossless, arith sequential, ...
            sof = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
            raw = (b"\xff\xd8"
                   + struct.pack(">BBH", 0xFF, m, len(sof) + 2) + sof)
            with pytest.raises(J.JpegError, match="baseline/progressive"):
                J.decode_jpeg(raw)

    def test_progressive_decodes_identical_to_baseline(self):
        """SOF2 spectral selection + successive approximation completes
        at Al=0, so progressive and baseline streams carry identical
        coefficients — decode must match BIT-FOR-BIT, including 4:2:0
        subsampling, multi-bit approximation, and multi-band splits."""
        import numpy as np
        from zpdfspark.kernel import jpeg as J
        rng = np.random.default_rng(11)
        cases = [
            ((16, 24, 3), False, dict()),
            ((16, 24, 3), True, dict()),
            ((31, 17), False, dict()),
            ((33, 29, 3), True, dict(dc_al=2, ac_al=2,
                                     bands=((1, 2), (3, 20), (21, 63)))),
            ((8, 8), False, dict(bands=((1, 63),))),
        ]
        for shape, sub, kw in cases:
            px = rng.integers(0, 256, size=shape).astype(np.uint8)
            b = J.decode_jpeg(J.encode_jpeg(px, quant=1, subsample=sub))
            p = J.decode_jpeg(J.encode_jpeg_progressive(
                px, quant=1, subsample=sub, **kw))
            assert b[:3] == p[:3], (shape, sub)
            assert np.array_equal(b[3], p[3]), (shape, sub, kw)

    def test_progressive_mutation_fuzz(self):
        """Hostile progressive streams must raise JpegError only (the
        permissive-parsing contract) — never crash, hang, or IndexError."""
        import random
        import numpy as np
        from zpdfspark.kernel import jpeg as J
        rng = np.random.default_rng(5)
        base = J.encode_jpeg_progressive(
            rng.integers(0, 256, size=(24, 24, 3)).astype(np.uint8),
            quant=1, subsample=True)
        rnd = random.Random(13)
        for _ in range(400):
            b = bytearray(base)
            for _ in range(rnd.randint(1, 12)):
                b[rnd.randrange(len(b))] = rnd.randrange(256)
            raw = bytes(b[:rnd.randrange(2, len(b))]
                        if rnd.random() < 0.3 else b)
            try:
                J.decode_jpeg(raw)
            except J.JpegError:
                pass  # the only acceptable failure mode

    def test_image_expected_matches_decoder(self):
        # the fixtures-side header read (independent ground truth) must
        # agree with the decoder on every jpeg/png fixture variant
        from zpdfspark import fixtures
        from zpdfspark.kernel.jpeg import decode_jpeg
        from zpdfspark.kernel.png import decode_png
        for i in range(12):
            raw, _ = fixtures.jpeg_image(i)
            w, h, c, _px = decode_jpeg(raw)
            assert fixtures._image_expected(raw, "jpeg") == (w, h, c), i
            raw, _ = fixtures.png_image(i)
            w, h, c, _px = decode_png(raw)
            assert fixtures._image_expected(raw, "png") == (w, h, c), i


class TestWav:
    """kernel/wav.py: the REAL audio-decode path of the media pipeline."""

    def test_roundtrip(self):
        import numpy as np
        from zpdfspark.kernel import wav as W
        rng = np.random.default_rng(2)
        for ch in (1, 2, 3):
            s = rng.integers(-32768, 32768, size=(300, ch), dtype=np.int16)
            sr, c, out = W.decode_wav(W.encode_wav(s, 22050))
            assert (sr, c) == (22050, ch) and (out == s).all()

    def test_8bit_centering(self):
        import struct, numpy as np
        from zpdfspark.kernel import wav as W
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        data = bytes([0, 128, 255])
        raw = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data) + 1)
               + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
               + b"data" + struct.pack("<I", len(data)) + data)
        sr, c, out = W.decode_wav(raw)
        assert out[:, 0].tolist() == [(0 - 128) << 8, 0, (255 - 128) << 8]

    def test_hostile_wavs_raise_waverror_only(self):
        import random
        import numpy as np
        from zpdfspark.kernel import wav as W
        base = W.encode_wav(
            np.arange(-100, 100, dtype=np.int16)[:, None], 8000)
        rnd = random.Random(4)
        for _ in range(500):
            b = bytearray(base)
            for _ in range(rnd.randint(1, 8)):
                b[rnd.randrange(len(b))] = rnd.randrange(256)
            raw = bytes(b[:rnd.randrange(4, len(b))]
                        if rnd.random() < 0.3 else b)
            try:
                W.decode_wav(raw)
            except W.WavError:
                pass  # the only acceptable failure mode

    def test_rms_ground_truth_agreement(self):
        """The kernel's RMS over DECODED samples equals the fixtures'
        independent RIFF re-read over the raw bytes (the oracle pair)."""
        import numpy as np
        from zpdfspark import fixtures
        from zpdfspark.kernel import wav as W
        for i in range(6):
            raw, _ = fixtures.wav_audio(i)
            sr, ch, samples = W.decode_wav(raw)
            exp = fixtures._wav_expected(raw)
            assert exp == (sr, ch, samples.shape[0],
                           W.audio_rms_x1000(samples))


class TestGif:
    """kernel/gif.py: the GIF-variant LZW decode path of the media
    pipeline (LSB-first variable-width codes, palette, interlace)."""

    def _round(self, h, w, ncolors, interlace):
        import numpy as np
        from zpdfspark.kernel import gif as G
        rng = np.random.default_rng(h * 100 + w + ncolors)
        px = (rng.integers(0, ncolors, size=(h, w), dtype=np.uint8)[:, :, None]
              * np.array([7, 3, 11], dtype=np.uint8)).astype(np.uint8)
        ww, hh, c, out = G.decode_gif(G.encode_gif(px, interlace=interlace))
        assert (ww, hh, c) == (w, h, 3)
        assert (out == px).all()

    def test_roundtrip_palette_sizes(self):
        for ncol in (1, 2, 5, 17, 200):
            self._round(9, 7, ncol, False)

    def test_roundtrip_interlaced(self):
        for h in (1, 2, 7, 16, 33):
            self._round(h, 5, 4, True)

    def test_roundtrip_wide_table(self):
        # enough pixels to grow the code width past its initial size
        self._round(80, 70, 250, False)

    def test_compressed_stream_kwkwk(self):
        """Hand-packed stream with a real compression code (KwKwK):
        codes [CLEAR=4, 0, 6, END=5] at min_code=2 decode to indices
        0,0,0 — the literal-only encoder never emits this path."""
        import struct
        from zpdfspark.kernel import gif as G
        pal = bytes([10, 20, 30]) + bytes(9)  # 4-entry table
        raw = (b"GIF89a" + struct.pack("<HH", 3, 1) + bytes((0x91, 0, 0))
               + pal
               + b"\x2C" + struct.pack("<HHHH", 0, 0, 3, 1) + b"\x00"
               + b"\x02" + b"\x02\x84\x0b" + b"\x00" + b"\x3B")
        w, h, c, out = G.decode_gif(raw)
        assert (w, h, c) == (3, 1, 3)
        assert out[0].tolist() == [[10, 20, 30]] * 3

    def test_compressed_stream_table_reference(self):
        """Codes [CLEAR, 0, 1, 6, END]: code 6 references the table
        entry built from the previous pair -> indices 0,1,0,1."""
        import struct
        from zpdfspark.kernel import gif as G
        pal = bytes([1, 2, 3, 4, 5, 6]) + bytes(6)
        # 3-bit codes LSB-first: 4, 0, 1, 6, 5
        data = bytes([0x04 | (0x01 << 6), (0x06 << 1) | (0x05 << 4)])
        raw = (b"GIF89a" + struct.pack("<HH", 4, 1) + bytes((0x91, 0, 0))
               + pal
               + b"\x2C" + struct.pack("<HHHH", 0, 0, 4, 1) + b"\x00"
               + b"\x02" + bytes([len(data)]) + data + b"\x00" + b"\x3B")
        w, h, c, out = G.decode_gif(raw)
        assert out[0].tolist() == [[1, 2, 3], [4, 5, 6], [1, 2, 3], [4, 5, 6]]

    def test_hostile_gifs_raise_giferror_only(self):
        import random
        import numpy as np
        from zpdfspark.kernel import gif as G
        px = (np.arange(81, dtype=np.uint8).reshape(9, 9)[:, :, None]
              % 5 * np.array([40, 20, 10], dtype=np.uint8)).astype(np.uint8)
        base = G.encode_gif(px)
        rnd = random.Random(3)
        for _ in range(500):
            b = bytearray(base)
            for _ in range(rnd.randint(1, 10)):
                b[rnd.randrange(len(b))] = rnd.randrange(256)
            raw = bytes(b[:rnd.randrange(6, len(b))]
                        if rnd.random() < 0.3 else b)
            try:
                G.decode_gif(raw)
            except G.GifError:
                pass  # the only acceptable failure mode

    def test_decode_caps_giant_dimensions(self):
        import struct
        import pytest as _pytest
        from zpdfspark.kernel import gif as G
        raw = (b"GIF89a" + struct.pack("<HH", 60000, 60000)
               + bytes((0x80, 0, 0)) + bytes(6)
               + b"\x2C" + struct.pack("<HHHH", 0, 0, 60000, 60000)
               + b"\x00\x02\x01\x00\x00\x3B")
        with _pytest.raises(G.GifError, match="too large"):
            G.decode_gif(raw)

    def test_lzw_output_capped_by_dimensions(self):
        """A stream decoding to more pixels than the descriptor declares
        is rejected (bomb policy, mirrors the PNG overshoot check)."""
        import numpy as np
        import pytest as _pytest
        from zpdfspark.kernel import gif as G
        px = np.zeros((4, 4, 3), dtype=np.uint8)
        raw = bytearray(G.encode_gif(px))
        # shrink the declared image dims to 2x2; the 16-pixel stream
        # now overshoots
        import struct
        raw[6:10] = struct.pack("<HH", 2, 2)
        # image descriptor dims live 8 bytes into the 0x2C block
        i = bytes(raw).index(b"\x2C")
        raw[i + 5 : i + 9] = struct.pack("<HH", 2, 2)
        with _pytest.raises(G.GifError, match="exceeds|short|range"):
            G.decode_gif(bytes(raw))


class TestMp4:
    """kernel/mp4.py: ISO BMFF metadata box walk (the real layer of the
    video pipeline; frame decode stays honestly stubbed)."""

    def test_roundtrip_metadata(self):
        from zpdfspark.kernel import mp4 as M
        for units, ts, tracks in [
            (5000, 1000, [(640, 360, b"avc1")]),
            (123456, 90000, [(1920, 1080, b"hev1"), (0, 0, b"mp4a")]),
            (7, 600, [(0, 0, b"mp4a")]),
        ]:
            meta = M.parse_mp4(M.encode_mp4(units, ts, tracks))
            assert meta["duration_ms"] == units * 1000 // ts
            assert meta["n_tracks"] == len(tracks)
            assert meta["timescale"] == ts
            vis = [(w, h) for (w, h, _f) in tracks if w]
            assert (meta["width"], meta["height"]) == (
                vis[0] if vis else (0, 0))
            assert meta["codecs"] == [f.decode() for (_w, _h, f) in tracks]

    def test_largesize_box(self):
        import struct
        from zpdfspark.kernel import mp4 as M
        base = M.encode_mp4(5000, 1000, [(640, 360, b"avc1")])
        ftyp_len = struct.unpack(">I", base[:4])[0]
        payload = base[8:ftyp_len]
        big = (struct.pack(">I", 1) + b"ftyp"
               + struct.pack(">Q", 16 + len(payload)) + payload
               + base[ftyp_len:])
        assert M.parse_mp4(big)["duration_ms"] == 5000

    def test_hostile_mp4s_raise_mp4error_only(self):
        import random
        from zpdfspark.kernel import mp4 as M
        base = M.encode_mp4(5000, 1000, [(640, 360, b"avc1"), (0, 0, b"mp4a")])
        rnd = random.Random(5)
        for _ in range(600):
            b = bytearray(base)
            for _ in range(rnd.randint(1, 10)):
                b[rnd.randrange(len(b))] = rnd.randrange(256)
            raw = bytes(b[:rnd.randrange(4, len(b))]
                        if rnd.random() < 0.3 else b)
            try:
                M.parse_mp4(raw)
            except M.Mp4Error:
                pass  # the only acceptable failure mode

    def test_box_budget_bounds_crafted_nesting(self):
        import struct
        import pytest as _pytest
        from zpdfspark.kernel import mp4 as M
        # a moov stuffed with thousands of empty traks trips MAX_BOXES
        trak = struct.pack(">I", 8) + b"trak"
        mvhd_payload = (bytes(12) + struct.pack(">II", 1000, 5000)
                        + bytes(80))
        mvhd = struct.pack(">I", 8 + len(mvhd_payload)) + b"mvhd" + mvhd_payload
        body = mvhd + trak * (M.MAX_BOXES + 10)
        raw = (struct.pack(">I", 16) + b"ftyp" + b"isomAAAA"
               + struct.pack(">I", 8 + len(body)) + b"moov" + body)
        with _pytest.raises(M.Mp4Error, match="too many boxes"):
            M.parse_mp4(raw)


class TestMp3:
    """kernel/mp3.py: MPEG-1 Layer III frame-header walk (the real
    metadata layer of the audio pipeline; codec decode stays honestly
    stubbed)."""

    def test_roundtrip_metadata(self):
        from zpdfspark.kernel import mp3 as M
        for frame_brs, sr_idx, stereo, id3 in [
            ([9] * 30, 0, True, 0),
            ([1, 5, 9, 14] * 10, 1, False, 0),   # VBR
            ([9] * 20, 2, True, 200),            # ID3v2 prefix
        ]:
            meta = M.parse_mp3(M.encode_mp3(frame_brs, sr_idx, stereo, id3))
            sr = M._SAMPLE_RATES[3][sr_idx]
            assert meta["n_frames"] == len(frame_brs)
            assert meta["sample_rate"] == sr
            assert meta["channels"] == (2 if stereo else 1)
            assert meta["duration_ms"] == len(frame_brs) * 1152 * 1000 // sr
            assert meta["mean_bitrate_kbps"] == sum(
                M._BITRATES_V1[b] for b in frame_brs) // len(frame_brs)

    def test_id3v1_tail_tolerated(self):
        from zpdfspark.kernel import mp3 as M
        raw = M.encode_mp3([9] * 10, 0) + b"TAG" + bytes(125)
        assert M.parse_mp3(raw)["n_frames"] == 10

    def test_trailing_tag_junk_tolerated(self):
        """Real MP3s carry APEv2 tags / Lyrics3 blocks / junk after the
        last frame (ADVICE r3): sync loss after >=1 parsed frame is
        end-of-stream, not an error."""
        from zpdfspark.kernel import mp3 as M
        base = M.encode_mp3([9] * 10, 0)
        for tail in [b"APETAGEX" + bytes(64), b"LYRICSBEGIN hello",
                     bytes(300)]:
            meta = M.parse_mp3(base + tail)
            assert meta["n_frames"] == 10
        # but a stream with NO parseable frame still raises
        import pytest as _pytest
        with _pytest.raises(M.Mp3Error):
            M.parse_mp3(b"APETAGEX" + bytes(64))

    def test_hostile_mp3s_raise_mp3error_only(self):
        import random
        from zpdfspark.kernel import mp3 as M
        base = M.encode_mp3([9] * 25, 0, True, 64)
        rnd = random.Random(9)
        for _ in range(600):
            b = bytearray(base)
            for _ in range(rnd.randint(1, 10)):
                b[rnd.randrange(len(b))] = rnd.randrange(256)
            raw = bytes(b[:rnd.randrange(2, len(b))]
                        if rnd.random() < 0.3 else b)
            try:
                M.parse_mp3(raw)
            except M.Mp3Error:
                pass  # the only acceptable failure mode

    def test_mpeg2_and_25_roundtrip(self):
        """Round 5: MPEG-2 and MPEG-2.5 Layer III parse with the
        version-specific bitrate/sample-rate tables and 576
        samples/frame."""
        from zpdfspark.kernel import mp3 as M
        for version, srs in ((2, (22050, 24000, 16000)),
                             (0, (11025, 12000, 8000))):
            for sr_idx in range(3):
                brs = [((j * 5) % 13) + 1 for j in range(24)]
                raw = M.encode_mp3(brs, sr_idx=sr_idx, stereo=False,
                                   version=version)
                got = M.parse_mp3(raw)
                assert got["n_frames"] == 24
                assert got["sample_rate"] == srs[sr_idx]
                assert got["channels"] == 1
                # 576 samples/frame, not 1152
                assert got["duration_ms"] == 24 * 576 * 1000 // srs[sr_idx]
                exp_kbps = sum(M._BITRATES_V2[b] for b in brs) // 24
                assert got["mean_bitrate_kbps"] == exp_kbps

    def test_reserved_version_and_other_layers_rejected(self):
        import struct
        import pytest as _pytest
        from zpdfspark.kernel import mp3 as M
        # reserved version (bits 01)
        h = (0x7FF << 21) | (1 << 19) | (1 << 17) | (9 << 12) | (0 << 10)
        with _pytest.raises(M.Mp3Error, match="reserved MPEG version"):
            M.parse_mp3(struct.pack(">I", h) + bytes(100))
        # MPEG-1 Layer II (layer bits 10)
        h = (0x7FF << 21) | (3 << 19) | (2 << 17) | (9 << 12) | (0 << 10)
        with _pytest.raises(M.Mp3Error, match="only Layer III"):
            M.parse_mp3(struct.pack(">I", h) + bytes(100))

    def test_version_change_mid_stream_rejected(self):
        import pytest as _pytest
        from zpdfspark.kernel import mp3 as M
        a = M.encode_mp3([9, 9], sr_idx=0, version=3)
        b = M.encode_mp3([9, 9], sr_idx=0, version=2)
        with _pytest.raises(M.Mp3Error, match="changes mid-stream"):
            M.parse_mp3(a + b)


class TestWarc:
    """kernel/warc.py: Common-Crawl-style WARC record reader (per-record
    gzip members, HTTP envelope strip, error-row resync)."""

    def _recs(self, n=12):
        return [(f"https://ex.com/p{i}", "2025-06-01T00:00:00Z",
                 b"<html>doc %d</html>" % i, "text/html") for i in range(n)]

    def test_roundtrip_gzip_and_plain(self):
        from zpdfspark.kernel import warc as W
        for gz in (True, False):
            got = list(W.iter_warc_records(
                W.build_warc(self._recs(), per_record_gzip=gz)))
            assert len(got) == 12
            for i, r in enumerate(got):
                assert r.error is None and r.warc_type == "response"
                assert r.target_uri == f"https://ex.com/p{i}"
                assert r.body == b"<html>doc %d</html>" % i  # HTTP stripped

    def test_chunked_and_content_encoded_bodies(self):
        """Heritrix/IA-shape wire codings: chunked framing, gzip and
        deflate content codings, and chunked-over-gzip must all decode
        byte-identical to the identity-encoded twin."""
        from zpdfspark.kernel import warc as W
        payload = b"<html>" + b"wire coding parity " * 40 + b"</html>"
        variants = [
            {},  # identity twin
            {"_http_chunked": 7},
            {"_http_content_encoding": "gzip"},
            {"_http_content_encoding": "deflate"},
            {"_http_content_encoding": "gzip", "_http_chunked": 13},
        ]
        recs = [("https://ex.com/t", "2025-06-01T00:00:00Z", payload,
                 "text/html", "response", dict(v)) for v in variants]
        for gz in (True, False):
            got = list(W.iter_warc_records(
                W.build_warc(recs, per_record_gzip=gz)))
            assert len(got) == len(variants)
            for r in got:
                assert r.error is None
                assert r.http_status == 200
                assert r.body == payload, r.body[:80]

    def test_chunked_malformed_keeps_prefix_never_raises(self):
        from zpdfspark.kernel import warc as W
        # bad hex size line -> decoded-so-far prefix, no raise
        assert W._dechunk(b"5\r\nhello\r\nZZ\r\nrest") == b"hello"
        # truncated final chunk -> keep readable prefix
        assert W._dechunk(b"5\r\nhello\r\nff\r\nabc") == b"helloabc"
        # terminal chunk with trailers
        assert W._dechunk(b"3\r\nabc\r\n0\r\nX-T: 1\r\n\r\n") == b"abc"
        # garbage content-encoding passes bytes through
        assert W._decode_content(b"notgzip", "gzip") == b"notgzip"
        # br/zstd are import-gated (no codec in this container): the
        # bytes must pass through unchanged, never raise
        assert W._decode_content(b"plain", "br") == b"plain"
        assert W._decode_content(b"\x28\xb5\x2f\xfd" + b"x" * 8,
                                 "zstd") == b"\x28\xb5\x2f\xfd" + b"x" * 8
        assert W._decode_content(b"data", "unknown-coding") == b"data"

    def test_malformed_record_resyncs(self):
        from zpdfspark.kernel import warc as W
        raw = W.build_warc(self._recs(), per_record_gzip=False)
        # corrupt one record's WARC-level Content-Length (the HTTP
        # envelope's own Content-Length must NOT be what the reader uses)
        bad = raw.replace(b"msgtype=response\r\nContent-Length",
                          b"msgtype=response\r\nContent-Oopsss", 1)
        got = list(W.iter_warc_records(bad))
        assert sum(1 for r in got if r.error) == 1
        assert sum(1 for r in got if not r.error) == 11

    def test_hostile_streams_raise_warcerror_only(self):
        """Mutated archives raise WarcError or nothing, through both the
        record iterator and the span walk, and both yield the same
        records before either raises."""
        import random
        from zpdfspark.kernel import warc as W
        base = W.build_warc(self._recs(5))

        def drain(it):
            out = []
            try:
                for x in it:
                    out.append(x)
            except W.WarcError as e:  # the only acceptable failure mode
                return out, str(e)
            return out, None

        def key(r):
            return (r.warc_type, r.target_uri, r.body, r.error)

        rnd = random.Random(11)
        for _ in range(400):
            b = bytearray(base)
            for _ in range(rnd.randint(1, 12)):
                b[rnd.randrange(len(b))] = rnd.randrange(256)
            raw = bytes(b[:rnd.randrange(2, len(b))]
                        if rnd.random() < 0.3 else b)
            recs, err = drain(W.iter_warc_records(raw))
            spans, span_err = drain(W.iter_warc_records_spans(raw))
            assert [key(r) for r in recs] == [key(r) for r, _, _ in spans]
            assert err == span_err

    def test_non_warc_rejected(self):
        import pytest as _pytest
        from zpdfspark.kernel import warc as W
        with _pytest.raises(W.WarcError):
            list(W.iter_warc_records(b"HTTP/1.1 200 OK\r\n\r\nnope"))

    def test_gunzip_linear_in_member_count(self):
        """The record walk's time grows linearly with the member count:
        16k members take at most 2.5x the time of 8k (minimum of 5
        interleaved runs each, so one run slowed by a loaded host does
        not decide it). Slicing the remaining archive per member made
        gunzip quadratic: >4x per doubling."""
        import random
        import time

        from zpdfspark.kernel import warc as W
        payload = random.Random(3).randbytes(1000)  # ~1.2 KB per member
        member = W.build_warc([("http://e.com/x", "2025-01-01T00:00:00Z",
                                payload, "text/html")])
        archives = {n: member * n for n in (8000, 16000)}
        best = dict.fromkeys(archives, float("inf"))
        for _ in range(5):
            for n, raw in archives.items():
                t0 = time.perf_counter()
                got = sum(1 for _ in W.iter_warc_records(raw))
                best[n] = min(best[n], time.perf_counter() - t0)
                assert got == n
        assert best[16000] <= 2.5 * best[8000], best

    def test_member_cap_and_truncation(self, monkeypatch):
        """A gzip member whose output passes MAX_RECORD_BYTES raises
        "exceeds cap" (one that reaches it exactly is read), and a member
        cut short raises "truncated" at its own offset, after the records
        of the members before it."""
        import gzip
        import random

        import pytest as _pytest
        from zpdfspark.kernel import warc as W
        members = [W.build_warc([r]) for r in self._recs(2)]
        plain = W.build_warc(self._recs(1), per_record_gzip=False)
        monkeypatch.setattr(W, "MAX_RECORD_BYTES", len(plain))
        got = list(W.iter_warc_records(gzip.compress(plain)))
        assert len(got) == 1 and got[0].error is None
        # incompressible, so zlib holds no pending output past the cap
        big = gzip.compress(random.Random(7).randbytes(len(plain) + 1))
        with _pytest.raises(W.WarcError, match="at byte 0 exceeds cap"):
            list(W.iter_warc_records(big))
        got = []
        with _pytest.raises(W.WarcError, match="truncated gzip member at "
                                               f"byte {len(members[0])}"):
            for rec in W.iter_warc_records(members[0] + members[1][:-4]):
                got.append(rec.target_uri)
        assert got == ["https://ex.com/p0"]

    def test_corrupt_member_keeps_records_before_it(self):
        """A corrupt middle member: both walks yield the records of the
        members before it, then raise the member's WarcError;
        iter_responses keeps those responses."""
        import pytest as _pytest
        from zpdfspark.kernel import warc as W
        members = [W.build_warc([r]) for r in self._recs(6)]
        bad = bytearray(members[3])
        bad[len(bad) // 2] ^= 0xFF
        members[3] = bytes(bad)
        raw = b"".join(members)
        at = f"gzip member at byte {sum(map(len, members[:3]))}"
        for walk in (W.iter_warc_records, W.iter_warc_records_spans):
            got = []
            with _pytest.raises(W.WarcError, match=at):
                for x in walk(raw):
                    got.append(x)
            assert len(got) == 3
        assert [r.target_uri for r in W.iter_responses(raw)] == [
            f"https://ex.com/p{i}" for i in range(3)]

    def test_record_split_across_members(self, monkeypatch):
        """A plain stream gzipped as members cut mid-record (here inside
        the headers, inside a body and inside a 'WARC/' magic) reads as
        the joined stream does, through both walks; each span runs from
        the member where its record begins to the one where it ends, so
        it decompresses to bytes holding the whole record. A split
        record over the size cap is an error record, never carried."""
        import gzip

        from zpdfspark.kernel import warc as W
        recs = self._recs(3)
        plain = W.build_warc(recs, per_record_gzip=False)
        second = plain.index(b"WARC/", 1)
        want = [(u, body) for u, _d, body, _c in recs]
        # each record's own bytes: its magic up to the \r\n\r\n that
        # ends it
        starts = [i for i in range(len(plain))
                  if plain.startswith(b"WARC/1.0\r\n", i)]
        ends = [i - 4 for i in starts[1:] + [len(plain)]]
        for cuts in ([100], [second + 2], [30, 31, second - 9, second + 3],
                     list(range(7, len(plain), 7))):
            edges = [0] + cuts + [len(plain)]
            raw = b"".join(gzip.compress(plain[a:b], mtime=0)
                           for a, b in zip(edges, edges[1:]))
            assert [(r.target_uri, r.body)
                    for r in W.iter_warc_records(raw)] == want
            spans = list(W.iter_warc_records_spans(raw))
            assert [(r.target_uri, r.body) for r, _, _ in spans] == want
            for (_rec, off, ln), a, b in zip(spans, starts, ends):
                assert plain[a:b] in gzip.decompress(raw[off:off + ln])
        monkeypatch.setattr(W, "MAX_RECORD_BYTES", 64)
        assert [r.error for r in W.iter_warc_records(raw)] == [
            "Content-Length out of bounds"] * 3

    def test_memory_follows_the_member(self):
        """Draining iter_responses over a many-member archive peaks
        below 8x the largest decompressed member; gunzipping the whole
        archive first peaked at about twice the decompressed archive."""
        import tracemalloc

        from zpdfspark.kernel import warc as W
        body = b"<p>compressible crawl text</p>" * 8000  # ~240 KB
        recs = [(f"http://e.com/{i}", "2025-01-01T00:00:00Z", body,
                 "text/html") for i in range(48)]
        raw = W.build_warc(recs)
        largest = len(W.build_warc(recs[:1], per_record_gzip=False))
        tracemalloc.start()
        try:
            n = sum(1 for _ in W.iter_responses(raw))
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert n == 48
        assert peak < 8 * largest, (peak, largest)

    def test_iter_responses_keeps_document_records_only(self):
        """iter_responses is the one document-record rule: `response`
        records without a parse error that carry a target URI, and with
        http_ok_only only HTTP 200 (or envelope-less) ones. The rule holds
        for gzip and plain archives; a non-WARC blob yields nothing."""
        import gzip

        from zpdfspark.kernel import warc as W
        d = "2025-01-01T00:00:00Z"
        recs = [
            ("http://e.com/a", d, b"", "text/plain", "request"),
            ("http://e.com/a", d, b"BODY-A", "text/html"),
            ("http://e.com/a", d, b"k: v", "application/warc-fields",
             "metadata"),
            ("http://e.com/a", d, b"", "message/http", "revisit",
             {"WARC-Refers-To-Target-URI": "http://e.com/a"}),
            ("http://e.com/gone", d, b"BODY-404", "text/html", "response",
             {"_http_status": "404 Not Found"}),
            ("http://e.com/bad", d, b"BODY-BAD", "text/html"),
            ("", d, b"BODY-NO-URI", "text/html"),
            ("http://e.com/z", d, b"BODY-Z", "text/html"),
        ]
        plain = [W.build_warc([r], per_record_gzip=False) for r in recs]
        # a bad WARC Content-Length on the "bad" response: an error record
        plain[5] = plain[5].replace(b"msgtype=response\r\nContent-Length",
                                    b"msgtype=response\r\nContent-Oopsss")
        for gz in (True, False):
            raw = b"".join(gzip.compress(p, mtime=0) if gz else p
                           for p in plain)
            assert sum(1 for r in W.iter_warc_records(raw) if r.error) == 1
            got = [(r.target_uri, r.body) for r in W.iter_responses(raw)]
            assert got == [("http://e.com/a", b"BODY-A"),
                           ("http://e.com/gone", b"BODY-404"),
                           ("http://e.com/z", b"BODY-Z")], gz
            # a view of the archive (the fused kernel reads Arrow's
            # buffer) reads the same records
            assert [(r.target_uri, r.body)
                    for r in W.iter_responses(memoryview(raw))] == got, gz
            ok = [r.target_uri for r in W.iter_responses(raw, True)]
            assert ok == ["http://e.com/a", "http://e.com/z"], gz
        for blob in (b"not a warc", b"\x1f\x8bnot gzip", b""):
            assert list(W.iter_responses(blob)) == []
            assert list(W.iter_responses(blob, http_ok_only=True)) == []

    def test_mixed_record_types_and_revisit_pointers(self):
        """Real CC archives interleave request/metadata/revisit records
        per capture; the parser surfaces warc_type + the revisit
        refers-to pointers, and only responses get HTTP-stripped."""
        from zpdfspark.kernel import warc as W
        recs = [
            ("http://e.com/a", "2025-01-01T00:00:00Z", b"", "text/plain",
             "request"),
            ("http://e.com/a", "2025-01-01T00:00:00Z", b"BODY-A",
             "text/html"),
            ("http://e.com/a", "2025-01-01T00:00:00Z", b"k: v",
             "application/warc-fields", "metadata"),
            ("http://e.com/a", "2025-02-01T00:00:00Z", b"", "message/http",
             "revisit", {"WARC-Refers-To-Target-URI": "http://e.com/a",
                         "WARC-Refers-To-Date": "2025-01-01T00:00:00Z"}),
        ]
        got = list(W.iter_warc_records(W.build_warc(recs)))
        assert [r.warc_type for r in got] == [
            "request", "response", "metadata", "revisit"]
        resp = got[1]
        assert resp.body == b"BODY-A"  # HTTP envelope stripped
        assert got[0].body != b""      # request body NOT stripped
        rv = got[3]
        assert rv.refers_to_uri == "http://e.com/a"
        assert rv.refers_to_date == "2025-01-01T00:00:00Z"
        assert got[1].refers_to_uri is None


class TestWebp:
    """kernel/webp.py: WebP header dims (vp8/vp8l/vp8x; pixel decode
    stays honestly stubbed)."""

    def test_roundtrip_all_flavors(self):
        from zpdfspark.kernel import webp as W
        for w, h, fl in [(64, 48, "vp8"), (1, 1, "vp8l"),
                         (16383, 100, "vp8l"), (640, 360, "vp8x"),
                         (1 << 20, 3, "vp8x")]:
            assert W.webp_dims(W.encode_webp_header(w, h, fl)) == (w, h, fl)

    def test_hostile_webps_raise_webperror_only(self):
        import random
        from zpdfspark.kernel import webp as W
        base = W.encode_webp_header(64, 48, "vp8l")
        rnd = random.Random(3)
        for _ in range(500):
            b = bytearray(base)
            for _ in range(rnd.randint(1, 8)):
                b[rnd.randrange(len(b))] = rnd.randrange(256)
            raw = bytes(b[:rnd.randrange(2, len(b))]
                        if rnd.random() < 0.3 else b)
            try:
                W.webp_dims(raw)
            except W.WebpError:
                pass  # the only acceptable failure mode


class TestId3v2:
    """kernel/mp3.py ID3v2 text frames (round 4): title/artist/album
    through all three text encodings, v2.4 syncsafe sizes, padding,
    and hostile-tag behavior."""

    def test_roundtrip_all_encodings(self):
        from zpdfspark.kernel.mp3 import encode_mp3, parse_mp3
        for enc, title in ((0, "Latin Title"), (1, "UTF16 Tïtle"),
                           (3, "UTF8 Tïtle ☃")):
            raw = encode_mp3([5, 6, 7], 0, id3_frames={
                "TIT2": title, "TPE1": "The Band", "TALB": "LP"},
                id3_encoding=enc)
            m = parse_mp3(raw)
            assert m["title"] == title and m["artist"] == "The Band"
            assert m["album"] == "LP"

    def test_v24_syncsafe_sizes(self):
        import struct
        from zpdfspark.kernel.mp3 import parse_id3v2_frames
        body = b"\x03UTF8 Name"
        frame = b"TIT2" + bytes((0, 0, 0, len(body))) + b"\x00\x00" + body
        size = len(frame)
        tag = (b"ID3\x04\x00\x00"
               + bytes(((size >> 21) & 0x7F, (size >> 14) & 0x7F,
                        (size >> 7) & 0x7F, size & 0x7F)) + frame)
        assert parse_id3v2_frames(tag)["title"] == "UTF8 Name"

    def test_absent_and_padding_only(self):
        from zpdfspark.kernel.mp3 import encode_mp3, parse_mp3
        assert parse_mp3(encode_mp3([5, 6], 1))["title"] is None
        assert parse_mp3(encode_mp3([5], 2, id3_bytes=64))["title"] is None

    def test_hostile_tags_never_raise(self):
        import random
        from zpdfspark.kernel.mp3 import encode_mp3, parse_id3v2_frames
        base = encode_mp3([5, 6, 7, 8], 0,
                          id3_frames={"TIT2": "Fuzz", "TPE1": "Band"})
        rng = random.Random(17)
        for _ in range(400):
            b = bytearray(base)
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            parse_id3v2_frames(bytes(b))  # must not raise


class TestExif:
    """kernel/exif.py: APP1/TIFF IFD walk (round 4) — both byte
    orders, inline vs out-of-line values, ExifIFD pointer, hostile
    structures."""

    def _jpeg_with(self, **kw):
        import numpy as np
        from zpdfspark.kernel.exif import build_exif_app1
        from zpdfspark.kernel.jpeg import encode_jpeg
        base = encode_jpeg(
            (np.arange(189, dtype=np.uint8) % 256).reshape(7, 9, 3))
        return base[:2] + build_exif_app1(**kw) + base[2:]

    def test_roundtrip_both_endians(self):
        from zpdfspark.kernel.exif import parse_exif
        for e in ("<", ">"):
            m = parse_exif(self._jpeg_with(
                orientation=6, make="FixtureCam", model="FC-1000",
                exif_w=9, exif_h=7, endian=e))
            assert m == {"orientation": 6, "make": "FixtureCam",
                         "model": "FC-1000", "exif_width": 9,
                         "exif_height": 7}, (e, m)

    def test_partial_and_absent(self):
        import numpy as np
        from zpdfspark.kernel.exif import parse_exif
        from zpdfspark.kernel.jpeg import encode_jpeg
        m = parse_exif(self._jpeg_with(orientation=1))
        assert m["orientation"] == 1 and m["make"] is None
        plain = encode_jpeg(np.zeros((7, 9, 3), dtype=np.uint8))
        assert parse_exif(plain)["orientation"] is None
        assert parse_exif(b"")["orientation"] is None

    def test_invalid_orientation_dropped(self):
        from zpdfspark.kernel.exif import parse_exif
        m = parse_exif(self._jpeg_with(orientation=9))
        assert m["orientation"] is None  # out of the 1..8 domain

    def test_hostile_mutations_never_raise(self):
        import random
        from zpdfspark.kernel.exif import parse_exif
        base = self._jpeg_with(orientation=3, make="A", model="B",
                               exif_w=9, exif_h=7)
        rng = random.Random(6)
        for _ in range(400):
            b = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            parse_exif(bytes(b))


class TestFlac:
    """kernel/flac.py (round 5): metadata block walk — STREAMINFO
    packed-field widths, Vorbis-comment tags, hostile structures.
    Codec (frame) decode stays honestly stubbed."""

    def test_roundtrip_matrix(self):
        from zpdfspark.kernel.flac import build_flac, parse_flac
        for sr, ch, bits, total in [(44100, 2, 16, 44100),
                                    (96000, 1, 24, 7),
                                    (8000, 8, 32, (1 << 36) - 1),
                                    (655350, 2, 4, 123456789)]:
            m = parse_flac(build_flac(sr, ch, bits, total,
                                      title="T", artist="A"))
            assert (m["sample_rate"], m["channels"],
                    m["bits_per_sample"], m["total_samples"]) == \
                (sr, ch, bits, total)
            assert m["duration_ms"] == total * 1000 // sr
            assert m["title"] == "T" and m["artist"] == "A"

    def test_unknown_total_samples_is_null_duration(self):
        from zpdfspark.kernel.flac import build_flac, parse_flac
        m = parse_flac(build_flac(44100, 2, 16, 0))
        assert m["total_samples"] == 0 and m["duration_ms"] is None

    def test_tagless_and_padded(self):
        from zpdfspark.kernel.flac import build_flac, parse_flac
        m = parse_flac(build_flac(22050, 1, 16, 1000, padding=99))
        assert m["title"] is None and m["artist"] is None
        assert m["n_blocks"] == 2  # STREAMINFO + PADDING

    def test_structural_errors_raise(self):
        import pytest
        from zpdfspark.kernel.flac import FlacError, build_flac, \
            parse_flac
        good = build_flac(44100, 2, 16, 44100, title="x")
        with pytest.raises(FlacError):
            parse_flac(b"")
        with pytest.raises(FlacError):
            parse_flac(b"fLaX" + good[4:])
        with pytest.raises(FlacError):
            parse_flac(good[:20])  # truncated STREAMINFO
        # first block must be STREAMINFO: retype block 0 to padding
        bad = bytearray(good)
        bad[4] = 0x01
        with pytest.raises(FlacError):
            parse_flac(bytes(bad))

    def test_hostile_mutations_raise_flacerror_only(self):
        import random
        from zpdfspark.kernel.flac import FlacError, build_flac, \
            parse_flac
        base = build_flac(48000, 2, 24, 96000, title="Song",
                          artist="Band", padding=31)
        rng = random.Random(11)
        for _ in range(500):
            b = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            raw = bytes(b[:rng.randrange(4, len(b))]
                        if rng.random() < 0.3 else b)
            try:
                parse_flac(raw)
            except FlacError:
                pass  # the only acceptable failure mode


class TestOgg:
    """kernel/ogg.py (round 5): CRC-verified page walk, lacing/packet
    reassembly incl. cross-page continuation, Vorbis + Opus id and
    comment headers."""

    def test_crc_matches_independent_bitwise_implementation(self):
        from zpdfspark.kernel.ogg import _ogg_crc

        def bitwise(data):
            crc = 0
            for byte in data:
                crc ^= byte << 24
                for _ in range(8):
                    crc = ((crc << 1) ^ 0x04C11DB7
                           if crc & 0x80000000 else crc << 1) & 0xFFFFFFFF
            return crc

        for v in [b"", b"123456789", b"OggS\x00" * 7, bytes(range(256))]:
            assert _ogg_crc(v) == bitwise(v)

    def test_vorbis_roundtrip(self):
        from zpdfspark.kernel.ogg import build_ogg, parse_ogg
        m = parse_ogg(build_ogg("vorbis", 44100, 2, 88200, title="T1",
                                artist="A1", n_data_pages=3))
        assert m["codec"] == "vorbis"
        assert (m["channels"], m["sample_rate"]) == (2, 44100)
        assert m["duration_ms"] == 2000
        assert m["n_pages"] == 5  # id + comment + 3 data
        assert m["title"] == "T1" and m["artist"] == "A1"

    def test_opus_roundtrip_preskip(self):
        from zpdfspark.kernel.ogg import build_ogg, parse_ogg
        m = parse_ogg(build_ogg("opus", 16000, 1, 32000, title="Pod",
                                pre_skip=312))
        assert m["codec"] == "opus"
        assert m["sample_rate"] == 16000 and m["pre_skip"] == 312
        # granules tick at 48 kHz; pre-skip excluded
        assert m["duration_ms"] == 2000

    def test_packet_continuation_across_pages(self):
        """A packet whose lacing ends in 255 continues on the next
        page (htype 0x01) — the reassembly corner where naive
        walkers break."""
        import struct
        from zpdfspark.kernel.ogg import _ogg_crc, build_page, parse_ogg

        ident = b"\x01vorbis" + struct.pack("<IBI", 0, 2, 48000) + \
            struct.pack("<iii", -1, 0, -1) + b"\xb8\x01"
        big = bytes((i * 7) & 0xFF for i in range(510))  # 255+255+0

        def page(htype, granule, seq, table, body):
            head = b"OggS" + struct.pack(
                "<BBqIIIB", 0, htype, granule, 5, seq, 0,
                len(table)) + table
            crc = _ogg_crc(head + body)
            return head[:22] + struct.pack("<I", crc) + head[26:] + body

        pages = (build_page([ident], 0, 5, 0, htype=0x02) +
                 page(0, -1, 1, b"\xff", big[:255]) +
                 page(0x01 | 0x04, 48000, 2, b"\xff\x00", big[255:]))
        m = parse_ogg(pages)
        assert m["codec"] == "vorbis"
        assert m["n_packets"] == 2  # ident + the 510-byte packet
        assert m["n_pages"] == 3
        assert m["duration_ms"] == 1000

    def test_crc_corruption_raises(self):
        import pytest
        from zpdfspark.kernel.ogg import OggError, build_ogg, parse_ogg
        raw = bytearray(build_ogg("vorbis", 44100, 2, 44100))
        raw[-1] ^= 0xFF  # flip a payload byte: page CRC must catch it
        with pytest.raises(OggError):
            parse_ogg(bytes(raw))

    def test_hostile_mutations_raise_oggerror_only(self):
        import random
        from zpdfspark.kernel.ogg import OggError, build_ogg, parse_ogg
        base = build_ogg("opus", 48000, 2, 96000, title="x",
                         artist="y", n_data_pages=2)
        rng = random.Random(12)
        for _ in range(500):
            b = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            raw = bytes(b[:rng.randrange(4, len(b))]
                        if rng.random() < 0.3 else b)
            try:
                parse_ogg(raw)
            except OggError:
                pass  # the only acceptable failure mode


class TestTiff:
    """kernel/tiff.py (round 5): standalone-TIFF IFD walk — both byte
    orders, heap vs inline values, multi-page chains, pointer loops."""

    def test_roundtrip_both_endians(self):
        from zpdfspark.kernel.tiff import build_tiff, parse_tiff
        for e, name in (("<", "little"), (">", "big")):
            m = parse_tiff(build_tiff(640, 480, bits=16, compression=5,
                                      description="long description "
                                      "overflowing four bytes",
                                      endian=e))
            assert (m["width"], m["height"], m["bits_per_sample"]) == \
                (640, 480, 16)
            assert m["compression"] == "lzw"
            assert m["description"].startswith("long description")
            assert m["endian"] == name

    def test_multipage_chain_counts_pages(self):
        from zpdfspark.kernel.tiff import build_tiff, parse_tiff
        m = parse_tiff(build_tiff(10, 10, n_pages=5))
        assert m["n_pages"] == 5

    def test_pointer_loop_raises(self):
        import pytest
        from zpdfspark.kernel.tiff import TiffError, build_tiff, \
            parse_tiff
        raw = bytearray(build_tiff(10, 10))
        # point the next-IFD pointer back at IFD0 (offset 8)
        n = raw[8] | (raw[9] << 8)
        off = 8 + 2 + 12 * n
        raw[off:off + 4] = (8).to_bytes(4, "little")
        with pytest.raises(TiffError):
            parse_tiff(bytes(raw))

    def test_structural_errors_raise(self):
        import pytest
        from zpdfspark.kernel.tiff import TiffError, parse_tiff
        for bad in (b"", b"II\x2b\x00" + bytes(8), b"XX" + bytes(8)):
            with pytest.raises(TiffError):
                parse_tiff(bad)

    def test_multi_valued_dimension_raises(self):
        """A width or height entry with a count above 1 is not a
        dimension: TiffError, not a tuple (which broke decode_tiff's
        arithmetic with a TypeError and tiff_meta's int column)."""
        import pytest
        from zpdfspark.kernel.tiff import TiffError, build_tiff, \
            decode_tiff, parse_tiff
        for tag in (0x0100, 0x0101):
            raw = bytearray(build_tiff(10, 10))
            n = raw[8] | (raw[9] << 8)
            e = next(8 + 2 + 12 * i for i in range(n)
                     if raw[10 + 12 * i] | (raw[11 + 12 * i] << 8) == tag)
            raw[e + 4:e + 8] = (2).to_bytes(4, "little")  # count 2
            raw[e + 8:e + 12] = (8).to_bytes(4, "little")  # values at 8
            for fn in (parse_tiff, decode_tiff):
                with pytest.raises(TiffError):
                    fn(bytes(raw))

    def test_hostile_mutations_raise_tifferror_only(self):
        import random
        from zpdfspark.kernel.tiff import TiffError, build_tiff, \
            parse_tiff
        base = build_tiff(99, 77, bits=16, compression=32773,
                          description="Scan", n_pages=3)
        rng = random.Random(13)
        for _ in range(500):
            b = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            raw = bytes(b[:rng.randrange(4, len(b))]
                        if rng.random() < 0.3 else b)
            try:
                parse_tiff(raw)
            except TiffError:
                pass  # the only acceptable failure mode


class TestWarcCdx:
    """kernel/warc.py round 5: SURT urlkeys, CDX timestamps, and the
    (offset, length) member spans a wayback range request replays."""

    def test_surt_canonicalization_battery(self):
        from zpdfspark.kernel.warc import surt
        cases = {
            "https://www.Example.COM/Page?b=2&A=1":
                "com,example)/page?a=1&b=2",
            "http://example.com": "com,example)/",
            "http://example.com:80/x": "com,example)/x",
            "https://example.com:443/x": "com,example)/x",
            "http://example.com:8080/x": "com,example:8080)/x",
            "https://user:pw@sub.host.org/p#frag": "org,host,sub)/p",
            "ftp://a.b.c.d/e/f": "d,c,b,a)/e/f",
            "no-scheme.example/path": "example,no-scheme)/path",
        }
        for url, want in cases.items():
            assert surt(url) == want, url

    def test_cdx_timestamp(self):
        from zpdfspark.kernel.warc import cdx_timestamp
        assert cdx_timestamp("2025-01-02T03:04:05Z") == "20250102030405"
        assert cdx_timestamp("2025-01-02T03:04:05.123Z") == \
            "20250102030405"

    def test_spans_slice_replays_single_record(self):
        """file[offset : offset+length] must decompress to exactly the
        record — the property CDX offsets exist for."""
        import gzip

        from zpdfspark.kernel.warc import (build_warc,
                                           iter_warc_records_spans)
        recs = [(f"https://h{i}.test/p", "2025-01-01T00:00:00Z",
                 b"payload-%d" % i, "text/plain") for i in range(5)]
        raw = build_warc(recs, per_record_gzip=True)
        seen = 0
        for rec, off, ln in iter_warc_records_spans(raw):
            member = raw[off:off + ln]
            inner = gzip.decompress(member)
            assert inner.startswith(b"WARC/1.0\r\n")
            assert rec.target_uri.encode() in inner
            assert rec.body in inner
            seen += 1
        assert seen == 5
        # spans tile the file exactly: sorted, non-overlapping, total
        spans = sorted((o, l) for _, o, l in iter_warc_records_spans(raw))
        assert spans[0][0] == 0
        assert sum(l for _, l in spans) == len(raw)

    def test_plain_stream_spans(self):
        from zpdfspark.kernel.warc import (build_warc,
                                           iter_warc_records_spans)
        raw = build_warc(
            [("https://a.test/", "2025-01-01T00:00:00Z", b"x", "t/p"),
             ("https://b.test/", "2025-01-01T00:00:01Z", b"yy", "t/p")],
            per_record_gzip=False)
        got = list(iter_warc_records_spans(raw))
        assert len(got) == 2
        for rec, off, ln in got:
            assert raw[off:off + ln].startswith(b"WARC/1.0\r\n")
            assert rec.body in raw[off:off + ln]

    def test_spans_agree_with_plain_iterator(self):
        """Both walks yield the records build_warc wrote, for per-record
        gzip members, a plain stream and a plain stream gzipped as
        members cut mid-record."""
        import gzip

        from zpdfspark.kernel.warc import (build_warc, iter_warc_records,
                                           iter_warc_records_spans)
        recs = [("https://h.test/%d" % i, "2025-01-01T00:00:00Z",
                 b"b" * i, "text/plain") for i in range(8)]
        plain = build_warc(recs, per_record_gzip=False)
        split = b"".join(gzip.compress(plain[i:i + 50], mtime=0)
                         for i in range(0, len(plain), 50))
        want = [(u, body) for u, _d, body, _c in recs]
        for raw in (build_warc(recs), plain, split):
            a = [(r.target_uri, r.body) for r in iter_warc_records(raw)]
            b = [(r.target_uri, r.body)
                 for r, _, _ in iter_warc_records_spans(raw)]
            assert a == want and b == want


class TestTiffDecode:
    """kernel/tiff.py round-5 second half: REAL strip decode —
    1/8/16-bit grayscale, none/LZW/deflate/PackBits, horizontal
    differencing, both byte orders, pixel-exact against the shared
    page_pixels formula."""

    def test_roundtrip_matrix_pixel_exact(self):
        import numpy as np

        from zpdfspark.kernel.tiff import (build_tiff, decode_tiff,
                                           page_pixels)
        for bits in (1, 8, 16):
            for comp in (1, 5, 8, 32773):
                for endian in ("<", ">"):
                    for pred in ((1, 2) if bits == 8 else (1,)):
                        raw = build_tiff(37, 23, bits=bits,
                                         compression=comp, endian=endian,
                                         predictor=pred, n_pages=2)
                        w, h, ch, px = decode_tiff(raw)
                        assert (w, h, ch) == (37, 23, 1)
                        want = page_pixels(37, 23, bits)
                        if bits == 1:
                            want = (want * 255).astype(np.uint8)
                        assert px.dtype.kind == "u"
                        assert px.dtype.itemsize == (2 if bits == 16
                                                     else 1)
                        assert np.array_equal(px, want), (bits, comp,
                                                          endian, pred)

    def test_tiff_lzw_is_pdf_lzw_early_change(self):
        """TIFF's LZW must ride the PDF LZWDecode path with
        /EarlyChange 1: the fixture encoder's output decodes with
        early_change=1 and NOT (for width-boundary-crossing payloads)
        with early_change=0."""
        from zpdfspark.kernel.filters import decode_lzw
        from zpdfspark.kernel.tiff import _lzw_encode_tiff
        import random
        rng = random.Random(5)
        data = bytes(rng.randrange(256) for _ in range(3000))
        enc = _lzw_encode_tiff(data)
        assert decode_lzw(enc, early_change=1) == data
        assert decode_lzw(enc, early_change=0) != data

    def test_packbits_roundtrip_and_hostile(self):
        import random

        from zpdfspark.kernel.tiff import (TiffError, _packbits,
                                           _unpackbits)
        rng = random.Random(7)
        for _ in range(50):
            # runs + literals mixed
            data = b"".join(bytes([rng.randrange(4)]) * rng.randrange(1, 9)
                            for _ in range(rng.randrange(1, 40)))
            assert _unpackbits(_packbits(data), 1 << 20) == data
        import pytest
        with pytest.raises(TiffError):
            _unpackbits(b"\x05\x01", 1 << 20)  # literal overrun

    def test_unsupported_layouts_raise(self):
        import struct

        import pytest

        from zpdfspark.kernel.tiff import TiffError, build_tiff, \
            decode_tiff
        raw = bytearray(build_tiff(10, 10))
        # flip SamplesPerPixel (0x0115) to 3: multi-sample unsupported
        (n,) = struct.unpack("<H", raw[8:10])
        for k in range(n):
            e = 10 + 12 * k
            tag = struct.unpack("<H", raw[e:e + 2])[0]
            if tag == 0x0115:
                raw[e + 8] = 3
        with pytest.raises(TiffError):
            decode_tiff(bytes(raw))

    def test_decode_fuzz_raises_tifferror_only(self):
        import random

        from zpdfspark.kernel.tiff import TiffError, build_tiff, \
            decode_tiff
        base = build_tiff(20, 15, bits=8, compression=5, predictor=2)
        rng = random.Random(19)
        for _ in range(400):
            b = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            try:
                decode_tiff(bytes(b))
            except TiffError:
                pass  # the only acceptable failure mode


class TestBmp:
    """kernel/bmp.py (round 5): REAL BMP decode — 24-bit BGR, 8-bit
    palette, RLE8 incl. delta/absolute escapes, top-down rows —
    pixel-exact against the test-side encoder, hostile bytes raise
    BmpError only."""

    def test_24bit_roundtrip_both_orientations(self):
        import numpy as np

        from zpdfspark.kernel.bmp import decode_bmp, encode_bmp
        rng = np.random.RandomState(3)
        for w, h in ((1, 1), (3, 5), (17, 9), (64, 33)):
            px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
            for td in (False, True):
                got = decode_bmp(encode_bmp(px, 24, top_down=td))
                assert got[:3] == (w, h, 3)
                assert np.array_equal(got[3], px), (w, h, td)

    def test_8bit_palette_roundtrip(self):
        import numpy as np

        from zpdfspark.kernel.bmp import decode_bmp, encode_bmp
        rng = np.random.RandomState(5)
        for w, h in ((2, 2), (13, 7), (40, 21)):
            idx = rng.randint(0, 256, (h, w)).astype(np.uint8)
            for td in (False, True):
                wgt, hgt, ch, px = decode_bmp(
                    encode_bmp(idx, 8, top_down=td))
                assert (wgt, hgt, ch) == (w, h, 3)
                # identity grayscale palette: every channel == index
                for c in range(3):
                    assert np.array_equal(px[:, :, c], idx), (w, h, td)

    def test_rle8_roundtrip_runs(self):
        import numpy as np

        from zpdfspark.kernel.bmp import decode_bmp, encode_bmp
        rng = np.random.RandomState(11)
        for w, h in ((5, 3), (31, 17), (300, 4)):
            # run-heavy payload (RLE's home turf)
            idx = np.repeat(rng.randint(0, 6, (h, (w + 7) // 8)),
                            8, axis=1)[:, :w].astype(np.uint8)
            wgt, hgt, ch, px = decode_bmp(encode_bmp(idx, 8, rle=True))
            assert (wgt, hgt, ch) == (w, h, 3)
            assert np.array_equal(px[:, :, 0], idx)

    def test_rle8_escapes_hand_built(self):
        """Hand-assemble delta + absolute-mode escapes (the encoder
        never emits them) against the spec layout."""
        import struct

        import numpy as np

        from zpdfspark.kernel.bmp import decode_bmp
        w, h = 8, 3
        pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
        # bottom row: run of 4x7, absolute run [1,2,3] (padded), EOL
        # delta skips (2 right, 1 up) then run 2x9, end-of-bitmap
        body = (b"\x04\x07" + b"\x00\x03\x01\x02\x03\x00" + b"\x00\x00"
                + b"\x00\x02\x02\x01" + b"\x02\x09" + b"\x00\x01")
        data_off = 14 + 40 + len(pal)
        info = struct.pack("<IiihHIIiiII", 40, w, h, 1, 8, 1,
                           len(body), 2835, 2835, 256, 0)
        raw = (b"BM" + struct.pack("<IHHI", data_off + len(body), 0, 0,
                                   data_off) + info + pal + body)
        wgt, hgt, ch, px = decode_bmp(raw)
        assert (wgt, hgt, ch) == (w, h, 3)
        want = np.zeros((h, w), np.uint8)
        want[2, 0:4] = 7            # bottom row (stored first)
        want[2, 4:7] = [1, 2, 3]
        # EOL put us on storage row 1; delta dy=1 -> storage row 2,
        # which is the TOP output row (bottom-up order)
        want[0, 2:4] = 9
        assert np.array_equal(px[:, :, 0], want)

    def test_hostile_inputs_raise_bmperror_only(self):
        import random

        import numpy as np
        import pytest

        from zpdfspark.kernel.bmp import BmpError, decode_bmp, \
            encode_bmp
        for bad in (b"", b"BM", b"BM" + b"\x00" * 60,
                    b"NOPE" + b"\x00" * 64):
            with pytest.raises(BmpError):
                decode_bmp(bad)
        rng = random.Random(23)
        idx = (np.arange(15 * 11).reshape(11, 15) % 256).astype(np.uint8)
        for base in (encode_bmp(idx, 8, rle=True),
                     encode_bmp(np.stack([idx] * 3, axis=2), 24)):
            for _ in range(400):
                b = bytearray(base)
                for _ in range(rng.randint(1, 8)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
                try:
                    decode_bmp(bytes(b))
                except BmpError:
                    pass  # the only acceptable failure mode

    def test_truncated_pixel_data(self):
        import numpy as np
        import pytest

        from zpdfspark.kernel.bmp import BmpError, decode_bmp, \
            encode_bmp
        px = np.zeros((9, 9, 3), np.uint8)
        raw = encode_bmp(px, 24)
        with pytest.raises(BmpError):
            decode_bmp(raw[:-10])

    def test_sniffer_and_fixture_agree(self):
        from zpdfspark.fixtures import _sniff_media_kind, bmp_image
        from zpdfspark.kernel.bmp import decode_bmp
        from zpdfspark.spark.media import sniff_kind
        for i in range(12):
            raw, _ = bmp_image(i)
            assert _sniff_media_kind(raw) == "bmp"
            assert sniff_kind(raw) == "bmp"
            w, h, ch, _ = decode_bmp(raw)
            assert (w, h) == (18 + 3 * (i % 30), 12 + 2 * (i % 40))


class TestAvif:
    """kernel/mp4.py parse_avif (round 5): HEIF primary-item
    resolution — pitm -> ipma associations -> ipco's ispe/pixi/av1C;
    thumbnail items must never leak their dims; hostile bytes raise
    Mp4Error only."""

    def test_roundtrip_with_thumbnail(self):
        from zpdfspark.kernel.mp4 import encode_avif, parse_avif
        m = parse_avif(encode_avif(320, 200, thumb=(32, 20), depth=10,
                                   channels=3))
        assert m == {"brand": "avif", "width": 320, "height": 200,
                     "depth": 10, "channels": 3, "n_items": 2,
                     "codec": "av01"}

    def test_roundtrip_plain_and_monochrome(self):
        from zpdfspark.kernel.mp4 import encode_avif, parse_avif
        m = parse_avif(encode_avif(77, 55))
        assert (m["width"], m["height"], m["n_items"]) == (77, 55, 1)
        m = parse_avif(encode_avif(1000, 1, depth=12, channels=1))
        assert (m["depth"], m["channels"]) == (12, 1)

    def test_primary_item_wins_over_thumbnail_order(self):
        """Reorder so the thumbnail ispe comes FIRST in ipco: dims
        must still come from the primary item's association, proving
        resolution is via pitm/ipma and not first-ispe-wins."""
        import struct

        from zpdfspark.kernel.mp4 import encode_avif, parse_avif
        raw = bytearray(encode_avif(640, 480, thumb=(64, 48)))
        # find both ispe boxes and swap their (w, h) payloads while
        # also swapping the ipma indices is NOT done -> if the parser
        # used first-ispe-wins it would now report the thumb dims
        offs = []
        pos = raw.find(b"ispe")
        while pos != -1:
            offs.append(pos)
            pos = raw.find(b"ispe", pos + 1)
        assert len(offs) == 2
        a, b = offs
        pa, pb = raw[a + 8:a + 16], raw[b + 8:b + 16]
        raw[a + 8:a + 16], raw[b + 8:b + 16] = pb, pa
        m = parse_avif(bytes(raw))
        # property index 1 (primary's association) now holds the
        # swapped-in thumb payload
        assert (m["width"], m["height"]) == (64, 48)
        assert struct.unpack(">II", pa) == (640, 480)

    def test_non_avif_brand_rejected(self):
        import pytest

        from zpdfspark.kernel.mp4 import Mp4Error, encode_mp4, \
            parse_avif
        with pytest.raises(Mp4Error):
            parse_avif(encode_mp4(1000, 1000, [(640, 480, b"avc1")]))

    def test_hostile_mutations_raise_mp4error_only(self):
        import random

        from zpdfspark.kernel.mp4 import Mp4Error, encode_avif, \
            parse_avif
        base = encode_avif(100, 80, thumb=(10, 8))
        rng = random.Random(31)
        for _ in range(500):
            b = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            try:
                parse_avif(bytes(b))
            except Mp4Error:
                pass  # the only acceptable failure mode

    def test_sniffer_routes_avif_not_mp4(self):
        from zpdfspark.fixtures import _sniff_media_kind, avif_image
        from zpdfspark.kernel.mp4 import parse_avif
        from zpdfspark.spark.media import sniff_kind
        for i in range(10):
            raw, _ = avif_image(i)
            assert _sniff_media_kind(raw) == "avif"
            assert sniff_kind(raw) == "avif"
            m = parse_avif(raw)
            assert (m["width"], m["height"]) == (120 + 13 * (i % 25),
                                                 90 + 7 * (i % 33))


class TestHeic:
    """HEIC = HEVC-coded HEIF through the same parse_avif walk."""

    def test_roundtrip_and_codec(self):
        from zpdfspark.kernel.mp4 import encode_avif, parse_avif
        m = parse_avif(encode_avif(480, 360, thumb=(48, 36),
                                   brand=b"heic", codec=b"hvcC"))
        assert (m["brand"], m["width"], m["height"], m["codec"]) == \
            ("heic", 480, 360, "hvc1")
        m = parse_avif(encode_avif(10, 10, brand=b"heix",
                                   codec=b"hvcC"))
        assert (m["brand"], m["codec"]) == ("heix", "hvc1")

    def test_sniffer_routes_heic(self):
        from zpdfspark.fixtures import _sniff_media_kind, heic_image
        from zpdfspark.kernel.mp4 import parse_avif
        from zpdfspark.spark.media import sniff_kind
        for i in range(8):
            raw, _ = heic_image(i)
            assert _sniff_media_kind(raw) == "heic"
            assert sniff_kind(raw) == "heic"
            m = parse_avif(raw)
            assert (m["width"], m["height"]) == (200 + 11 * (i % 29),
                                                 150 + 9 * (i % 31))
            assert m["codec"] == "hvc1"


class TestPngDepths:
    """Round 5: the full legal bit-depth matrix (spec table 11.1) —
    found by sweeping the decoder over the REAL PNGs in the OS image
    (a depth-2 palette favicon failed). PNGs here are hand-built with
    INDEPENDENT bit packing (int-shift accumulation, not the decoder's
    numpy unpackbits path)."""

    @staticmethod
    def _chunk(ctype, data):
        import struct
        import zlib
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    def _build(self, w, h, depth, color_type, rows_vals, palette=None):
        """rows_vals: h lists of per-pixel sample tuples (or ints for
        1-channel). Packs each row MSB-first independently."""
        import struct
        import zlib
        ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
        scan = b""
        for row in rows_vals:
            acc = 0
            nbits = 0
            out = bytearray()
            flat = []
            for v in row:
                flat.extend(v if isinstance(v, tuple) else (v,))
            for v in flat:
                acc = (acc << depth) | v
                nbits += depth
                while nbits >= 8:
                    nbits -= 8
                    out.append((acc >> nbits) & 0xFF)
            if nbits:
                out.append((acc << (8 - nbits)) & 0xFF)
            scan += b"\x00" + bytes(out)
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, 0)
        body = self._chunk(b"IHDR", ihdr)
        if palette is not None:
            body += self._chunk(b"PLTE", bytes(palette))
        body += self._chunk(b"IDAT", zlib.compress(scan))
        body += self._chunk(b"IEND", b"")
        return b"\x89PNG\r\n\x1a\n" + body

    def test_gray_sub_byte_depths(self):
        from zpdfspark.kernel import png as P
        for depth in (1, 2, 4):
            mx = (1 << depth) - 1
            vals = [[(x * 7 + y) % (mx + 1) for x in range(5)]
                    for y in range(3)]
            raw = self._build(5, 3, depth, 0, vals)
            w, h, c, px = P.decode_png(raw)
            assert (w, h, c) == (5, 3, 1)
            scale = 255 // mx
            for y in range(3):
                for x in range(5):
                    assert px[y, x, 0] == vals[y][x] * scale

    def test_palette_depth_2(self):
        from zpdfspark.kernel import png as P
        pal = [255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9]
        vals = [[0, 1, 2, 3, 1], [3, 2, 1, 0, 2]]
        raw = self._build(5, 2, 2, 3, vals, palette=pal)
        w, h, c, px = P.decode_png(raw)
        assert (w, h, c) == (5, 2, 3)
        for y in range(2):
            for x in range(5):
                i = vals[y][x]
                assert tuple(px[y, x]) == tuple(pal[3 * i: 3 * i + 3])

    def test_gray_16_bit_keeps_high_byte(self):
        import struct
        import zlib
        from zpdfspark.kernel import png as P
        samples = [[0x0102, 0xFFFE, 0x8000], [0x0000, 0x7F01, 0x00FF]]
        scan = b""
        for row in samples:
            scan += b"\x00" + b"".join(struct.pack(">H", v) for v in row)
        ihdr = struct.pack(">IIBBBBB", 3, 2, 16, 0, 0, 0, 0)
        raw = (b"\x89PNG\r\n\x1a\n" + self._chunk(b"IHDR", ihdr)
               + self._chunk(b"IDAT", zlib.compress(scan))
               + self._chunk(b"IEND", b""))
        w, h, c, px = P.decode_png(raw)
        assert (w, h, c) == (3, 2, 1)
        assert [int(v) for v in px[0, :, 0]] == [0x01, 0xFF, 0x80]
        assert [int(v) for v in px[1, :, 0]] == [0x00, 0x7F, 0x00]

    def test_rgb_16_bit(self):
        import struct
        import zlib
        from zpdfspark.kernel import png as P
        row = [(0x1100, 0x2200, 0x3300), (0xAA00, 0xBB00, 0xCC00)]
        scan = b"\x00" + b"".join(
            struct.pack(">HHH", *v) for v in row)
        ihdr = struct.pack(">IIBBBBB", 2, 1, 16, 2, 0, 0, 0)
        raw = (b"\x89PNG\r\n\x1a\n" + self._chunk(b"IHDR", ihdr)
               + self._chunk(b"IDAT", zlib.compress(scan))
               + self._chunk(b"IEND", b""))
        w, h, c, px = P.decode_png(raw)
        assert (w, h, c) == (2, 1, 3)
        assert tuple(px[0, 0]) == (0x11, 0x22, 0x33)
        assert tuple(px[0, 1]) == (0xAA, 0xBB, 0xCC)

    def test_illegal_depth_combinations_rejected(self):
        import pytest
        from zpdfspark.kernel import png as P
        for depth, ct in ((2, 2), (4, 6), (16, 3), (3, 0), (32, 0)):
            vals = [[0]]
            raw = self._build(1, 1, depth, ct, vals,
                              palette=[0, 0, 0] if ct == 3 else None)
            with pytest.raises(P.PngError):
                P.decode_png(raw)

    def test_real_system_png_sweep(self):
        """Every real PNG shipped in the OS image must decode — the
        independent-producer sweep that found the depth-2 gap."""
        import glob
        import os
        from zpdfspark.kernel import png as P
        paths = glob.glob("/usr/share/**/*.png", recursive=True)[:300]
        if not paths:
            import pytest
            pytest.skip("no system PNGs")
        for p in paths:
            raw = open(p, "rb").read()
            w, h, c, px = P.decode_png(raw)
            assert px.shape == (h, w, c) and w > 0 and h > 0


class TestZipArc:
    """kernel/ziparc.py (round 5): from-scratch ZIP central-directory
    reader vs STDLIB zipfile as the independent writer — genuine
    two-engine round-trips; hostile archives raise ZipError only."""

    def _build(self, members, method):
        import io
        import zipfile

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", method) as z:
            for name, data in members:
                z.writestr(name, data)
        return buf.getvalue()

    def test_roundtrip_stored_and_deflated(self):
        import random
        import zipfile

        from zpdfspark.kernel.ziparc import parse_zip, zip_names

        rng = random.Random(7)
        members = [
            ("a.txt", b"hello world " * 200),
            ("dir/nested/b.bin", bytes(rng.randrange(256)
                                       for _ in range(3000))),
            ("empty", b""),
            ("utf8/näme.txt", "schön".encode()),
        ]
        for method in (zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED):
            raw = self._build(members, method)
            got = parse_zip(raw)
            assert got == dict(members)
            assert zip_names(raw) == [n for n, _ in members]
            # selective read decompresses only the wanted member
            assert parse_zip(raw, want={"empty"}) == {"empty": b""}

    def test_crc_and_truncation_rejected(self):
        import zipfile

        import pytest

        from zpdfspark.kernel.ziparc import ZipError, parse_zip

        raw = self._build([("x", bytes(range(256)) * 4)],
                          zipfile.ZIP_STORED)
        bad = bytearray(raw)
        bad[raw.find(bytes(range(256)))] ^= 0xFF
        with pytest.raises(ZipError, match="CRC"):
            parse_zip(bytes(bad))
        with pytest.raises(ZipError):
            parse_zip(raw[:-4])

    def test_caps_and_unsupported(self):
        import struct
        import zipfile

        import pytest

        from zpdfspark.kernel.ziparc import ZipError, parse_zip

        raw = self._build([("x", b"data")], zipfile.ZIP_DEFLATED)
        # flip the EOCD entry counts (both disks) to the zip64 sentinel
        eocd = raw.rfind(b"PK\x05\x06")
        z64 = (raw[:eocd + 8] + struct.pack("<HH", 0xFFFF, 0xFFFF)
               + raw[eocd + 12:])
        with pytest.raises(ZipError, match="zip64"):
            parse_zip(z64)
        # encrypted member flag
        enc = bytearray(raw)
        cd = raw.find(b"PK\x01\x02")
        enc[cd + 8] |= 0x1
        with pytest.raises(ZipError, match="encrypted"):
            parse_zip(bytes(enc))

    def test_mutation_fuzz_ziperror_only(self):
        import random
        import zipfile

        from zpdfspark.kernel.ziparc import ZipError, parse_zip

        base = self._build(
            [("word/document.xml", b"<w:p><w:r><w:t>x</w:t></w:r></w:p>"
              * 40), ("other", b"y" * 500)], zipfile.ZIP_DEFLATED)
        rng = random.Random(23)
        for _ in range(600):
            b = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            try:
                parse_zip(bytes(b))
            except ZipError:
                pass  # the only acceptable failure mode


class TestDocx:
    """kernel/docx.py (round 5): WordprocessingML text extraction over
    the from-scratch container walk; generator truth and the
    independent stdlib-side re-read agree across every rotation."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import _docx_expected, docx_doc, docx_plan
        from zpdfspark.kernel.docx import is_docx, parse_docx

        for i in range(30):
            blob, text = docx_doc(i)
            plan = docx_plan(i)
            assert text == plan["text"]
            assert is_docx(blob)
            m = parse_docx(blob)
            assert m["text"] == plan["text"], i
            assert m["n_paragraphs"] == len(plan["paras"]), i
            assert m["title"] == plan["title"], i
            assert m["creator"] == plan["creator"], i
            np_, ne, title, creator = _docx_expected(blob)
            assert (np_, title, creator) == (
                m["n_paragraphs"], m["title"], m["creator"]), i
            assert ne == m["n_entries"], i

    def test_extract_any_dispatch(self):
        from zpdfspark.fixtures import docx_doc
        from zpdfspark.kernel.htmltext import extract_any

        blob, text = docx_doc(3)
        for mode in ("accuracy", "fast"):
            got, kind, doc = extract_any(blob, mode)
            assert kind == "docx" and doc is None
            assert got == text

    def test_entities_tabs_breaks_preserve(self):
        """Hand-authored WordprocessingML exercising the general
        parser beyond the generator's shapes: numeric decimal
        entities, surrogate-range rejection, w:cr, split runs."""
        import io
        import zipfile

        from zpdfspark.kernel.docx import parse_docx

        xml = ("<w:document><w:body>"
               "<w:p><w:r><w:t>A&#65;&#x42;</w:t><w:cr/>"
               "<w:t xml:space=\"preserve\"> tail </w:t></w:r></w:p>"
               "<w:p/>"
               "<w:p><w:r><w:t>bad &#xD800; cp</w:t></w:r></w:p>"
               "</w:body></w:document>")
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("word/document.xml", xml)
        m = parse_docx(buf.getvalue())
        assert m["text"] == "AAB\n tail \n\nbad � cp"
        assert m["n_paragraphs"] == 3
        assert m["title"] is None and m["creator"] is None

    def test_not_docx(self):
        import io
        import zipfile

        import pytest

        from zpdfspark.kernel.docx import DocxError, is_docx, parse_docx

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("mimetype", "application/epub+zip")
        raw = buf.getvalue()
        assert not is_docx(raw)
        with pytest.raises(DocxError, match="document.xml"):
            parse_docx(raw)
        assert not is_docx(b"PK\x03\x04 garbage")
        assert not is_docx(b"%PDF-1.4")

    def test_mutation_fuzz_tolerant_extraction(self):
        """extract_any over mutated docx bytes must never raise — the
        tolerant-open posture the PDF path has (broken package ->
        empty text), since one hostile blob must not kill a task."""
        import random

        from zpdfspark.fixtures import docx_doc
        from zpdfspark.kernel.htmltext import extract_any

        base = docx_doc(5)[0]
        rng = random.Random(31)
        for _ in range(400):
            b = bytearray(base)
            for _ in range(rng.randint(1, 10)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            text, kind, _ = extract_any(bytes(b))
            assert isinstance(text, str)


class TestEpub:
    """kernel/epub.py (round 5): OCF/OPF/spine chain over the
    from-scratch container walk; generator truth and the independent
    stdlib-side re-read agree across every rotation."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import _epub_expected, epub_doc, epub_plan
        from zpdfspark.kernel.epub import is_epub, parse_epub

        for i in range(30):
            blob, text = epub_doc(i)
            plan = epub_plan(i)
            assert text == plan["text"]
            assert is_epub(blob)
            m = parse_epub(blob)
            assert m["text"] == plan["text"], i
            assert m["n_chapters"] == len(plan["spine_order"]), i
            assert m["title"] == plan["title"], i
            assert m["creator"] == plan["creator"], i
            nc, ne, title, creator = _epub_expected(blob)
            assert (nc, ne, title, creator) == (
                m["n_chapters"], m["n_entries"], m["title"],
                m["creator"]), i

    def test_spine_order_and_manifest_only_exclusion(self):
        """i=8: 3 chapters, spine = zip order; i=13: 3 chapters with
        the spine REVERSED vs zip member order (extraction must follow
        the spine, not the directory); notes.xhtml is manifest-only
        and must never contribute text."""
        from zpdfspark.fixtures import epub_doc, epub_plan
        from zpdfspark.kernel.epub import parse_epub

        for i, want_rev in ((2, False), (8, True)):
            plan = epub_plan(i)
            assert len(plan["chapters"]) == 3, i
            want = (list(reversed(range(3))) if want_rev
                    else list(range(3)))
            assert plan["spine_order"] == want, i
            m = parse_epub(epub_doc(i)[0])
            pages = m["text"].split("\x0c")
            assert pages[0].startswith(
                "Chapter 3" if want_rev else "Chapter 1"), i
            assert "manifest-only" not in m["text"]

    def test_extract_any_dispatch(self):
        from zpdfspark.fixtures import epub_doc
        from zpdfspark.kernel.htmltext import extract_any

        blob, text = epub_doc(4)
        got, kind, doc = extract_any(blob)
        assert kind == "epub" and doc is None and got == text

    def test_mutation_fuzz_tolerant_extraction(self):
        import random

        from zpdfspark.fixtures import epub_doc
        from zpdfspark.kernel.htmltext import extract_any

        base = epub_doc(7)[0]
        rng = random.Random(41)
        for _ in range(400):
            b = bytearray(base)
            for _ in range(rng.randint(1, 10)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            text, kind, _ = extract_any(bytes(b))
            assert isinstance(text, str)


class TestZipRealProducers:
    """Real-data differential for the container walk: the Spark
    distribution ships ~300 .jar files — ZIP archives emitted by a
    REAL independent producer (the JDK's zip writer) with features the
    fixtures never exercise (directory entries, data descriptors,
    unicode extra fields). The from-scratch reader must walk every
    one (or reject honestly: zip64/entry-cap) and must byte-equal
    stdlib zipfile member-for-member on a sample."""

    def _jars(self):
        import glob
        import os

        import pyspark
        jars = sorted(
            glob.glob(os.path.join(os.path.dirname(pyspark.__file__),
                                   "jars", "*.jar")),
            key=os.path.getsize)
        if len(jars) < 10:
            import pytest
            pytest.skip("no jar corpus on this host")
        return jars

    def test_names_walk_every_jar(self):
        from zpdfspark.kernel.ziparc import ZipError, zip_names

        jars = self._jars()
        hard_fail = []
        honest = 0
        for p in jars:
            raw = open(p, "rb").read()
            try:
                assert len(zip_names(raw)) > 0
            except ZipError as e:
                # the only acceptable rejections are the documented
                # honest ones
                if "zip64" in str(e) or "entries > cap" in str(e):
                    honest += 1
                else:
                    hard_fail.append((p, str(e)))
        assert not hard_fail, hard_fail
        assert honest <= len(jars) // 20  # >95% must walk clean

    def test_member_bytes_equal_stdlib_on_sample(self):
        import zipfile

        from zpdfspark.kernel.ziparc import ZipError, parse_zip

        jars = self._jars()
        sample = jars[:3] + jars[len(jars) // 2:len(jars) // 2 + 2]
        for p in sample:
            raw = open(p, "rb").read()
            try:
                mine = parse_zip(raw)
            except ZipError:
                continue  # honest rejection path covered above
            zf = zipfile.ZipFile(p)
            theirs = {i.filename: zf.read(i.filename)
                      for i in zf.infolist() if not i.is_dir()}
            got = {k: v for k, v in mine.items() if not k.endswith("/")}
            assert got == theirs, p


class TestXlsx:
    """kernel/xlsx.py (round 5): workbook/rels/sharedStrings chain
    over the from-scratch container walk."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import _xlsx_expected, xlsx_doc, xlsx_plan
        from zpdfspark.kernel.xlsx import is_xlsx, parse_xlsx

        for i in range(24):
            blob, text = xlsx_doc(i)
            plan = xlsx_plan(i)
            assert text == plan["text"]
            assert is_xlsx(blob)
            m = parse_xlsx(blob)
            assert m["text"] == plan["text"], i
            assert m["n_sheets"] == len(plan["sheets"]), i
            assert m["n_cells"] == plan["n_cells"], i
            assert m["title"] == plan["title"], i
            assert m["sheet_names"] == [n for n, _ in plan["sheets"]], i
            assert (_xlsx_expected(blob) ==
                    (m["n_sheets"], m["n_cells"], m["n_entries"],
                     m["title"], m["sheet_names"])), i

    def test_rels_indirection_and_cell_kinds(self):
        """i=1: 2 sheets whose rel ids are REVERSED vs sheet order —
        resolution must go through workbook.xml.rels; shared strings
        (incl. multi-run rich text), numeric <v>, inlineStr runs and
        self-closing empty cells all land in the right grid slots."""
        from zpdfspark.fixtures import xlsx_doc, xlsx_plan
        from zpdfspark.kernel.xlsx import parse_xlsx

        plan = xlsx_plan(1)
        assert len(plan["sheets"]) == 2
        m = parse_xlsx(xlsx_doc(1)[0])
        sheets = m["text"].split("\x0c")
        assert sheets[0].startswith("Header & 0\tCount\t")
        assert "inline 1" in sheets[1]
        assert m["text"] == plan["text"]

    def test_extract_any_dispatch_and_fuzz(self):
        import random

        from zpdfspark.fixtures import xlsx_doc
        from zpdfspark.kernel.htmltext import extract_any

        blob, text = xlsx_doc(6)
        got, kind, doc = extract_any(blob)
        assert kind == "xlsx" and doc is None and got == text
        rng = random.Random(53)
        for _ in range(300):
            b = bytearray(blob)
            for _ in range(rng.randint(1, 10)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            t, _, _ = extract_any(bytes(b))
            assert isinstance(t, str)


class TestPptx:
    """kernel/pptx.py (round 5): presentation/rels/slide chain over
    the from-scratch container walk — the OOXML trio's third leg."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import _pptx_expected, pptx_doc, pptx_plan
        from zpdfspark.kernel.pptx import is_pptx, parse_pptx

        for i in range(24):
            blob, text = pptx_doc(i)
            plan = pptx_plan(i)
            assert text == plan["text"]
            assert is_pptx(blob)
            m = parse_pptx(blob)
            assert m["text"] == plan["text"], i
            assert m["n_slides"] == len(plan["slides"]), i
            assert m["n_shapes"] == plan["n_shapes"], i
            assert m["title"] == plan["title"], i
            assert (_pptx_expected(blob) ==
                    (m["n_slides"], m["n_shapes"], m["n_entries"],
                     m["title"])), i

    def test_rels_indirection_and_breaks(self):
        """i=2: 3 slides whose rel ids are REVERSED vs deck order —
        resolution must go through presentation.xml.rels (slide text
        must come out in sldIdLst order, not zip-member or rel-id
        order); multi-run rich paragraphs, the self-closing <a:p/>
        empty line on slide 2 and the <a:br/> soft break on slide 3
        all land in the right positions."""
        from zpdfspark.fixtures import pptx_doc, pptx_plan
        from zpdfspark.kernel.pptx import parse_pptx

        plan = pptx_plan(2)
        assert len(plan["slides"]) == 3
        m = parse_pptx(pptx_doc(2)[0])
        slides = m["text"].split("\x0c")
        assert slides[0].startswith("Title 0 & deck 2")
        assert slides[1].startswith("Title 1 & deck 2")
        assert slides[1].endswith("\n")          # empty <a:p/> line
        assert "line a 2\nline b" in slides[2]   # <a:br/> soft break
        assert m["text"] == plan["text"]

    def test_extract_any_dispatch_and_fuzz(self):
        import random

        from zpdfspark.fixtures import pptx_doc
        from zpdfspark.kernel.htmltext import extract_any

        blob, text = pptx_doc(6)
        got, kind, doc = extract_any(blob)
        assert kind == "pptx" and doc is None and got == text
        rng = random.Random(59)
        for _ in range(300):
            b = bytearray(blob)
            for _ in range(rng.randint(1, 10)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            t, _, _ = extract_any(bytes(b))
            assert isinstance(t, str)


class TestRtf:
    """kernel/rtf.py (round 5): from-scratch RTF control-word
    tokenizer — codepage escapes, \\uN/\\uc fallback skipping,
    destination groups."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import _rtf_expected, rtf_doc, rtf_plan
        from zpdfspark.kernel.rtf import is_rtf, parse_rtf

        for i in range(40):
            blob, text = rtf_doc(i)
            plan = rtf_plan(i)
            assert text == plan["text"]
            assert is_rtf(blob)
            m = parse_rtf(blob)
            assert m["text"] == plan["text"], i
            assert m["n_paragraphs"] == plan["n_pars"], i
            assert m["title"] == plan["title"], i
            assert _rtf_expected(blob) == (m["n_paragraphs"],
                                           m["title"]), i

    def test_uc_fallback_skipping(self):
        """The classic interop trap: \\ucN sets how many fallback
        chars follow each \\uN; readers that ignore it double every
        non-ASCII char. Also: uc is GROUP-SCOPED (restored on })."""
        from zpdfspark.kernel.rtf import parse_rtf

        # uc1 (default): one '?' fallback swallowed (8212 = em dash)
        assert parse_rtf(rb"{\rtf1 a\u8212?b}")["text"] == "a—b"
        # uc2: two fallback chars swallowed
        assert parse_rtf(rb"{\rtf1\uc2 a\u8212??b}")["text"] == "a—b"
        # uc0: no fallback at all
        assert parse_rtf(rb"{\rtf1\uc0 a\u8212b}")["text"] == "a—b"
        # negative \uN values wrap mod 65536 (spec: signed 16-bit)
        assert (parse_rtf(rb"{\rtf1\uc0 \u-10179}")["text"]
                == chr(65536 - 10179))
        # group scope: inner \uc2 must not leak past its brace
        assert (parse_rtf(rb"{\rtf1 {\uc2 \u8212??}\u8212?x}")["text"]
                == "——x")
        # fallback may be an \'hh escape — swallowed as ONE char
        assert parse_rtf(rb"{\rtf1 a\u8212\'97b}")["text"] == "a—b"

    def test_destinations_and_escapes(self):
        from zpdfspark.kernel.rtf import parse_rtf

        # fonttbl/stylesheet/starred destinations contribute no text;
        # info/title is metadata only; \~ \_ \- \{ \} literals
        src = (rb"{\rtf1\ansi\ansicpg1252"
               rb"{\fonttbl{\f0 Arial;}}{\*\generator X;}"
               rb"{\info{\title My Title}}"
               rb"body \~nb \{lit\} \'e9 end}")
        m = parse_rtf(src)
        assert m["text"] == "body  nb {lit} é end"
        assert m["title"] == "My Title"
        # \page maps to the engine's page-join rule
        assert parse_rtf(rb"{\rtf1 one\page two}")["text"] == "one\x0ctwo"

    def test_extract_any_dispatch_and_fuzz(self):
        import random

        from zpdfspark.fixtures import rtf_doc
        from zpdfspark.kernel.htmltext import extract_any

        blob, text = rtf_doc(7)
        got, kind, doc = extract_any(blob)
        assert kind == "rtf" and doc is None and got == text
        rng = random.Random(61)
        for _ in range(300):
            b = bytearray(blob)
            for _ in range(rng.randint(1, 10)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            t, _, _ = extract_any(bytes(b))
            assert isinstance(t, str)


class TestOdt:
    """kernel/odt.py (round 5): mimetype-gated OpenDocument paragraph
    walk over the from-scratch container walk."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import _odt_expected, odt_doc, odt_plan
        from zpdfspark.kernel.odt import is_odt, parse_odt

        for i in range(24):
            blob, text = odt_doc(i)
            plan = odt_plan(i)
            assert text == plan["text"]
            assert is_odt(blob)
            m = parse_odt(blob)
            assert m["text"] == plan["text"], i
            assert m["n_paragraphs"] == len(plan["paras"]), i
            assert m["title"] == plan["title"], i
            assert m["creator"] == plan["creator"], i
            assert (_odt_expected(blob) ==
                    (m["n_paragraphs"], m["n_entries"], m["title"],
                     m["creator"])), i

    def test_span_table_prefix_collisions(self):
        """<text:span> must not read as <text:s> (run-length space)
        and <text:table> must not read as <text:tab> — hand-authored
        package exercising both collisions plus text:s counts."""
        import io
        import zipfile

        from zpdfspark.kernel.odt import parse_odt

        content = (
            "<office:document-content xmlns:office=\"x\" xmlns:text=\"y\">"
            "<office:body><office:text>"
            "<text:p>a<text:span text:style-name=\"T1\">b</text:span>c"
            "</text:p>"
            "<text:p>x<text:s text:c=\"3\"/>y<text:s/>z</text:p>"
            "<text:table><text:table-row><text:table-cell>"
            "<text:p>cell</text:p></text:table-cell></text:table-row>"
            "</text:table>"
            "</office:text></office:body></office:document-content>")
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("mimetype", "application/vnd.oasis.opendocument.text")
            z.writestr("content.xml", content)
        m = parse_odt(buf.getvalue())
        assert m["text"] == "abc\nx   y z\ncell"
        assert m["n_paragraphs"] == 3

    def test_ods_rejected_by_mimetype(self):
        """An OpenDocument SPREADSHEET shares the layout; the text
        class gate must refuse it (is_odt False, parse raises)."""
        import io
        import zipfile

        import pytest

        from zpdfspark.kernel.odt import OdtError, is_odt, parse_odt

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("mimetype",
                       "application/vnd.oasis.opendocument.spreadsheet")
            z.writestr("content.xml", "<office:document-content/>")
        raw = buf.getvalue()
        assert not is_odt(raw)
        with pytest.raises(OdtError):
            parse_odt(raw)

    def test_extract_any_dispatch_and_fuzz(self):
        import random

        from zpdfspark.fixtures import odt_doc
        from zpdfspark.kernel.htmltext import extract_any

        blob, text = odt_doc(9)
        got, kind, doc = extract_any(blob)
        assert kind == "odt" and doc is None and got == text
        rng = random.Random(61)
        for _ in range(300):
            b = bytearray(blob)
            for _ in range(rng.randint(1, 10)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            t, _, _ = extract_any(bytes(b))
            assert isinstance(t, str)


class TestOds:
    """kernel/ods.py (round 5): OpenDocument spreadsheet grid walk —
    the ODF sibling of kernel/xlsx.py, same cells\\t rows\\n
    sheets\\x0c reduction rule."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import _ods_expected, ods_doc, ods_plan
        from zpdfspark.kernel.ods import is_ods, parse_ods

        for i in range(24):
            blob, text = ods_doc(i)
            plan = ods_plan(i)
            assert text == plan["text"]
            assert is_ods(blob)
            m = parse_ods(blob)
            assert m["text"] == plan["text"], i
            assert m["n_sheets"] == len(plan["sheets"]), i
            assert m["n_cells"] == plan["n_cells"], i
            assert m["title"] == plan["title"], i
            assert m["creator"] == plan["creator"], i
            assert (_ods_expected(blob) ==
                    (m["n_sheets"], m["n_cells"], m["n_entries"],
                     m["title"], m["creator"])), i

    def test_repeat_covered_and_trailing_strip(self):
        """Hand-authored grid: number-columns-repeated expansion, a
        merge-covered empty slot mid-row (kept), trailing repeated
        empties (stripped), a multi-paragraph cell (space-joined)."""
        import io
        import zipfile

        from zpdfspark.kernel.ods import parse_ods

        content = (
            "<office:document-content xmlns:office=\"x\" "
            "xmlns:table=\"y\" xmlns:text=\"z\"><office:body>"
            "<office:spreadsheet><table:table table:name=\"S\">"
            "<table:table-row>"
            "<table:table-cell table:number-columns-repeated=\"2\">"
            "<text:p>r</text:p></table:table-cell>"
            "<table:covered-table-cell/>"
            "<table:table-cell><text:p>end</text:p></table:table-cell>"
            "<table:table-cell table:number-columns-repeated=\"9\"/>"
            "</table:table-row>"
            "<table:table-row>"
            "<table:table-cell><text:p>one</text:p><text:p>two</text:p>"
            "</table:table-cell></table:table-row>"
            "</table:table></office:spreadsheet></office:body>"
            "</office:document-content>")
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("mimetype",
                       "application/vnd.oasis.opendocument.spreadsheet")
            z.writestr("content.xml", content)
        m = parse_ods(buf.getvalue())
        assert m["text"] == "r\tr\t\tend\none two"
        assert m["n_cells"] == 5
        assert m["n_sheets"] == 1

    def test_wrong_class_rejected(self):
        import pytest

        from zpdfspark.fixtures import odt_doc
        from zpdfspark.kernel.ods import OdsError, is_ods, parse_ods

        blob, _ = odt_doc(0)
        assert not is_ods(blob)
        with pytest.raises(OdsError):
            parse_ods(blob)

    def test_extract_any_dispatch_and_fuzz(self):
        import random

        from zpdfspark.fixtures import ods_doc
        from zpdfspark.kernel.htmltext import extract_any

        blob, text = ods_doc(7)
        got, kind, doc = extract_any(blob)
        assert kind == "ods" and doc is None and got == text
        rng = random.Random(62)
        for _ in range(300):
            b = bytearray(blob)
            for _ in range(rng.randint(1, 10)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            t, _, _ = extract_any(bytes(b))
            assert isinstance(t, str)


class TestArticle:
    """html_article fixtures (round 5): date markup rotations + the
    <article> main-content restriction (nav/footer must vanish)."""

    def test_rotations_and_restriction(self):
        from zpdfspark.fixtures import article_plan, html_article
        from zpdfspark.kernel.htmltext import extract_any

        kinds = set()
        for i in range(24):
            blob, text = html_article(i)
            plan = article_plan(i)
            kinds.add(plan["date_kind"])
            got, kind, _ = extract_any(blob)
            assert kind == "html" and got == text, i
            # boilerplate outside <article> never leaks into text
            assert "Home" not in got and "example" not in got, i
            # the visible <time> rotation carries the date in text;
            # head-only spellings must NOT
            assert (plan["date"] in got) == (plan["date_kind"] == "time"), i
        assert kinds == {"meta", "time", "jsonld"}


class TestGzTar:
    """Standalone gzip re-dispatch (kernel/htmltext.py, round 5) and
    the kernel/tar.py member census."""

    def test_gz_rides_the_extraction_family(self):
        from zpdfspark.fixtures import gz_doc
        from zpdfspark.kernel.htmltext import extract_any

        kinds = set()
        for i in range(24):
            blob, text = gz_doc(i)
            got, kind, _ = extract_any(blob)
            assert got == text, i
            assert kind.startswith("gz+"), kind
            kinds.add(kind)
        # svg inner payloads ride the html path (kind 'html' by design)
        assert kinds == {"gz+html", "gz+rtf"}

    def test_gz_bomb_and_corruption_posture(self):
        """Nested gzip re-dispatches ONCE (no recursion bomb); corrupt
        members extract empty, never raise."""
        import gzip
        import io

        from zpdfspark.kernel.htmltext import extract_any

        def gz(b):
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
                f.write(b)
            return buf.getvalue()

        double = gz(gz(b"<html><body><p>deep</p></body></html>"))
        got, kind, _ = extract_any(double)
        # inner layer is itself gzip: depth guard stops, empty text
        assert kind == "gz+unknown" or got == "" or kind == "gz+gz", kind
        corrupt = gz(b"payload")[:10] + b"\x00\x00garbage"
        got, kind, _ = extract_any(corrupt)
        assert (got, kind) == ("", "gz")

    def test_tar_all_rotations_match_plan(self):
        from zpdfspark.fixtures import _tar_expected, tar_archive, tar_plan
        from zpdfspark.kernel.tar import is_tar, parse_tar

        for i in range(24):
            blob, text = tar_archive(i)
            p = tar_plan(i)
            assert text is None and is_tar(blob), i
            m = parse_tar(blob)
            got = (m["n_members"], m["n_dirs"], m["n_bytes"],
                   m["first_name"])
            assert got == (p["n_members"], p["n_dirs"], p["n_bytes"],
                           p["first_name"]), (i, got)
            assert _tar_expected(blob) == got, i

    def test_tar_gz_reaches_census_and_fuzz(self):
        import gzip
        import io
        import random

        from zpdfspark.fixtures import tar_archive
        from zpdfspark.kernel.htmltext import extract_any
        from zpdfspark.kernel.tar import TarError, is_tar, parse_tar

        blob, _ = tar_archive(5)
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
            f.write(blob)
        got, kind, _ = extract_any(buf.getvalue())
        assert (got, kind) == ("", "gz+tar")
        rng = random.Random(67)
        for _ in range(400):
            b = bytearray(blob)
            for _ in range(rng.randint(1, 12)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            raw = bytes(b)
            if is_tar(raw):
                try:
                    parse_tar(raw)
                except TarError:
                    pass
            t, _, _ = extract_any(raw)
            assert isinstance(t, str)


class TestWebm:
    """kernel/webm.py (round 5): EBML vint/tree walk — webm and
    matroska DocTypes, unknown-size segments, non-minimal size vints,
    cluster payloads skipped."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import _webm_expected, webm_plan, webm_video
        from zpdfspark.kernel.webm import is_webm, parse_webm

        for i in range(24):
            blob, text = webm_video(i)
            p = webm_plan(i)
            assert text is None and is_webm(blob), i
            m = parse_webm(blob)
            assert m["doc_type"] == p["doc_type"], i
            assert m["duration_ms"] == p["duration_ms"], i
            assert m["n_tracks"] == p["n_tracks"], i
            assert (m["width"], m["height"]) == (p["w"], p["h"]), i
            assert m["video_codec"] == p["vcodec"], i
            assert m["audio_codec"] == (p["acodec"] if p["audio"]
                                        else None), i
            assert (_webm_expected(blob) ==
                    (m["doc_type"], m["duration_ms"], m["n_tracks"],
                     m["width"], m["height"], m["video_codec"],
                     m["audio_codec"])), i

    def test_vint_edges(self):
        """Hand-packed vints: 2-byte id, 3-byte non-minimal size,
        all-ones unknown size, and the >4-byte-id rejection."""
        import pytest

        from zpdfspark.fixtures import _ebml_vint
        from zpdfspark.kernel.webm import (WebmError, _read_id,
                                           _read_size, parse_webm)

        assert _read_id(b"\x42\x82", 0) == (0x4282, 2)
        assert _read_size(_ebml_vint(300, 3), 0) == (300, 3)
        assert _read_size(b"\xff", 0) == (None, 1)
        assert _read_size(b"\x40\x1e", 0) == (30, 2)
        with pytest.raises(WebmError):
            _read_id(b"\x08\x00\x00\x00\x00", 0)   # 5-byte id
        with pytest.raises(WebmError):
            parse_webm(b"not ebml at all")

    def test_truncation_and_fuzz_never_hang(self):
        import random

        from zpdfspark.fixtures import webm_video
        from zpdfspark.kernel.webm import WebmError, is_webm, parse_webm

        blob, _ = webm_video(3)
        for cut in range(0, len(blob), 7):
            try:
                parse_webm(blob[:cut] if cut else b"")
            except WebmError:
                pass
        rng = random.Random(66)
        for _ in range(400):
            b = bytearray(blob)
            for _ in range(rng.randint(1, 12)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            raw = bytes(b)
            if is_webm(raw):
                try:
                    parse_webm(raw)
                except WebmError:
                    pass


class TestIco:
    """kernel/ico.py (round 5): ICONDIR favicon walk — weak-magic
    sniff hardening, 0-means-256 dims, PNG-vs-DIB entry kinds with
    kernel-decodable embedded PNG streams."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import _ico_expected, ico_image, ico_plan
        from zpdfspark.kernel.ico import entry_png, is_ico, parse_ico
        from zpdfspark.kernel.png import decode_png

        for i in range(24):
            blob, text = ico_image(i)
            plan = ico_plan(i)
            assert text is None
            assert is_ico(blob), i
            m = parse_ico(blob)
            assert m["n_images"] == plan["n_images"], i
            assert (m["width"], m["height"]) == (plan["w"], plan["h"]), i
            assert m["any_png"] == plan["any_png"], i
            assert (_ico_expected(blob) ==
                    (m["n_images"], m["width"], m["height"],
                     m["any_png"])), i
            for idx, (w, h, kind) in enumerate(plan["entries"]):
                if kind == "png":
                    pw, ph, _pc, _px = decode_png(entry_png(blob, idx))
                    assert (pw, ph) == (w, h), (i, idx)

    def test_weak_magic_hardening(self):
        """A 256-byte first box makes an MP4 start with the ICO magic
        bytes; the structural directory checks must refuse it, along
        with span-out-of-bounds directories."""
        import struct

        import pytest

        from zpdfspark.fixtures import mp4_video
        from zpdfspark.kernel.ico import IcoError, is_ico, parse_ico

        fake_mp4 = b"\x00\x00\x01\x00ftyp" + b"\x00" * 300
        assert not is_ico(fake_mp4)
        assert not is_ico(mp4_video(0)[0])
        # a directory whose entry span points past the payload
        bad = (b"\x00\x00\x01\x00" + struct.pack("<H", 1)
               + struct.pack("<BBBBHHII", 16, 16, 0, 0, 1, 32, 9999, 22)
               + b"xx")
        assert not is_ico(bad)
        with pytest.raises(IcoError):
            parse_ico(bad)

    def test_fuzz_never_raises_through_sniff(self):
        import random

        from zpdfspark.fixtures import ico_image
        from zpdfspark.kernel.ico import IcoError, is_ico, parse_ico

        rng = random.Random(65)
        blob, _ = ico_image(4)
        for _ in range(400):
            b = bytearray(blob)
            for _ in range(rng.randint(1, 12)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            raw = bytes(b)
            if is_ico(raw):
                try:
                    parse_ico(raw)
                except IcoError:
                    pass


class TestSvg:
    """kernel/svg.py (round 5): standalone-SVG sniff + canvas
    metadata mining; TEXT flows through the HTML stripper (pinned
    per-rotation against the generator's authored visible strings)."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import svg_image, svg_plan
        from zpdfspark.kernel.htmltext import extract_any
        from zpdfspark.kernel.svg import looks_like_svg, parse_svg

        for i in range(24):
            blob, text = svg_image(i)
            plan = svg_plan(i)
            assert text == plan["text"]
            assert looks_like_svg(blob), i
            got, _kind, _ = extract_any(blob)
            assert got == text, i
            m = parse_svg(blob)
            assert m["width"] == plan["w"], i
            assert m["height"] == plan["h"], i
            assert m["n_texts"] == len(plan["texts"]), i
            assert m["n_paths"] == plan["n_paths"], i
            assert m["title"] == plan["title"], i

    def test_sniff_ordering_and_negatives(self):
        """The svg sniff must fire before the generous html check and
        must NOT fire on html/feed payloads or inline-svg pages."""
        from zpdfspark.fixtures import atom_feed, html_page, rss_feed
        from zpdfspark.kernel.svg import looks_like_svg

        assert not looks_like_svg(html_page(0)[0])
        assert not looks_like_svg(rss_feed(0)[0])
        assert not looks_like_svg(atom_feed(0)[0])
        # a page CONTAINING inline svg is still html
        page = b"<!DOCTYPE html><html><body><svg width=\"5\"/></body></html>"
        assert not looks_like_svg(page)
        # doctype'd standalone svg IS svg
        standalone = (b"<?xml version=\"1.0\"?>\n"
                      b"<!DOCTYPE svg PUBLIC \"-//W3C//DTD SVG 1.1//EN\" >\n"
                      b"<svg xmlns=\"x\" width=\"4\" height=\"4\"/>")
        assert looks_like_svg(standalone)

    def test_dims_precedence_and_fuzz(self):
        """Pixel attrs win over viewBox; unit-suffixed lengths fall
        through to the viewBox; mutation fuzz never raises."""
        import random

        from zpdfspark.fixtures import svg_image
        from zpdfspark.kernel.htmltext import extract_any
        from zpdfspark.kernel.svg import parse_svg

        both = (b"<svg width=\"10\" height=\"20\" "
                b"viewBox=\"0 0 99 88\"></svg>")
        m = parse_svg(both)
        assert (m["width"], m["height"]) == (10, 20)
        units = b"<svg width=\"4cm\" height=\"3cm\" viewBox=\"0 0 40 30\"/>"
        m = parse_svg(units)
        assert (m["width"], m["height"]) == (40, 30)
        rng = random.Random(64)
        blob, _ = svg_image(5)
        for _ in range(300):
            b = bytearray(blob)
            for _ in range(rng.randint(1, 10)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            t, _, _ = extract_any(bytes(b))
            assert isinstance(t, str)


class TestOdp:
    """kernel/odp.py (round 5): OpenDocument presentation slide walk —
    the ODF sibling of kernel/pptx.py, same paragraphs/frames newline,
    slides \\x0c reduction rule."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import _odp_expected, odp_doc, odp_plan
        from zpdfspark.kernel.odp import is_odp, parse_odp

        for i in range(24):
            blob, text = odp_doc(i)
            plan = odp_plan(i)
            assert text == plan["text"]
            assert is_odp(blob)
            m = parse_odp(blob)
            assert m["text"] == plan["text"], i
            assert m["n_slides"] == plan["n_slides"], i
            assert m["n_frames"] == plan["n_frames"], i
            assert m["title"] == plan["title"], i
            assert m["creator"] == plan["creator"], i
            assert (_odp_expected(blob) ==
                    (m["n_slides"], m["n_frames"], m["n_entries"],
                     m["title"], m["creator"])), i

    def test_image_frame_and_empty_page(self):
        """A text-less picture frame counts as a shape but contributes
        no text (no stray separator); an empty page is a \\x0c-joined
        empty slide."""
        import io
        import zipfile

        from zpdfspark.kernel.odp import parse_odp

        content = (
            "<office:document-content xmlns:office=\"x\" "
            "xmlns:draw=\"y\" xmlns:text=\"z\"><office:body>"
            "<office:presentation>"
            "<draw:page draw:name=\"p1\">"
            "<draw:frame><draw:image xlink:href=\"P/i.png\"/></draw:frame>"
            "<draw:frame><draw:text-box><text:p>hello</text:p>"
            "</draw:text-box></draw:frame>"
            "</draw:page>"
            "<draw:page draw:name=\"p2\"></draw:page>"
            "</office:presentation></office:body>"
            "</office:document-content>")
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("mimetype",
                       "application/vnd.oasis.opendocument.presentation")
            z.writestr("content.xml", content)
        m = parse_odp(buf.getvalue())
        assert m["text"] == "hello\x0c"
        assert m["n_slides"] == 2
        assert m["n_frames"] == 2

    def test_extract_any_dispatch_and_fuzz(self):
        import random

        from zpdfspark.fixtures import odp_doc
        from zpdfspark.kernel.htmltext import extract_any

        blob, text = odp_doc(13)
        got, kind, doc = extract_any(blob)
        assert kind == "odp" and doc is None and got == text
        rng = random.Random(63)
        for _ in range(300):
            b = bytearray(blob)
            for _ in range(rng.randint(1, 10)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            t, _, _ = extract_any(bytes(b))
            assert isinstance(t, str)


class TestBz2Xz:
    """Standalone bzip2/xz re-dispatch (kernel/htmltext.py, round 5)
    and the honest zstd detection stub."""

    def test_bz2_rides_the_extraction_family(self):
        from zpdfspark.fixtures import bz2_doc
        from zpdfspark.kernel.htmltext import extract_any

        kinds = set()
        for i in range(24):
            blob, text = bz2_doc(i)
            got, kind, _ = extract_any(blob)
            assert got == text, i
            assert kind.startswith("bz2+"), kind
            kinds.add(kind)
        # svg inner payloads ride the html path (kind 'html' by design)
        assert kinds == {"bz2+html", "bz2+rtf"}

    def test_xz_rides_the_extraction_family(self):
        from zpdfspark.fixtures import xz_doc
        from zpdfspark.kernel.htmltext import extract_any

        kinds = set()
        for i in range(24):
            blob, text = xz_doc(i)
            got, kind, _ = extract_any(blob)
            assert got == text, i
            assert kind.startswith("xz+"), kind
            kinds.add(kind)
        assert kinds == {"xz+html", "xz+rtf"}

    def test_corruption_and_truncation_posture(self):
        """Corrupt/truncated members extract empty with the OUTER kind,
        never raise (bomb posture shared with gz)."""
        import bz2
        import lzma

        from zpdfspark.kernel.htmltext import extract_any

        b = bz2.compress(b"<html><body><p>x</p></body></html>")
        x = lzma.compress(b"<html><body><p>x</p></body></html>",
                          format=lzma.FORMAT_XZ)
        for blob, outer in ((b, "bz2"), (x, "xz")):
            got, kind, _ = extract_any(blob[: len(blob) // 2])
            assert (got, kind) == ("", outer), (outer, kind)
            mangled = blob[:8] + bytes(16) + blob[24:]
            got, kind, _ = extract_any(mangled)
            assert got == "" , (outer, kind)

    def test_depth_guard_stops_nested_wrappers(self):
        """bz2-of-gz re-dispatches exactly once: the inner gz layer is
        reported, not unpacked (no recursion bomb)."""
        import bz2
        import gzip
        import io

        from zpdfspark.kernel.htmltext import extract_any

        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
            f.write(b"<html><body><p>deep</p></body></html>")
        got, kind, _ = extract_any(bz2.compress(buf.getvalue()))
        assert (got, kind) == ("", "bz2+gz")

    def test_zstd_detected_never_guessed(self):
        from zpdfspark.kernel.htmltext import extract_any
        from zpdfspark.spark.media import sniff_kind

        blob = b"\x28\xb5\x2f\xfd" + bytes(64)
        got, kind, _ = extract_any(blob)
        assert (got, kind) == ("", "zstd")
        assert sniff_kind(blob) == "zstd"

    def test_sniffers_agree(self):
        from zpdfspark.fixtures import _sniff_media_kind, bz2_doc, xz_doc
        from zpdfspark.spark.media import sniff_kind

        for i in range(6):
            for gen, kind in ((bz2_doc, "bz2"), (xz_doc, "xz")):
                blob, _ = gen(i)
                assert _sniff_media_kind(blob) == kind
                assert sniff_kind(blob) == kind


class TestEml:
    """MIME email kernel (kernel/eml.py, round 5) — writer is stdlib
    email.mime, reader is the from-scratch parser; _eml_expected /
    _mbox_expected are the stdlib re-reads the oracles carry."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import _eml_expected, eml_doc, eml_plan
        from zpdfspark.kernel.eml import is_eml, parse_eml

        kinds = set()
        for i in range(36):
            raw, text = eml_doc(i)
            p = eml_plan(i)
            kinds.add(p["kind"])
            assert is_eml(raw), i
            m = parse_eml(raw)
            assert m["text"] == text, (i, p["kind"])
            got = (m["subject"], m["from_addr"], m["date_ts"],
                   m["n_parts"])
            assert got == (p["subject"], p["addr"], p["date_ts"],
                           p["n_parts"]), (i, got)
            # the independent stdlib re-read agrees with both
            assert _eml_expected(raw) == got, i
        assert kinds == {"plain", "qp", "b64", "alternative", "mixed",
                         "htmlonly"}

    def test_extract_any_dispatch(self):
        from zpdfspark.fixtures import eml_doc, mbox_archive
        from zpdfspark.kernel.htmltext import extract_any

        raw, text = eml_doc(3)
        got, kind, _ = extract_any(raw)
        assert (got, kind) == (text, "eml")
        raw, _ = mbox_archive(2)
        got, kind, _ = extract_any(raw)
        assert (got, kind) == ("", "mbox")

    def test_encoded_word_units(self):
        from zpdfspark.kernel.eml import decode_encoded_words as dw

        assert dw("=?utf-8?B?Y2Fmw6k=?=") == "café"
        assert dw("=?iso-8859-1?Q?caf=E9_x?=") == "café x"
        # WSP between two encoded words is dropped (RFC 2047 §6.2)
        assert dw("=?utf-8?Q?a?= =?utf-8?Q?b?=") == "ab"
        assert dw("plain =?utf-8?Q?mix?= tail") == "plain mix tail"
        # undecodable runs stay literal
        assert dw("=?utf-8?X?junk?=") == "=?utf-8?X?junk?="

    def test_qp_and_b64_tolerance(self):
        from zpdfspark.kernel.eml import _decode_transfer, _qp_decode

        assert _qp_decode(b"a=0Ab=\r\nc") == b"a\nbc"
        assert _qp_decode(b"bad=ZZesc") == b"bad=ZZesc"
        assert _decode_transfer(b"Y2Fm\n  w6k=", "base64") == b"caf\xc3\xa9"
        assert _decode_transfer(b"!!!not-base64", "base64") in (b"", b"\xb6")

    def test_date_forms(self):
        from zpdfspark.kernel.eml import parse_rfc5322_date as d

        assert d("Tue, 01 Apr 2025 12:00:00 +0000") == 1743508800
        assert d("1 Apr 2025 12:00:00 +0200") == 1743508800 - 7200
        assert d("Tue, 01 Apr 2025 12:00:00 GMT") == 1743508800
        assert d("01 Apr 25 12:00 EST") == 1743508800 + 5 * 3600
        assert d("not a date") is None and d(None) is None

    def test_mbox_census_matches_stdlib(self):
        from zpdfspark.fixtures import (_mbox_expected, mbox_archive,
                                        mbox_plan)
        from zpdfspark.kernel.eml import is_eml, is_mbox, parse_mbox

        for i in range(12):
            raw, text = mbox_archive(i)
            assert text is None and is_mbox(raw) and not is_eml(raw), i
            p = mbox_plan(i)
            m = parse_mbox(raw)
            got = (m["n_messages"], m["first_subject"], m["first_from"],
                   m["min_date_ts"], m["max_date_ts"])
            assert got == (p["n_messages"], p["first_subject"],
                           p["first_from"], p["min_date_ts"],
                           p["max_date_ts"]), (i, got)
            assert _mbox_expected(raw) == got, i

    def test_depth_and_part_caps(self):
        """A crafted multipart bomb stops at the caps, never recurses
        unbounded; header-only and empty-boundary messages parse."""
        from zpdfspark.kernel.eml import parse_eml

        inner = "Content-Type: text/plain\n\nx"
        for _ in range(12):
            inner = ("Content-Type: multipart/mixed; boundary=b\n\n"
                     "--b\n" + inner + "\n--b--\n")
        raw = ("From: a@b.c\nSubject: bomb\n" + inner).encode()
        m = parse_eml(raw)          # must terminate fast
        assert m["n_parts"] <= 2 * 8  # bounded by _MAX_DEPTH, not input
        hdr_only = b"From: a@b.c\nSubject: s\nDate: junk\n\n"
        m = parse_eml(hdr_only)
        assert m["text"] == "" and m["date_ts"] is None
        nob = (b"From: a@b.c\nSubject: s\n"
               b"Content-Type: multipart/mixed\n\nbody")
        assert parse_eml(nob)["n_parts"] == 1

    def test_fuzz_never_raises(self):
        import random

        from zpdfspark.fixtures import eml_doc, mbox_archive
        from zpdfspark.kernel.eml import (EmlError, is_eml, is_mbox,
                                          parse_eml, parse_mbox)

        rng = random.Random(97)
        base_e = eml_doc(4)[0]
        base_m = mbox_archive(3)[0]
        for _ in range(400):
            src = base_e if rng.random() < 0.5 else base_m
            b = bytearray(src)
            for _ in range(rng.randint(1, 12)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            raw = bytes(b[:rng.randrange(1, len(b))]) \
                if rng.random() < 0.3 else bytes(b)
            try:
                if is_eml(raw):
                    parse_eml(raw)
                if is_mbox(raw):
                    parse_mbox(raw)
            except EmlError:
                pass

    def test_sniffers_agree(self):
        from zpdfspark.fixtures import (_sniff_media_kind, eml_doc,
                                        mbox_archive)
        from zpdfspark.spark.media import sniff_kind

        for i in range(6):
            for gen, kind in ((eml_doc, "eml"), (mbox_archive, "mbox")):
                blob, _ = gen(i)
                assert _sniff_media_kind(blob) == kind, (i, kind)
                assert sniff_kind(blob) == kind, (i, kind)


class TestSubtitles:
    """SRT/WebVTT kernel (kernel/subtitles.py, round 5)."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import (_subtitle_expected, srt_doc,
                                        subtitle_plan, vtt_doc)
        from zpdfspark.kernel.subtitles import parse_subtitles

        for i in range(36):
            for gen, kind in ((srt_doc, "srt"), (vtt_doc, "vtt")):
                raw, text = gen(i)
                p = subtitle_plan(i)
                m = parse_subtitles(raw)
                assert (m["kind"], m["text"], m["n_cues"],
                        m["duration_ms"]) == (kind, text, p["n_cues"],
                                              p["duration_ms"]), (i, kind)
                assert _subtitle_expected(raw) == (
                    kind, p["n_cues"], p["duration_ms"]), (i, kind)

    def test_extract_any_dispatch(self):
        from zpdfspark.fixtures import srt_doc, vtt_doc
        from zpdfspark.kernel.htmltext import extract_any

        for gen, kind in ((srt_doc, "srt"), (vtt_doc, "vtt")):
            raw, text = gen(7)
            got, k, _ = extract_any(raw)
            assert (got, k) == (text, kind)

    def test_hand_authored_edges(self):
        from zpdfspark.kernel.subtitles import parse_srt, parse_vtt

        # SRT: index-less block, dot-ms tolerance, tags, entities
        srt = (b"1\n00:00:01,000 --> 00:00:02.500\n"
               b"<i>caf&eacute;</i> {\\an8}top\n\n"
               b"00:00:03,000 --> 00:00:04,000 X1:0 X2:1\nsecond\n")
        m = parse_srt(srt)
        assert m["text"] == "café top\nsecond"
        assert m["n_cues"] == 2 and m["duration_ms"] == 4000
        # VTT: NOTE/STYLE skipped, id lines, hour-less, settings,
        # voice + class + karaoke tags
        vtt = (b"WEBVTT\n\nNOTE x\nskip me\n\nSTYLE\n::cue{}\n\n"
               b"id-1\n01:02.000 --> 01:03.500 align:start\n"
               b"<v Bob>hi <00:01:02.300>there</v>\n\n"
               b"01:04.000 --> 01:05.000\n<c.yellow>bye</c>\n")
        m = parse_vtt(vtt)
        assert m["text"] == "hi there\nbye"
        assert m["n_cues"] == 2 and m["duration_ms"] == 65000

    def test_malformed_and_fuzz(self):
        import random

        from zpdfspark.fixtures import srt_doc, vtt_doc
        from zpdfspark.kernel.subtitles import (SubtitleError,
                                                looks_like_srt,
                                                looks_like_vtt,
                                                parse_subtitles)

        for bad in (b"", b"WEBVTTX\n", b"1\nno timing\ntext\n\n",
                    b"9\n00:00 -> bad\n"):
            try:
                parse_subtitles(bad)
            except SubtitleError:
                pass
        rng = random.Random(31)
        for base in (srt_doc(5)[0], vtt_doc(5)[0]):
            for _ in range(200):
                b = bytearray(base)
                for _ in range(rng.randint(1, 10)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
                raw = bytes(b)
                if looks_like_srt(raw) or looks_like_vtt(raw):
                    try:
                        parse_subtitles(raw)
                    except SubtitleError:
                        pass

    def test_sniffers_agree(self):
        from zpdfspark.fixtures import _sniff_media_kind, srt_doc, vtt_doc
        from zpdfspark.spark.media import sniff_kind

        for i in range(6):
            for gen, kind in ((srt_doc, "srt"), (vtt_doc, "vtt")):
                blob, _ = gen(i)
                assert _sniff_media_kind(blob) == kind
                assert sniff_kind(blob) == kind


class TestIpynb:
    """Jupyter notebook kernel (kernel/ipynb.py, round 5)."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import ipynb_doc, ipynb_plan
        from zpdfspark.kernel.ipynb import looks_like_ipynb, parse_ipynb

        for i in range(30):
            raw, text = ipynb_doc(i)
            p = ipynb_plan(i)
            assert looks_like_ipynb(raw), i
            m = parse_ipynb(raw)
            assert m["text"] == text, i
            assert (m["n_cells"], m["n_code"], m["n_markdown"],
                    m["language"], m["nbformat"]) == (
                p["n_cells"], p["n_code"], p["n_markdown"],
                p["language"], p["nbformat"]), (i, m)

    def test_extract_any_dispatch(self):
        from zpdfspark.fixtures import ipynb_doc
        from zpdfspark.kernel.htmltext import extract_any

        raw, text = ipynb_doc(6)
        got, kind, _ = extract_any(raw)
        assert (got, kind) == (text, "ipynb")

    def test_hostile_shapes(self):
        from zpdfspark.kernel.ipynb import (IpynbError, looks_like_ipynb,
                                            parse_ipynb)

        import pytest

        for bad in (b'{"cells": "notalist", "nbformat": 4}',
                    b'{"cells": [1, 2], "nbformat"', b"{}"):
            if looks_like_ipynb(bad):
                try:
                    m = parse_ipynb(bad)
                    # non-dict cells are skipped, never raise
                    assert m["n_code"] == 0
                except IpynbError:
                    pass
        with pytest.raises(IpynbError):
            parse_ipynb(b"<html></html>")
        # source entries of the wrong type are dropped, not joined
        ok = (b'{"cells": [{"cell_type": "code", '
              b'"source": ["a", 1, "b"]}], "nbformat": 4}')
        assert parse_ipynb(ok)["text"] == "ab"

    def test_fuzz_never_raises(self):
        import random

        from zpdfspark.fixtures import ipynb_doc
        from zpdfspark.kernel.ipynb import (IpynbError, looks_like_ipynb,
                                            parse_ipynb)

        rng = random.Random(53)
        base = ipynb_doc(2)[0]
        for _ in range(300):
            b = bytearray(base)
            for _ in range(rng.randint(1, 10)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            raw = bytes(b)
            if looks_like_ipynb(raw):
                try:
                    parse_ipynb(raw)
                except IpynbError:
                    pass

    def test_sniffers_agree(self):
        from zpdfspark.fixtures import _sniff_media_kind, ipynb_doc
        from zpdfspark.spark.media import sniff_kind

        for i in range(6):
            blob, _ = ipynb_doc(i)
            assert _sniff_media_kind(blob) == "ipynb"
            assert sniff_kind(blob) == "ipynb"


class TestCsv:
    """Delimited-table kernel (kernel/csvdoc.py, round 5)."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import _csv_expected, csv_doc, csv_plan
        from zpdfspark.kernel.csvdoc import looks_like_csv, parse_csv

        for i in range(32):
            raw, text = csv_doc(i)
            p = csv_plan(i)
            assert looks_like_csv(raw), i
            m = parse_csv(raw)
            assert m["text"] == text, i
            got = (m["delimiter"], m["n_records"], m["n_cols"],
                   m["has_header"])
            assert got == (p["delimiter"], p["n_records"], p["n_cols"],
                           p["has_header"]), (i, got)
            assert _csv_expected(raw) == got, i

    def test_extract_any_dispatch(self):
        from zpdfspark.fixtures import csv_doc
        from zpdfspark.kernel.htmltext import extract_any

        raw, text = csv_doc(9)
        got, kind, _ = extract_any(raw)
        assert (got, kind) == (text, "csv")

    def test_rfc4180_edges(self):
        from zpdfspark.kernel.csvdoc import parse_csv

        raw = (b'a,b\r\n"x,1","say ""hi"""\r\n"multi\nline",2\r\n')
        m = parse_csv(raw)
        assert m["n_records"] == 3 and m["n_cols"] == 2
        assert m["text"] == 'a\tb\nx,1\tsay "hi"\nmulti\nline\t2'
        # a quote mid-field (not at field start) is literal
        m = parse_csv(b'a,b\nit"s,2\n')
        assert m["text"] == 'a\tb\nit"s\t2'

    def test_free_text_is_not_a_table(self):
        """The strict sniff rejects what trivially isn't tabular."""
        from zpdfspark.kernel.csvdoc import looks_like_csv

        assert not looks_like_csv(b"just a plain sentence\nand another\n")
        assert not looks_like_csv(b"one,two\nthree\n")       # ragged
        assert not looks_like_csv(b"single line, no second record")
        assert not looks_like_csv(b"a,b\x00c,d\na,b\n")      # NUL
        assert not looks_like_csv(b"")

    def test_fuzz_never_raises(self):
        import random

        from zpdfspark.fixtures import csv_doc
        from zpdfspark.kernel.csvdoc import (CsvError, looks_like_csv,
                                             parse_csv)

        rng = random.Random(41)
        base = csv_doc(7)[0]
        for _ in range(300):
            b = bytearray(base)
            for _ in range(rng.randint(1, 10)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            raw = bytes(b)
            if looks_like_csv(raw):
                try:
                    parse_csv(raw)
                except CsvError:
                    pass

    def test_sniffers_agree(self):
        from zpdfspark.fixtures import _sniff_media_kind, csv_doc
        from zpdfspark.spark.media import sniff_kind

        for i in range(8):
            blob, _ = csv_doc(i)
            assert _sniff_media_kind(blob) == "csv", i
            assert sniff_kind(blob) == "csv", i


class TestLatex:
    """LaTeX detex kernel (kernel/latex.py, round 5)."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import latex_doc, latex_plan
        from zpdfspark.kernel.latex import looks_like_tex, parse_latex

        for i in range(40):
            raw, text = latex_doc(i)
            p = latex_plan(i)
            assert looks_like_tex(raw), i
            m = parse_latex(raw)
            assert m["text"] == text, i
            assert (m["documentclass"], m["title"], m["n_sections"],
                    m["n_cites"], m["n_equations"]) == (
                p["documentclass"], p["title"], p["n_sections"],
                p["n_cites"], p["n_equations"]), i

    def test_extract_any_dispatch(self):
        from zpdfspark.fixtures import latex_doc
        from zpdfspark.kernel.htmltext import extract_any

        raw, text = latex_doc(11)
        got, kind, _ = extract_any(raw)
        assert (got, kind) == (text, "tex")

    def test_detex_edges(self):
        from zpdfspark.kernel.latex import parse_latex

        raw = (b"\\documentclass{article}\\begin{document}\n"
               b"A \\emph{kept} word, a \\cite{x} gone, \\& escaped,\n"
               b"math $a+b$ gone, \\[ display \\] gone,\n"
               b"tie~here, 100\\% sure. % comment gone\n\n"
               b"\\begin{tabular}{ll}a&b\\\\\\end{tabular}"
               b"Second para.\n\\end{document}")
        m = parse_latex(raw)
        assert m["text"] == ("A kept word, a gone, & escaped, math gone, "
                             "gone, tie here, 100% sure.\nSecond para.")
        # unterminated math / environments never hang or raise
        for bad in (b"\\begin{document}$unclosed",
                    b"\\begin{document}\\begin{equation} x",
                    b"\\begin{document}\\emph{unclosed"):
            parse_latex(b"\\documentclass{a}" + bad)

    def test_fuzz_never_raises(self):
        import random

        from zpdfspark.fixtures import latex_doc
        from zpdfspark.kernel.latex import (LatexError, looks_like_tex,
                                            parse_latex)

        rng = random.Random(73)
        base = latex_doc(3)[0]
        for _ in range(300):
            b = bytearray(base)
            for _ in range(rng.randint(1, 10)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            raw = bytes(b)
            if looks_like_tex(raw):
                try:
                    parse_latex(raw)
                except LatexError:
                    pass

    def test_sniffers_agree(self):
        from zpdfspark.fixtures import _sniff_media_kind, latex_doc
        from zpdfspark.spark.media import sniff_kind

        for i in range(6):
            blob, _ = latex_doc(i)
            assert _sniff_media_kind(blob) == "tex"
            assert sniff_kind(blob) == "tex"


class TestWiki:
    """MediaWiki XML-export wikitext reduction (kernel/wikitext.py,
    round 5 — the WikiExtractor/Pile lineage)."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import wiki_doc, wiki_plan
        from zpdfspark.kernel.wikitext import looks_like_wiki, parse_wiki

        for i in range(40):
            raw, text = wiki_doc(i)
            p = wiki_plan(i)
            assert looks_like_wiki(raw), i
            m = parse_wiki(raw)
            assert m["text"] == text, i
            assert (m["n_pages"], m["n_redirects"], m["first_title"],
                    m["n_refs"]) == (p["n_pages"], p["n_redirects"],
                                     p["first_title"], p["n_refs"]), i

    def test_extract_any_dispatch(self):
        from zpdfspark.fixtures import wiki_doc
        from zpdfspark.kernel.htmltext import extract_any

        raw, text = wiki_doc(7)
        got, kind, _ = extract_any(raw)
        assert (got, kind) == (text, "wiki")

    def test_reduction_rules(self):
        from zpdfspark.kernel.wikitext import reduce_wikitext

        # each documented rule, hand-authored
        assert reduce_wikitext(
            "{{t|{{u}}}}A [[x|y]] and [[z]].<ref>c</ref>\n"
            "== H ==\n* item\n[[File:a.png|cap [[l]] x]]\n"
            "[[Category:C]]\n'''b''' ''i'' [http://e.x lab] "
            "[http://e.x]\n{| t \n|}\n<!--gone--><br/>tail"
        ) == "A y and z.\nH\nitem\nb i lab\ntail"
        # unterminated spans drop to end, never hang
        assert reduce_wikitext("pre {{never closed") == "pre"
        assert reduce_wikitext("pre {| never closed") == "pre"
        assert reduce_wikitext("pre [[File:never closed") == "pre"

    def test_redirect_pages_skipped(self):
        from zpdfspark.kernel.wikitext import parse_wiki

        raw = (b"<mediawiki>\n"
               b"<page><title>A</title><redirect title=\"B\" />"
               b"<revision><text>#REDIRECT [[B]]</text></revision>"
               b"</page>\n"
               b"<page><title>B</title><revision>"
               b"<text>#redirect [[C]] body-form redirect</text>"
               b"</revision></page>\n"
               b"<page><title>C</title><revision><text>Real.</text>"
               b"</revision></page>\n"
               b"</mediawiki>")
        m = parse_wiki(raw)
        assert m["n_pages"] == 3
        assert m["n_redirects"] == 1  # the element form only (the regex)
        assert m["text"] == "C\nReal."

    def test_sniff_ordering(self):
        from zpdfspark.fixtures import (_sniff_media_kind, html_page,
                                        rss_feed, wiki_doc)
        from zpdfspark.kernel.htmltext import looks_like_feed
        from zpdfspark.kernel.wikitext import looks_like_wiki
        from zpdfspark.spark.media import sniff_kind

        for i in range(6):
            blob, _ = wiki_doc(i)
            assert _sniff_media_kind(blob) == "wiki"
            assert sniff_kind(blob) == "wiki"
            assert not looks_like_feed(blob)
        # wiki sniff never claims html pages or feeds
        assert not looks_like_wiki(html_page(0)[0])
        assert not looks_like_wiki(rss_feed(0)[0])

    def test_bz2_dump_shape(self):
        """Wikipedia dumps ship as .xml.bz2 — the bz2 re-dispatch must
        route the decompressed export to the wiki kernel with
        byte-identical reduced text (the real dump-mirror shape)."""
        import bz2

        from zpdfspark.fixtures import wiki_doc
        from zpdfspark.kernel.htmltext import extract_any

        for i in (0, 3, 7):
            raw, exp = wiki_doc(i)
            t, kind, _ = extract_any(bz2.compress(raw))
            assert (t, kind) == (exp, "bz2+wiki"), i

    def test_fuzz_never_raises(self):
        import random

        from zpdfspark.fixtures import wiki_doc
        from zpdfspark.kernel.wikitext import (WikiError, looks_like_wiki,
                                               parse_wiki)

        rng = random.Random(74)
        base = wiki_doc(4)[0]
        for _ in range(300):
            b = bytearray(base)
            for _ in range(rng.randint(1, 10)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            raw = bytes(b)
            if looks_like_wiki(raw):
                try:
                    parse_wiki(raw)
                except WikiError:
                    pass


class TestCode:
    """Source-code payload class (round 5 — the StarCoder lineage):
    code files dispatch through the txt fallback and code_meta's
    two-engine census is pinned here by an INDEPENDENT Python-re
    recompute of the same spec."""

    def test_dispatch_and_text(self):
        from zpdfspark.fixtures import _sniff_media_kind, code_doc
        from zpdfspark.kernel.htmltext import extract_any
        from zpdfspark.spark.media import sniff_kind

        for i in range(24):
            raw, text = code_doc(i)
            assert _sniff_media_kind(raw) == "txt", i
            assert sniff_kind(raw) == "txt", i
            got, kind, _ = extract_any(raw)
            assert (got, kind) == (text, "txt"), i

    def test_census_matches_plan(self):
        import re

        from zpdfspark.fixtures import code_doc, code_plan

        for i in range(24):
            raw, _ = code_doc(i)
            p = code_plan(i)
            s = raw.decode().replace("\r\n", "\n").replace("\r", "\n")
            if re.search(r"^#![^\n]*python", s):
                lang = "python"
            elif re.search(r"(^|\n)#include[ <\"]", s):
                lang = "c"
            elif re.search(r"(^|\n)(def|import) ", s):
                lang = "python"
            elif (re.search(r"(^|\n)function ", s)
                  or "module.exports" in s
                  or re.search(r"(^|\n)const ", s)):
                lang = "javascript"
            else:
                lang = "text"
            n_lines = s.count("\n")
            comment = len(re.findall(r"(?m)^[ \t]*(#|//|/\*)", s))
            nonblank = len(re.findall(r"(?m)^[ \t]*[^ \t\n]", s))
            assert lang == p["lang"], i
            assert n_lines == p["n_lines"], i
            assert comment == p["comment_lines"], i
            assert n_lines - nonblank == p["blank_lines"], i
            lic = bool(re.search(
                r"(SPDX-License-Identifier|Apache License|MIT License|"
                r"GNU General Public License)", s))
            assert lic == p["has_license"], i

    def test_prose_classifies_text(self):
        import re

        from zpdfspark.fixtures import txt_doc

        for i in range(12):
            raw, _ = txt_doc(i)
            s = raw.decode("utf-8-sig")
            assert not re.search(
                r"^#!|(^|\n)#include[ <\"]|(^|\n)(def|import) |"
                r"(^|\n)function |module\.exports|(^|\n)const ", s), i


class TestMdJson:
    """Markdown census + JSON/JSONL payload class (round 5)."""

    def test_md_dispatch_and_census(self):
        import re

        from zpdfspark.fixtures import _sniff_media_kind, md_doc, md_plan
        from zpdfspark.kernel.htmltext import extract_any

        for i in range(20):
            raw, exp = md_doc(i)
            assert _sniff_media_kind(raw) == "txt", i
            t, kind, _ = extract_any(raw)
            assert (t, kind) == (exp, "txt"), i
            p = md_plan(i)
            s = raw.decode()
            assert len(re.findall(r"(?m)^#{1,6} ", s)) == p["n_headings"]
            assert len(re.findall(r"\[[^\]]*\]\([^)]*\)", s)) == p["n_links"]
            assert len(re.findall(r"(?m)^```", s)) == p["n_fences"]
            assert len(re.findall(r"(?m)^[-*+] ", s)) == p["n_list_items"]

    def test_code_is_not_markdown(self):
        """The is_markdown spec (headings AND links/lists/fences) must
        reject source files whose '#' comments look like headings."""
        import re

        from zpdfspark.fixtures import code_doc

        for i in range(12):
            s = code_doc(i)[0].decode()
            heads = len(re.findall(r"(?m)^#{1,6} ", s))
            other = (len(re.findall(r"\[[^\]]*\]\([^)]*\)", s))
                     + len(re.findall(r"(?m)^[-*+] ", s))
                     + len(re.findall(r"(?m)^```", s)))
            assert not (heads > 0 and other > 0), i

    def test_json_dispatch(self):
        from zpdfspark.fixtures import (_sniff_media_kind, ipynb_doc,
                                        json_doc, json_plan, txt_doc)
        from zpdfspark.kernel.htmltext import extract_any
        from zpdfspark.kernel.jsondoc import looks_like_json
        from zpdfspark.spark.media import sniff_kind

        for i in range(18):
            raw, _ = json_doc(i)
            want = "jsonl" if json_plan(i)["kind"] == "jsonl" else "json"
            assert _sniff_media_kind(raw) == want, i
            assert sniff_kind(raw) == want, i
            t, kind, _ = extract_any(raw)
            assert (t, kind) == ("", want), i
        # notebooks stay ipynb (looks_like_ipynb runs first), prose
        # stays txt, and invalid json never claims
        assert _sniff_media_kind(ipynb_doc(0)[0]) == "ipynb"
        assert not looks_like_json(txt_doc(0)[0])
        assert not looks_like_json(b'{"unterminated": ')
        assert not looks_like_json(b"{ not json }")

    def test_json_fuzz_never_raises(self):
        import random

        from zpdfspark.fixtures import json_doc
        from zpdfspark.kernel.htmltext import extract_any

        rng = random.Random(31)
        base = json_doc(5)[0]
        for _ in range(300):
            b = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            extract_any(bytes(b), "accuracy")


class TestPsSqlite:
    """PostScript DSC census + SQLite header census (round 5)."""

    def test_ps_dispatch_and_census(self):
        import re

        from zpdfspark.fixtures import _sniff_media_kind, ps_doc, ps_plan
        from zpdfspark.kernel.htmltext import extract_any

        for i in range(16):
            raw, _ = ps_doc(i)
            p = ps_plan(i)
            assert _sniff_media_kind(raw) == "ps", i
            t, kind, _ = extract_any(raw)
            assert (t, kind) == ("", "ps"), i
            s = raw.decode()
            assert re.match(r"^%!PS-Adobe-([0-9.]+)",
                            s).group(1) == p["dsc_version"]
            assert ("EPSF" in s[:64]) == p["is_eps"], i
            assert int(re.search(r"%%Pages: *([0-9]+)",
                                 s).group(1)) == p["n_pages"]
            assert re.search(r"%%Title: *([^\n]*)",
                             s).group(1) == p["title"]

    def test_sqlite_real_producer_roundtrip(self):
        """The from-scratch header reader must agree with the
        independent struct re-read on databases the REAL SQLite
        library wrote, across page sizes and encodings."""
        from zpdfspark.fixtures import _sqlite_expected, sqlite_doc
        from zpdfspark.kernel.sqlitedb import parse_sqlite

        sizes = set()
        for i in range(20):
            raw, _ = sqlite_doc(i)
            m = parse_sqlite(raw)
            assert (m["page_size"], m["n_pages"], m["encoding"],
                    m["user_version"],
                    m["valid_size"]) == _sqlite_expected(raw), i
            assert m["valid_size"], i
            sizes.add(m["page_size"])
        assert sizes == {512, 1024, 2048, 4096}

    def test_sqlite_hostile(self):
        import random

        from zpdfspark.fixtures import sqlite_doc
        from zpdfspark.kernel.htmltext import extract_any
        from zpdfspark.kernel.sqlitedb import (SqliteError, is_sqlite,
                                               parse_sqlite)

        # torn download: header intact, body truncated -> valid_size
        # False (the crawl-integrity signal), never a raise
        raw = sqlite_doc(2)[0]
        assert parse_sqlite(raw[:len(raw) // 2])["valid_size"] is False
        # invalid page size rejects
        bad = bytearray(raw)
        bad[16:18] = b"\x00\x03"
        try:
            parse_sqlite(bytes(bad))
            raise AssertionError("page size 3 must reject")
        except SqliteError:
            pass
        assert not is_sqlite(raw[:50])
        rng = random.Random(41)
        for _ in range(300):
            b = bytearray(raw[:600])
            for _ in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            blob = bytes(b)
            if is_sqlite(blob):
                try:
                    parse_sqlite(blob)
                except SqliteError:
                    pass
            extract_any(blob, "accuracy")


class TestDjvu:
    """DjVu container census (round 5 — the legacy scanned-book
    format)."""

    def test_roundtrip_vs_independent_reread(self):
        from zpdfspark.fixtures import (_djvu_expected, _sniff_media_kind,
                                        djvu_doc, djvu_plan)
        from zpdfspark.kernel.djvu import parse_djvu
        from zpdfspark.kernel.htmltext import extract_any

        for i in range(16):
            raw, _ = djvu_doc(i)
            p = djvu_plan(i)
            assert _sniff_media_kind(raw) == "djvu", i
            t, kind, _ = extract_any(raw)
            assert (t, kind) == ("", "djvu"), i
            m = parse_djvu(raw)
            exp = _djvu_expected(raw)
            got = (m["is_multi"], m["n_pages"], m["width"],
                   m["height"], m["dpi"])
            assert got == exp, (i, got, exp)
            assert got == (p["is_multi"], p["n_pages"], p["width"],
                           p["height"], p["dpi"]), i

    def test_hostile(self):
        import random

        from zpdfspark.fixtures import djvu_doc
        from zpdfspark.kernel.djvu import DjvuError, is_djvu, parse_djvu
        from zpdfspark.kernel.htmltext import extract_any

        assert not is_djvu(b"AT&TFORMxxxx????")  # wrong form type
        assert not is_djvu(b"AT&TFOR")
        rng = random.Random(53)
        base = djvu_doc(3)[0]
        for _ in range(300):
            b = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            blob = bytes(b)
            if is_djvu(blob):
                try:
                    parse_djvu(blob)
                except DjvuError:
                    pass
            extract_any(blob, "accuracy")
            extract_any(blob[:rng.randrange(1, len(blob))], "accuracy")


class TestEmlRealProducers:
    """Differential sweep over CPython's own test_email corpus — real
    messages written by real MUAs (the testtar.tar pattern): the
    kernel must agree with the stdlib email package on every message
    the sniff claims. This sweep FOUND three kernel gaps now fixed:
    old-style `addr (Comment)` From lines, RFC 2231 boundary*=
    parameters, digest parts with empty header blocks."""

    def _corpus(self):
        import glob
        import sysconfig

        roots = {sysconfig.get_path("stdlib"),
                 sysconfig.get_path("platstdlib")}
        files = []
        for r in roots:
            if r:
                files += glob.glob(f"{r}/test/test_email/data/msg_*.txt")
        return sorted(set(files))

    def test_agrees_with_stdlib_on_real_messages(self):
        import re

        import pytest

        from zpdfspark.fixtures import _eml_expected
        from zpdfspark.kernel.eml import is_eml, parse_eml

        files = self._corpus()
        if not files:
            pytest.skip("no CPython test_email corpus on this host")
        ws = lambda s: re.sub(r"\s+", " ", s or "").strip()  # noqa: E731
        n = agree = 0
        for p in files:
            raw = open(p, "rb").read()
            if not is_eml(raw):
                continue
            n += 1
            m = parse_eml(raw)            # never raises on real mail
            s, f, d, np_ = _eml_expected(raw)
            ok = (ws(m["subject"]) == ws(s)
                  and (m["from_addr"] or "") == (f or "")
                  and m["date_ts"] == d
                  # message/delivery-status blockettes: stdlib counts
                  # each status block as a part; census-irrelevant
                  and (m["n_parts"] == np_
                       or b"delivery-status" in raw.lower()))
            agree += ok
            assert ok or b"delivery-status" in raw.lower(), (p, m)
        # the corpus ships ~45 messages; a healthy sniff takes most
        assert n >= 25 and agree == n, (n, agree)


class TestCsvRealProducers:
    """Differential sweep over real CSVs shipped on this host (numpy
    test vectors, distro-info tables): wherever the strict sniff
    claims a table, the kernel's census must agree with stdlib
    csv.reader."""

    def test_agrees_with_stdlib_on_real_tables(self):
        import glob

        import numpy
        import os as _os

        import pytest

        from zpdfspark.fixtures import _csv_expected
        from zpdfspark.kernel.csvdoc import looks_like_csv, parse_csv

        roots = [_os.path.join(_os.path.dirname(numpy.__file__),
                               "random", "tests", "data"),
                 "/usr/share/distro-info"]
        files = []
        for r in roots:
            files += glob.glob(_os.path.join(r, "*.csv"))
        files = sorted(files)
        if not files:
            pytest.skip("no real CSVs on this host")
        n = 0
        for p in files:
            raw = open(p, "rb").read()
            if not looks_like_csv(raw):
                continue
            n += 1
            m = parse_csv(raw)
            d, nr, nc, hh = _csv_expected(raw)
            assert (m["delimiter"], m["n_records"], m["n_cols"],
                    m["has_header"]) == (d, nr, nc, hh), p
        assert n >= 3, files


class TestFont:
    """Web-font census kernel (kernel/font.py, round 5)."""

    def test_all_rotations_match_plan(self):
        from zpdfspark.fixtures import _font_expected, font_doc, font_plan
        from zpdfspark.kernel.font import looks_like_font, parse_font

        kinds = set()
        for i in range(24):
            raw, text = font_doc(i)
            p = font_plan(i)
            kinds.add(p["kind"])
            assert text is None and looks_like_font(raw), i
            m = parse_font(raw)
            assert (m["kind"], m["flavor"], m["n_tables"]) == (
                p["kind"], p["flavor"], p["n_tables"]), (i, m)
            assert _font_expected(raw) == (
                m["kind"], m["flavor"], m["n_tables"], m["sfnt_size"]), i
        assert kinds == {"ttf", "otf", "woff", "woff2"}

    def test_extract_any_and_archive_magics(self):
        from zpdfspark.fixtures import font_doc
        from zpdfspark.kernel.htmltext import extract_any

        raw, _ = font_doc(5)
        got, kind, _ = extract_any(raw)
        assert got == "" and kind == "font"
        assert extract_any(b"Rar!\x1a\x07\x00junk")[1] == "rar"
        assert extract_any(b"7z\xbc\xaf\x27\x1cjunk")[1] == "7z"

    def test_weak_magic_hardening(self):
        """sfnt's 0x00010000 magic is weak: implausible table counts
        and short directories must not sniff as fonts."""
        import struct

        from zpdfspark.kernel.font import looks_like_font

        assert not looks_like_font(b"\x00\x01\x00\x00" +
                                   struct.pack(">H", 0) + bytes(6))
        assert not looks_like_font(b"\x00\x01\x00\x00" +
                                   struct.pack(">H", 9999) + bytes(6))
        assert not looks_like_font(b"\x00\x01\x00\x00" +
                                   struct.pack(">H", 50) + bytes(6))
        assert not looks_like_font(b"wOFFonly")  # needs 12+ bytes? has
        # 8: rejected by length
        assert not looks_like_font(b"")

    def test_real_producer_sweep(self):
        """Any real font files shipped on this host must parse and
        agree with the independent struct re-read."""
        import glob

        from zpdfspark.fixtures import _font_expected
        from zpdfspark.kernel.font import looks_like_font, parse_font

        files = []
        for pat in ("/usr/share/fonts/**/*.ttf",
                    "/usr/share/fonts/**/*.otf",
                    "/usr/share/fonts/**/*.woff*"):
            files += glob.glob(pat, recursive=True)
        n = 0
        for p in sorted(files)[:200]:
            raw = open(p, "rb").read()
            if not looks_like_font(raw):
                continue
            n += 1
            m = parse_font(raw)
            assert _font_expected(raw) == (
                m["kind"], m["flavor"], m["n_tables"], m["sfnt_size"]), p
        # censuses agree wherever fonts exist; absence is fine
        assert n >= 0

    def test_fuzz_never_raises(self):
        import random

        from zpdfspark.fixtures import font_doc
        from zpdfspark.kernel.font import (FontError, looks_like_font,
                                           parse_font)

        rng = random.Random(89)
        base = font_doc(6)[0]
        for _ in range(300):
            b = bytearray(base)
            for _ in range(rng.randint(1, 10)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            raw = bytes(b[:rng.randrange(1, len(b))]) \
                if rng.random() < 0.3 else bytes(b)
            if looks_like_font(raw):
                try:
                    parse_font(raw)
                except FontError:
                    pass

    def test_sniffers_agree(self):
        from zpdfspark.fixtures import _sniff_media_kind, font_doc, font_plan
        from zpdfspark.spark.media import sniff_kind

        for i in range(8):
            blob, _ = font_doc(i)
            assert _sniff_media_kind(blob) == font_plan(i)["kind"], i
            assert sniff_kind(blob) == font_plan(i)["kind"], i
        assert _sniff_media_kind(b"Rar!\x1a\x07\x00x") == "rar"
        assert sniff_kind(b"7z\xbc\xaf\x27\x1cx") == "7z"


class TestTxtFallback:
    """Plain-text last-resort dispatch (round 5)."""

    def test_rotations_match_plan(self):
        from zpdfspark.fixtures import _sniff_media_kind, txt_doc
        from zpdfspark.kernel.htmltext import extract_any
        from zpdfspark.spark.media import sniff_kind

        for i in range(24):
            raw, text = txt_doc(i)
            got, kind, _ = extract_any(raw)
            assert (got, kind) == (text, "txt"), i
            assert _sniff_media_kind(raw) == "txt", i
            assert sniff_kind(raw) == "txt", i

    def test_binary_never_reads_as_text(self):
        import os as _os

        from zpdfspark.kernel.htmltext import looks_like_text

        assert not looks_like_text(b"")
        assert not looks_like_text(b"abc\x00def")
        assert not looks_like_text(bytes(range(256)) * 16)
        assert not looks_like_text(b"\xff\xfe" + _os.urandom(64))
        # latin-1 high bytes that are NOT valid utf-8: rejected (the
        # documented posture — charset-less legacy text is ambiguous)
        assert not looks_like_text("café".encode("latin-1") * 40)

    def test_structured_kinds_win(self):
        """Every structured sniff outranks the text fallback."""
        from zpdfspark.fixtures import (csv_doc, eml_doc, latex_doc,
                                        rss_feed, srt_doc)
        from zpdfspark.kernel.htmltext import extract_any

        for gen, kind in ((csv_doc, "csv"), (eml_doc, "eml"),
                          (latex_doc, "tex"), (srt_doc, "srt")):
            assert extract_any(gen(3)[0])[1] == kind, kind
        assert extract_any(rss_feed(1)[0])[1] != "txt"


class TestRealFilesSweep:
    """Real-bytes robustness: a deterministic sample of the host's own
    files (man pages, docs, configs, stdlib sources — thousands of
    REAL producers) through extract_any under a watchdog. Zero
    crashes, zero hangs is the contract; the one-off 30k-file sweep
    is recorded in BASELINE.md (zero crashes, worst doc 167 ms, and
    the dispatch census found real fonts/emails/CSVs/tex/gz+pdf)."""

    def test_no_crash_on_real_host_files(self):
        import os as _os
        import random
        import signal

        from zpdfspark.kernel.htmltext import extract_any

        roots = ["/usr/share/doc", "/usr/share/man", "/etc"]
        files = []
        for r in roots:
            for dirpath, _dirs, fnames in _os.walk(r):
                for fn in fnames:
                    p = _os.path.join(dirpath, fn)
                    try:
                        sz = _os.path.getsize(p)
                    except OSError:
                        continue
                    if 0 < sz <= 2_000_000:
                        files.append(p)
        if not files:
            import pytest

            pytest.skip("no readable host files")
        random.Random(17).shuffle(files)

        class Hang(Exception):
            pass

        def _alarm(signum, frame):
            raise Hang()

        old = signal.signal(signal.SIGALRM, _alarm)
        try:
            for p in files[:1200]:
                try:
                    raw = open(p, "rb").read()
                except OSError:
                    continue
                signal.alarm(5)
                try:
                    extract_any(raw, "accuracy")
                finally:
                    signal.alarm(0)
        finally:
            signal.signal(signal.SIGALRM, old)
