"""Contract of the per-format metadata queries (``_parsed_meta`` rows in
__spark_entry__.py), checked on their per-row functions without Spark:
``_map_blobs`` is replaced by a recorder, so each query hands over the
function it would map over the corpus."""

import pytest

pytest.importorskip("pyspark")

from zpdfspark import fixtures  # noqa: E402

# query -> fixtures builder of a payload of the query's kind
PAYLOADS = {
    "video_stats": "mp4_video", "mp3_stats": "mp3_audio",
    "djvu_meta": "djvu_doc", "flac_meta": "flac_audio",
    "ogg_meta": "ogg_audio", "tiff_meta": "tiff_image",
    "docx_meta": "docx_doc", "epub_meta": "epub_doc",
    "xlsx_meta": "xlsx_doc", "pptx_meta": "pptx_doc",
    "rtf_meta": "rtf_doc", "odt_meta": "odt_doc", "ods_meta": "ods_doc",
    "odp_meta": "odp_doc", "eml_meta": "eml_doc",
    "mbox_meta": "mbox_archive", "subtitle_meta": "srt_doc",
    "ipynb_meta": "ipynb_doc", "csv_meta": "csv_doc",
    "tex_meta": "latex_doc", "wiki_meta": "wiki_doc",
    "sqlite_meta": "sqlite_doc", "font_meta": "font_doc",
    "tar_meta": "tar_archive", "webm_meta": "webm_video",
    "ico_meta": "ico_image", "webp_meta": "webp_image",
    "avif_meta": "avif_image", "heic_meta": "heic_image",
}


def _arrow(schema: str):
    """The Arrow schema ``map_rows`` builds from the DDL ``schema``, for
    the few column types these queries use (``StructType.fromDDL``
    needs a SparkContext)."""
    from pyspark.sql.types import (ArrayType, BooleanType, IntegerType,
                                   LongType, StringType, StructField,
                                   StructType)

    from zpdfspark.spark.udfs import arrow_schema

    types = {"string": StringType(), "int": IntegerType(),
             "long": LongType(), "boolean": BooleanType(),
             "array<string>": ArrayType(StringType())}
    return arrow_schema(StructType([
        StructField(name, types[t])
        for name, t in (f.split(" ", 1) for f in schema.split(", "))]))


def _per_row(monkeypatch, name):
    """(per_row, schema) the query ``name`` would map over the corpus."""
    import __spark_entry__ as E

    got = {}

    def record(spark, sf_dir, per_row, schema):
        got.update(per_row=per_row, schema=schema)

    monkeypatch.setattr(E, "_map_blobs", record)
    E.queries()[name](None, "unused")
    return got["per_row"], got["schema"]


def test_every_parsed_meta_row_is_covered():
    import __spark_entry__ as E

    built = {name for name, q in E.queries().items()
             if q.__qualname__.startswith("_parsed_meta.")}
    assert len(built) >= 27
    assert built <= set(PAYLOADS)


@pytest.mark.parametrize("name", sorted(PAYLOADS))
def test_meta_query_contract(monkeypatch, name):
    """A payload of the query's kind gives exactly one row with one value
    per schema column; cuts and seeded byte mutations of it never raise;
    a PDF gives no row. Every row builds into an Arrow batch of the
    query's schema, as it must inside the Spark task."""
    import random

    from zpdfspark.spark.udfs import to_batch

    per_row, schema = _per_row(monkeypatch, name)
    arrow = _arrow(schema)

    def rows_of(raw):
        rows = list(per_row("u", raw))
        to_batch(rows, arrow)
        return rows

    raw = getattr(fixtures, PAYLOADS[name])(0)[0]
    rows = rows_of(raw)
    assert len(rows) == 1, rows
    assert rows[0][0] == "u" and len(rows[0]) == len(arrow)
    for pct in (10, 25, 50, 75, 90):
        rows_of(raw[:len(raw) * pct // 100])
    rng = random.Random(5)
    for _ in range(200):
        b = bytearray(raw)
        for _ in range(rng.randint(1, 8)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        rows_of(bytes(b))
    assert rows_of(fixtures.minimal()[0]) == []


def _webm(element: bytes) -> bytes:
    """An EBML header, then a Segment holding ``element``."""
    from zpdfspark.fixtures import _ebml_el

    return (_ebml_el(b"\x1a\x45\xdf\xa3", _ebml_el(b"\x42\x82", b"webm"))
            + _ebml_el(b"\x18\x53\x80\x67", element))


def _webm_width_2_32() -> bytes:
    from zpdfspark.fixtures import _ebml_el

    # Tracks > TrackEntry > Video > PixelWidth
    width = _ebml_el(b"\xb0", (1 << 32).to_bytes(5, "big"))
    return _webm(_ebml_el(b"\x16\x54\xae\x6b", _ebml_el(
        b"\xae", _ebml_el(b"\xe0", width))))


def _webm_nan_duration() -> bytes:
    import struct

    from zpdfspark.fixtures import _ebml_el

    # Info > Duration
    return _webm(_ebml_el(b"\x15\x49\xa9\x66", _ebml_el(
        b"\x44\x89", struct.pack(">d", float("nan")))))


def _webm_nan_sampling_frequency() -> bytes:
    import struct

    from zpdfspark.fixtures import _ebml_el

    # Tracks > TrackEntry > Audio > SamplingFrequency
    rate = _ebml_el(b"\xb5", struct.pack(">d", float("nan")))
    return _webm(_ebml_el(b"\x16\x54\xae\x6b", _ebml_el(
        b"\xae", _ebml_el(b"\xe1", rate))))


def _tiff_entry(tag: int, vtype: int, value: int, **kw) -> bytes:
    """A 10x10 TIFF whose IFD0 ``tag`` entry is one inline value of
    type ``vtype`` (3 SHORT, 4 LONG)."""
    from zpdfspark.kernel.tiff import build_tiff

    raw = bytearray(build_tiff(10, 10, **kw))
    n = int.from_bytes(raw[8:10], "little")
    e = next(10 + 12 * i for i in range(n)
             if int.from_bytes(raw[10 + 12 * i:12 + 12 * i], "little") == tag)
    raw[e + 2:e + 8] = vtype.to_bytes(2, "little") + (1).to_bytes(4, "little")
    raw[e + 8:e + 12] = value.to_bytes(4, "little")
    return bytes(raw)


def _sqlite_2_31_pages() -> bytes:
    raw = bytearray(fixtures.sqlite_doc(0)[0])
    raw[28:32] = (1 << 31).to_bytes(4, "big")   # header: database pages
    return bytes(raw)


def _mp4_duration_2_64() -> bytes:
    raw = bytearray(fixtures.mp4_video(0)[0])
    s = raw.index(b"mvhd") + 4                  # the box's payload
    raw[s] = 1                                  # version 1: 64-bit times
    raw[s + 20:s + 32] = (1).to_bytes(4, "big") + b"\xff" * 8
    return bytes(raw)


def _avif(**kw) -> bytes:
    from zpdfspark.kernel.mp4 import encode_avif

    return encode_avif(**kw)


# payloads of a query's kind carrying a value no column of its schema
# holds, or one no integer holds: each used to fail the Spark task (an
# Arrow conversion error, or a ValueError for a NaN)
OUT_OF_RANGE = {
    "webm width 2**32": ("webm_meta", _webm_width_2_32),
    "webm NaN duration": ("webm_meta", _webm_nan_duration),
    "webm NaN sampling frequency": ("webm_meta",
                                    _webm_nan_sampling_frequency),
    "tiff LONG width 2**31": ("tiff_meta",
                              lambda: _tiff_entry(0x0100, 4, 1 << 31)),
    "tiff LONG bits 2**31": ("tiff_meta",
                             lambda: _tiff_entry(0x0102, 4, 1 << 31)),
    "tiff SHORT description": ("tiff_meta", lambda: _tiff_entry(
        0x010E, 3, 7, description="ab")),
    "mp4 duration 2**64 s": ("video_stats", _mp4_duration_2_64),
    "avif width 2**31": ("avif_meta", lambda: _avif(width=1 << 31, height=5)),
    "heic height 2**31": ("heic_meta", lambda: _avif(
        width=5, height=1 << 31, brand=b"heic", codec=b"hvcC")),
    "sqlite 2**31 pages": ("sqlite_meta", _sqlite_2_31_pages),
}


@pytest.mark.parametrize("case", sorted(OUT_OF_RANGE))
def test_out_of_range_value_gives_no_row(monkeypatch, case):
    """The kernel rejects such a payload with its own error class, so
    the query drops it like any other corrupt payload of its kind."""
    name, build = OUT_OF_RANGE[case]
    per_row, _schema = _per_row(monkeypatch, name)
    assert list(per_row("u", build())) == []
