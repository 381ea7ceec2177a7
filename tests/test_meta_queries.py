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
    per schema column; cuts of it never raise; a PDF gives no row."""
    per_row, schema = _per_row(monkeypatch, name)
    raw = getattr(fixtures, PAYLOADS[name])(0)[0]
    rows = list(per_row("u", raw))
    assert len(rows) == 1, rows
    assert rows[0][0] == "u" and len(rows[0]) == len(schema.split(","))
    for pct in (10, 25, 50, 75, 90):
        list(per_row("u", raw[:len(raw) * pct // 100]))
    assert list(per_row("u", fixtures.minimal()[0])) == []
