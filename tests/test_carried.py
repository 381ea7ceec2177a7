"""The corpus the oracles and benchmarks read, and the carried field
tables (``fixtures.CARRIED``) it is built from: a golden digest per
``CORPUS_VERSION``, and the output columns of the queries whose schema
and oracle SQL both derive from a table."""

import hashlib

import pytest

from zpdfspark import fixtures

# CORPUS_VERSION -> digests of write_corpus_parquet's table (schema and
# contents) for (200 mixed docs, 64 heavy docs), seed 42. A change to a
# generator, a re-read or the corpus schema changes them: bump
# CORPUS_VERSION (corpora are cached by it) and record the new digests.
GOLDEN = {
    "v61": ("d8d5ef87588c8160eff495111842af6829379653f675dac19e5487059d430688",
            "be9074d66b849e0606dc3fb401e626b46af2654978f4c6dff349751caefac64b"),
}

# The output columns of every query whose schema and oracle SQL are both
# generated from a carried field table. Both sides of its oracle check
# read the table's names, so this is the check that a name lands on the
# right field.
CARRIED_QUERY_COLUMNS = {
    "video_stats": "duration_ms n_tracks width height",
    "mp3_stats": "n_frames sample_rate n_channels duration_ms kbps title "
                 "artist",
    "flac_meta": "sample_rate n_channels bits total_samples duration_ms "
                 "title artist",
    "ogg_meta": "codec n_channels sample_rate n_pages duration_ms title "
                "artist",
    "tiff_meta": "width height bits compression n_pages description",
    "docx_meta": "n_paragraphs n_entries title creator n_text_chars",
    "epub_meta": "n_chapters n_entries title creator n_text_chars",
    "xlsx_meta": "n_sheets n_cells n_entries title sheet_names n_text_chars",
    "pptx_meta": "n_slides n_shapes n_entries title n_text_chars",
    "rtf_meta": "n_paragraphs title n_text_chars",
    "odt_meta": "n_paragraphs n_entries title creator n_text_chars",
    "ods_meta": "n_sheets n_cells n_entries title creator n_text_chars",
    "odp_meta": "n_slides n_frames n_entries title creator n_text_chars",
    "ico_meta": "n_images width height any_png",
    "webm_meta": "doc_type duration_ms n_tracks width height video_codec "
                 "audio_codec",
    "tar_meta": "n_members n_dirs n_bytes first_name",
    "eml_meta": "subject from_addr date_ts n_parts n_text_chars",
    "mbox_meta": "n_messages first_subject first_from min_date_ts "
                 "max_date_ts",
    "subtitle_meta": "kind n_cues duration_ms n_text_chars",
    "csv_meta": "delimiter n_records n_cols has_header n_text_chars",
    "font_meta": "kind flavor n_tables sfnt_size",
    "sqlite_meta": "page_size n_pages encoding user_version valid_size",
    "djvu_meta": "is_multi n_pages width height dpi",
}


def _table_digest(path: str) -> str:
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    h = hashlib.sha256(t.schema.remove_metadata().to_string().encode())
    for name in t.column_names:
        h.update(repr(t.column(name).to_pylist()).encode())
    return h.hexdigest()


def test_corpus_golden_digest(tmp_path):
    pytest.importorskip("pyarrow")
    assert fixtures.CORPUS_VERSION in GOLDEN, (
        f"record the digests of CORPUS_VERSION {fixtures.CORPUS_VERSION}")
    mixed = fixtures.write_corpus_parquet(str(tmp_path / "mixed.parquet"),
                                          200, seed=42)
    heavy = fixtures.write_corpus_parquet(str(tmp_path / "heavy.parquet"),
                                          64, seed=42, profile="heavy",
                                          row_group_size=64)
    import pyarrow.parquet as pq

    gens = {u.split("/")[3] for u in
            pq.read_table(mixed, columns=["url"]).column("url").to_pylist()}
    assert gens >= set(fixtures.GENERATORS) - {"big"}
    got = (_table_digest(mixed), _table_digest(heavy))
    assert got == GOLDEN[fixtures.CORPUS_VERSION], (
        f"the corpus changed under CORPUS_VERSION {fixtures.CORPUS_VERSION}:"
        f" bump it and record {got}")


def test_expected_columns_hold_every_carried_column_once():
    cols = fixtures.EXPECTED_COLUMNS
    assert len(set(cols)) == len(cols)
    carried = [c for t in fixtures.CARRIED.values() for c, _, _ in t.fields]
    assert set(carried) <= set(cols)
    # each table's columns sit together, in the table's order
    for t in fixtures.CARRIED.values():
        names = [c for c, _, _ in t.fields]
        at = cols.index(names[0])
        assert list(cols[at:at + len(names)]) == names


def test_carried_query_columns():
    got = {t.query: " ".join([n for _, _, n in t.fields]
                             + ["n_text_chars"] * t.text_chars)
           for t in fixtures.CARRIED.values() if t.query is not None}
    assert got == CARRIED_QUERY_COLUMNS


def test_carried_queries_are_registered():
    pytest.importorskip("pyspark")
    import __spark_entry__ as E

    assert set(CARRIED_QUERY_COLUMNS) <= set(E.queries())
    sql = E._carried_oracles("corpus")
    assert set(sql) == set(CARRIED_QUERY_COLUMNS)
    assert sql["font_meta"] == (
        "SELECT url, font_kind AS kind, font_flavor AS flavor, "
        "font_n_tables AS n_tables, font_sfnt_size AS sfnt_size "
        "FROM corpus WHERE media_kind IN ('ttf', 'otf', 'woff', 'woff2') "
        "ORDER BY url")
    assert E._carried_schema("rtf") == (
        "n_paragraphs int, title string, n_text_chars int")
