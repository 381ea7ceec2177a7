"""Value oracles for the per-document Python query kernels: each query
below runs on Spark at sf0.01 and must match its DuckDB ``oracle_sql()``
replay, through the same check ``tools/check_oracles.py`` applies
(``oracle_sql()`` reads the sf0.01 corpus, so no other scale works)."""

import os

import pytest

pytest.importorskip("pyspark")
pytest.importorskip("duckdb")

SF_DIR = "/root/testdata/sf0.01"

QUERIES = (
    # the 32 per-format family queries
    "html_dense", "image_stats", "video_stats", "exif_meta", "djvu_meta",
    "mp3_stats", "flac_meta", "ogg_meta", "tiff_meta", "docx_meta",
    "epub_meta", "xlsx_meta", "pptx_meta", "rtf_meta", "odt_meta",
    "ods_meta", "odp_meta", "eml_meta", "mbox_meta", "subtitle_meta",
    "ipynb_meta", "csv_meta", "tex_meta", "wiki_meta", "sqlite_meta",
    "font_meta", "tar_meta", "webm_meta", "ico_meta", "webp_meta",
    "avif_meta", "heic_meta",
    "media_stats", "charset_report", "unicode_normalize", "compressibility",
    "image_phash", "image_neardup", "html_blocks",
    "extract_metadata", "extract_spans", "extract_search",
    "extract_doc_json", "extract_sql_udf", "extract_features",
    "extract_markdown", "extract_markdown_structured", "extract_pages",
    # the media and WARC reader kernels (spark/media.py, warc_source.py)
    "audio_stats", "media_frames", "media_embed", "warc_ingest",
    "warc_revisit", "warc_http_meta", "mime_audit", "warc_cdx",
)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"{SF_DIR} not present")


@pytest.fixture(scope="module")
def oracle_env():
    from tools.check_oracles import duckdb_views
    from zpdfspark.spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark(4, "zpdfspark-oracle-tests", shuffle_partitions=4)
    yield spark, duckdb_views(SF_DIR), E.queries(), E.oracle_sql()
    spark.stop()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(oracle_env, name):
    from tools.check_oracles import compare

    spark, con, queries, oracles = oracle_env
    ok, report = compare(con, name, queries[name](spark, SF_DIR),
                         oracles[name])
    assert ok, "\n".join(report)
