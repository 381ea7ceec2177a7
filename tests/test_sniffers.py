"""The two payload sniffers pinned side by side on one fixture payload
per corpus kind: ``htmltext.extract_any``'s kind (which kernel reads a
payload's text) and ``media.sniff_kind`` (the kind the media and
metadata queries see). They share the ZIP-package precedence
(``package.package_kind``) but are kept apart on purpose, so the pairs
where they differ are pinned as well as the ones where they agree."""

import pytest

pytest.importorskip("pyspark")

from zpdfspark import fixtures  # noqa: E402

# payload key -> the kind both sniffers give. A key is a corpus
# generator name (its payload 0), "<generator>:<i>" for another
# rotation of it, or "malformed_<name>" for a fixtures.MALFORMED entry.
AGREE = {
    "minimal": "pdf", "multipage": "pdf", "tj": "pdf", "cid": "pdf",
    "notype": "pdf", "inline_image": "pdf", "superscript": "pdf",
    "incremental": "pdf", "flate": "pdf", "a85": "pdf", "ahx": "pdf",
    "rl": "pdf", "a85_fl": "pdf", "xref_stream": "pdf", "differences": "pdf",
    "ligatures": "pdf", "surrogate": "pdf", "form_xobject": "pdf",
    "tagged": "pdf", "tagged_md": "pdf", "missing_length": "pdf",
    "metadata": "pdf", "outline": "pdf", "nested_outline": "pdf",
    "link": "pdf", "form_fields": "pdf", "page_labels": "pdf",
    "ext_page_labels": "pdf", "image": "pdf", "utf16be": "pdf",
    "two_column": "pdf", "cff": "pdf", "quote_ops": "pdf", "vertical": "pdf",
    "docx": "docx", "epub": "epub", "xlsx": "xlsx", "pptx": "pptx",
    "rtf": "rtf", "odt": "odt", "ods": "ods", "odp": "odp", "eml": "eml",
    "mbox": "mbox", "srt": "srt", "vtt": "vtt", "ipynb": "ipynb", "tex": "tex",
    "wiki": "wiki", "txt": "txt", "code": "txt", "md": "txt", "json": "json",
    "ps": "ps", "djvu": "djvu", "sqlite": "sqlite", "csv": "csv", "tar": "tar",
    "contents_array": "pdf", "inherited": "pdf", "enc_rc4_40": "pdf",
    "enc_rc4_128": "pdf", "enc_aes128": "pdf", "enc_aes256": "pdf",
    "enc_objstm": "pdf", "json:2": "jsonl", "malformed_cyclic_pages": "pdf",
    "malformed_dangling_startxref": "pdf", "malformed_deep_nesting": "pdf",
    "malformed_encrypted": "pdf", "malformed_encrypted_locked": "pdf",
    "malformed_truncated50": "pdf", "malformed_truncated90": "pdf",
    "malformed_truncated_flate": "pdf",
}

# payload key -> (extract_any kind, sniff_kind) where the two differ:
# extract_any reports a media payload as "unknown" (its PDF-kernel
# fallback), names svg and feeds "html", a wrapper by its inner kind and
# every web font "font"; sniff_kind has no "html" kind at all.
DISAGREE = {
    "png": ("unknown", "png"), "jpeg": ("unknown", "jpeg"),
    "jpeg_prog": ("unknown", "jpeg"), "wav": ("unknown", "wav"),
    "gif": ("unknown", "gif"), "mp4": ("unknown", "mp4"),
    "mp3": ("unknown", "mp3"), "webp": ("unknown", "webp"),
    "flac": ("unknown", "flac"), "ogg": ("unknown", "ogg"),
    "tiff": ("unknown", "tiff"), "bmp": ("unknown", "bmp"),
    "avif": ("unknown", "avif"), "heic": ("unknown", "heic"),
    "svg": ("html", "svg"), "ico": ("unknown", "ico"),
    "webm": ("unknown", "webm"), "gz": ("gz+html", "gz"),
    "bz2": ("bz2+rtf", "bz2"), "xz": ("xz+html", "xz"),
    "font": ("font", "ttf"), "rss": ("html", "feed"), "atom": ("html", "feed"),
    "html": ("html", "binary"), "html_charset": ("html", "binary"),
    "html_linkfarm": ("html", "binary"),
    "html_boilerplate": ("html", "binary"), "html_article": ("html", "binary"),
    "gz:1": ("gz+rtf", "gz"), "bz2:1": ("bz2+html", "bz2"),
    "xz:2": ("xz+rtf", "xz"), "font:1": ("font", "otf"),
    "font:2": ("font", "woff"), "font:3": ("font", "woff2"),
    "malformed_garbage_header": ("unknown", "binary"),
}


def _payload(key: str) -> bytes:
    name, _, i = key.partition(":")
    if name.startswith("malformed_"):
        return fixtures.MALFORMED[name[len("malformed_"):]]()[0]
    return fixtures.GENERATORS[name](int(i or 0))[0]


def test_both_sniffers_are_pinned():
    from zpdfspark.kernel.htmltext import extract_any
    from zpdfspark.spark.media import sniff_kind

    got = {}
    for key in (*AGREE, *DISAGREE):
        raw = _payload(key)
        got[key] = (extract_any(raw)[1], sniff_kind(raw))
    assert got == {**{k: (v, v) for k, v in AGREE.items()}, **DISAGREE}


def test_every_corpus_kind_is_pinned():
    keys = {k.partition(":")[0] for k in (*AGREE, *DISAGREE)}
    kinds = {n for n in fixtures.GENERATORS if n != "big"} | {
        "malformed_" + n for n in fixtures.MALFORMED}
    assert kinds <= keys
