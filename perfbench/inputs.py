"""Seeded, cached benchmark inputs built from ``zpdfspark.fixtures``.

Each input lives in ``<checkout>/.bench_cache/<key>/``. The key holds the
fixture version, the seed and the size, so the same seed reuses the files
and a generator change rebuilds them. Building is never timed.

The expected output is generator truth, never the kernel's: per-url MD5
digests of the generators' ``text`` and, for the registry queries, a
fingerprint of each ``oracle_sql()`` answer computed by DuckDB.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

from zpdfspark import fixtures

# sizes: each workload's jobs stay a few seconds long on 4 cores
PDF_HEAVY_DOCS = 1024         # 16 row groups of 64 docs
WARC_DOCS = 1000              # 250 per shard on 4 cores
CURATION_DOCS = 500           # rows of sf0.01's documents table
CURATION_CORPUS_DOCS = 400    # mixed-profile corpus the extraction queries read

CURATION_QUERIES = (
    "extract_accuracy", "extract_fast", "dedup_exact", "minhash_signatures",
    "token_counts", "substring_dedup", "cms_token_freq",
    "neardup_clusters_sample", "docx_meta", "xlsx_meta",
)

# documents table: the shape of the sf-scale documents.parquet as measured
# in sf0.01 (the table the oracle gate reads; sf0.001 is the same): 500
# rows; words drawn uniformly from a 30-word vocabulary, 10-99 words per
# document; 5% near duplicates (an earlier text plus " dup", so 31
# distinct tokens); no exact copies; lang shares below; source
# src{doc_id % 20}; n_chars = len(text)
DOCUMENTS_VERSION = 2
_VOCAB = ("a the data row column table scan join hash sort merge key value "
          "group agg filter window order part line customer query spark batch "
          "stream vector fast slow big small").split()
_LANGS = {"en": 0.42, "zh": 0.15, "es": 0.15, "fr": 0.14, "de": 0.14}
NEAR_DUP_SHARE = 0.05


def _cached(cache_root: str, key: str, build) -> str:
    """Directory ``cache_root/key``, built by ``build(dir)`` on first use."""
    d = os.path.join(cache_root, key)
    if not os.path.exists(os.path.join(d, "_READY")):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, "_READY"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return d


def text_digest(text: str | None) -> str | None:
    return None if text is None else hashlib.md5(text.encode("utf-8")).hexdigest()


def _write_expected(d: str, rows) -> None:
    """rows: (url, expected text or None) -> {url: md5 hex or None}."""
    with open(os.path.join(d, "expected.json"), "w") as f:
        json.dump({url: text_digest(text) for url, text in rows}, f)


def _read_json(d: str, name: str):
    with open(os.path.join(d, name)) as f:
        return json.load(f)


def _dir_mb(d: str, suffix: str) -> float:
    return sum(os.path.getsize(os.path.join(d, n)) for n in os.listdir(d)
               if n.endswith(suffix)) / 1e6


def pdf_heavy(cache_root: str, seed: int, n: int = PDF_HEAVY_DOCS) -> dict:
    """Heavy-profile parquet corpus: 10-40-page Flate PDFs, 0.5% giants."""
    def build(d):
        import pyarrow.parquet as pq

        path = os.path.join(d, "corpus.parquet")
        fixtures.write_corpus_parquet(path, n, seed=seed, profile="heavy",
                                      row_group_size=64)
        t = pq.read_table(path, columns=["url", "text"])
        _write_expected(d, zip(t.column("url").to_pylist(),
                               t.column("text").to_pylist()))

    d = _cached(cache_root,
                f"pdf_heavy-{fixtures.CORPUS_VERSION}-s{seed}-n{n}", build)
    return {"path": os.path.join(d, "corpus.parquet"),
            "expected": _read_json(d, "expected.json"), "docs": n,
            "input_mb": _dir_mb(d, ".parquet")}


def warc(cache_root: str, seed: int, shards: int, n: int = WARC_DOCS) -> dict:
    """``write_warc_fixture`` shards of the mixed corpus (~100 payload kinds)."""
    def build(d):
        fixtures.write_warc_fixture(os.path.join(d, "warc"), n, seed=seed,
                                    shards=shards)
        _write_expected(d, ((url, text) for url, _ts, _b, text, _l
                            in fixtures.corpus_rows(n, seed=seed)))

    d = _cached(cache_root,
                f"warc-{fixtures.CORPUS_VERSION}{fixtures.WARC_FIXTURE_VERSION}"
                f"-s{seed}-n{n}-k{shards}", build)
    return {"dir": os.path.join(d, "warc"),
            "glob": os.path.join(d, "warc", "*.warc.gz"),
            "expected": _read_json(d, "expected.json"), "docs": n,
            "input_mb": _dir_mb(os.path.join(d, "warc"), ".warc.gz")}


def write_documents(path: str, n: int, seed: int) -> None:
    """A documents table (doc_id, text, lang, source, n_chars) with the
    measured shape of the sf-scale table, described at _VOCAB."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < NEAR_DUP_SHARE:
            text = texts[rng.randrange(len(texts))] + " dup"
        else:
            text = " ".join(rng.choice(_VOCAB)
                            for _ in range(rng.randint(10, 99)))
        texts.append(text)
    langs = rng.choices(list(_LANGS), weights=list(_LANGS.values()), k=n)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


def registry(corpus_path: str):
    """``__spark_entry__`` with its fixed /tmp caches pointed at the
    benchmark's inputs: the corpus at ``corpus_path``; WARC and BPE oracle
    inputs, which the listed queries never read, at paths that are never
    created."""
    import __spark_entry__ as entry

    missing = os.path.join(os.path.dirname(corpus_path), "unused")
    entry._corpus_path = lambda sf_dir: corpus_path
    entry._warc_paths = lambda sf_dir: (os.path.join(missing, "*.warc.gz"),
                                        os.path.join(missing, "expected.parquet"))
    entry._bpe_expected = lambda sf_dir: (os.path.join(missing, "bpe.parquet"),
                                          os.path.join(missing, "merges.parquet"))
    return entry


def normalize(rows, cols) -> list[str]:
    """Order-insensitive, column-order-insensitive row strings; floats
    rounded to 6 places (the oracle gate's comparison)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append("|".join(str(round(r[i], 6) if isinstance(r[i], float)
                                else r[i]) for i in order))
    out.sort()
    return out


def fingerprint(lines: list[str]) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "surrogatepass") + b"\n")
    return h.hexdigest()


def curation(cache_root: str, seed: int, n_docs: int = CURATION_DOCS,
             n_corpus: int = CURATION_CORPUS_DOCS) -> dict:
    """sf directory with a seeded documents table, a seeded mixed corpus
    for the registry's extraction and *_meta queries, and the DuckDB
    oracle fingerprint of every listed query."""
    def build(d):
        import duckdb

        sf = os.path.join(d, "sf")
        os.makedirs(sf)
        write_documents(os.path.join(sf, "documents.parquet"), n_docs, seed)
        corpus = os.path.join(d, "corpus.parquet")
        fixtures.write_corpus_parquet(corpus, n_corpus, seed=seed)
        oracles = registry(corpus).oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf, 'documents.parquet')}')")
            expected = {}
            for name in CURATION_QUERIES:
                res = con.execute(oracles[name])
                lines = normalize(res.fetchall(), [c[0] for c in res.description])
                expected[name] = {"rows": len(lines),
                                  "fingerprint": fingerprint(lines)}
        finally:
            con.close()
        with open(os.path.join(d, "oracles.json"), "w") as f:
            json.dump(expected, f)

    d = _cached(cache_root, f"curation-{fixtures.CORPUS_VERSION}"
                            f"-t{DOCUMENTS_VERSION}-s{seed}-d{n_docs}-c{n_corpus}",
                build)
    return {"sf_dir": os.path.join(d, "sf"),
            "corpus": os.path.join(d, "corpus.parquet"),
            "oracles": _read_json(d, "oracles.json"),
            "docs": n_docs, "corpus_docs": n_corpus,
            "input_mb": (_dir_mb(d, ".parquet")
                         + _dir_mb(os.path.join(d, "sf"), ".parquet"))}
