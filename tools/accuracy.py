"""Accuracy harness: corpus-wide extraction-quality statistics.

The analog of the reference's differential oracle
(/root/reference/benchmark/accuracy.py: char-level difflib similarity +
word-error-rate vs a reference extractor after whitespace
normalization). Here the reference text is the corpus's self-carried
oracle, and the comparison runs distributed (a per-row scoring kernel
on udfs.map_rows), so the same harness scales to real
corpora scored against any reference column.

Usage: python tools/accuracy.py [n_docs] [seed]
Prints one JSON line with similarity/WER aggregates per extraction mode.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _normalize(text: str) -> str:
    """Whitespace normalization matching the reference harness
    (accuracy.py:32-50): collapse all whitespace runs to single spaces."""
    return " ".join(text.split())


def score_rows(mode: str):
    """per_row(url, html, text) for udfs.map_rows: extract the blob and
    score it against its reference text; rows without one emit
    nothing."""
    import difflib

    from zpdfspark.kernel.htmltext import extract_any

    def per_row(url, blob, ref):
        if ref is None:
            return
        a = _normalize(extract_any(blob, mode)[0])
        b = _normalize(ref)
        sim = difflib.SequenceMatcher(None, a, b).ratio() if (a or b) else 1.0
        aw, bw = a.split(), b.split()
        ops = difflib.SequenceMatcher(None, aw, bw).get_opcodes()
        errs = sum(max(i2 - i1, j2 - j1)
                   for tag, i1, i2, j1, j2 in ops if tag != "equal")
        yield url, sim, errs / max(len(bw), 1)

    return per_row


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42

    from zpdfspark.fixtures import CORPUS_VERSION, write_corpus_parquet
    from zpdfspark.spark.session import get_spark
    from zpdfspark.spark.udfs import map_rows

    import pyspark.sql.functions as F

    path = f"/tmp/zpdfspark_acc_{CORPUS_VERSION}_{n_docs}_{seed}.parquet"
    if not os.path.exists(path):
        write_corpus_parquet(path + ".tmp", n_docs, seed=seed)
        os.replace(path + ".tmp", path)

    spark = get_spark(8, "accuracy")
    df = spark.read.parquet(path)
    result = {}
    for mode in ("accuracy", "fast"):
        scored = map_rows(df.select("url", "html", "text"), score_rows(mode),
                          "url string, similarity double, wer double")
        agg = scored.agg(
            F.count("*").alias("n"),
            F.round(F.avg("similarity"), 4).alias("mean_sim"),
            F.round(F.min("similarity"), 4).alias("min_sim"),
            F.round(F.avg("wer"), 4).alias("mean_wer"),
            F.sum((F.col("similarity") < 1.0).cast("int")).alias("imperfect"),
        ).collect()[0]
        result[mode] = {k: agg[k] for k in
                        ("n", "mean_sim", "min_sim", "mean_wer", "imperfect")}
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
