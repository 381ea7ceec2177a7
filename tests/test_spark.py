"""Spark-layer integration tests: extraction UDFs, SQL registration,
pipeline lineage + checkpoint/resume."""

import json
import os
import re
import shutil

import pytest

pyspark = pytest.importorskip("pyspark")

import pyspark.sql.functions as F  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from zpdfspark.spark.session import get_spark

    s = get_spark(4, "zpdfspark-tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory):
    from zpdfspark.fixtures import write_corpus_parquet

    p = tmp_path_factory.mktemp("corpus") / "corpus.parquet"
    write_corpus_parquet(str(p), 150, seed=42)
    return str(p)


def test_extract_dataframe_parity(spark, corpus_path):
    from zpdfspark.spark.udfs import extract_dataframe

    corpus = spark.read.parquet(corpus_path)
    res = extract_dataframe(corpus, "accuracy")
    joined = res.join(corpus.select("url", "text"), "url")
    total = joined.where(F.col("text").isNotNull()).count()
    match = joined.where(
        F.col("text").isNotNull() & (F.col("extracted_text") == F.col("text"))
    ).count()
    assert match == total > 0


def test_sql_udfs(spark, corpus_path):
    from zpdfspark.spark.udfs import register_sql_udfs

    register_sql_udfs(spark)
    spark.read.parquet(corpus_path).createOrReplaceTempView("pages")
    row = spark.sql(
        "SELECT count(*) AS n, sum(zpdf_page_count(html)) AS pages, "
        "sum(CASE WHEN zpdf_is_encrypted(html) THEN 1 ELSE 0 END) AS enc "
        "FROM pages"
    ).collect()[0]
    assert row["n"] == 150
    assert row["pages"] > 0



# -- udfs.map_rows --------------------------------------------------------


def test_map_rows_zero_output_rows_keep_list_type(spark):
    """A batch whose rows all yield nothing (the xlsx_meta case: most
    batches hold no xlsx payload) gives an empty result with the
    declared array<string> column, and list values survive when some
    rows do yield."""
    from zpdfspark.spark.udfs import map_rows

    df = spark.createDataFrame([("a", b"x"), ("b", b"y")],
                               "url string, html binary").coalesce(1)
    out = map_rows(df, lambda url, raw: iter(()),
                   "url string, names array<string>")
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<url:string,names:array<string>>"
    kept = map_rows(df, lambda url, raw: iter([(url, ["s1"])] if url == "b"
                                              else []),
                    "url string, names array<string>")
    assert [tuple(r) for r in kept.collect()] == [("b", ["s1"])]


def test_map_rows_nulls_in_int_long_boolean(spark):
    from zpdfspark.spark.udfs import map_rows

    df = spark.createDataFrame([("a", b"x")], "url string, html binary")
    out = map_rows(df, lambda url, raw: iter([(url, None, None, None),
                                              (url, 1, 2 ** 40, True)]),
                   "url string, i int, n long, ok boolean")
    assert [tuple(r) for r in out.collect()] == [
        ("a", None, None, None), ("a", 1, 2 ** 40, True)]


def test_map_rows_several_rows_per_input_and_null_blob(spark):
    """Many output rows per input row (the spans/pages shape), and a null
    binary value arrives as b"" while a null string stays None."""
    from zpdfspark.spark.udfs import map_rows

    df = spark.createDataFrame(
        [("a", b"abc", "t"), ("b", None, None)],
        "url string, html binary, text string")

    def per_row(url, raw, text):
        for i, ch in enumerate(raw or b"-"):
            yield url, i, type(raw).__name__, len(raw), text is None

    out = map_rows(df, per_row,
                   "url string, i int, kind string, n int, null_text boolean")
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", 0, "bytes", 3, False), ("a", 1, "bytes", 3, False),
        ("a", 2, "bytes", 3, False), ("b", 0, "bytes", 0, True)]


def test_image_neardup_finds_seeded_pair(spark, tmp_path, monkeypatch):
    """The sf0.01 corpus holds no near-duplicate png pair, so its
    oracle returns no rows. Here the query reads png 4, the one-pixel
    clone of png 3, next to png 8 (interlaced, out of scope) and png 9
    (the clone of 8, far from 3 and 4): exactly the seeded pair comes
    back, at the distances the independent re-read gives."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E
    from zpdfspark.fixtures import _phash_expected, png_image

    ids = (3, 4, 8, 9)
    path = str(tmp_path / "pngs.parquet")
    pq.write_table(pa.table({
        "url": [f"https://img.example/{i}.png" for i in ids],
        "html": [png_image(i)[0] for i in ids],
        "media_kind": ["png"] * len(ids)}), path)
    monkeypatch.setattr(E, "_corpus_path", lambda sf_dir: path)

    (a3, d3), (a4, d4) = (_phash_expected(png_image(i)[0]) for i in (3, 4))
    assert (bin(a3 ^ a4).count("1"), bin(d3 ^ d4).count("1")) == (1, 0)
    rows = E.queries()["image_neardup"](spark, str(tmp_path)).collect()
    assert [tuple(r) for r in rows] == [
        ("https://img.example/3.png", "https://img.example/4.png", 1, 0)]


def test_udfs_and_pipeline_import_without_pandas():
    import subprocess
    import sys

    code = ("import sys, zpdfspark.spark.udfs, zpdfspark.spark.pipeline; "
            "print('pandas' in sys.modules)")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True,
                         cwd=os.path.dirname(os.path.dirname(
                             os.path.abspath(__file__))))
    assert out.stdout.strip() == "False", out.stderr


def test_lineage_accumulator_unpickles_without_pipeline(spark, tmp_path):
    """A Python worker that unpickles the lineage accumulator, after the
    imports the worker daemon makes, imports neither pipeline.py nor the
    argparse it needs."""
    import subprocess
    import sys

    from pyspark.serializers import CloudPickleSerializer

    from zpdfspark.spark.pipeline import _lineage_rollup

    _, acc = _lineage_rollup(spark.range(1))
    pickled = tmp_path / "acc.pkl"
    pickled.write_bytes(CloudPickleSerializer().dumps(acc))
    code = ("import pickle, sys, pyspark.daemon, pyspark.worker, "
            "zpdfspark.spark, zpdfspark.kernel.htmltext; "
            f"pickle.loads(open({str(pickled)!r}, 'rb').read()); "
            "print([m for m in ('zpdfspark.spark.pipeline', 'argparse') "
            "if m in sys.modules])")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True,
                         cwd=os.path.dirname(os.path.dirname(
                             os.path.abspath(__file__))))
    assert out.stdout.strip() == "[]", out.stderr


def test_jobs_set_no_conf_on_caller_session(spark, corpus_path, tmp_path,
                                            monkeypatch):
    """A fused single-pass WARC run, a per-bucket parquet run and a
    connected_components run set their tuned conf in their own clone of
    the caller's session: no conf is set or unset on the caller's."""
    from pyspark.sql.conf import RuntimeConfig

    from zpdfspark.fixtures import write_warc_fixture
    from zpdfspark.spark.cc import connected_components
    from zpdfspark.spark.pipeline import run_extraction_job

    glob, _ = write_warc_fixture(str(tmp_path / "warc"), 40, seed=17)
    caller, clones = [], []
    for name in ("set", "unset"):
        real = getattr(RuntimeConfig, name)

        def spy(self, *args, _real=real, _name=name):
            (caller if self is spark.conf else clones).append((_name,) + args)
            return _real(self, *args)

        monkeypatch.setattr(RuntimeConfig, name, spy)

    fused = run_extraction_job(spark, glob, str(tmp_path / "fused"),
                               input_format="warc", n_buckets=2,
                               partitions=4, single_pass=True)
    per_bucket = run_extraction_job(spark, corpus_path,
                                    str(tmp_path / "buckets"), n_buckets=2,
                                    partitions=4)
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)],
                                  "src long, dst long")
    labels = sorted(tuple(r) for r in connected_components(edges).collect())
    assert fused["docs"] == 40 and per_bucket["docs"] == 150
    assert labels == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]
    assert caller == []
    # the spy sees the jobs' own sets: split sizing twice, cc's three keys
    assert [c[1] for c in clones].count(
        "spark.sql.files.maxPartitionBytes") == 2
    assert len(clones) == 5, clones


def _drop_lineage_bucket(spark, out, bucket):
    """Rewrite out/_lineage without ``bucket``'s row, as if the run had
    died before recording it."""
    lineage_dir = os.path.join(out, "_lineage")
    lineage = spark.read.json(lineage_dir).where(F.col("bucket") != bucket)
    rows = [r.asDict() for r in lineage.collect()]
    shutil.rmtree(lineage_dir)
    os.makedirs(lineage_dir)
    with open(os.path.join(lineage_dir, "part-manual.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _jobs_started(spark, fn, group="zpdfspark-test-jobs"):
    """Number of Spark jobs ``fn()`` starts, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        before = len(sc.statusTracker().getJobIdsForGroup(group))
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group)) - before
    finally:
        sc._jsc.clearJobGroup()


def test_pipeline_resume(spark, corpus_path, tmp_path, assert_zstd):
    from zpdfspark.spark.pipeline import completed_buckets, run_extraction_job

    out = str(tmp_path / "out")
    s1 = run_extraction_job(spark, corpus_path, out, n_buckets=4, partitions=4)
    assert s1["buckets_run"] == 4
    assert s1["docs"] == 150
    done = completed_buckets(spark, os.path.join(out, "_lineage"))
    assert done == [0, 1, 2, 3]

    # simulate a crash: wipe one bucket's lineage and rerun — only the
    # missing bucket should re-execute (anti-join on completed lineage)
    _drop_lineage_bucket(spark, out, 2)

    s2 = run_extraction_job(spark, corpus_path, out, n_buckets=4, partitions=4)
    assert s2["buckets_skipped"] == 3
    assert s2["buckets_run"] == 1

    # all docs present exactly once in the output
    result = spark.read.parquet(os.path.join(out, "data"))
    assert result.select("url").distinct().count() == 150
    assert result.count() == 150
    assert_zstd(os.path.join(out, "data"))


def test_lineage_metrics_populated(spark, corpus_path, tmp_path):
    from zpdfspark.spark.pipeline import run_extraction_job

    out = str(tmp_path / "out2")
    run_extraction_job(spark, corpus_path, out, n_buckets=2, partitions=4)
    lineage = spark.read.json(os.path.join(out, "_lineage"))
    row = lineage.agg(
        F.sum("n_docs").alias("docs"),
        F.sum("n_pages").alias("pages"),
        F.sum("n_errors").alias("errors"),
        F.sum("stream_pages").alias("stream_pages"),
    ).collect()[0]
    assert row["docs"] == 150
    assert row["pages"] > 0
    assert row["stream_pages"] > 0
    # lineage error total equals the per-doc error_count ground truth
    truth = (
        spark.read.parquet(os.path.join(out, "data"))
        .agg(F.sum("error_count")).collect()[0][0]
    )
    assert row["errors"] == truth


def test_lineage_rows_written_without_python_scan(spark, tmp_path):
    """Lineage rows are written by the driver through the Hadoop
    FileSystem: no Spark job (so no Python task) runs, no hidden temp
    file is left behind, and the JSON lines are byte-for-byte the ones
    Spark's JSON writer produced (Java ``Double.toString`` doubles)."""
    from zpdfspark.spark.pipeline import _append_lineage, completed_buckets

    def row(bucket, n_docs, wall):
        return {"bucket": bucket, "n_docs": n_docs, "n_pages": 5,
                "n_chars": 12345678901, "n_errors": 1, "n_encrypted": 0,
                "objects_resolved": 40, "streams_decoded": 7,
                "structured_pages": 2, "stream_pages": 3,
                "geometric_pages": 0, "coverage_fallbacks": 0,
                "wall_secs": wall, "status": "ok",
                "finished_at": "2026-01-02T03:04:05Z"}

    rows = [row(0, 3, 1.25), row(3, 6, 0.1 + 0.2), row(5, 1, 0.0005),
            row(6, 2, 12345678.9)]
    out = str(tmp_path / "_lineage")
    assert _jobs_started(spark, lambda: _append_lineage(spark, rows, out)) \
        == 0
    names = [n for n in os.listdir(out) if not n.endswith(".crc")]
    assert len(names) == 1 and names[0].startswith("part-") \
        and names[0].endswith(".json")
    with open(os.path.join(out, names[0])) as f:
        got = f.read()
    tail = ('"n_pages":5,"n_chars":12345678901,"n_errors":1,'
            '"n_encrypted":0,"objects_resolved":40,"streams_decoded":7,'
            '"structured_pages":2,"stream_pages":3,"geometric_pages":0,'
            '"coverage_fallbacks":0,"wall_secs":%s,"status":"ok",'
            '"finished_at":"2026-01-02T03:04:05Z"}\n')
    assert got == ('{"bucket":0,"n_docs":3,' + tail % "1.25"
                   + '{"bucket":3,"n_docs":6,' + tail % "0.30000000000000004"
                   + '{"bucket":5,"n_docs":1,' + tail % "5.0E-4"
                   + '{"bucket":6,"n_docs":2,' + tail % "1.23456789E7")
    assert completed_buckets(spark, out) == [0, 3, 5, 6]


def _written_frames(monkeypatch, write=True):
    """The frames the pipeline hands to ``DataFrameWriter.parquet``,
    recorded as they are written; with ``write=False`` nothing is
    written."""
    from pyspark.sql.readwriter import DataFrameWriter

    frames = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        frames.append(self._df)
        if write:
            return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    return frames


def test_blob_exchange_only_when_asked(spark, corpus_path, tmp_path,
                                       monkeypatch):
    """The 100 TB shape: by default no exchange touches the raw blobs —
    the pass runs the kernel on scan splits. Big-doc isolation and
    --repartition-blobs each opt back into the exchange below the
    kernel."""
    from zpdfspark.spark.pipeline import run_extraction_job

    frames = _written_frames(monkeypatch, write=False)

    def below_kernel(name, **kw):
        run_extraction_job(spark, corpus_path, str(tmp_path / name),
                           n_buckets=2, partitions=8, single_pass=True, **kw)
        plan = frames[-1]._jdf.queryExecution().executedPlan().toString()
        # the kernel is the lowest MapInArrow (the lineage rollup sits
        # above the writer exchange): what follows it is its input
        return plan[plan.rindex("MapInArrow"):]

    assert "Exchange" not in below_kernel("plain")
    assert "Exchange" in below_kernel("forced", repartition_blobs=True)
    assert "Exchange" in below_kernel("big", big_doc_bytes=1_000)


def test_salted_partitioning_spreads_rows(spark, corpus_path):
    from zpdfspark.spark.pipeline import salted

    df = salted(spark.read.parquet(corpus_path).select("url", "html"), 8)
    counts = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    assert len(counts) == 8
    sizes = [r["count"] for r in counts]
    mean = sum(sizes) / len(sizes)
    assert max(sizes) <= 3 * mean  # no partition dominates


def test_salted_big_doc_isolation(spark, corpus_path):
    """With big_doc_bytes set, oversized blobs land in partitions that
    contain no small documents."""
    from zpdfspark.spark.pipeline import salted

    df = spark.read.parquet(corpus_path).select("url", "html")
    threshold = 1_000  # the 150-doc sample has both classes at 1 KB
    out = salted(df, 8, big_doc_bytes=threshold)
    per_part = (
        out.withColumn("pid", F.spark_partition_id())
        .withColumn("is_big", (F.length("html") > threshold).cast("int"))
        .groupBy("pid")
        .agg(F.sum("is_big").alias("big"), F.count("*").alias("total"))
        .collect()
    )
    big_rows = sum(r["big"] for r in per_part)
    assert big_rows > 0, "fixture corpus should contain oversized docs"
    for r in per_part:
        if r["big"] > 0:
            assert r["big"] == r["total"], "big-doc partition contains small docs"


def test_pipeline_single_pass(spark, corpus_path, tmp_path, assert_zstd):
    """--single-pass: one scan over all pending buckets, identical
    output + lineage semantics, still resumable afterwards."""
    from zpdfspark.spark.pipeline import completed_buckets, run_extraction_job

    out = str(tmp_path / "outsp")
    s1 = run_extraction_job(spark, corpus_path, out, n_buckets=4,
                            partitions=4, single_pass=True)
    assert s1["buckets_run"] == 4
    assert s1["docs"] == 150
    assert completed_buckets(spark, os.path.join(out, "_lineage")) == [0, 1, 2, 3]
    result = spark.read.parquet(os.path.join(out, "data"))
    assert result.count() == 150
    assert result.select("url").distinct().count() == 150
    assert_zstd(os.path.join(out, "data"))
    # a rerun (either mode) skips everything
    s2 = run_extraction_job(spark, corpus_path, out, n_buckets=4, partitions=4)
    assert s2["buckets_skipped"] == 4 and s2["buckets_run"] == 0


def test_single_pass_rerun_skips_empty_buckets(spark, tmp_path):
    """A single-pass run records every bucket, one that got no document
    included (a row of zeros, no bucket=K directory), so a rerun into the
    finished output skips all of them and starts no extraction job: only
    the jobs that read the input's schema and the lineage."""
    from zpdfspark.fixtures import write_corpus_parquet
    from zpdfspark.spark.pipeline import completed_buckets, run_extraction_job

    src = str(tmp_path / "three.parquet")
    write_corpus_parquet(src, 3, seed=42)
    out = str(tmp_path / "out")
    s1 = run_extraction_job(spark, src, out, n_buckets=8, partitions=4,
                            single_pass=True)
    assert s1["buckets_run"] == 8 and s1["docs"] == 3
    lineage = os.path.join(out, "_lineage")
    written = [n for n in os.listdir(os.path.join(out, "data"))
               if n.startswith("bucket=")]
    assert 0 < len(written) < 8
    assert completed_buckets(spark, lineage) == list(range(8))

    summary = {}
    jobs = _jobs_started(spark, lambda: summary.update(run_extraction_job(
        spark, src, out, n_buckets=8, partitions=4, single_pass=True)))
    assert summary["buckets_skipped"] == 8 and summary["buckets_run"] == 0
    assert jobs == _jobs_started(spark, lambda: spark.read.parquet(src)) \
        + _jobs_started(spark, lambda: completed_buckets(spark, lineage))


def test_single_pass_partial_resume_keeps_session_conf(spark, corpus_path,
                                                        tmp_path, monkeypatch):
    """A single-pass rerun after one bucket's lineage was lost overwrites
    only that bucket=K partition (dynamic overwrite, set per write) and
    leaves the session's partitionOverwriteMode as it found it."""
    from zpdfspark.spark.pipeline import run_extraction_job

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    out = str(tmp_path / "outspr")
    s1 = run_extraction_job(spark, corpus_path, out, n_buckets=4,
                            partitions=4, single_pass=True)
    assert s1["buckets_run"] == 4 and s1["docs"] == 150
    assert spark.conf.get(key) == before

    _drop_lineage_bucket(spark, out, 2)
    written = _written_frames(monkeypatch)
    s2 = run_extraction_job(spark, corpus_path, out, n_buckets=4,
                            partitions=4, single_pass=True)
    assert s2["buckets_skipped"] == 3 and s2["buckets_run"] == 1
    # the rerun keeps only the pending bucket's rows
    plan = written[-1]._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r" IN \(2\)|= 2\)", plan), plan
    assert spark.conf.get(key) == before
    data = os.path.join(out, "data")
    assert sorted(n for n in os.listdir(data) if n.startswith("bucket=")) \
        == [f"bucket={b}" for b in range(4)]
    result = spark.read.parquet(data)
    assert result.count() == result.select("url").distinct().count() == 150


def test_arrow_batches_capped_by_bytes(spark):
    """64 records of 1 MiB in one partition reach a Python UDF in several
    batches of at most the session's byte cap plus one record, measured
    inside the UDF, not as one 64 MiB batch."""
    from zpdfspark.spark.session import ARROW_BATCH_BYTES

    def sizes(batches):
        import pyarrow as pa

        for b in batches:
            blobs = b.column("blob").to_pylist()
            yield pa.RecordBatch.from_pydict({
                "rows": [b.num_rows],
                "blob_bytes": [sum(len(v) for v in blobs)]})

    record = 1 << 20
    blobs = spark.range(0, 64, 1, 1).select(
        F.expr(f"unhex(repeat('ab', {record}))").alias("blob"))
    got = blobs.mapInArrow(sizes, "rows long, blob_bytes long").collect()
    assert sum(r["rows"] for r in got) == 64
    assert len(got) >= 64 * record // (ARROW_BATCH_BYTES + record)
    assert max(r["blob_bytes"] for r in got) <= ARROW_BATCH_BYTES + record, got


def test_lineage_rollup_matches_groupby(spark):
    """The Arrow per-bucket rollup equals a groupBy reference, with
    null metric values, a boolean is_encrypted and a bucket that has no
    rows (a row of zeros)."""
    from zpdfspark.spark.pipeline import (_LINEAGE_SUMS, _lineage_rollup,
                                          _lineage_rows)

    cols = [c for _, c in _LINEAGE_SUMS]
    schema = "bucket int, " + ", ".join(
        f"{c} {'boolean' if c == 'is_encrypted' else 'long'}" for c in cols)

    def rec(bucket, i):
        return tuple([bucket] + [
            (i % 2 == 0) if c == "is_encrypted"
            else (None if (i + k) % 3 == 0 else 10 ** k + i)
            for k, c in enumerate(cols)])

    data = [rec(0, i) for i in range(5)] + [rec(2, i) for i in range(7)] \
        + [rec(3, 0)]
    df = spark.createDataFrame(data, schema)
    out, sums = _lineage_rollup(df)
    assert out.collect() == df.collect()
    got = _lineage_rows(sums.value, [0, 1, 2, 3], 1.5, "t")

    ref = df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(F.col(c).cast("long")).alias(c) for c in cols])
    want = []
    for r in sorted(ref.collect(), key=lambda r: r["bucket"]):
        row = {"bucket": r["bucket"], "n_docs": r["n_docs"]}
        row.update((f, r[c] or 0) for f, c in _LINEAGE_SUMS)
        row.update(wall_secs=1.5, status="ok", finished_at="t")
        want.append(row)
    assert [r["bucket"] for r in want] == [0, 2, 3]
    want.insert(1, {"bucket": 1, "n_docs": 0,
                    **{f: 0 for f, _ in _LINEAGE_SUMS},
                    "wall_secs": 1.5, "status": "ok", "finished_at": "t"})
    assert got == want


def _gateway_commands(spark, monkeypatch, fn):
    """Number of py4j commands the driver sends while ``fn()`` runs, not
    counting the deletes of garbage-collected JVM references: py4j sends
    those whenever Python frees an older object, so their number depends
    on everything the process did before."""
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client
    delete = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
    sent = []
    send = client.send_command

    def counting(command, *args, **kwargs):
        if not command.startswith(delete):
            sent.append(1)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        fn()
    finally:
        monkeypatch.undo()
    return len(sent)


def test_lineage_rollup_gateway_commands(spark, monkeypatch):
    """Building the rollup sends as many py4j commands for a frame of 64
    buckets as for a frame of 1: its driver cost does not grow with the
    bucket count."""
    from zpdfspark.spark.pipeline import _lineage_rollup

    def frame(n_buckets):
        return spark.createDataFrame(
            [(b, 1) for b in range(n_buckets)], "bucket int, n_pages long")

    one, many = frame(1), frame(64)
    for df in (one, many):  # a frame caches its schema on first use
        _lineage_rollup(df)
    counts = [_gateway_commands(spark, monkeypatch,
                                lambda: _lineage_rollup(df))
              for df in (one, many)]
    assert counts[0] == counts[1] > 0, counts


def test_lineage_rollup_exactly_once_under_retry(tmp_path):
    """Lineage of a fused single-pass WARC run still equals a groupBy over
    its output when every writer task fails on its first attempt, after
    the rollup has seen all its batches. The failing pass-through also
    deletes the shuffle files, so the retry hits a fetch failure and
    re-runs the map stage: a rollup placed below the writer exchange
    would then add those map tasks' sums twice. local[2,2] allows the
    one retry per task."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    local = tmp_path / "local"
    local.mkdir()
    script = f"""
import glob, json, os, sys
sys.path.insert(0, {repo!r})
import pyspark.sql.functions as F
from pyspark import TaskContext
from zpdfspark.fixtures import write_warc_fixture
from zpdfspark.spark.pipeline import _LINEAGE_SUMS, run_extraction_job
from zpdfspark.spark.session import get_spark

spark = get_spark("2,2", "rollup-retry-test", shuffle_partitions=2)

def fail_first(batches):
    yield from batches
    ctx = TaskContext.get()
    # a resubmitted stage starts its attempts at 0 again: fail each
    # partition once
    failed = os.path.join({str(tmp_path)!r}, f"failed-{{ctx.partitionId()}}")
    if ctx.attemptNumber() == 0 and not os.path.exists(failed):
        open(failed, "w").close()
        for f in glob.glob(os.path.join({str(local)!r}, "**", "shuffle_*"),
                           recursive=True):
            os.remove(f)
        raise RuntimeError("injected writer failure")

try:
    DF = type(spark.range(1))
    write = DF.write
    DF.write = property(
        lambda df: write.fget(df.mapInArrow(fail_first, df.schema)))
    warc, _ = write_warc_fixture({str(tmp_path / "warc")!r}, 40, seed=17,
                                 shards=4)
    out = {str(tmp_path / "out")!r}
    s = run_extraction_job(spark, warc, out, input_format="warc",
                           n_buckets=4, partitions=4, single_pass=True)
    DF.write = write
    lineage = sorted(
        (r["bucket"], r["n_docs"], *[r[f] for f, _ in _LINEAGE_SUMS])
        for r in spark.read.json(os.path.join(out, "_lineage")).collect())
    ref = spark.read.parquet(os.path.join(out, "data")).groupBy("bucket").agg(
        F.count(F.lit(1)),
        *[F.sum(F.col(c).cast("long")) for _, c in _LINEAGE_SUMS])
    want = sorted(tuple(v or 0 for v in r) for r in ref.collect())
    print(json.dumps({{"docs": s["docs"], "lineage": lineage, "want": want}}))
finally:
    spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_LOCAL_DIRS=str(local), SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert "injected writer failure" in out.stderr
    assert got["docs"] == 40 and len(got["want"]) == 4
    assert got["lineage"] == got["want"]


def test_scan_split_sizing_gateway_commands(spark, tmp_path, monkeypatch):
    """Scan-split sizing reads the file-source relation's size: the same
    number of py4j commands at 4 and at 512 input files, and the same
    maxPartitionBytes as summing every file's length. A plan with two
    leaves falls back to stat'ing inputFiles()."""
    from zpdfspark.spark.pipeline import _input_bytes, _tune_scan_splits

    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    sizes, frames = {}, {}
    for n in (4, 512):
        d = tmp_path / f"files{n}"
        d.mkdir()
        for i in range(n):
            (d / f"f{i:04d}.bin").write_bytes(os.urandom(4096 + i))
        sizes[n] = sum(4096 + i for i in range(n))
        frames[n] = spark.read.format("binaryFile").load(str(d)) \
            .select("path", "content")
    counts = []
    for n in (4, 512, 4):  # the first call also pays one-time lookups
        counts.append(_gateway_commands(
            spark, monkeypatch, lambda: _tune_scan_splits(spark, frames[n], 1)))
        assert int(spark.conf.get(key)) == max(sizes[n] + 1, 1 << 20)
        spark.conf.set(key, before)
    counts = counts[1:]
    assert counts[0] == counts[1], counts
    assert _input_bytes(spark, frames[4].union(frames[512])) \
        == sizes[4] + sizes[512]


def test_completed_buckets_missing_path_skips_read(spark, tmp_path,
                                                   monkeypatch):
    """A fresh output has no lineage directory: completed_buckets answers
    from the file system without asking Spark to read a missing path."""
    from pyspark.sql.readwriter import DataFrameReader

    from zpdfspark.spark.pipeline import completed_buckets

    reads = []

    def no_read(*args, **kwargs):
        reads.append(args)
        raise AssertionError("DataFrameReader.json called")

    monkeypatch.setattr(DataFrameReader, "json", no_read)
    assert completed_buckets(spark, str(tmp_path / "none" / "_lineage")) \
        == []
    assert reads == []


def test_warc_fused_run_builds_no_document_plan(spark, tmp_path,
                                                monkeypatch):
    """The fused single-pass WARC run sizes its splits from the
    binaryFile relation and never builds the two-stage document plan."""
    from zpdfspark.fixtures import write_warc_fixture
    from zpdfspark.spark import warc_source
    from zpdfspark.spark.pipeline import run_extraction_job

    glob, _ = write_warc_fixture(str(tmp_path / "warc"), 40, seed=17)

    def no_plan(*args, **kwargs):
        raise AssertionError("warc_documents called on the fused path")

    monkeypatch.setattr(warc_source, "warc_documents", no_plan)
    out = str(tmp_path / "out")
    s = run_extraction_job(spark, glob, out, input_format="warc",
                           n_buckets=2, partitions=4, single_pass=True)
    assert s["docs"] == 40 and s["buckets_run"] == 2
    assert spark.read.parquet(os.path.join(out, "data")).count() == 40


def test_warc_glob_loads_as_directory_filter(spark, tmp_path, monkeypatch):
    """binary_files loads ``<dir>/*.warc.gz`` as ``<dir>`` with that
    pathGlobFilter: the same inputFiles() as the glob form, and split
    sizing still reads the relation's size without stat'ing inputFiles().
    A glob that matches nothing still raises "Path does not exist", so a
    per-bucket WARC run marks no bucket complete. A directory whose
    subdirectories hold files keeps the glob, so an archive in a
    subdirectory stays out and a ``k=v`` subdirectory adds no column."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import DataFrame

    from zpdfspark.fixtures import write_warc_fixture
    from zpdfspark.spark.pipeline import _input_bytes, run_extraction_job
    from zpdfspark.spark.warc_source import binary_files

    d = tmp_path / "warc"
    glob, _ = write_warc_fixture(str(d), 40, seed=17, shards=4)

    def root_paths(df):
        leaf = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        return leaf.apply(0).relation().location().rootPaths().size()

    as_given = spark.read.format("binaryFile").load(glob)
    loaded = binary_files(spark, glob)
    assert root_paths(loaded) == 1 and root_paths(as_given) == 4
    assert sorted(loaded.inputFiles()) == sorted(as_given.inputFiles())
    assert loaded.columns == as_given.columns
    size = sum(p.stat().st_size for p in d.glob("*.warc.gz"))
    monkeypatch.setattr(DataFrame, "inputFiles", None)
    assert _input_bytes(spark, loaded.select("path", "content")) == size
    monkeypatch.undo()

    nothing = str(d / "*.warc")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        binary_files(spark, nothing)
    out = str(tmp_path / "out")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        run_extraction_job(spark, nothing, out, input_format="warc",
                           n_buckets=2, partitions=4)
    assert not os.path.exists(os.path.join(out, "_lineage"))

    for sub in ("nested", "k=1"):
        (d / sub).mkdir()
        shutil.copy(d / "shard-000.warc.gz", d / sub / "x.warc.gz")
        kept = binary_files(spark, glob)
        assert root_paths(kept) == 4 and kept.columns == as_given.columns
        assert sorted(kept.inputFiles()) == sorted(as_given.inputFiles())
        shutil.rmtree(d / sub)


def _parquet_files(data):
    return [n for _, _, names in os.walk(data) for n in names
            if n.endswith(".parquet")]


def test_single_pass_writer_sized_by_bytes(spark, tmp_path, monkeypatch):
    """The writer exchange of a single-pass and of a per-bucket pass is a
    bucket-keyed REBALANCE that AQE sizes by bytes: one parquet file per
    non-empty bucket at the default advisory partition size, more files
    but the same rows once the advisory size is smaller than a bucket,
    and the lineage rollup's MapInArrow above the exchange, in the result
    stage, with no CollectMetrics anywhere."""
    from zpdfspark.fixtures import write_warc_fixture
    from zpdfspark.spark.pipeline import run_extraction_job

    glob, _ = write_warc_fixture(str(tmp_path / "warc"), 60, seed=41,
                                 shards=4)
    written = _written_frames(monkeypatch)

    def run(name, single_pass):
        out = str(tmp_path / name)
        s = run_extraction_job(spark, glob, out, input_format="warc",
                               n_buckets=4, partitions=4,
                               single_pass=single_pass)
        assert s["docs"] == 60
        data = os.path.join(out, "data")
        buckets = [n for n in os.listdir(data) if n.startswith("bucket=")]
        rows = sorted(spark.read.parquet(data)
                      .select("url", "extracted_text").collect())
        return len(_parquet_files(data)), len(buckets), rows

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    for single_pass in (True, False):
        del written[:]
        files, buckets, rows = run(f"default{single_pass}", single_pass)
        assert buckets == 4 and files == buckets
        assert len(written) == (1 if single_pass else 4)
        for frame in written:
            plan = frame._jdf.queryExecution().executedPlan().toString()
            assert "REBALANCE_PARTITIONS_BY_COL" in plan, plan
            assert -1 < plan.index("MapInArrow") < plan.index("Exchange"), \
                plan
            assert "CollectMetrics" not in plan, plan
        if single_pass:
            # a fresh run has no complete bucket: no pending-bucket filter
            assert not re.search(r" IN \(|INSET", plan), plan

        spark.conf.set(key, "1k")
        try:
            small_files, small_buckets, small_rows = run(
                f"small{single_pass}", single_pass)
        finally:
            spark.conf.set(key, prev)
        assert small_buckets == buckets and small_files > buckets
        assert small_rows == rows


def test_warc_single_pass_job_count(spark, tmp_path, assert_zstd):
    """A fused single-pass WARC run into a fresh output starts exactly two
    Spark jobs: the writer exchange's map stage and the write. Lineage is
    written by the driver, so a lineage job would show up here."""
    from zpdfspark.fixtures import write_warc_fixture
    from zpdfspark.spark.pipeline import completed_buckets, run_extraction_job

    glob, _ = write_warc_fixture(str(tmp_path / "warc"), 40, seed=17)
    out = str(tmp_path / "out")
    key = "spark.sql.parquet.compression.codec"
    codec = spark.conf.get(key)
    summary = {}
    jobs = _jobs_started(spark, lambda: summary.update(run_extraction_job(
        spark, glob, out, input_format="warc", n_buckets=2, partitions=4,
        single_pass=True)))
    assert summary["docs"] == 40 and summary["buckets_run"] == 2
    assert jobs == 2
    # the codec is a write option: the session's conf is left alone
    assert spark.conf.get(key) == codec
    assert_zstd(os.path.join(out, "data"))
    assert completed_buckets(spark, os.path.join(out, "_lineage")) == [0, 1]


def test_warc_corrupt_member_same_records_everywhere(spark, tmp_path):
    """An archive whose 4th of 6 gzip members is corrupt: every WARC
    reader keeps the three responses before it. read_warc adds one
    file-level error row; warc_documents, a fused single-pass run,
    warc_cdx and write_wet see the same urls, so the CDX index points
    only at captures the pipeline extracted."""
    import glob as globmod

    from zpdfspark.kernel.warc import build_warc, iter_warc_records
    from zpdfspark.spark.pipeline import run_extraction_job
    from zpdfspark.spark.warc_sink import write_wet
    from zpdfspark.spark.warc_source import (read_warc, warc_cdx,
                                             warc_documents)

    members = [build_warc([(f"https://c.test/{i}", "2025-01-01T00:00:00Z",
                            b"<html><p>corrupt member doc %d</p></html>" % i,
                            "text/html")]) for i in range(6)]
    bad = bytearray(members[3])
    bad[len(bad) // 2] ^= 0xFF
    members[3] = bytes(bad)
    d = tmp_path / "warc"
    d.mkdir()
    (d / "a.warc.gz").write_bytes(b"".join(members))
    glob = str(d / "*.warc.gz")
    want = [f"https://c.test/{i}" for i in range(3)]

    rows = read_warc(spark, glob).collect()
    assert sorted(r.url for r in rows if r.parse_error is None) == want
    errors = [r.parse_error for r in rows if r.parse_error is not None]
    assert len(errors) == 1 and errors[0].startswith("file-level: ")
    assert f"at byte {sum(map(len, members[:3]))}" in errors[0]
    assert sorted(r.url for r in warc_documents(spark, glob)
                  .select("url").collect()) == want
    assert sorted(r.url for r in warc_cdx(spark, glob)
                  .select("url").collect()) == want
    out = str(tmp_path / "out")
    run_extraction_job(spark, glob, out, input_format="warc", n_buckets=1,
                       partitions=2, single_pass=True)
    assert sorted(r.url for r in spark.read.parquet(
        os.path.join(out, "data")).select("url").collect()) == want
    wet = str(tmp_path / "wet")
    write_wet(warc_documents(spark, glob), wet, partitions=1).collect()
    assert sorted(r.target_uri
                  for path in globmod.glob(os.path.join(wet, "*.warc.wet.gz"))
                  for r in list(iter_warc_records(
                      open(path, "rb").read()))[1:]) == want


def test_driver_contract_shape():
    """Every oracle key has a query; entry is callable; queries are
    uniquely named (the driver treats these as the correctness gate)."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25
    assert callable(entry_mod.entry)


def test_media_plumbing(spark, corpus_path):
    """Multimodal kernels (spark/media.py): decode is REAL for the
    image kinds (png/jpeg/gif pure-Python decoders) and WAV,
    stubbed-soft for codec-less kinds (error records, never raises);
    the fake path is deterministic; frame sampling expands 1-to-N
    inside the task; embeddings are stable."""
    from zpdfspark.spark import media

    base = spark.read.parquet(corpus_path)
    # 20 arbitrary rows plus guaranteed image-kind coverage
    df = base.limit(20)
    for kind in ("png", "jpeg", "gif"):
        df = df.unionByName(
            base.where(F.col("url").like(f"%/{kind}/%")).limit(3))
    df = df.distinct()

    # decode: real for image kinds (actual dimensions), soft-fail
    # elsewhere
    dec = media.decode_dataframe(df).collect()
    for kind in ("png", "jpeg", "gif"):
        assert any(r.media_kind == kind for r in dec), kind
    for r in dec:
        if r.media_kind in ("png", "jpeg", "gif"):
            assert r.decode_ok and r.width >= 1 and r.height >= 1
        elif r.media_kind == "wav":
            assert r.decode_ok and r.width == 0  # audio: no pixel dims
        else:
            assert not r.decode_ok and r.width == 0
    # fake decode: deterministic dims, all ok
    fake1 = {r.url: (r.width, r.height) for r in
             media.decode_dataframe(df, fake=True).collect()}
    fake2 = {r.url: (r.width, r.height) for r in
             media.decode_dataframe(df, fake=True).collect()}
    assert fake1 == fake2
    assert all(1 <= w <= 64 and 1 <= h <= 64 for w, h in fake1.values())

    # resize: REAL for the image kinds (3-channel nearest-neighbor ->
    # exact bytes), soft-fail elsewhere; fake sizes w*h*3
    rs = media.resize_dataframe(df, 32, 16, fake=True).collect()
    assert all(r.out_bytes == 32 * 16 * 3 and r.resize_ok for r in rs)
    rs0 = {r.url: r for r in media.resize_dataframe(df, 32, 16).collect()}
    kinds = {r.url: r.media_kind for r in dec}
    for url, r in rs0.items():
        if kinds[url] in ("png", "jpeg", "gif"):
            # out bytes = w*h*channels; grayscale jpeg decodes 1 channel
            assert r.resize_ok and r.out_bytes in (
                32 * 16 * c for c in (1, 2, 3, 4))
        else:  # resize is an image op: wav and stubs fail soft
            assert not r.resize_ok and r.out_bytes == 0

    # frame sampling: 1-to-N with exact chunk arithmetic
    import pandas as pd
    pdf = pd.DataFrame({"doc_id": [1, 2, 3],
                        "text": ["x" * 130, "y" * 64, ""]})
    sdf = spark.createDataFrame(pdf)
    frames = media.frame_sample_dataframe(sdf).collect()
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    assert sorted(per_doc[1]) == [0, 1, 2]   # 130 chars -> 3 frames
    assert per_doc[2] == [0]
    assert 3 not in per_doc                   # empty payload -> no rows

    # embeddings: 4 dims in [0, 1), deterministic
    e1 = {r.doc_id: (r.e0, r.e1, r.e2, r.e3)
          for r in media.embed_dataframe(sdf).collect()}
    e2 = {r.doc_id: (r.e0, r.e1, r.e2, r.e3)
          for r in media.embed_dataframe(sdf).collect()}
    assert e1 == e2 and all(0 <= v < 1 for vs in e1.values() for v in vs)


def test_decode_every_corpus_kind(spark, corpus_path):
    """Real decode over every row of the corpus: a document, subtitle or
    font decode (a dict, even one with four keys) is ok with no pixel
    dims; only image decodes carry them."""
    from zpdfspark.spark import media

    rows = media.decode_dataframe(spark.read.parquet(corpus_path)).collect()
    assert len(rows) == 150
    kinds = {r.media_kind for r in rows}
    assert {"vtt", "srt", "woff", "docx", "png"} <= kinds
    for r in rows:
        if r.media_kind in ("vtt", "srt", "woff", "otf", "docx", "csv"):
            assert r.decode_ok and (r.width, r.height) == (0, 0), r
        elif r.media_kind in ("png", "jpeg", "gif"):
            assert r.decode_ok and r.width >= 1 and r.height >= 1, r


def test_corrupt_documents_decode_as_data(spark, tmp_path, monkeypatch):
    """A document whose kernel raises its own error class (any of
    media.DECODE_ERRORS) is a decode_ok=False row through
    decode_dataframe and the media_stats query, not a failed task."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E
    from zpdfspark import fixtures
    from zpdfspark.spark import media

    docx = fixtures.docx_doc(0)[0]
    i = docx.index(b"word/document.xml") - 30  # its local file header
    bad = {
        "https://t.example/docx": docx[:i] + b"PK\x03\x05" + docx[i + 4:],
        # an invalid UTF-8 byte in a cell source
        "https://t.example/ipynb": fixtures.ipynb_doc(0)[0].replace(
            b"# Notebook", b"# \xb5otebook", 1),
    }
    path = str(tmp_path / "corrupt.parquet")
    pq.write_table(pa.table({"url": list(bad),
                             "html": pa.array(list(bad.values()),
                                              pa.binary())}), path)
    got = {r.url: (r.media_kind, r.decode_ok) for r in
           media.decode_dataframe(spark.read.parquet(path)).collect()}
    assert got == {"https://t.example/docx": ("docx", False),
                   "https://t.example/ipynb": ("ipynb", False)}
    monkeypatch.setattr(E, "_corpus_path", lambda sf_dir: path)
    stats = {r.url: (r.media_kind, r.decode_ok) for r in
             E.queries()["media_stats"](spark, "unused").collect()}
    assert stats == got


def test_format_job_json_and_pages(spark, tmp_path, corpus_path,
                                   assert_zstd):
    """CLI -f json / -p a-b (main.zig:173-177, 252-339): json docs carry
    {metadata, page_count, outline, pages}; an explicit page range
    restricts the page array / page rows kernel-side. Uses the shared
    300-doc corpus: every generator (including multipage) is guaranteed
    present, regardless of how the generator rotation reshuffles when
    new fixture kinds are added."""
    from zpdfspark.spark.pipeline import parse_page_range, run_format_job

    src = corpus_path

    out = str(tmp_path / "json_out")
    s = run_format_job(spark, src, out, "json")
    assert s["rows"] == 150
    rows = spark.read.parquet(os.path.join(out, "data")).collect()
    multi = [r for r in rows if "/multipage/" in r["url"]]
    assert multi
    doc = json.loads(multi[0]["doc_json"])
    assert doc["page_count"] >= 2
    assert [p["page"] for p in doc["pages"]] == list(
        range(1, doc["page_count"] + 1))
    assert all("text" in p for p in doc["pages"])
    assert_zstd(os.path.join(out, "data"))

    # --pages 1-1: every multipage doc's json carries exactly page 1
    out2 = str(tmp_path / "json_p1")
    run_format_job(spark, src, out2, "json", page_range=parse_page_range("1-1"))
    rows2 = spark.read.parquet(os.path.join(out2, "data")).collect()
    doc2 = json.loads([r for r in rows2 if r["url"] == multi[0]["url"]][0]["doc_json"])
    assert [p["page"] for p in doc2["pages"]] == [1]
    assert doc2["pages"][0]["text"] == doc["pages"][0]["text"]
    assert doc2["page_count"] == doc["page_count"]  # count is doc-level

    # text format + --pages -> per-page rows within the range
    out3 = str(tmp_path / "pages_out")
    s3 = run_format_job(spark, src, out3, "text", page_range=(2, 3))
    pg = spark.read.parquet(os.path.join(out3, "data"))
    pages_seen = {r["page"] for r in pg.select("page").distinct().collect()}
    assert pages_seen <= {1, 2}  # 0-based rows for 1-based range 2-3
    assert s3["rows"] == pg.count() > 0

    # markdown format renders every doc
    out4 = str(tmp_path / "md_out")
    s4 = run_format_job(spark, src, out4, "markdown")
    assert s4["rows"] == 150

    with pytest.raises(ValueError):
        parse_page_range("3-1")


def test_bucketed_input_prunes_per_bucket_scans(spark, corpus_path, tmp_path,
                                                assert_zstd, monkeypatch):
    """With the input laid out as bucket=K partition dirs (the
    write_bucketed_input preparation job / Iceberg bucket transform),
    each per-bucket resume scan partition-prunes to its own directory —
    n_buckets scans read the input once in total, not n_buckets times."""
    from zpdfspark.spark.pipeline import run_extraction_job, write_bucketed_input

    bsrc = str(tmp_path / "bucketed_src")
    write_bucketed_input(spark, corpus_path, bsrc, n_buckets=4)
    assert "bucket" in spark.read.parquet(bsrc).columns
    assert_zstd(bsrc)

    written = _written_frames(monkeypatch)
    out = str(tmp_path / "out_bucketed")
    s = run_extraction_job(spark, bsrc, out, n_buckets=4, partitions=4)
    assert s["buckets_run"] == 4 and s["docs"] == 150
    result = spark.read.parquet(os.path.join(out, "data"))
    assert result.select("url").distinct().count() == 150

    # the physical proof: each pass's bucket filter is a PARTITION filter
    # at the scan (directory pruning), not a post-scan data filter
    assert len(written) == 4
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    for k, frame in enumerate(written):
        plan = frame._jdf.queryExecution().explainString(mode)
        pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert len(pf) == 1 and "bucket" in pf[0] and f"= {k}" in pf[0], plan

    # rerun resumes; single_pass is ignored for bucketed inputs (the
    # per-bucket path is already pruned AND bucket-granular idempotent)
    s2 = run_extraction_job(spark, bsrc, out, n_buckets=4, partitions=4,
                            single_pass=True)
    assert s2["buckets_run"] == 0 and s2["buckets_skipped"] == 4


def test_sql_udf_surface_complete(spark, corpus_path):
    """Round-2 SQL surface: markdown, doc-JSON, and parameterized search
    callable straight from Spark SQL (SURVEY.md §2.11b)."""
    from zpdfspark.spark.udfs import register_sql_udfs

    register_sql_udfs(spark)
    spark.read.parquet(corpus_path).createOrReplaceTempView("pages2")
    row = spark.sql(
        "SELECT zpdf_markdown(html) AS md, zpdf_doc_json(html) AS dj, "
        "zpdf_search_json(html, 'Hello') AS sj, "
        "zpdf_extract_secondary(html) AS sec, zpdf_extract(html) AS prod "
        "FROM pages2 WHERE url LIKE '%/minimal/%' LIMIT 1"
    ).collect()[0]
    assert row["md"].startswith("Hello World")
    doc = json.loads(row["dj"])
    assert doc["page_count"] == 1 and doc["pages"][0]["page"] == 1
    matches = json.loads(row["sj"])
    assert matches and matches[0]["page"] == 0 and matches[0]["offset"] == 0
    # the secondary-interpreter diagnostic surface agrees with the
    # production path on plain streams (kernel tests pin where the two
    # interpretations deliberately differ)
    assert row["sec"] == row["prod"]
    assert row["prod"].startswith("Hello World")


def test_format_job_info(spark, tmp_path):
    """CLI --format info: the `zpdf info` analog."""
    from zpdfspark.fixtures import write_corpus_parquet
    from zpdfspark.spark.pipeline import run_format_job

    src = str(tmp_path / "srci.parquet")
    write_corpus_parquet(src, 30, seed=13)
    out = str(tmp_path / "info_out")
    s = run_format_job(spark, src, out, "info")
    assert s["rows"] == 30
    rows = spark.read.parquet(os.path.join(out, "data"))
    assert {"url", "title", "n_pages", "is_encrypted"} <= set(rows.columns)
    assert rows.count() == 30


def test_format_markdown_respects_pages(spark, tmp_path, corpus_path):
    """--pages must restrict markdown rendering (it silently didn't)."""
    from zpdfspark.spark.pipeline import run_format_job

    src = corpus_path
    out_all = str(tmp_path / "md_all")
    out_p1 = str(tmp_path / "md_p1")
    run_format_job(spark, src, out_all, "markdown")
    run_format_job(spark, src, out_p1, "markdown", page_range=(1, 1))
    full = {r["url"]: r["markdown"] for r in
            spark.read.parquet(os.path.join(out_all, "data")).collect()}
    p1 = {r["url"]: r["markdown"] for r in
          spark.read.parquet(os.path.join(out_p1, "data")).collect()}
    multi = [u for u in full if "/multipage/" in u]
    assert multi
    for u in multi:
        assert "\n---\n\n" in full[u]        # all pages, with separators
        assert "\n---\n\n" not in p1[u]      # page 1 only
        assert full[u].startswith(p1[u])
    # info + --pages is a usage error, not silently ignored
    with pytest.raises(ValueError):
        run_format_job(spark, src, str(tmp_path / "x"), "info",
                       page_range=(1, 1))


def test_bucketed_input_domain_validated(spark, corpus_path, tmp_path):
    """A bucket column whose values fall outside range(n_buckets) must
    fail loudly — a mismatched layout would otherwise silently skip
    those rows forever while reporting success."""
    from zpdfspark.spark.pipeline import run_extraction_job, write_bucketed_input

    bsrc = str(tmp_path / "bsrc16")
    write_bucketed_input(spark, corpus_path, bsrc, n_buckets=16)
    with pytest.raises(ValueError, match="outside range"):
        run_extraction_job(spark, bsrc, str(tmp_path / "outx"),
                           n_buckets=4, partitions=4)

    # the domain check must come from the partition LISTING, not a data
    # scan (ADVICE r2: distinct().collect() was a full extra job per run)
    from zpdfspark.spark.pipeline import _bucket_domain_from_listing
    listed = _bucket_domain_from_listing(spark, bsrc)
    assert listed is not None and sorted(int(v) for v in listed) == list(
        range(16))

    # fallback path: 'bucket' as a plain DATA column (no partition dirs)
    # still validated — via a pruned/pushed filter, not a distinct
    flat = str(tmp_path / "flat_bad")
    (spark.read.parquet(corpus_path)
     .withColumn("bucket", F.lit(99))
     .write.parquet(flat))
    assert _bucket_domain_from_listing(spark, flat) is None
    with pytest.raises(ValueError, match="outside range"):
        run_extraction_job(spark, flat, str(tmp_path / "outy"),
                           n_buckets=4, partitions=4)


def test_warc_ingestion_end_to_end(spark, tmp_path):
    """The north-rule input loop closed at the source: Common-Crawl-
    style .warc.gz archives -> warc_source (file-per-task, in-task
    record parse, HTTP strip) -> the SAME extraction pipeline ->
    byte-identical text per url against the generators' own expected
    text."""
    from zpdfspark.fixtures import corpus_rows, write_warc_fixture
    from zpdfspark.spark.pipeline import run_extraction_job
    from zpdfspark.spark.warc_source import warc_documents

    d = str(tmp_path / "warc")
    glob, _expected = write_warc_fixture(d, 90, seed=13)

    # records land with the right shape and payload bytes
    docs = warc_documents(spark, glob)
    rows = {r["url"]: r for r in docs.collect()}
    truth = {u: (ts, pdf, text)
             for u, ts, pdf, text, _lang in corpus_rows(90, seed=13)}
    assert set(rows) == set(truth)
    for u, r in rows.items():
        assert bytes(r["html"]) == truth[u][1]
        assert r["warc_ts"] is not None

    # full pipeline straight off the archives
    out = str(tmp_path / "out")
    stats = run_extraction_job(spark, glob, out, n_buckets=2,
                               partitions=4, single_pass=True,
                               input_format="warc")
    assert stats["docs"] == 90
    result = {r["url"]: r["extracted_text"] for r in
              spark.read.parquet(os.path.join(out, "data")).collect()}
    n_checked = 0
    for u, (_ts, _pdf, text) in truth.items():
        if text is not None:
            assert result[u] == text, u
            n_checked += 1
    assert n_checked > 50


def test_warc_fractional_date_and_revisits(spark, tmp_path):
    """WARC 1.1 permits fractional-second dates — those rows must keep
    a non-null warc_ts (ADVICE r3); revisit records surface as dedup
    hints via warc_revisits."""
    from zpdfspark.kernel.warc import build_warc
    from zpdfspark.spark.warc_source import warc_documents, warc_revisits

    recs = [
        ("http://e.com/frac", "2025-01-01T00:00:00.123Z", b"%PDF-1.4 x",
         "application/pdf"),
        ("http://e.com/whole", "2025-01-02T00:00:00Z", b"%PDF-1.4 y",
         "application/pdf"),
        ("http://e.com/frac", "2025-02-01T00:00:00Z", b"", "message/http",
         "revisit", {"WARC-Refers-To-Target-URI": "http://e.com/frac",
                     "WARC-Refers-To-Date": "2025-01-01T00:00:00.123Z"}),
    ]
    p = tmp_path / "frac.warc.gz"
    p.write_bytes(build_warc(recs))

    docs = {r["url"]: r for r in warc_documents(spark, str(p)).collect()}
    assert set(docs) == {"http://e.com/frac", "http://e.com/whole"}
    assert docs["http://e.com/frac"]["warc_ts"] is not None
    assert docs["http://e.com/whole"]["warc_ts"] is not None

    revs = warc_revisits(spark, str(p)).collect()
    assert len(revs) == 1
    assert revs[0]["refers_to_uri"] == "http://e.com/frac"
    assert revs[0]["refers_to_date"] == "2025-01-01T00:00:00.123Z"


def test_warc_fused_equals_two_stage(spark, tmp_path):
    """The fused parse+extract kernel (single-pass default) must be
    byte-identical to the two-stage form (warc_documents -> extraction
    kernel) — fusion is a plan optimization, never a semantics change."""
    from zpdfspark.fixtures import write_warc_fixture
    from zpdfspark.spark.udfs import EXTRACT_SCHEMA, extract_arrow_batches
    from zpdfspark.spark.warc_source import (warc_documents,
                                             warc_extract_arrow_batches)

    d = str(tmp_path / "warc")
    glob, _ = write_warc_fixture(d, 70, seed=31)

    two_stage = {r["url"]: r for r in
                 warc_documents(spark, glob).select("url", "html")
                 .mapInArrow(extract_arrow_batches("accuracy"),
                             EXTRACT_SCHEMA).collect()}
    fused = {r["url"]: r for r in
             spark.read.format("binaryFile").load(glob)
             .select("path", "content")
             .mapInArrow(warc_extract_arrow_batches("accuracy"),
                         EXTRACT_SCHEMA).collect()}
    assert set(fused) == set(two_stage) and len(fused) == 70
    for u, r in fused.items():
        assert r["extracted_text"] == two_stage[u]["extracted_text"], u
        assert r["n_pages"] == two_stage[u]["n_pages"]
        assert r["error_count"] == two_stage[u]["error_count"]


def test_robots_parser_rfc9309_edges(spark):
    """The higher-order robots.txt fold must honor the grouped format:
    consecutive User-agent lines SHARE the following directives, a
    directive CLOSES the group (the next UA line starts fresh), field
    names are case-insensitive, comments/blank lines are state-neutral,
    and evaluation picks the most-specific group with longest-match /
    Allow-wins-ties precedence."""
    import __spark_entry__ as E
    import pyspark.sql.functions as F

    # drive the full query and cross-check hand-picked doc_ids against
    # the RFC semantics (the oracle already replays the formula; this
    # pins WHY each verdict holds)
    df = E.queries()["robots_eval"](spark, "/root/testdata/sf0.001")
    rows = {r["doc_id"]: r for r in df.collect()}

    # doc 28: h=0 (even, specific group), v=0, k=1 != h -> no rule hits
    assert rows[28]["disallowed"] is False and rows[28]["matched_path"] is None
    # doc 84: h=0, v=0, k=3 != 0 -> allowed
    assert rows[84]["disallowed"] is False
    # doc 112: 112%7=0 even, 112%4=0, 112%9=4 != 0 -> allowed
    assert rows[112]["disallowed"] is False
    # find a disallowed case: v==0, k==h, h even
    hits = [d for d, r in rows.items()
            if r["disallowed"] and "/page" in r["path"]]
    for d in hits:
        h = d % 7
        assert h % 2 == 0 and d % 4 == 0 and d % 9 == h
        assert rows[d]["matched_path"] == f"/p{h}/"
    assert hits, "seeding must produce at least one disallowed page URL"
    # odd host private page disallowed by the '*' fallback group
    odd_hits = [d for d, r in rows.items()
                if r["disallowed"] and r["path"].startswith("/private/")]
    for d in odd_hits:
        assert (d % 7) % 2 == 1 and d % 4 == 1
    assert odd_hits
    # Allow longest-match beats Disallow: /p{h}/open/ paths stay allowed
    open_rows = [r for r in rows.values()
                 if "/open/" in r["path"] and r["matched_path"]]
    assert open_rows and all(not r["disallowed"] for r in open_rows)


def test_pipeline_quality_gate_column(spark, tmp_path, corpus_path):
    """--quality-gate must append the quality_keep column to BOTH the
    per-bucket and single-pass batch paths, agreeing exactly with the
    shared predicate (gopher_keep_expr over extracted_text), without
    touching row counts or resume semantics."""
    from zpdfspark.spark.pipeline import run_extraction_job
    from zpdfspark.spark.streaming import gopher_keep_expr

    for single_pass in (False, True):
        out = str(tmp_path / f"qg_{int(single_pass)}")
        summary = run_extraction_job(
            spark, corpus_path, out, n_buckets=3,
            single_pass=single_pass, quality_gate=True)
        assert summary["buckets_run"] == 3
        res = spark.read.parquet(os.path.join(out, "data"))
        assert "quality_keep" in res.columns
        n = res.count()
        assert n == summary["docs"] > 0
        mismatch = res.where(
            F.col("quality_keep") != gopher_keep_expr()).count()
        assert mismatch == 0
        assert 0 < res.where("quality_keep").count() < n
        # resume untouched: a re-run skips everything
        again = run_extraction_job(
            spark, corpus_path, out, n_buckets=3,
            single_pass=single_pass, quality_gate=True)
        assert again["buckets_run"] == 0 and again["buckets_skipped"] == 3


def test_warc_http_ok_only_filters_non_200(spark, tmp_path):
    """--http-ok-only must drop 301/404 responses in BOTH WARC paths
    (fused single-pass and two-stage) and keep everything with a 200
    envelope; fused and two-stage must agree exactly."""
    import glob as globmod

    from zpdfspark.fixtures import write_warc_fixture
    from zpdfspark.spark.pipeline import run_extraction_job

    d = str(tmp_path / "warcok")
    glob, expected = write_warc_fixture(d, 70, seed=33)
    exp = spark.read.parquet(expected)
    n_all = exp.count()
    n_ok = exp.where("http_status = 200").count()
    assert 0 < n_ok < n_all  # the w3 fixture seeds 301/404 captures

    outs = {}
    for sp in (False, True):
        out = str(tmp_path / f"ok_{int(sp)}")
        run_extraction_job(spark, glob, out, input_format="warc",
                           n_buckets=2, single_pass=sp,
                           http_ok_only=True)
        res = spark.read.parquet(os.path.join(out, "data"))
        assert res.count() == n_ok
        # exactly the 200-status urls survived
        ok_urls = {r["url"] for r in
                   exp.where("http_status = 200").select("url").collect()}
        assert {r["url"] for r in res.select("url").collect()} == ok_urls
        outs[sp] = res

    # without the flag, everything extracts
    out_all = str(tmp_path / "ok_none")
    run_extraction_job(spark, glob, out_all, input_format="warc",
                       n_buckets=2, single_pass=True)
    assert spark.read.parquet(
        os.path.join(out_all, "data")).count() == n_all


def test_substring_dedup_island_arithmetic(spark, tmp_path):
    """Hand-built corpus pinning the ExactSubstr span merge: docs 0
    and 1 share a 25-token run (doc 0 at token 0, doc 1 at token 10),
    doc 2 is unique. W=20 -> each sharer has 6 duplicated windows
    that must merge into ONE island covering exactly the 25 shared
    tokens; the unique doc reports zeros."""
    import __spark_entry__ as E

    shared = " ".join(f"a{i}" for i in range(25))
    rows = [
        (0, shared + " " + " ".join(f"x{i}" for i in range(10)), "en"),
        (1, " ".join(f"b{i}" for i in range(10)) + " " + shared, "en"),
        (2, " ".join(f"c{i}" for i in range(30)), "en"),
    ]
    d = str(tmp_path / "sf")
    os.makedirs(d)
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r.asDict()
           for r in E.queries()["substring_dedup"](spark, d).collect()}
    assert got[0] == {"doc_id": 0, "n_tokens": 35, "n_windows": 16,
                      "n_dup_windows": 6, "dup_tokens": 25}
    assert got[1] == {"doc_id": 1, "n_tokens": 35, "n_windows": 16,
                      "n_dup_windows": 6, "dup_tokens": 25}
    assert got[2] == {"doc_id": 2, "n_tokens": 30, "n_windows": 11,
                      "n_dup_windows": 0, "dup_tokens": 0}


def test_wet_export_roundtrip_and_determinism(spark, corpus_path, tmp_path):
    """WET sink (r5): files re-read record-for-record — warcinfo
    leads, conversion texts byte-match the extraction kernel's own
    output per url, and a second run writes byte-identical files
    (idempotent temp+rename, pinned gzip mtime, md5 record ids)."""
    import glob
    import hashlib

    from zpdfspark.kernel.htmltext import extract_any
    from zpdfspark.kernel.warc import iter_warc_records
    from zpdfspark.spark.warc_sink import write_wet

    df = spark.read.parquet(corpus_path)
    out = str(tmp_path / "wet")
    summaries = write_wet(df, out, partitions=3).collect()
    files = sorted(glob.glob(os.path.join(out, "*.warc.wet.gz")))
    assert files and len(files) == len(summaries) <= 3
    assert not glob.glob(os.path.join(out, ".*tmp*"))  # no torn files

    expected = {r["url"]: extract_any(bytes(r["html"]), "accuracy")[0]
                for r in df.select("url", "html").collect()}
    got = {}
    total_records = 0
    for path in files:
        recs = list(iter_warc_records(open(path, "rb").read()))
        assert recs[0].warc_type == "warcinfo"
        urls_in_file = []
        for r in recs[1:]:
            assert r.warc_type == "conversion", r.warc_type
            assert r.error is None
            got[r.target_uri] = r.body.decode("utf-8")
            urls_in_file.append(r.target_uri)
            total_records += 1
        assert urls_in_file == sorted(urls_in_file)  # in-file order
    assert got == expected
    assert total_records == sum(s["n_records"] for s in summaries)

    hashes = {os.path.basename(p): hashlib.md5(
        open(p, "rb").read()).hexdigest() for p in files}
    write_wet(df, out, partitions=3).collect()  # re-run over existing
    for p in files:
        assert hashlib.md5(open(p, "rb").read()).hexdigest() \
            == hashes[os.path.basename(p)]


def test_derivative_dates_are_utc_in_any_session_zone(spark, tmp_path):
    """WET WARC-Date and JSONL `ts` render the capture instant in UTC
    whatever spark.sql.session.timeZone says, and a null warc_ts
    renders as the epoch."""
    import glob
    import gzip

    from zpdfspark.kernel.warc import iter_warc_records
    from zpdfspark.spark.warc_sink import write_jsonl, write_wet

    html = b"<html><body><p>time zone probe</p></body></html>"
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # 1704164645 s = 2024-01-02T03:04:05Z
        df = spark.createDataFrame(
            [("http://a.example/", 1704164645, html, "en"),
             ("http://b.example/", None, html, "en")],
            "url string, secs long, html binary, lang string",
        ).select("url", F.timestamp_seconds("secs").alias("warc_ts"),
                 "html", "lang")
        write_wet(df, str(tmp_path / "wet"), partitions=1).collect()
        write_jsonl(df, str(tmp_path / "jsonl"), partitions=1).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)

    want = {"http://a.example/": "2024-01-02T03:04:05Z",
            "http://b.example/": "1970-01-01T00:00:00Z"}
    (wet,) = glob.glob(str(tmp_path / "wet" / "*.warc.wet.gz"))
    recs = list(iter_warc_records(open(wet, "rb").read()))
    assert {r.target_uri: r.warc_date for r in recs[1:]} == want
    (jsonl,) = glob.glob(str(tmp_path / "jsonl" / "*.jsonl.gz"))
    with gzip.open(jsonl, "rt", encoding="utf-8") as f:
        assert {o["url"]: o["ts"] for o in map(json.loads, f)} == want


def test_wat_links_truncated_at_cap():
    """WAT keeps the first 1,000 outlinks of a page and records how
    many it dropped as Links-Truncated; at the cap nothing is dropped."""
    from zpdfspark.spark.warc_sink import wat_doc_json

    def html_md(n_links):
        page = ("<html><head><title>links</title></head><body>"
                + "".join(f'<a href="/p{i}">x</a>' for i in range(n_links))
                + "</body></html>").encode()
        meta = json.loads(wat_doc_json("http://links.example/", page))
        return meta["Envelope"]["Payload-Metadata"]["HTML-Metadata"]

    hm = html_md(1005)
    assert [x["url"] for x in hm["Links"]] == [f"/p{i}" for i in range(1000)]
    assert hm["Links-Truncated"] == 5
    hm = html_md(1000)
    assert len(hm["Links"]) == 1000 and "Links-Truncated" not in hm


def test_format_job_wet(spark, corpus_path, tmp_path):
    """CLI surface: --format wet through run_format_job reports the
    record/file totals and writes under <out>/data."""
    import glob

    from zpdfspark.spark.pipeline import run_format_job

    out = str(tmp_path / "wetjob")
    summary = run_format_job(spark, corpus_path, out, "wet",
                             partitions=2)
    assert summary["format"] == "wet"
    n_docs = spark.read.parquet(corpus_path).count()
    assert summary["rows"] == n_docs
    assert summary["files"] == len(
        glob.glob(os.path.join(out, "data", "*.warc.wet.gz")))
    import pytest
    with pytest.raises(ValueError):
        run_format_job(spark, corpus_path, out, "wet",
                       page_range=(1, 2))


def test_wat_export_roundtrip(spark, corpus_path, tmp_path):
    """WAT sink (r5): metadata records re-read and JSON-parsed —
    every row present, Actual-Content-Length exact, HTML rows carry
    Head/Links mined by the same regex set as html_meta, non-HTML
    rows omit HTML-Metadata; byte-identical second run."""
    import glob
    import hashlib
    import json
    import re

    from zpdfspark.kernel.htmltext import looks_like_html
    from zpdfspark.kernel.warc import iter_warc_records
    from zpdfspark.spark.warc_sink import write_wat

    df = spark.read.parquet(corpus_path)
    out = str(tmp_path / "wat")
    summaries = write_wat(df, out, partitions=3).collect()
    files = sorted(glob.glob(os.path.join(out, "*.warc.wat.gz")))
    assert files and len(files) == len(summaries) <= 3

    raws = {r["url"]: bytes(r["html"])
            for r in df.select("url", "html").collect()}
    seen = {}
    for path in files:
        recs = list(iter_warc_records(open(path, "rb").read()))
        assert recs[0].warc_type == "warcinfo"
        for r in recs[1:]:
            assert r.warc_type == "metadata", r.warc_type
            assert r.error is None
            seen[r.target_uri] = json.loads(r.body)
    assert set(seen) == set(raws)
    n_html = 0
    for url, meta in seen.items():
        pm = meta["Envelope"]["Payload-Metadata"]
        assert pm["Actual-Content-Length"] == len(raws[url])
        if looks_like_html(raws[url]):
            n_html += 1
            hm = pm["HTML-Metadata"]
            text = raws[url].decode("utf-8", "replace")
            want_links = re.findall(r'<a[^>]*\shref="([^"]*)"', text)
            assert [x["url"] for x in hm["Links"]] == want_links[:1000]
            m = re.search(r"<title>([^<]*)</title>", text)
            if m:
                assert hm["Head"]["Title"] == m.group(1)
        else:
            assert "HTML-Metadata" not in pm
    assert n_html > 0

    hashes = [hashlib.md5(open(p, "rb").read()).hexdigest()
              for p in files]
    write_wat(df, out, partitions=3).collect()
    assert [hashlib.md5(open(p, "rb").read()).hexdigest()
            for p in files] == hashes

    from zpdfspark.spark.pipeline import run_format_job
    summary = run_format_job(spark, corpus_path,
                             str(tmp_path / "watjob"), "wat",
                             partitions=2)
    assert summary["format"] == "wat"
    assert summary["rows"] == len(raws)


def test_warc_to_wet_end_to_end(spark, tmp_path):
    """The canonical Common Crawl conversion in one job: .warc.gz
    archives -> --format wet -> conversion records whose text
    byte-matches the kernel's extraction of each archived payload."""
    import glob as globmod
    import json

    from zpdfspark.fixtures import corpus_rows, write_warc_fixture
    from zpdfspark.kernel.htmltext import extract_any
    from zpdfspark.kernel.warc import iter_warc_records
    from zpdfspark.spark.pipeline import run_format_job

    d = str(tmp_path / "warc")
    pattern, _expected = write_warc_fixture(d, 60, seed=17)
    out = str(tmp_path / "wet_out")
    summary = run_format_job(spark, pattern, out, "wet",
                             input_format="warc", partitions=2)
    assert summary["format"] == "wet"

    truth = {u: extract_any(pdf, "accuracy")[0]
             for u, _ts, pdf, _text, _lang in corpus_rows(60, seed=17)}
    got = {}
    for path in globmod.glob(os.path.join(out, "data",
                                          "*.warc.wet.gz")):
        for r in list(iter_warc_records(open(path, "rb").read()))[1:]:
            got[r.target_uri] = r.body.decode("utf-8")
    assert got == truth
    assert summary["rows"] == len(truth)

    # WAT twin off the same archives: JSON parses, lengths exact
    out2 = str(tmp_path / "wat_out")
    s2 = run_format_job(spark, pattern, out2, "wat",
                        input_format="warc", partitions=2)
    assert s2["rows"] == len(truth)
    raws = {u: pdf for u, _ts, pdf, _t, _l in corpus_rows(60, seed=17)}
    n = 0
    for path in globmod.glob(os.path.join(out2, "data",
                                          "*.warc.wat.gz")):
        for r in list(iter_warc_records(open(path, "rb").read()))[1:]:
            meta = json.loads(r.body)
            assert (meta["Envelope"]["Payload-Metadata"]
                    ["Actual-Content-Length"]
                    == len(raws[r.target_uri]))
            n += 1
    assert n == len(truth)


def test_winnowing_guarantee_property(spark, tmp_path):
    """Schleimer et al.'s detection guarantee: any substring shared
    across documents of length >= w + k - 1 (= 11 chars at k=8, w=4)
    must surface at least one shared fingerprint in BOTH sharers; a
    document with no such overlap reports zero."""
    import __spark_entry__ as E

    shared = "the quick brown fox jumps over the lazy dog"  # 43 chars
    rows = [
        (0, "AAAA " + shared + " BBBB", "en"),
        (1, "CCCCCC " + shared + " DDDD", "en"),
        (2, "entirely unrelated content with zero overlap here", "en"),
    ]
    d = str(tmp_path / "sf")
    os.makedirs(d)
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r.asDict()
           for r in E.queries()["winnowing"](spark, d).collect()}
    assert got[0]["n_shared_fp"] > 0
    assert got[1]["n_shared_fp"] > 0
    assert got[2]["n_shared_fp"] == 0
    # density: winnowing keeps ~2/(w+1) of grams, never more than all
    for r in got.values():
        assert 0 < r["n_fingerprints"] <= r["n_grams"]


def test_anchor_text_aggregation(spark):
    """anchor_text over the fixture corpus: the html_page footer seeds
    deterministic partner anchors (texts p3/p7 pointing at
    hostN.example/partner), so those targets must aggregate with a
    p-text top pick; global invariants pin the two-stage agg."""
    import __spark_entry__ as E

    rows = E.queries()["anchor_text"](spark, "/root/testdata/sf0.001") \
        .collect()
    assert rows, "fixture corpus has html pages with anchors"
    partner = [r for r in rows if r["dst_url"].endswith("/partner")]
    assert partner, "footer partner anchors must aggregate"
    for r in rows:
        assert 1 <= r["top_n"] <= r["n_anchors"]
        assert r["n_unique_texts"] <= r["n_anchors"]
        assert r["top_text"]
    for r in partner:
        assert r["top_text"] in ("p3", "p7")


def test_content_drift_seeding(spark, tmp_path):
    """Every 3rd doc gains a 5-token suffix: its previous grams all
    survive (n_shared == n_grams_prev), it gains grams, and changed
    flips; unmutated docs must report identical fingerprint sets."""
    import __spark_entry__ as E

    rows = [(i, " ".join(f"w{i}_{k}" for k in range(12)), "en")
            for i in range(30)]
    d = str(tmp_path / "sf")
    os.makedirs(d)
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r.asDict()
           for r in E.queries()["content_drift"](spark, d).collect()}
    assert len(got) == 30
    for i, r in got.items():
        if i % 3 == 0:
            assert r["changed"] is True
            assert r["n_shared"] == r["n_grams_prev"]
            assert r["n_grams_cur"] == r["n_grams_prev"] + 5
            assert r["jaccard_x1000"] < 1000
        else:
            assert r["changed"] is False
            assert r["jaccard_x1000"] == 1000
            assert r["n_grams_cur"] == r["n_grams_prev"]


def test_badwords_filter_seeding(spark, tmp_path):
    """The C4 blocklist gate: exactly the seeded rows (doc_id % 7 == 0)
    flag, with one occurrence each; clean rows report zero."""
    import __spark_entry__ as E

    rows = [(i, f"clean prose number {i} with ordinary words", "en")
            for i in range(28)]
    d = str(tmp_path / "sf")
    os.makedirs(d)
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r.asDict()
           for r in E.queries()["badwords_filter"](spark, d).collect()}
    for i, r in got.items():
        if i % 7 == 0:
            assert r["flagged"] is True and r["n_bad_words"] == 1
        else:
            assert r["flagged"] is False and r["n_bad_words"] == 0


def test_charset_report_kernel():
    """charset_report: BOM precedence, prescan declaration surfacing,
    WHATWG alias mapping, unknown-label fallthrough."""
    from zpdfspark.kernel.htmltext import charset_report

    assert charset_report(b"\xef\xbb\xbf<html>") == (True, None, "utf-8")
    assert charset_report(b"\xff\xfe<\x00h\x00")[0] is True
    assert charset_report(b"\xff\xfe<\x00h\x00")[2] == "utf-16-le"
    assert charset_report(b"\xfe\xff\x00<\x00h")[2] == "utf-16-be"
    bom_decl = charset_report(
        b'\xef\xbb\xbf<meta charset="gb2312"><html>')
    assert bom_decl == (True, "gb2312", "utf-8")  # BOM wins the codec
    assert charset_report(
        b'<html><head><meta charset="iso-8859-1"></head>'
    ) == (False, "iso-8859-1", "windows-1252")
    assert charset_report(
        b'<meta http-equiv="Content-Type" content="text/html; '
        b'charset=gb2312">') == (False, "gb2312", "gbk")
    assert charset_report(b"<html><p>plain") == (False, None, "utf-8")
    # unknown label falls through to utf-8 but is still surfaced
    assert charset_report(
        b'<meta charset="x-mystery">') == (False, "x-mystery", "utf-8")
    # declaration outside the 1024-byte prescan window is not seen
    far = b"<html>" + b" " * 1100 + b'<meta charset="gb2312">'
    assert charset_report(far) == (False, None, "utf-8")


def test_zipnum_roundtrip_and_determinism(spark, tmp_path):
    """write_zipnum: every cluster.idx block must be an independently
    gunzippable member whose first line matches the index row; the
    blocks in cluster.idx order must reassemble the full
    (urlkey, ts)-sorted CDXJ index; re-runs are byte-identical."""
    import gzip as _gzip
    import json as _json

    from zpdfspark.fixtures import write_warc_fixture
    from zpdfspark.spark.warc_sink import write_cluster_idx, write_zipnum
    from zpdfspark.spark.warc_source import warc_cdx

    d = str(tmp_path / "warcs")
    glob, _ = write_warc_fixture(d, 80, seed=19)
    cdx = warc_cdx(spark, glob)
    out = str(tmp_path / "zipnum")
    idx = write_zipnum(cdx, out, lines_per_block=5, partitions=3)
    cluster = write_cluster_idx(idx, out)

    # expected: the full sorted CDXJ line set, rebuilt independently
    # from the query output
    exp_lines = []
    for r in cdx.collect():
        payload = _json.dumps({
            "url": r["url"], "mime": r["mime"] or "",
            "status": str(r["http_status"])
            if r["http_status"] is not None else "",
            "digest": r["digest"], "length": str(r["rec_length"]),
            "offset": str(r["rec_offset"]), "filename": r["warc_file"],
        }, separators=(", ", ": "))
        exp_lines.append(
            (r["urlkey"], r["cdx_ts"], r["digest"], r["warc_file"],
             r["rec_offset"], f"{r['urlkey']} {r['cdx_ts']} {payload}"))
    exp_lines.sort()
    expected = [t[-1] for t in exp_lines]
    assert expected, "fixture must produce CDX rows"

    got = []
    prev_seq = {}
    with open(cluster) as f:
        idx_lines = [ln.rstrip("\n") for ln in f]
    assert [int(ln.split("\t")[4]) for ln in idx_lines] == \
        list(range(len(idx_lines)))
    for ln in idx_lines:
        key, fname, off, length, _seq = ln.split("\t")
        with open(os.path.join(out, fname), "rb") as pf:
            pf.seek(int(off))
            member = pf.read(int(length))
        block = _gzip.decompress(member).decode().splitlines()
        assert 0 < len(block) <= 5
        # the index key is the block's first (urlkey, ts)
        assert block[0].startswith(key.replace(" ", " ", 1))
        first_uk, first_ts = block[0].split(" ", 2)[:2]
        assert key == f"{first_uk} {first_ts}"
        # seq ordering within each part file
        assert prev_seq.get(fname, -1) < int(_seq)
        prev_seq[fname] = int(_seq)
        got.extend(block)
    assert got == expected

    # part files tile exactly: concatenated member lengths == file size
    sizes = {}
    for ln in idx_lines:
        _k, fname, off, length, _s = ln.split("\t")
        sizes[fname] = max(sizes.get(fname, 0), int(off) + int(length))
    for fname, end in sizes.items():
        assert os.path.getsize(os.path.join(out, fname)) == end

    # byte-identical re-run (atomic overwrite, pinned mtimes)
    before = {p: open(os.path.join(out, p), "rb").read()
              for p in os.listdir(out)}
    idx2 = write_zipnum(warc_cdx(spark, glob), out,
                        lines_per_block=5, partitions=3)
    write_cluster_idx(idx2, out)
    after = {p: open(os.path.join(out, p), "rb").read()
             for p in os.listdir(out)}
    assert before == after


def test_zipnum_status_is_a_cdxj_string(spark, tmp_path):
    """CDXJ payload values are strings: an HTTP status renders as "200"
    and a capture without an HTTP envelope (null status, null mime) as
    "", also when both share one block."""
    import gzip

    from zpdfspark.spark.warc_sink import write_zipnum
    from zpdfspark.spark.warc_source import CDX_SCHEMA

    cdx = spark.createDataFrame([
        ("com,example)/a", "20240102030405", "http://example.com/a",
         "text/html", 200, "sha1:A", 0, 10, "x.warc.gz"),
        ("com,example)/b", "20240102030405", "http://example.com/b",
         None, None, "sha1:B", 10, 10, "x.warc.gz"),
    ], CDX_SCHEMA)
    out = str(tmp_path / "zipnum")
    (block,) = write_zipnum(cdx, out, partitions=1).collect()
    with gzip.open(os.path.join(out, block["file"]), "rt") as f:
        payloads = [json.loads(line.split(" ", 2)[2]) for line in f]
    assert [(p["status"], p["mime"]) for p in payloads] == [
        ("200", "text/html"), ("", "")]


def test_format_job_zipnum(spark, tmp_path):
    """CLI drive: --input-format warc --format zipnum writes blocks +
    cluster.idx and reports totals; non-WARC input is refused."""
    import pytest as _pytest

    from zpdfspark.fixtures import write_warc_fixture
    from zpdfspark.spark.pipeline import run_format_job

    d = str(tmp_path / "warcs")
    glob, _ = write_warc_fixture(d, 60, seed=23)
    out = str(tmp_path / "out")
    summary = run_format_job(spark, glob, out, "zipnum",
                             input_format="warc", partitions=2)
    assert summary["format"] == "zipnum"
    assert summary["rows"] > 0 and summary["blocks"] > 0
    assert os.path.exists(os.path.join(out, "data", "cluster.idx"))
    with _pytest.raises(ValueError):
        run_format_job(spark, glob, out, "zipnum",
                       input_format="parquet")


def test_mojibake_fix_semantics(spark, tmp_path):
    """The generic latin1->utf8 re-decode: seeded rows repair to the
    true text; clean accented text (a real 'é' with no mojibake
    signature) and non-latin1 text (CJK) must pass through untouched —
    the repair is conservative by construction."""
    import __spark_entry__ as E

    rows = [
        (0, "plain ascii words here", "en"),          # seeded (0 % 5)
        (1, "clean café text stays", "en"),      # real e-acute
        (2, "中文 body untouched", "zh"),     # CJK: not latin1
        (3, "more plain prose", "en"),
        (4, "and again plain", "en"),
        (5, "seeded row two", "en"),                  # seeded (5 % 5)
    ]
    d = str(tmp_path / "sf")
    os.makedirs(d)
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r.asDict()
           for r in E.queries()["mojibake_fix"](spark, d).collect()}
    assert got[0]["was_mojibake"] is True
    assert got[0]["text_fixed"] == "plain ascii words here café naïve"
    assert got[5]["was_mojibake"] is True
    assert got[5]["text_fixed"].endswith(" café naïve")
    for i in (1, 2, 3, 4):
        assert got[i]["was_mojibake"] is False
        assert got[i]["text_fixed"] == rows[i][1]


def test_postings_dictionary_stats(spark, tmp_path):
    """Posting stats: df / total_tf / top posting by (tf, doc_id)
    struct-max, hapax floor df >= 2."""
    import __spark_entry__ as E

    rows = [
        (1, "alpha beta alpha", "en"),
        (2, "alpha gamma", "en"),
        (3, "beta beta beta gamma", "en"),
        (4, "solo", "en"),
    ]
    d = str(tmp_path / "sf")
    os.makedirs(d)
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = {r["term"]: r.asDict()
           for r in E.queries()["postings"](spark, d).collect()}
    assert set(got) == {"alpha", "beta", "gamma"}  # 'solo' is hapax
    assert got["alpha"] == {"term": "alpha", "df": 2, "total_tf": 3,
                            "top_tf": 2, "top_doc": 1}
    assert got["beta"] == {"term": "beta", "df": 2, "total_tf": 4,
                           "top_tf": 3, "top_doc": 3}
    # gamma ties at tf=1: struct-max breaks to the higher doc_id
    assert got["gamma"] == {"term": "gamma", "df": 2, "total_tf": 2,
                            "top_tf": 1, "top_doc": 3}


def test_unicode_normalize_nfc(spark, tmp_path):
    """NFC: seeded decomposed sequences compose (changed=True, suffix
    becomes precomposed); ASCII rows pass through; a row that is
    ALREADY precomposed must report changed=False."""
    import __spark_entry__ as E

    pre = "café already composed"
    rows = [
        (0, "plain ascii", "en"),         # seeded (0 % 4)
        (1, pre, "en"),
        (2, "more ascii", "en"),
        (3, "yet more", "en"),
        (4, "tail doc", "en"),            # seeded
    ]
    d = str(tmp_path / "sf")
    os.makedirs(d)
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r.asDict()
           for r in E.queries()["unicode_normalize"](spark, d).collect()}
    assert got[0]["changed"] is True
    assert got[0]["text_nfc"] == "plain ascii café naïve"
    assert got[4]["changed"] is True
    assert got[4]["text_nfc"].endswith(" café naïve")
    for i in (1, 2, 3):
        assert got[i]["changed"] is False
        assert got[i]["text_nfc"] == rows[i][1]


def test_fetch_schedule_politeness(spark, tmp_path):
    """Frontier politeness invariants: per-host sequence numbers are
    dense from 0, offsets are seq*delay with one delay per host, a
    host maps to exactly one worker, and priority order within a host
    is descending."""
    import __spark_entry__ as E

    rows = [(i, "x", "en") for i in range(40)]
    d = str(tmp_path / "sf")
    os.makedirs(d)
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = [r.asDict()
           for r in E.queries()["fetch_schedule"](spark, d).collect()]
    assert len(got) == 40
    by_host = {}
    for r in got:
        by_host.setdefault(r["host"], []).append(r)
    assert len(by_host) == 8
    for host, rs in by_host.items():
        rs.sort(key=lambda r: r["seq"])
        assert [r["seq"] for r in rs] == list(range(len(rs)))
        delays = {r["start_offset_ms"] // r["seq"]
                  for r in rs if r["seq"] > 0}
        assert len(delays) == 1          # one crawl delay per host
        assert delays.pop() in (1000, 2000, 3000, 4000)
        assert len({r["worker"] for r in rs}) == 1  # politeness: one
        # fetcher owns the host
        pris = [r["priority"] for r in rs]
        assert pris == sorted(pris, reverse=True)


def test_format_job_cdx(spark, tmp_path, assert_zstd):
    """CLI drive: --input-format warc --format cdx writes the sorted
    CDX rows as parquet; rows agree with the warc_cdx query and the
    sort key holds; non-WARC input refused."""
    import pytest as _pytest

    from zpdfspark.fixtures import write_warc_fixture
    from zpdfspark.spark.pipeline import run_format_job
    from zpdfspark.spark.warc_source import warc_cdx

    d = str(tmp_path / "warcs")
    glob, _ = write_warc_fixture(d, 50, seed=29)
    out = str(tmp_path / "out")
    summary = run_format_job(spark, glob, out, "cdx",
                             input_format="warc")
    assert summary["format"] == "cdx"
    got = spark.read.parquet(os.path.join(out, "data"))
    want = warc_cdx(spark, glob)
    assert summary["rows"] == got.count() == want.count() > 0
    keys = [(r["urlkey"], r["cdx_ts"])
            for r in got.orderBy("urlkey", "cdx_ts").collect()]
    rows = [tuple(sorted(r.asDict().items())) for r in got.collect()]
    assert sorted(rows) == sorted(
        tuple(sorted(r.asDict().items())) for r in want.collect())
    assert keys == sorted(keys)
    assert_zstd(os.path.join(out, "data"))
    with _pytest.raises(ValueError):
        run_format_job(spark, glob, out, "cdx", input_format="parquet")


def test_sentence_stats_arithmetic(spark, tmp_path):
    """Sentence stats on hand-built text: counts, floored mean, max;
    odd doc_ids keep their natural (unseeded) punctuation."""
    import __spark_entry__ as E

    rows = [
        (1, "One two three. Four five! Six seven eight nine?", "en"),
        (3, "no punctuation at all here", "en"),
        (5, "Tail period ends the text.", "en"),
    ]
    d = str(tmp_path / "sf")
    os.makedirs(d)
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r.asDict()
           for r in E.queries()["sentence_stats"](spark, d).collect()}
    # doc 1: sentences of 3, 2, 4 words
    assert got[1]["n_sentences"] == 3
    assert got[1]["mean_sentence_words"] == 3  # floor(9/3)
    assert got[1]["max_sentence_words"] == 4
    # doc 3: one "sentence" (no terminal runs followed by space)
    assert got[3]["n_sentences"] == 1
    assert got[3]["max_sentence_words"] == 5
    # doc 5: trailing period is not a split point (no following ws)
    assert got[5]["n_sentences"] == 1
    assert got[5]["max_sentence_words"] == 5


def test_sequence_pack_arithmetic(spark, tmp_path):
    """Packing manifest on hand-built token counts (L=128): offsets
    follow the bucket-major order, spans cover exactly the doc's
    tokens, boundary-crossing docs span two sequences."""
    import __spark_entry__ as E

    counts = {0: 100, 1: 60, 2: 200, 3: 1, 4: 30}
    rows = [(i, " ".join(f"w{j}" for j in range(n)), "en")
            for i, n in counts.items()]
    d = str(tmp_path / "sf")
    os.makedirs(d)
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r.asDict()
           for r in E.queries()["sequence_pack"](spark, d).collect()}
    # doc_ids < 16 so bucket-major order == doc_id order
    want = {
        0: (0, 0, 0, 1, 0),      # tokens [0, 100)
        1: (100, 0, 1, 2, 100),  # [100, 160) crosses seq 0->1
        2: (160, 1, 2, 2, 32),   # [160, 360)
        3: (360, 2, 2, 1, 104),  # [360, 361)
        4: (361, 2, 3, 2, 105),  # [361, 391) crosses seq 2->3
    }
    for i, (off, fs, ls, ns, oif) in want.items():
        g = got[i]
        assert g["n_tokens"] == counts[i]
        assert g["global_offset"] == off
        assert (g["first_seq"], g["last_seq"], g["n_seqs"],
                g["offset_in_first"]) == (fs, ls, ns, oif), g


def test_snapshot_delta_classes(spark, tmp_path):
    """Every delta class is reachable and correctly labeled: %11==3
    docs are new (absent from the previous crawl), %13==5 docs are
    gone, %3==0 docs in both snapshots are changed, the rest
    unchanged."""
    import __spark_entry__ as E

    rows = [(i, f"text of doc {i}", "en") for i in [1, 3, 5, 6, 13]]
    d = str(tmp_path / "sf")
    os.makedirs(d)
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r.asDict()
           for r in E.queries()["snapshot_delta"](spark, d).collect()}
    assert got[3]["status"] == "new" and not got[3]["in_prev"]
    assert got[5]["status"] == "gone" and not got[5]["in_cur"]
    assert got[6]["status"] == "changed"
    assert got[1]["status"] == "unchanged"
    assert got[13]["status"] == "unchanged"
    assert all(g["in_cur"] for i, g in got.items() if i != 5)


def test_jsonl_export_roundtrip_and_determinism(spark, corpus_path,
                                                tmp_path):
    """JSONL sink (r5): the C4/Dolma interchange shards re-read
    line-for-line — texts byte-match the extraction kernel per url,
    in-shard url order holds, and a second run writes byte-identical
    files (pinned gzip mtime, sorted compact JSON keys)."""
    import glob
    import gzip
    import hashlib
    import json

    from zpdfspark.kernel.htmltext import extract_any
    from zpdfspark.spark.warc_sink import write_jsonl

    df = spark.read.parquet(corpus_path)
    out = str(tmp_path / "jsonl")
    summaries = write_jsonl(df, out, partitions=3).collect()
    files = sorted(glob.glob(os.path.join(out, "*.jsonl.gz")))
    assert files and len(files) == len(summaries) <= 3
    assert not glob.glob(os.path.join(out, ".*tmp*"))

    expected = {r["url"]: extract_any(bytes(r["html"]), "accuracy")[0]
                for r in df.select("url", "html").collect()}
    got = {}
    total = 0
    for path in files:
        urls_in_file = []
        with gzip.open(path, "rt", encoding="utf-8") as f:
            for line in f:
                o = json.loads(line)
                assert set(o) == {"kind", "lang", "n_chars", "text",
                                  "ts", "url"}
                assert o["n_chars"] == len(o["text"])
                got[o["url"]] = o["text"]
                urls_in_file.append(o["url"])
                total += 1
        assert urls_in_file == sorted(urls_in_file)
    assert got == expected
    assert total == sum(s["n_records"] for s in summaries) == df.count()
    assert all(s["n_bytes"] == os.path.getsize(os.path.join(out, s["file"]))
               for s in summaries)

    hashes = {os.path.basename(p): hashlib.md5(
        open(p, "rb").read()).hexdigest() for p in files}
    write_jsonl(df, out, partitions=3).collect()
    for p in files:
        assert hashlib.md5(open(p, "rb").read()).hexdigest() \
            == hashes[os.path.basename(p)]


def test_format_job_jsonl(spark, corpus_path, tmp_path):
    """--format jsonl: the dataset-release sink through the CLI job
    surface — summary counts match the corpus, shards parse."""
    import glob
    import gzip
    import json

    from zpdfspark.spark.pipeline import run_format_job

    out = str(tmp_path / "jsonl_fmt")
    res = run_format_job(spark, corpus_path, out, "jsonl", partitions=2)
    assert res["format"] == "jsonl"
    assert res["rows"] == spark.read.parquet(corpus_path).count()
    files = sorted(glob.glob(os.path.join(out, "data", "*.jsonl.gz")))
    assert len(files) == res["files"] <= 2
    n = 0
    for p in files:
        with gzip.open(p, "rt", encoding="utf-8") as f:
            for line in f:
                json.loads(line)
                n += 1
    assert n == res["rows"]
