"""The workloads, each a closed loop: one client submits one job at a time
through the public entry points, and checks every output outside the timed
region against generator truth or the DuckDB oracles.

- ``pdf_heavy``: ``udfs.extract_dataframe(mode="accuracy")`` over the heavy
  parquet corpus, ending in a JVM-side aggregate (no write).
- ``warc_mixed_ingest``: ``pipeline.run_extraction_job(input_format="warc",
  single_pass=True)`` over ``write_warc_fixture`` shards, writing
  partitioned parquet plus lineage.

A traced run (``trace``) adds Spark's event log, the UDF wrapper, side jobs
(scan only, Arrow round trip, WARC parse only) and prints a layer ledger.
pdf_heavy's traced run also measures the same-function ceiling and the
local[1] vs local[n] pair; warc_mixed_ingest's traced run also runs the
``__spark_entry__.queries()`` curation list, a cold ``collect()`` of a
freshly built DataFrame per query, then warm re-collects.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from statistics import median

import pyspark.sql.functions as F

from perfbench import inputs
from perfbench.ceiling import ceiling_docs_per_s
from perfbench.engine import Engine, identity
from perfbench.tracing import (EventLog, Spans, read_task_records,
                               sum_task_records, traced_kernel)

SETUPS = 2          # set-ups per run, each in a new JVM; setup_s: their median
MIN_WARM_JOBS = 3   # warm curation rounds in a traced run, however short
PDF_WARM_JOBS = 4   # warm pdf_heavy jobs per run, however short
WARC_WARM_JOBS = 4  # warm warc_mixed_ingest jobs per run, however short
TRACED_JOBS = 3     # jobs measured with the UDF wrapper in a traced run
# kernel.ms_per_doc.<family> metrics; other fixture families pool as "mixed"
FAMILIES = ("heavy", "giant", "big", "malformed")


@dataclass
class Run:
    seed: int
    seconds: float
    trace: bool
    cores: int
    work: str           # scratch for this run, removed when it ends
    cache: str          # seeded inputs, kept across runs
    spans: Spans = field(default_factory=Spans)
    engine: Engine | None = None
    metrics: dict = field(default_factory=dict)
    lines: list = field(default_factory=list)     # human-readable report
    setups: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    last: dict = field(default_factory=dict)      # per-job side results

    def start_session(self) -> None:
        """A timed set-up as every real job pays it: the JVM launch, the
        session and the Python workers' warm-up."""
        self.engine.close()
        with self.spans.span("setup"):
            start, warm = self.engine.start()
        self.setups.append((start, warm))

    def restart_with_event_log(self) -> None:
        """A new session in the same, already warm JVM, with Spark's
        event log on; not a set-up sample."""
        with self.spans.span("session", event_log=True):
            self.engine.start(event_log=True)

    def setup_metrics(self) -> None:
        self.metrics["setup_s"] = median(s + w for s, w in self.setups)
        self.metrics["session.start_s"] = median(s for s, _ in self.setups)
        self.metrics["session.worker_warm_s"] = median(w for _, w in self.setups)

    def check_digests(self, expected: dict, pairs) -> None:
        """Per-url text digests against the generator's: a missing,
        duplicated, unexpected or differing row is one failure. Rows whose
        generator text is None (malformed inputs) need only be present."""
        got: dict = {}
        bad = 0
        for url, digest in pairs:
            bad += url in got
            got[url] = digest
        bad += sum(url not in expected for url in got)
        for url, want in expected.items():
            if url not in got or (want is not None and got[url] != want):
                bad += 1
        self.attempted += len(expected)
        self.failed += bad

    def closed_loop(self, job, min_jobs: int) -> tuple[float, list[float]]:
        """job(group) -> wall seconds. One cold job, then warm jobs until
        ``seconds`` have passed and at least ``min_jobs`` ran."""
        with self.spans.span("job", group="cold"):
            cold = job("cold")
        warm: list[float] = []
        deadline = time.perf_counter() + self.seconds
        while len(warm) < min_jobs or time.perf_counter() < deadline:
            group = f"warm:{len(warm)}"
            with self.spans.span("job", group=group):
                warm.append(job(group))
        return cold, warm


# -- pdf_heavy -------------------------------------------------------------

def _pdf_job(run: Run, inp: dict, group: str) -> float:
    from zpdfspark.spark.udfs import extract_dataframe

    spark = run.engine.spark
    run.engine.job_group(group)
    t0 = time.perf_counter()
    row = extract_dataframe(spark.read.parquet(inp["path"]), mode="accuracy").agg(
        F.sum("n_chars").alias("chars"),
        F.collect_list(F.concat_ws(" ", "url", F.md5("extracted_text")))
        .alias("digests"),
    ).first()
    wall = time.perf_counter() - t0
    run.engine.sample_rss()
    run.check_digests(inp["expected"],
                      (d.partition(" ")[::2] for d in row["digests"]))
    run.last = {"output_mb": (row["chars"] or 0) / 1e6,
                "jobs": run.engine.jobs_in_group(group)}
    return wall


def pdf_heavy(run: Run) -> None:
    inp = inputs.pdf_heavy(run.cache, run.seed)
    docs = inp["docs"]
    run.lines.append(f"input: {docs} docs, {inp['input_mb']:.2f} MB")
    # one scan split per core: the 64 MB default gives this file one task
    split = os.path.getsize(inp["path"]) // run.cores + 1
    run.engine = Engine(run.work, run.cores,
                        {"spark.sql.files.maxPartitionBytes": str(split)})
    for _ in range(SETUPS):
        run.start_session()
    job = lambda group: _pdf_job(run, inp, group)  # noqa: E731
    cold, warm = run.closed_loop(job, PDF_WARM_JOBS)
    run.metrics.update({
        "docs_per_s": docs / median(warm),
        "cold_s": cold,
        "warm_s": median(warm),
        "worker_peak_rss_mb": run.engine.peak_rss_mb,
        "output_mb": run.last["output_mb"],
    })
    if run.trace:
        _trace_pdf_heavy(run, inp, job)
    run.setup_metrics()


# -- warc_mixed_ingest -----------------------------------------------------

def _warc_job(run: Run, inp: dict, group: str) -> float:
    import pyarrow.parquet as pq

    from zpdfspark.spark.pipeline import run_extraction_job

    out = os.path.join(run.work, "out", group.replace(":", "-"))
    run.engine.job_group(group)
    t0 = time.perf_counter()
    run_extraction_job(run.engine.spark, inp["glob"], out, mode="accuracy",
                       input_format="warc", single_pass=True)
    wall = time.perf_counter() - t0
    run.engine.sample_rss()
    data = os.path.join(out, "data")
    t = pq.read_table(data, columns=["url", "extracted_text"])
    run.check_digests(inp["expected"], zip(
        t.column("url").to_pylist(),
        map(inputs.text_digest, t.column("extracted_text").to_pylist())))
    files = [os.path.join(d, n) for d, _, names in os.walk(data)
             for n in names if n.endswith(".parquet")]
    lineage = os.path.join(out, "_lineage")
    lineage_rows = 0
    for n in os.listdir(lineage):
        if n.endswith(".json"):
            with open(os.path.join(lineage, n)) as f:
                lineage_rows += sum(1 for line in f if line.strip())
    run.last = {"sink.output_mb": sum(map(os.path.getsize, files)) / 1e6,
                "sink.files": len(files), "lineage.rows": lineage_rows,
                "jobs": run.engine.jobs_in_group(group)}
    shutil.rmtree(out)
    return wall


def warc_mixed_ingest(run: Run) -> None:
    warc = inputs.warc(run.cache, run.seed, shards=run.cores)
    run.lines.append(f"input: {warc['docs']} docs in {run.cores} shards, "
                     f"{warc['input_mb']:.2f} MB")
    run.engine = Engine(run.work, run.cores)
    for _ in range(SETUPS):
        run.start_session()
    job = lambda group: _warc_job(run, warc, group)  # noqa: E731
    cold, warm = run.closed_loop(job, WARC_WARM_JOBS)
    run.metrics.update({
        "docs_per_s": warc["docs"] / median(warm),
        "cold_s": cold,
        "warm_s": median(warm),
        "worker_peak_rss_mb": run.engine.peak_rss_mb,
        "output_mb": run.last["sink.output_mb"],
    })
    if run.trace:
        _trace_warc(run, warc, job)
    run.setup_metrics()


def _warc_parse_only(run: Run, inp: dict) -> dict:
    from zpdfspark.spark.warc_source import read_warc

    walls = []
    for i in range(2):
        run.engine.job_group(f"side:parse:{i}")
        t0 = time.perf_counter()
        row = read_warc(run.engine.spark, inp["glob"]).agg(
            F.count("*").alias("n"), F.sum("n_bytes")).first()
        walls.append(time.perf_counter() - t0)
    return {"warc.parse_s": median(walls), "warc.records": row["n"]}


# -- traced run ------------------------------------------------------------

def _scan_and_roundtrip(run: Run, df, blob_col: str) -> dict:
    scans, trips = [], []
    for i in range(2):
        run.engine.job_group(f"side:scan:{i}")
        t0 = time.perf_counter()
        df.agg(F.sum(F.length(blob_col))).first()
        scans.append(time.perf_counter() - t0)
        run.engine.job_group(f"side:roundtrip:{i}")
        t0 = time.perf_counter()
        df.mapInArrow(identity, df.schema).agg(F.sum(F.length(blob_col))).first()
        trips.append(time.perf_counter() - t0)
    return {"scan.s": median(scans),
            "arrow.roundtrip_s": median(trips) - median(scans)}


def _kernel_layers(recs: list[dict], wall: float, cores: int) -> dict:
    u = sum_task_records(recs)
    kernel_s = u["kernel_ms"] / 1000.0
    out = {
        "udf.in_wait_s": u["in_wait"], "udf.busy_s": u["busy"],
        "udf.out_wait_s": u["out_wait"], "udf.batches": u["batches"],
        "udf.rows_per_batch": u["rows"] / max(u["batches"], 1),
        "udf.in_mb": u["in_bytes"] / 1e6, "udf.out_mb": u["out_bytes"] / 1e6,
        "udf.assembly_s": u["busy"] - kernel_s,
        "kernel.s": kernel_s,
        "kernel.occupancy": kernel_s / (wall * cores),
        "kernel.objects_resolved": u["objects_resolved"],
        "kernel.streams_decoded": u["streams_decoded"],
        "kernel.errors": u["errors"],
    }
    pooled: dict = {}
    for fam, (n, ms) in u["families"].items():
        key = "malformed" if fam.startswith("malformed_") else fam
        c = pooled.setdefault(key if key in FAMILIES else "mixed", [0, 0.0])
        c[0] += n
        c[1] += ms
    for fam, (n, ms) in pooled.items():
        out[f"kernel.ms_per_doc.{fam}"] = ms / n
    out["_families"] = u["families"]
    return out


def _traced_jobs(run: Run, job, name: str) -> list[tuple]:
    """TRACED_JOBS jobs with the UDF wrapper, in a session with the event
    log on: (job group, span id, wall, the job's side results) each."""
    udf_dir = os.path.join(run.work, "udf")
    out = []
    for i in range(TRACED_JOBS):
        group = f"traced:{name}:{i}"
        with run.spans.span("job", group=group) as sp:
            with traced_kernel(udf_dir, sp["id"]):
                wall = job(group)
        out.append((group, sp["id"], wall, dict(run.last)))
    return out


def _job_layers(run: Run, log: EventLog, traced: list[tuple],
                input_rows) -> tuple[dict, dict]:
    """Per-layer metrics of traced jobs (medians over the jobs) and the
    job with the median wall, whose layer ledger gets printed. The ledger
    adds layers each measured on its own: ``input_rows(m)`` gives the
    (label, seconds) rows of the job's input side, the kernel and assembly
    come from the UDF wrapper, the rest from the event log; what they
    leave of wall is its remainder."""
    cores = run.cores
    udf_dir = os.path.join(run.work, "udf")
    per_job = []
    for group, tag, wall, last in traced:
        recs = read_task_records(udf_dir, tag)
        for r in recs:
            run.spans.add({"name": "udf.task", "parent": tag,
                           "start": r["start"], "end": r["end"]})
        m = _kernel_layers(recs, wall, cores)
        g = log.group(group)
        ks = g["kernel_stage"]
        m.update({
            "wall": wall,
            "scan.tasks": len(ks["run"]),
            "task.skew": max(ks["run"]) / max(median(ks["run"]), 1e-9),
            "task.cpu_s": g["task_cpu_s"], "task.run_s": g["task_run_s"],
            "jvm.gc_s": g["gc_s"], "pipeline.jobs": last["jobs"],
            "sink.write_s": g["other_stages_s"],
            "sink.shuffle_mb": g["shuffle_mb"],
            "sort.side_jobs": g["side_jobs"],
            "sort.side_jobs_s": g["side_jobs_s"],
            **{k: v for k, v in last.items() if k in _PIPELINE_KEYS},
        })
        m["_ledger"] = [
            *input_rows(m),
            ("kernel (sum of elapsed_ms / cores)", m["kernel.s"] / cores),
            ("UDF assembly (busy - kernel, / cores)",
             m["udf.assembly_s"] / cores),
            ("idle cores at the kernel stage's end (skew)",
             ks["wall"] - sum(ks["run"]) / cores),
            ("side result jobs: sort sampling, probes", g["side_jobs_s"]),
            ("other stages: writer exchange, sink, agg", g["other_stages_s"]),
            ("outside Spark jobs: plan, list, file commit",
             wall - g["jobs_s"]),
        ]
        m["_remainder"] = wall - sum(s for _, s in m["_ledger"])
        m["ledger.gap_share"] = abs(m["_remainder"]) / wall
        per_job.append(m)
    per_job.sort(key=lambda m: m["wall"])
    medians = {k: median(m[k] for m in per_job if k in m)
               for k in per_job[0] if not k.startswith("_")}
    return medians, per_job[len(per_job) // 2]


def _print_ledger(run: Run, title: str, mid: dict) -> None:
    w = mid["wall"]
    run.lines.append(title)
    for name, sec in [*mid["_ledger"], ("unexplained remainder",
                                        mid["_remainder"])]:
        run.lines.append(f"  {name:46s} {sec:8.3f} s  {sec / w:6.1%}")
    total = w - mid["_remainder"]
    run.lines.append(f"  {'sum of measured layers':46s} {total:8.3f} s  vs "
                     f"wall {w:.3f} s: {(total - w) / w:+.1%} "
                     f"(target within ±10%)")
    run.lines.append("  kernel ms/doc by family: " + ", ".join(
        f"{fam} {ms / n:.2f} (n={n})"
        for fam, (n, ms) in sorted(mid["_families"].items())))


# layers of the WARC ingest path; pdf_heavy's jobs write no files or lineage
_PIPELINE_KEYS = ("pipeline.jobs", "sink.write_s", "sink.shuffle_mb",
                  "sink.output_mb", "sink.files", "lineage.rows")


def _trace_overhead(run: Run, docs: int, layers: dict) -> float:
    off = run.metrics["docs_per_s"]
    on = docs / layers["wall"]
    run.metrics.update({"trace.docs_per_s_on": on, "trace.docs_per_s_off": off,
                        "trace.overhead_share": 1 - on / off})
    return off


def _trace_pdf_heavy(run: Run, inp: dict, job) -> None:
    """pdf_heavy's layers; then the same-function ceiling and the local[1]
    vs local[n] pair."""
    docs, cores = inp["docs"], run.cores
    run.restart_with_event_log()
    traced = _traced_jobs(run, job, "pdf")
    df = run.engine.spark.read.parquet(inp["path"]).select("url", "html")
    side = _scan_and_roundtrip(run, df, "html")
    run.engine.stop()

    log = EventLog(run.engine.event_dir)
    layers, mid = _job_layers(run, log, traced, lambda m: [
        ("scan (scan-only job)", side["scan.s"]),
        ("Arrow round trip (identity mapInArrow - scan)",
         side["arrow.roundtrip_s"])])
    run.metrics.update({k: v for k, v in layers.items()
                        if k not in _PIPELINE_KEYS})
    run.metrics.update(side)
    off = _trace_overhead(run, docs, layers)
    with run.spans.span("ceiling"):
        ceil = ceiling_docs_per_s(inp["path"], cores)
    run.metrics["kernel.ceiling_docs_per_s"] = ceil
    run.metrics["engine.overhead_share"] = 1 - off / ceil
    run.engine.start(cores=1)
    with run.spans.span("job", group="scaling:1"):
        wall1 = job("scaling:1")
    run.metrics["scaling.docs_per_s_1"] = docs / wall1
    run.metrics["scaling.eff_1_n"] = off / (docs / wall1) / cores

    _print_ledger(run, f"layer ledger, pdf_heavy (traced job with the median "
                       f"wall, {docs} docs, local[{cores}]):", mid)
    run.lines.append(f"  ceiling ({cores} pinned processes, same generator) "
                     f"{ceil:.1f} docs/s")


def _trace_warc(run: Run, warc: dict, job) -> None:
    """warc_mixed_ingest's layers (pipeline, sink, lineage and WARC parse);
    then, in the same session, the curation queries' layers."""
    cores = run.cores
    run.restart_with_event_log()
    traced = _traced_jobs(run, job, "warc")
    side = _warc_parse_only(run, warc)
    curation = _curation_pass(run)
    run.engine.stop()

    log = EventLog(run.engine.event_dir)
    # the fused path parses archives inside the task that extracts: its
    # input side is what the kernel's generator waits for
    layers, mid = _job_layers(run, log, traced, lambda m: [
        ("archive read + WARC parse (UDF input wait)",
         m["udf.in_wait_s"] / cores)])
    layers["ledger.warc_gap_share"] = layers.pop("ledger.gap_share")
    run.metrics.update(layers)
    run.metrics.update(side)
    _trace_overhead(run, warc["docs"], layers)

    _print_ledger(run, f"layer ledger, WARC ingest (run_extraction_job, "
                       f"{warc['docs']} docs in {cores} shards, "
                       f"{warc['input_mb']:.2f} MB, "
                       f"{side['warc.records']} records):", mid)
    run.lines.append(f"  standalone read_warc parse-only job: "
                     f"{side['warc.parse_s']:.3f} s")
    _curation_layers(run, log, *curation)


# -- curation queries, in warc_mixed_ingest's traced run --------------------

def _check_query(run: Run, inp: dict, name: str, df, rows) -> list[str]:
    lines = inputs.normalize([tuple(r) for r in rows], df.columns)
    want = inp["oracles"][name]
    run.attempted += 1
    run.failed += (len(lines) != want["rows"]
                   or inputs.fingerprint(lines) != want["fingerprint"])
    return lines


def _curation_pass(run: Run) -> tuple[dict, dict]:
    """A cold collect of a freshly built DataFrame per query, with the UDF
    wrapper on; then warm re-collect rounds until ``seconds`` pass and
    MIN_WARM_JOBS ran. Each query's task records are read right after its
    cold collect, so the warm rounds add nothing to them."""
    inp = inputs.curation(run.cache, run.seed)
    qs = inputs.registry(inp["corpus"]).queries()
    spark, engine = run.engine.spark, run.engine
    udf_dir = os.path.join(run.work, "udf-curation")
    res = {"cold": {}, "warm": {}, "jobs": {}, "recs": {}}
    dfs = {}
    for name in inputs.CURATION_QUERIES:
        group = f"curation:cold:{name}"
        engine.job_group(group)
        with run.spans.span("query", group=group) as sp, \
                traced_kernel(udf_dir, sp["id"]):
            t0 = time.perf_counter()
            df = qs[name](spark, inp["sf_dir"])
            rows = df.collect()
            res["cold"][name] = time.perf_counter() - t0
        res["recs"][name] = read_task_records(udf_dir, sp["id"])
        res["jobs"][name] = engine.jobs_in_group(group)
        _check_query(run, inp, name, df, rows)
        dfs[name] = df
    deadline = time.perf_counter() + run.seconds
    rounds = 0
    while rounds < MIN_WARM_JOBS or time.perf_counter() < deadline:
        for name, df in dfs.items():
            engine.job_group(f"curation:warm:{name}")
            with run.spans.span("query", group=f"curation:warm:{name}"):
                t0 = time.perf_counter()
                rows = df.collect()
                res["warm"].setdefault(name, []).append(time.perf_counter() - t0)
            _check_query(run, inp, name, df, rows)
        rounds += 1
    return inp, res


def _curation_layers(run: Run, log: EventLog, inp: dict, res: dict) -> None:
    for name in inputs.CURATION_QUERIES:
        g = log.group(f"curation:cold:{name}")
        run.metrics.update({
            f"q.{name}.cold_s": res["cold"][name],
            f"q.{name}.warm_s": median(res["warm"][name]),
            f"q.{name}.jobs": res["jobs"][name],
            f"q.{name}.shuffle_mb": g["shuffle_mb"],
        })
    cold = sum(res["cold"].values())
    run.metrics["curation.cold_s"] = cold
    run.metrics["curation.warm_s"] = sum(
        run.metrics[f"q.{n}.warm_s"] for n in inputs.CURATION_QUERIES)
    recs = [r for n in inputs.CURATION_QUERIES for r in res["recs"][n]]
    kernel_s = sum_task_records(recs)["kernel_ms"] / 1000.0
    run.lines.append(f"curation queries (cold pass after the WARC jobs, "
                     f"{inp['docs']} documents rows, {inp['corpus_docs']} "
                     f"corpus docs):")
    run.lines.append(f"  {'query':26s} {'cold_s':>7s} {'warm_s':>7s} "
                     f"{'jobs':>4s} {'side':>4s} {'side_s':>7s} {'shuf_MB':>8s}")
    for name in inputs.CURATION_QUERIES:
        g = log.group(f"curation:cold:{name}")
        run.lines.append(f"  {name:26s} {res['cold'][name]:7.3f} "
                         f"{run.metrics[f'q.{name}.warm_s']:7.3f} "
                         f"{res['jobs'][name]:4d} {g['side_jobs']:4d} "
                         f"{g['side_jobs_s']:7.3f} {g['shuffle_mb']:8.3f}")
    run.lines.append(f"  cold pass {cold:.3f} s, of which kernel "
                     f"{kernel_s / run.cores:.3f} s (sum of elapsed_ms / cores); "
                     f"warm re-collects {run.metrics['curation.warm_s']:.3f} s")
