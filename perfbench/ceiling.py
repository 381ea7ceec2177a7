"""Same-function hardware ceiling: the extraction generator Spark runs,
``extract_arrow_batches(MODE)``, called by ``cores`` bare processes pinned
one per CPU on (url, html) Arrow batches of the corpus row groups, with no
Spark in between.

Workers import, load their share and warm up before a barrier; the ceiling
is documents / (last finish - first start) after it.
"""

from __future__ import annotations

import gc
import multiprocessing as mp
import os
import queue
from multiprocessing import resource_tracker

MODE = "accuracy"   # pdf_heavy's extraction mode
BATCH_ROWS = 256    # get_spark's spark.sql.execution.arrow.maxRecordsPerBatch


def _worker(i, path, groups, warm_batch, barrier, results):
    import time

    import pyarrow.parquet as pq

    from zpdfspark.spark.udfs import extract_arrow_batches

    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, {cpus[i % len(cpus)]})
    f = pq.ParquetFile(path)
    batches = [rb for g in groups
               for rb in f.read_row_group(g, columns=["url", "html"])
               .to_batches(max_chunksize=BATCH_ROWS)]
    # warm-up: the kernel's lazy imports, outside the timing
    for _ in extract_arrow_batches(MODE)(iter([warm_batch])):
        pass
    barrier.wait(timeout=300)
    t0 = time.time()
    docs = sum(rb.num_rows for rb in extract_arrow_batches(MODE)(iter(batches)))
    results.put((i, t0, time.time(), docs))


def _run_workers(path: str, cores: int) -> list[tuple]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from zpdfspark.fixtures import minimal

    groups = range(pq.ParquetFile(path).num_row_groups)
    warm_batch = pa.RecordBatch.from_arrays(
        [pa.array(["https://warm.example/minimal/0.pdf"]),
         pa.array([minimal()[0]], pa.binary())], names=["url", "html"])
    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(cores)
    results = ctx.Queue()
    procs = [ctx.Process(target=_worker, args=(i, path, list(groups[i::cores]),
                                               warm_batch, barrier, results))
             for i in range(cores)]
    for p in procs:
        p.start()
    got = []
    try:
        while len(got) < cores:
            try:
                got.append(results.get(timeout=5))
            except queue.Empty:
                if any(p.exitcode not in (None, 0) for p in procs):
                    raise RuntimeError("a ceiling worker failed") from None
    finally:
        for p in procs:
            p.join(timeout=60)
            if p.is_alive():
                p.kill()
                p.join()
        results.close()
        results.join_thread()
    return got


def ceiling_docs_per_s(path: str, cores: int) -> float:
    """Documents per second over ``cores`` pinned workers, each extracting
    every ``cores``-th row group of the parquet corpus at ``path``."""
    try:
        got = _run_workers(path, cores)
    finally:
        # the spawn context's semaphores started a resource-tracker process:
        # free them, then stop the tracker and wait for it to exit
        gc.collect()
        resource_tracker._resource_tracker._stop()
    docs = sum(r[3] for r in got)
    return docs / (max(r[2] for r in got) - min(r[1] for r in got))
