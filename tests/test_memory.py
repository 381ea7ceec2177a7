"""Memory-regression guard, mirroring the reference's RSS tail-growth
caps (/root/reference/python/tests/test_memory_regression.py:38-62).

At web scale a leaky kernel wedges long-lived Python workers; repeated
full extractions over the same documents must not grow RSS beyond a
small tail allowance.
"""

import gc
import os

import pytest


def _rss_mb() -> float:
    with open(f"/proc/{os.getpid()}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


@pytest.mark.parametrize("mode", ["accuracy", "fast"])
def test_rss_tail_growth(mode):
    from zpdfspark import fixtures
    from zpdfspark.kernel import Document

    pdfs = [fixtures.big(60, seed=i)[0] for i in range(5)]
    # warm: first runs populate allocator pools / import caches
    for pdf in pdfs:
        Document(pdf).extract_all(mode)
    gc.collect()
    base = _rss_mb()
    for _ in range(20):
        for pdf in pdfs:
            Document(pdf).extract_all(mode)
    gc.collect()
    growth = _rss_mb() - base
    # reference cap: accuracy tail growth <= 80 MB over 20 runs
    assert growth <= 80, f"RSS tail growth {growth:.1f} MB over 20 runs"


def test_fused_warc_kernel_reads_archive_in_place():
    """The fused WARC kernel walks each archive from a view of Arrow's
    buffer: draining it over one gzip archive of many members must not
    hold a heap copy of the archive (tracemalloc sees Python
    allocations, not Arrow's buffer, so a ``.as_py()`` copy shows as a
    peak of at least the archive's size)."""
    import random
    import tracemalloc

    import pyarrow as pa

    from zpdfspark.kernel.warc import build_warc
    from zpdfspark.spark.warc_source import warc_extract_arrow_batches

    # incompressible comments keep the archive near its decoded size and
    # the extracted text small, so one 512-record chunk of bodies stays
    # well under half the archive
    rng = random.Random(7)
    archive = build_warc(
        (f"https://example.com/{i}", "2025-01-01T00:00:00Z",
         b"<html><body><!-- %s --><p>page %d</p></body></html>"
         % (rng.randbytes(1500).replace(b"-", b"+"), i), "text/html")
        for i in range(4000))
    batch = pa.RecordBatch.from_arrays([pa.array([archive], pa.binary())],
                                       names=["content"])
    kernel = warc_extract_arrow_batches("fast")
    tracemalloc.start()
    try:
        rows = sum(out.num_rows for out in kernel(iter([batch])))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert rows == 4000
    assert peak < len(archive) / 2, (peak, len(archive))
