"""zpdfspark: a PySpark-native PDF text-extraction engine.

A from-scratch reimplementation of the capabilities of the reference
Zig library (Lulzx/zpdf, /root/reference) as a Spark-first pipeline:
the per-document parsing/extraction kernel is pure Python operating on
Arrow binary batches via mapInArrow; all parallelism comes from Spark
partitions (the reference is single-threaded per document,
/root/reference/src/capi.zig:85-88).
"""

from .kernel import Document  # noqa: F401

__version__ = "0.1.0"
