"""Helpers shared by the test modules."""

import os

import pytest


def _assert_zstd(data):
    """Every column chunk of every parquet file under ``data`` reports
    ZSTD in its footer (session.PARQUET_COMPRESSION)."""
    import pyarrow.parquet as pq

    codecs = [md.row_group(g).column(c).compression
              for root, _, names in os.walk(data) for n in names
              if n.endswith(".parquet")
              for md in [pq.ParquetFile(os.path.join(root, n)).metadata]
              for g in range(md.num_row_groups)
              for c in range(md.num_columns)]
    assert codecs and set(codecs) == {"ZSTD"}, (data, set(codecs))


@pytest.fixture
def assert_zstd():
    """The footer check of the engine's parquet writers: call it with a
    directory of written parquet files."""
    return _assert_zstd
