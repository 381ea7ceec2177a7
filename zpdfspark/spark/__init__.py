"""Spark-side layer: Arrow-batch extraction UDFs, SQL registration, and
the scale pipeline (partitioning, skew salting, lineage, checkpoint/resume).

The exports below load on first access (PEP 562), so importing a
submodule such as ``zpdfspark.spark.worker_daemon`` imports no pyspark
module by itself."""

_EXPORTS = {
    "EXTRACT_SCHEMA": "udfs",
    "extract_dataframe": "udfs",
    "register_sql_udfs": "udfs",
    "get_spark": "session",
}


def __getattr__(name):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib

    module = importlib.import_module(f".{_EXPORTS[name]}", __name__)
    return getattr(module, name)
