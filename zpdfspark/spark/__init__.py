"""Spark-side layer: Arrow-batch extraction UDFs, SQL registration, and
the scale pipeline (partitioning, skew salting, lineage, checkpoint/resume)."""

from .udfs import (  # noqa: F401
    EXTRACT_SCHEMA,
    extract_dataframe,
    register_sql_udfs,
)
from .session import get_spark  # noqa: F401
