"""Value oracles for every query: each ``oracle_sql()`` key runs on
Spark at sf0.01 and must match its DuckDB replay, through the same check
``tools/check_oracles.py`` applies (``oracle_sql()`` reads the sf0.01
corpus, so no other scale works)."""

import os

import pytest

pytest.importorskip("pyspark")
pytest.importorskip("duckdb")

SF_DIR = "/root/testdata/sf0.01"


def _oracle_names():
    # oracle_sql() materializes its sf0.01 inputs, so only ask for the
    # keys where that scale exists
    if not os.path.isdir(SF_DIR):
        return []
    import __spark_entry__ as E

    return sorted(E.oracle_sql())


pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"{SF_DIR} not present")


@pytest.fixture(scope="module")
def oracle_env():
    from tools.check_oracles import duckdb_views
    from zpdfspark.spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark(4, "zpdfspark-oracle-tests", shuffle_partitions=4)
    yield spark, duckdb_views(SF_DIR), E.queries(), E.oracle_sql()
    spark.stop()


@pytest.mark.parametrize("name", _oracle_names())
def test_query_matches_oracle(oracle_env, name):
    from tools.check_oracles import compare

    spark, con, queries, oracles = oracle_env
    ok, report = compare(con, name, queries[name](spark, SF_DIR),
                         oracles[name])
    assert ok, "\n".join(report)
