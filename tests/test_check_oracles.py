"""tools/check_oracles.compare on hand-made rows (no Spark session):
values and row order must both match the oracle's."""

import pytest

duckdb = pytest.importorskip("duckdb")

from tools import check_oracles  # noqa: E402

SQL = ("SELECT doc_id, s, CAST(x AS DOUBLE) AS x FROM (VALUES (1, 'a', 0.5),"
       " (2, 'b', 1.25), (3, 'c', 2.0)) t(doc_id, s, x) ORDER BY doc_id")


class _Rows:
    """The part of a DataFrame ``compare`` reads; the Arrow type audit
    only warns without ``limit``."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return list(self._rows)


def _compare(name, columns, rows):
    return check_oracles.compare(duckdb.connect(), name,
                                 _Rows(columns, rows), SQL)


def test_same_rows_in_order_pass():
    ok, report = _compare("q", ["x", "doc_id", "s"],
                          [(0.5, 1, "a"), (1.25000001, 2, "b"),
                           (2.0, 3, "c")])
    assert ok, report


def test_reversed_order_fails():
    ok, report = _compare("q", ["doc_id", "s", "x"],
                          [(3, "c", 2.0), (2, "b", 1.25), (1, "a", 0.5)])
    assert not ok
    assert "another order, first at row 0" in report[-1]


def test_value_mismatch_reported_before_order():
    ok, report = _compare("q", ["doc_id", "s", "x"],
                          [(3, "c", 2.0), (2, "b", 1.5), (1, "a", 0.5)])
    assert not ok
    assert "value mismatch" in report[-1]

