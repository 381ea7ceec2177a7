"""Local stand-in for the driver's correctness gate: run each
queries()[name] on Spark and oracle_sql()[name] on DuckDB at the given
sf, compare row count + schema-insensitive sorted values, then the row
order itself: every oracle ends in ORDER BY (or returns one row), so a
query that emits its rows in another order fails.

Usage: python tools/check_oracles.py [sf_dir] [query ...]

The oracles are only meaningful at sf0.01: ``oracle_sql()`` always
reads the sf0.01 corpus (it builds that file if missing), while the
Spark side reads the corpus under ``sf_dir``. At any other scale every
corpus-backed query reports a false row-count FAIL (at sf0.001,
``extract_metadata`` reports 200 vs 800), so the tool warns first.

``compare`` is the per-query check; tests/test_oracles.py calls it too.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from zpdfspark.spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(rows, cols):
    """One string per row, in row order, columns in name order, floats
    rounded to 6 places."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(str(v))
        out.append("|".join(vals))
    return out


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per parquet table under sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _arrow_type(t):
    # structural type string: list item field NAMES differ between
    # engines (duckdb "l" vs spark "element") with no value meaning —
    # drop them; keep struct field names
    import pyarrow as pa

    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_arrow_type(t.value_type)}>"
    if pa.types.is_struct(t):
        return ("struct<" + ",".join(
            f"{f.name}:{_arrow_type(f.type)}" for f in t) + ">")
    return str(t)


def compare(con, name: str, df, sql: str) -> tuple[bool, list[str]]:
    """Check one Spark query result against its DuckDB oracle SQL.

    Returns (ok, report lines). The check is: same column names, no
    integer-vs-decimal Arrow type drift, same row count, equal sorted
    normalized values, and the same normalized rows in sequence."""
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    try:
        o = con.execute(sql)
        ocols = [d[0] for d in o.description]
        orows = o.fetchall()
    except Exception as e:
        return False, [f"[FAIL] {name}: duckdb error: {e}"]
    if sorted(cols) != sorted(ocols):
        return False, [f"[FAIL] {name}: column mismatch "
                       f"{sorted(cols)} vs {sorted(ocols)}"]
    # Arrow-level type audit: the gate's value hash is type-sensitive,
    # and DuckDB's Python fetchall() hides drift (HUGEINT comes back as
    # plain int). Compare arrow types and fail hard on the known failing
    # shape: decimal (HUGEINT) vs integer; warn on anything else.
    report = []
    try:
        dmap = {f.name: _arrow_type(f.type)
                for f in con.execute(sql).arrow().schema}
        smap = {f.name: _arrow_type(f.type)
                for f in df.limit(0).toArrow().schema}
        for c in cols:
            st, dt = smap.get(c), dmap.get(c)
            if st == dt:
                continue
            if "decimal" in (dt or "") and "int" in (st or ""):
                return False, report + [
                    f"[FAIL] {name}: col {c} duckdb {dt} vs spark {st} "
                    "(uncast aggregate?)"]
            report.append(f"[warn] {name}: col {c} type drift "
                          f"duckdb={dt} spark={st}")
    except Exception as e:  # pragma: no cover - audit best-effort
        report.append(f"[warn] {name}: type audit skipped: {e}")
    a = normalize(rows, cols)
    b = normalize(orows, ocols)
    if len(a) != len(b):
        return False, report + [
            f"[FAIL] {name}: row count {len(a)} vs {len(b)}"]
    sa, sb = sorted(a), sorted(b)
    if sa != sb:
        diff = [(x, y) for x, y in zip(sa, sb) if x != y][:3]
        return False, report + [
            f"[FAIL] {name}: value mismatch, first diffs: {diff}"]
    if a != b:
        i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return False, report + [
            f"[FAIL] {name}: same rows in another order, first at row "
            f"{i}: {a[i]!r} vs {b[i]!r}"]
    return True, report + [f"[OK]   {name}: {len(a)} rows match"]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.01":
        print(f"WARNING: oracle_sql() reads the sf0.01 corpus; at {sf_dir} "
              "corpus-backed queries report false row-count FAILs")
    # ZPDF_ORACLE_CPUS: cross-width determinism replays — running the
    # same gate at a different core/shuffle-partition count shakes out
    # partition-order nondeterminism the fixed-width run can't see
    cpus = int(os.environ.get("ZPDF_ORACLE_CPUS", "8"))
    spark = get_spark(cpus, "oracle-check")
    con = duckdb_views(sf_dir)

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            df = fn(spark, sf_dir)
            if sql is None:
                rows = df.collect()
                print(f"[rows-only] {name}: {len(rows)} rows, "
                      f"cols={df.columns}")
                if not rows:
                    print(f"  WARNING: {name} returned 0 rows")
                continue
            ok, report = compare(con, name, df, sql)
        except Exception as e:
            failures.append(name)
            print(f"[FAIL] {name}: spark error: {e}")
            continue
        print("\n".join(report))
        if not ok:
            failures.append(name)
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL ORACLES MATCH")


if __name__ == "__main__":
    main()
