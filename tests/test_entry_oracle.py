"""Driver-simulation: every queries() entry matches its oracle_sql() via DuckDB.

Runs at sf0.001 for speed (the driver uses sf0.01 — same generator, larger).
Comparison mirrors the driver: row count, column names, and order-insensitive
row multiset equality.
"""
from __future__ import annotations

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(r[i] for i in order) for r in rows)


@pytest.mark.spark
def test_all_pairs(spark, duck, persistent_rdds):
    """Every declared query matches its oracle, and none leaves a persisted
    RDD behind: after its result is dropped, the persisted-RDD count is
    back where it was before the query ran."""
    import __spark_entry__ as entry

    qs = entry.queries()
    sqls = entry.oracle_sql()
    assert set(sqls) <= set(qs)
    failures, leaks = [], []
    floor = persistent_rdds(spark)
    for name, fn in qs.items():
        sdf = fn(spark, SF_DIR)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        del sdf
        held = persistent_rdds(spark, floor)
        if held != floor:
            leaks.append(name)
            floor = held
        if name not in sqls:
            continue
        res = duck.execute(sqls[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if sorted(scols) != sorted(dcols):
            failures.append((name, "columns", scols, dcols))
            continue
        if len(srows) != len(drows):
            failures.append((name, "rowcount", len(srows), len(drows)))
            continue
        if _canon(srows, scols) != _canon(drows, dcols):
            a, b = _canon(srows, scols), _canon(drows, dcols)
            diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
            failures.append((name, "values", diff))
    assert not failures, failures
    assert not leaks, f"queries that left persisted RDDs: {leaks}"


@pytest.mark.spark
def test_entry_smoke(spark):
    import __spark_entry__ as entry

    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["doc_id", "score_e6", "n_common"]
