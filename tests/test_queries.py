"""Every queries() entry must match its DuckDB oracle_sql() twin at
sf0.001 — the local mirror of the driver's correctness gate."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.check_queries import TABLES, value_hash  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _entries():
    from __spark_entry__ import queries

    return sorted(queries().keys())


@pytest.mark.parametrize("name", _entries())
def test_query_matches_oracle(spark, duck, name):
    from __spark_entry__ import oracle_sql, queries

    sdf = queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    sql = oracle_sql().get(name)
    if sql is None:
        assert len(srows) >= 0  # rows-only contract: runs without error
        return
    cur = duck.execute(sql)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows)
    assert value_hash(srows, sdf.columns) == value_hash(drows, dcols)
