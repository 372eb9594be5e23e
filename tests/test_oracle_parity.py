"""Replay of the driver's DuckDB-oracle gate over every declared query.

Runs at sf0.001 by default (fast); set SPARK_GRAFT_ORACLE_SF_DIR=/root/
testdata/sf0.01 to replicate the driver's exact scale.
"""

from __future__ import annotations

import pytest

from ralf_spark.oracle import compare_query, duckdb_connection
from ralf_spark.queries import QUERIES

from tests.conftest import SF_DIR

_ORACLE_QUERIES = [
    (name, q) for name, q in QUERIES.items() if q.oracle is not None
]


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize(
    "name,q", _ORACLE_QUERIES, ids=[n for n, _ in _ORACLE_QUERIES]
)
@pytest.mark.slow
def test_oracle_parity(spark, con, name, q):
    res = compare_query(spark, name, q.fn, q.oracle, SF_DIR, con)
    assert res.spark_rows == res.oracle_rows, (
        f"{name}: rows {res.spark_rows} != oracle {res.oracle_rows}"
    )
    assert res.cols_match, (
        f"{name}: cols {res.spark_cols} != oracle {res.oracle_cols}"
    )
    assert res.hash_match, f"{name}: value hash mismatch vs oracle"
    assert res.scalar_ok, (
        f"{name}: non-scalar cells in output — the driver's pandas row "
        "sort raises on array/map/struct columns (round-3 failure mode)"
    )


def test_rows_only_queries_run(spark):
    for name, q in QUERIES.items():
        if q.oracle is None:
            df = q.fn(spark, SF_DIR)
            assert df.count() >= 0, name


def test_compare_query_releases_attached_caches(spark):
    """r7 review: the gate path itself must release what the query
    persisted — the sweep runs 200+ queries in ONE session, and a query
    that persists (textrank, semdedup, curation) would otherwise leak
    storage blocks across the whole run."""
    from pyspark import StorageLevel

    from ralf_spark.operators.util import persist

    holder = {}

    def fn(spark_, sf_dir_):
        c = persist(spark_.range(5))
        holder["c"] = c
        return c.selectExpr("CAST(1 AS BIGINT) AS x").limit(1)

    res = compare_query(
        spark, "t", fn, "SELECT CAST(1 AS BIGINT) AS x", SF_DIR
    )
    assert res.hash_match and res.cols_match
    assert holder["c"].storageLevel == StorageLevel.NONE
