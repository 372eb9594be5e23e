"""Local replay of the driver's DuckDB-oracle comparison.

For each declared query: run the Spark implementation and the oracle SQL at
the same scale factor, then compare row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted, values
canonicalized). Lets every operator be verified the same way the driver
will verify it, before it counts.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
from dataclasses import dataclass

import duckdb
from pyspark.sql import SparkSession

from ralf_spark.operators.util import unpersist_cached
from ralf_spark.sources.fixtures import FIXTURE_TABLES


def _canon(v: object) -> str:
    """Canonical string for hashing a single value, engine-agnostic."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def _hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


@dataclass
class CompareResult:
    name: str
    spark_rows: int
    oracle_rows: int
    cols_match: bool
    hash_match: bool
    spark_cols: list[str]
    oracle_cols: list[str]
    #: False when the result contains array/map/struct cells. The driver's
    #: harness sorts rows via pandas over every column, which raises
    #: ``unhashable type: 'list'`` on such cells (round-3 failure on
    #: tumbling_window_payload) — so a locally-green query with a nested
    #: column would still be driver-red. Flag it here.
    scalar_ok: bool = True

    @property
    def ok(self) -> bool:
        return (
            self.spark_rows == self.oracle_rows
            and self.cols_match
            and self.hash_match
            and self.scalar_ok
        )


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for table in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'"
        )
    return con


def compare_query(
    spark: SparkSession,
    name: str,
    fn,
    oracle: str,
    sf_dir: str,
    con: duckdb.DuckDBPyConnection | None = None,
) -> CompareResult:
    own_con = con is None
    if own_con:
        con = duckdb_connection(sf_dir)
    try:
        sdf = fn(spark, sf_dir)
        s_cols = list(sdf.columns)
        s_rows = [tuple(r) for r in sdf.collect()]
        # the sweep runs 200+ queries in one session: release what this
        # one persisted before the next one runs
        unpersist_cached(sdf)
        rel = con.execute(oracle)
        o_cols = [d[0] for d in rel.description]
        o_rows = rel.fetchall()
        scalar_ok = not any(
            isinstance(v, (list, tuple, dict, set))
            for rows in (s_rows[:100], o_rows[:100])
            for r in rows
            for v in r
        )
        return CompareResult(
            name=name,
            spark_rows=len(s_rows),
            oracle_rows=len(o_rows),
            cols_match=sorted(s_cols) == sorted(o_cols),
            hash_match=_hash_rows(s_cols, s_rows) == _hash_rows(o_cols, o_rows),
            spark_cols=s_cols,
            oracle_cols=o_cols,
            scalar_ok=scalar_ok,
        )
    finally:
        if own_con:
            con.close()
