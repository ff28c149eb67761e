"""The output fingerprint: Spark and DuckDB agree, row order does not
matter, and a change in any single column changes it."""

from __future__ import annotations

import datetime as dt
import os
import sys

import duckdb
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import fingerprint as FP  # noqa: E402

ROWS = {
    "id": pa.array([1, 2, 3, 4], type=pa.int64()),
    "rk": pa.array([1, 2, None, 1], type=pa.int32()),
    "score": pa.array([0.1234, -2.5, 0.0, None], type=pa.float64()),
    "word": pa.array(["a", "b|c", None, "d"]),
    "flag": pa.array([True, False, None, True]),
    "ts": pa.array(
        [dt.datetime(2024, 1, 1, 0, 0, i) for i in range(4)], type=pa.timestamp("us")
    ),
}


def _table(**changes) -> pa.Table:
    cols = dict(ROWS)
    for name, (row, value) in changes.items():
        vals = cols[name].to_pylist()
        vals[row] = value
        cols[name] = pa.array(vals, type=cols[name].type)
    return pa.table(cols)


def _duck(table: pa.Table):
    con = duckdb.connect()
    try:
        return FP.duckdb_fingerprint(con, table)
    finally:
        con.close()


CHANGES = {
    "id": (0, 9),
    "rk": (2, 5),
    "score": (0, 0.1235),
    "word": (1, "b"),
    "flag": (1, True),
    "ts": (3, dt.datetime(2024, 1, 2)),
}


def test_duckdb_order_insensitive():
    t = _table()
    assert _duck(t) == _duck(t.take([3, 1, 0, 2]))
    assert _duck(t)[0] == 4


@pytest.mark.parametrize("column", sorted(CHANGES))
def test_duckdb_any_column_change_changes_it(column):
    assert _duck(_table(**{column: CHANGES[column]})) != _duck(_table())


def test_duckdb_column_order_irrelevant():
    t = _table()
    assert _duck(t) == _duck(t.select(sorted(t.column_names, reverse=True)))


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-fingerprint-test")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def _spark_df(spark, table: pa.Table):
    return spark.createDataFrame(table.to_pandas())


def test_spark_matches_duckdb(spark):
    t = _table()
    df = spark.createDataFrame(t.to_pylist(), schema=(
        "id bigint, rk int, score double, word string, flag boolean, ts timestamp"
    ))
    assert FP.spark_fingerprint(df) == _duck(t)


def test_spark_order_insensitive_and_column_sensitive(spark):
    schema = "id bigint, rk int, score double, word string, flag boolean, ts timestamp"
    base = FP.spark_fingerprint(spark.createDataFrame(_table().to_pylist(), schema))
    shuffled = spark.createDataFrame(_table().take([2, 0, 3, 1]).to_pylist(), schema)
    assert FP.spark_fingerprint(shuffled.repartition(3)) == base
    for column, change in CHANGES.items():
        changed = spark.createDataFrame(_table(**{column: change}).to_pylist(), schema)
        assert FP.spark_fingerprint(changed) != base, column
