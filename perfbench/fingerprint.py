"""Order-insensitive output fingerprint, computed the same way by Spark
and by DuckDB.

Each row becomes one canonical string: its columns in name order, joined
by ``|``, NULL written as ``\\N``. Integers, booleans and strings use
their plain text form; floating and decimal values are scaled by 10^6
and rounded to an integer (every float output of the benchmarked queries
is already rounded to at most 6 decimals, so both engines land on the
same integer); timestamps become epoch microseconds. The fingerprint is
``(rows, sum of md5 bits 0-31, sum of md5 bits 32-63)`` over those
strings. Sums of 32-bit pieces cannot overflow a 64-bit integer below
2^31 rows, which matters because Spark 4 runs in ANSI mode; a sum is
order-insensitive, and a change in any one column changes the row's md5.
"""

from __future__ import annotations

NULL = "\\N"
SCALE = 1_000_000


def _canon_spark(name: str, dtype):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    c = F.col(f"`{name}`")
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        d = c.cast("double")
        s = F.when(F.isnan(d), F.lit("NaN")).otherwise(
            F.floor(d * SCALE + 0.5).cast("bigint").cast("string")
        )
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        s = F.unix_micros(c.cast("timestamp")).cast("string")
    elif isinstance(
        dtype,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.BooleanType, T.StringType),
    ):
        s = c.cast("string")
    else:
        raise TypeError(f"no canonical form for column {name}: {dtype}")
    return F.coalesce(s, F.lit(NULL))


def spark_fingerprint(df) -> tuple[int, int, int]:
    """Run ONE Spark job that computes every column of ``df`` and
    returns its fingerprint."""
    from pyspark.sql import functions as F

    fields = sorted(df.schema.fields, key=lambda f: f.name)
    h = F.md5(F.concat_ws("|", *[_canon_spark(f.name, f.dataType) for f in fields]))
    row = (
        df.select(h.alias("h"))
        .select(
            F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint").alias("lo"),
            F.conv(F.substring("h", 9, 8), 16, 10).cast("bigint").alias("hi"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("lo"), F.lit(0)).alias("lo"),
            F.coalesce(F.sum("hi"), F.lit(0)).alias("hi"),
        )
        .collect()[0]
    )
    return int(row["n"]), int(row["lo"]), int(row["hi"])


def _canon_duck(name: str, arrow_type) -> str:
    import pyarrow.types as pt

    c = '"' + name.replace('"', '""') + '"'
    if pt.is_floating(arrow_type) or pt.is_decimal(arrow_type):
        d = f"CAST({c} AS DOUBLE)"
        s = (
            f"CASE WHEN isnan({d}) THEN 'NaN' ELSE "
            f"CAST(CAST(floor({d} * {SCALE} + 0.5) AS BIGINT) AS VARCHAR) END"
        )
    elif pt.is_timestamp(arrow_type):
        s = f"CAST(epoch_us({c}) AS VARCHAR)"
    elif pt.is_integer(arrow_type) or pt.is_boolean(arrow_type) or pt.is_string(
        arrow_type
    ) or pt.is_large_string(arrow_type):
        s = f"CAST({c} AS VARCHAR)"
    else:
        raise TypeError(f"no canonical form for column {name}: {arrow_type}")
    return f"coalesce({s}, '{NULL}')"


def duckdb_fingerprint(con, table) -> tuple[int, int, int]:
    """Fingerprint of a pyarrow Table (an oracle result) in DuckDB."""
    fields = sorted(table.schema, key=lambda f: f.name)
    row_str = " || '|' || ".join(_canon_duck(f.name, f.type) for f in fields)
    con.register("_fp_input", table)
    try:
        n, lo, hi = con.execute(
            f"""
            SELECT count(*),
                   coalesce(sum(CAST(('0x' || substr(h, 1, 8)) AS BIGINT)), 0),
                   coalesce(sum(CAST(('0x' || substr(h, 9, 8)) AS BIGINT)), 0)
            FROM (SELECT md5({row_str}) AS h FROM _fp_input)
            """
        ).fetchone()
    finally:
        con.unregister("_fp_input")
    return int(n), int(lo), int(hi)


def oracle_fingerprints(data_dir: str, sqls: dict[str, str], threads: int) -> dict:
    """Run each oracle SQL on DuckDB over the parquet tables in
    ``data_dir``; return ``{name: [rows, lo, hi]}`` plus the output
    column names, which must match Spark's."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={int(threads)}")
        for path in sorted(_parquet_files(data_dir)):
            name = path.rsplit("/", 1)[-1][: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        out = {}
        for name, sql in sqls.items():
            table = con.execute(sql).fetch_arrow_table()
            out[name] = {
                "fingerprint": list(duckdb_fingerprint(con, table)),
                "columns": sorted(table.column_names),
            }
        return out
    finally:
        con.close()


def _parquet_files(data_dir: str) -> list[str]:
    import os

    return [
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    ]
