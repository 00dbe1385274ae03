"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

The driver writes nanosecond-precision parquet timestamps
(INT64 TIMESTAMP(NANOS)), which Spark's vectorized reader rejects with
PARQUET_TYPE_ILLEGAL by default. ``spark.sql.legacy.parquet.nanosAsLong``
is a runtime SQL conf, so we flip it here and convert the known timestamp
columns from BIGINT-nanos to proper TIMESTAMP (truncating to micros, which
is exactly what DuckDB reports for the same files — keeps oracle hashes
aligned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# timestamp-typed columns per driver table (TESTDATA.md schemas)
_TS_COLS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table, normalizing nanos timestamps to TIMESTAMP."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # oracle parity: DuckDB timestamps are UTC-naive; pin the session TZ in
    # case the driver's session was built without it
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _TS_COLS.get(name, []):
        if isinstance(df.schema[c].dataType, T.LongType):
            # integer div: col/1000 in double rounds at ~2^53 and drifts by
            # 1 µs vs DuckDB's truncation
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df

def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}
