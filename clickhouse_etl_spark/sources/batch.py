"""Batch parquet sources for the TPC-H-ish test tables (TESTDATA.md).

The driver-generated tables have stored ``events.ts`` in different
physical forms across rounds — parquet ``TIMESTAMP(NANOS)`` (which,
under ``spark.sql.legacy.parquet.nanosAsLong``, reads as a nano-epoch
long) and plain ``TIMESTAMP(MICROS)`` without a UTC flag (which Spark 4
reads as ``TIMESTAMP_NTZ``).  ``load_table`` normalizes every form to
session-zone ``TimestampType`` (session tz is pinned to UTC by
``session.get_spark``), matching DuckDB's naive-as-UTC ``epoch_us``
semantics, so downstream operators can rely on instant-typed event-time
columns regardless of how the generator wrote the file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

#: temporal columns whose physical parquet type has varied across
#: generator versions (nano-epoch long / TIMESTAMP_NTZ / TIMESTAMP /
#: DATE), and the logical type each must be normalized to.  events.ts
#: is an instant (operators watermark/window on it); the TPC-H date
#: columns are civil dates compared against wall-time literals, so
#: they normalize to TIMESTAMP_NTZ (what the current generator writes
#: and what every oracle pair is proven against).
_NORM_TS_COLS = {
    "events": {"ts": "timestamp"},
    "orders": {"o_orderdate": "timestamp_ntz"},
    "lineitem": {"l_shipdate": "timestamp_ntz"},
}


def _normalize_temporal(df: DataFrame, c: str, target: str) -> DataFrame:
    dtype = dict(df.dtypes)[c]
    if dtype == target:
        return df
    if dtype == "bigint":
        # nano-epoch long (legacy nanosAsLong read); integer `div`, not
        # `/`: double division of nano-epochs loses precision past 2^53
        # and rounds the microsecond
        return df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast(target))
    # timestamp <-> timestamp_ntz and date -> either: with the session
    # pinned to UTC these casts reinterpret wall-time as the same UTC
    # instant — identical to DuckDB's naive-as-UTC epoch_us semantics
    return df.withColumn(c, F.col(c).cast(target))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c, target in _NORM_TS_COLS.get(name, {}).items():
        if c in df.columns:
            df = _normalize_temporal(df, c, target)
    return df

