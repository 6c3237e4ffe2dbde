"""Readers for the driver-provided parquet testdata (TESTDATA.md).

The ``events`` table stores nanosecond-precision timestamps, which Spark's
vectorized parquet reader rejects; we read them as int64 nanoseconds
(``spark.sql.legacy.parquet.nanosAsLong``) and convert to µs TimestampType
— the engine's internal time unit, matching the reference where all open
dimensions normalize to int64 microseconds (``sql/util_time.sql:49``).

NOTE: ``nanosAsLong`` is a SESSION-WIDE setting and is deliberately left
enabled after the first events read — the flag is consulted lazily at
scan time, so restoring it immediately would break the very read it
enabled. ``build_spark`` sets it up front so sessions built there have
one consistent behavior for TIMESTAMP(NANOS) parquet (ns columns
surface as int64 ns); sessions built elsewhere inherit it on first
events load.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents"
).split()


#: inferred parquet schemas per file path, stamped with the file's
#: (mtime_ns, size) so a file rewritten in place is re-inferred —
#: METADATA only; every query still scans the data itself. Skips the
#: ~50ms footer-inference job Spark runs per reader open, which sat on
#: every load_table call of every gate (round 17).
_SCHEMA_CACHE: dict = {}


def _file_stamp(path: str) -> tuple:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size)


def _file_schema(spark: SparkSession, path: str) -> T.StructType:
    stamp = _file_stamp(path)
    hit = _SCHEMA_CACHE.get(path)
    if hit is None or hit[0] != stamp:
        hit = (stamp, spark.read.parquet(path).schema)
        _SCHEMA_CACHE[path] = hit
    return hit[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(_file_schema(spark, path)).parquet(path)
        dtype = dict(df.dtypes).get("ts", "")
        if dtype == "bigint":
            # integer division: double division loses precision at ns scale
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dtype.startswith("timestamp"):
            # parquet may surface TIMESTAMP_NTZ; the engine's internal unit
            # is session-zoned TimestampType (int64 µs, sql/util_time.sql:49)
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return df
    return spark.read.schema(_file_schema(spark, path)).parquet(path)


def load_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming reader over the same testdata parquet (readStream needs
    an explicit schema; the events ns→µs conversion matches
    :func:`load_table`). One file = one micro-batch under availableNow."""
    # the streaming file source wants a DIRECTORY; select the one table
    # file out of sf_dir with a glob filter
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = spark.read.parquet(path).schema
        sdf = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir)
        )
        if dict(sdf.dtypes).get("ts") == "bigint":
            sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            sdf = sdf.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return sdf
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
