"""Readers for the driver-generated catalog tables, batch or stream.

Every read of a catalog table goes through one body, with
``load_table`` as its batch face (``spark.read``) and ``stream_table``
as its streaming face (``spark.readStream``); a query keeps its plan
and only its source changes. That body owns three rules:

- The reader schema comes from the parquet footer
  (:func:`parquet_schema`), read driver-side. Without it,
  ``spark.read.parquet`` launches a 1-task schema-inference job per
  call, fixed overhead on every query. The explicit schema changes
  nothing about the scan: Catalyst keeps predicate pushdown, column
  pruning and partition pruning, and tests/test_round18_schema.py pins
  equality with Spark's own inference for every table at every SF.
- The events table's ``ts`` is event time: the body sets the two confs
  its encodings need and normalizes it (:func:`normalize_event_time`),
  so every consumer sees a UTC ``TimestampType`` column. Operators
  downstream take that column as given.
- A stream reads its table through a glob. Given a plain path, the
  streaming file source takes it as its partition base path, which
  must be a directory; the glob admits a single-file table and still
  lists a directory's files. A batch read keeps the plain path: on a
  glob, Spark's metadata-log probe logs a warning with a stack trace
  on every read.

Never cache data here; rely on pushdown and pruning instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.streaming import DataStreamReader

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def normalize_event_time(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` event-time column to TimestampType (LTZ, micros)
    regardless of how the parquet writer encoded it. The driver has
    regenerated events.parquet with different encodings across rounds:

    - parquet TIMESTAMP(NANOS): Spark reads it as *long* nanoseconds
      under ``spark.sql.legacy.parquet.nanosAsLong``; truncate ns->us
      (exactly DuckDB's behavior) and rebuild a timestamp.
    - naive ``timestamp[us]``: Spark 4.x infers TIMESTAMP_NTZ
      (``spark.sql.parquet.inferTimestampNTZ.enabled`` defaults true);
      the DuckDB oracle treats the same bytes as UTC wall-clock, so
      reinterpret the NTZ wall-clock as UTC. A plain ``cast`` (and
      ``to_utc_timestamp``, which implicitly casts first) resolves the
      NTZ wall-clock through the *session* timezone, so instead build
      the instant field-by-field with ``make_timestamp(..., 'UTC')`` —
      exact to the microsecond and independent of the session zone.
    - ``timestamp[us]`` with timezone: already TimestampType; pass.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if "ts" not in df.columns:
        return df
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn(
            "ts",
            F.expr(
                "make_timestamp(year(ts), month(ts), day(ts), hour(ts), minute(ts), "
                "CAST(date_part('SECOND', ts) AS DECIMAL(16,6)), 'UTC')"
            ),
        )
    return df


def parquet_schema(spark: SparkSession, path: str):
    """Spark read schema for a parquet file/directory WITHOUT the
    1-task schema-inference job ``spark.read.parquet`` launches per
    call: read the footer driver-side (pyarrow, ~2 ms) and map it to
    the exact types Spark's own inference would produce under this
    session's confs —

    - naive ``timestamp[us/ms]`` -> TimestampNTZType when
      ``spark.sql.parquet.inferTimestampNTZ.enabled`` (Spark 4
      default) else TimestampType; tz-aware -> TimestampType;
    - ``timestamp[ns]`` -> LongType under
      ``spark.sql.legacy.parquet.nanosAsLong`` (the events-table
      encoding the driver has shipped in past rounds) else an
      unmapped-type fallback;
    - primitives/lists/structs mapped 1:1.

    Any file outside the mapped set falls back to Spark's inference
    (correct, just one job slower).  Equality with inference is pinned
    per table per SF in tests/test_round18_schema.py."""
    from pyspark.sql import types as T

    def _conf_true(key: str, default: str) -> bool:
        return spark.conf.get(key, default).lower() == "true"

    ntz = _conf_true("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    nanos_as_long = _conf_true("spark.sql.legacy.parquet.nanosAsLong", "false")

    def _map(t):
        import pyarrow as pa

        if pa.types.is_int8(t) or pa.types.is_int16(t) or pa.types.is_int32(t):
            # parquet has no INT8/16 physical type; Spark reads the
            # annotated INT32 back as Byte/Short, but the driver's
            # tables only ship plain int32 — map the plain case.
            return T.IntegerType() if pa.types.is_int32(t) else None
        if pa.types.is_int64(t):
            return T.LongType()
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return T.StringType()
        if pa.types.is_float64(t):
            return T.DoubleType()
        if pa.types.is_float32(t):
            return T.FloatType()
        if pa.types.is_boolean(t):
            return T.BooleanType()
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return T.BinaryType()
        if pa.types.is_date32(t):
            return T.DateType()
        if pa.types.is_timestamp(t):
            if t.unit == "ns":
                return T.LongType() if nanos_as_long else None
            if t.tz is None:
                return T.TimestampNTZType() if ntz else T.TimestampType()
            return T.TimestampType()
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            elem = _map(t.value_type)
            if elem is None:
                return None
            return T.ArrayType(elem, containsNull=t.value_field.nullable)
        if pa.types.is_struct(t):
            fields = []
            for i in range(t.num_fields):
                f = t.field(i)
                ft = _map(f.type)
                if ft is None:
                    return None
                fields.append(T.StructField(f.name, ft, f.nullable))
            return T.StructType(fields)
        return None

    try:
        import pyarrow.parquet as pq

        target = path
        if os.path.isdir(path):
            parts = sorted(
                f for f in os.listdir(path) if f.endswith(".parquet")
            )
            if not parts:
                raise FileNotFoundError(f"no parquet parts under {path}")
            target = os.path.join(path, parts[0])
        pf = pq.ParquetFile(target)
        if any(c.physical_type == "INT96" for c in pf.schema):
            # Spark's legacy timestamp encoding: arrow reports it as
            # timestamp[ns], which would mis-map under nanosAsLong.
            raise ValueError(f"INT96 column in {target}")
        asch = pf.schema_arrow
        fields = []
        for f in asch:
            st = _map(f.type)
            if st is None:
                raise ValueError(f"unmapped arrow type {f.type} for {f.name}")
            fields.append(T.StructField(f.name, st, f.nullable))
        return T.StructType(fields)
    except Exception:
        # Fallback: Spark's own inference (one extra job, never wrong).
        return spark.read.parquet(path).schema


def _read(
    spark: SparkSession, reader: DataFrameReader | DataStreamReader, sf_dir: str, name: str
) -> DataFrame:
    """Table ``name`` under ``sf_dir`` through ``reader``
    (``spark.read`` or ``spark.readStream``)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # Self-sufficient under ANY session (the driver builds its own):
        # if events.ts is TIMESTAMP(NANOS) the reader rejects it unless
        # nanosAsLong is set; and timestamp *rendering* must be UTC for
        # oracle hash parity with DuckDB's naive-UTC timestamps. Both
        # are runtime-settable SQL confs, and both outlive the call.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = os.path.join(sf_dir, f"{name}.parquet")
    path = src + "*" if isinstance(reader, DataStreamReader) else src
    df = reader.schema(parquet_schema(spark, src)).parquet(path)
    if name == "events":
        df = normalize_event_time(df)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` as a batch frame."""
    return _read(spark, spark.read, sf_dir, name)


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` as a streaming frame over its closed files: the
    same columns and types as :func:`load_table`."""
    return _read(spark, spark.readStream, sf_dir, name)
