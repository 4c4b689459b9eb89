"""Parquet table readers for the driver-generated test tables.

Scans carry an EXPLICIT schema read driver-side from the parquet
footer (:func:`parquet_schema`): ``spark.read.parquet`` without one
launches a 1-task schema-inference JOB per call (~0.15-0.2 s on this
host), which at 1-3 ``load_table`` calls per catalog query is pure
fixed overhead on every single query — and at 100 TB it is a wasted
cluster round-trip per scan for metadata one local footer read
already has (guide §6: metadata work belongs on the driver, and §1.2:
don't compute things you throw away).  The explicit schema changes
NOTHING about the scan: Catalyst keeps predicate pushdown / column
pruning / partition pruning, and tests/test_round18_schema.py pins
byte-for-byte equality between :func:`parquet_schema` and Spark's own
inference for every table at every SF.  Never cache data here — at
100 TB the tables don't fit; rely on pushdown + pruning instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # Self-sufficient under ANY session (the driver builds its own):
        # if events.ts is TIMESTAMP(NANOS) the reader rejects it unless
        # nanosAsLong is set; and timestamp *rendering* must be UTC for
        # oracle hash parity with DuckDB's naive-UTC timestamps. Both
        # are runtime-settable SQL confs.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, src)).parquet(src)
    if name == "events":
        df = normalize_event_time(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}

