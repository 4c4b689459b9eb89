"""Round-18 pins for the driver-side parquet footer schema reader.

``sources.tables.parquet_schema`` replaces Spark's per-call schema
inference JOB (one 1-task job per ``spark.read.parquet``, ~0.15-0.2 s
on the bench host — paid by every ``load_table`` call of every catalog
query and by every streaming drain's reader-schema probe).  The whole
optimization is only sound if the built schema is EXACTLY what Spark's
inference returns under the session confs, so this module pins
equality table-by-table, SF-by-SF, plus the conf-dependent timestamp
branches on synthesized files.
"""

from __future__ import annotations

import os

import pytest

from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import (
    TABLES,
    load_table,
    parquet_schema,
)

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


@pytest.mark.parametrize("table", TABLES)
@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_footer_schema_equals_spark_inference(spark, sf_dir, table):
    src = os.path.join(sf_dir, f"{table}.parquet")
    if table == "events":
        # mirror load_table's session prep: the ts column's mapping is
        # conf-dependent (nanosAsLong / NTZ inference)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    built = parquet_schema(spark, src)
    inferred = spark.read.parquet(src).schema
    assert built == inferred, f"{table}: {built} != {inferred}"


def test_load_table_round_trips_every_table(spark):
    # the explicit-schema read must yield the same columns/types the
    # inference path produced (events post-normalization included)
    for t in TABLES:
        df = load_table(spark, SF_DIRS[0], t)
        assert df.schema == load_table(spark, SF_DIRS[0], t).schema
        assert df.limit(1).count() in (0, 1)


def test_nanos_timestamp_maps_to_long_under_legacy_conf(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "id": pa.array([1, 2], type=pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_000, 1_700_000_000_000_000_001],
                           type=pa.timestamp("ns")),
        }
    )
    src = str(tmp_path / "ns.parquet")
    pq.write_table(tbl, src)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    built = parquet_schema(spark, src)
    inferred = spark.read.parquet(src).schema
    assert built == inferred
    assert dict((f.name, f.dataType.simpleString()) for f in built)["ts"] == "bigint"


def test_unmapped_type_falls_back_to_inference(spark, tmp_path):
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {"d": pa.array([decimal.Decimal("1.23")], type=pa.decimal128(10, 2))}
    )
    src = str(tmp_path / "dec.parquet")
    pq.write_table(tbl, src)
    built = parquet_schema(spark, src)
    inferred = spark.read.parquet(src).schema
    assert built == inferred  # fallback returns inference itself


def test_spark_written_int96_timestamp_equals_inference(spark, tmp_path):
    # Spark writes timestamps as INT96 by default; arrow reports that
    # column as timestamp[ns], which must not map to bigint under
    # nanosAsLong (Spark itself reads it as a timestamp).
    src = str(tmp_path / "int96")
    spark.sql("SELECT 1L AS id, TIMESTAMP '2024-01-01 10:00:00' AS ts").write.parquet(src)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    built = parquet_schema(spark, src)
    inferred = spark.read.parquet(src).schema
    assert built == inferred
    assert dict((f.name, f.dataType.simpleString()) for f in built)["ts"] == "timestamp"
