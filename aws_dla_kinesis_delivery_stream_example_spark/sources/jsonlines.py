"""JSON-lines producer/source (SURVEY.md §2.1 S1-S4).

The reference's producer writes newline-terminated JSON records with a
partition key taken from a record field
(data_producer/multi_process_producer.py:41-47). Locally the "stream"
is a directory of JSON-line files the streaming reader tails; on a
real cluster the same pipeline binds to the Kinesis connector —
see ``kinesis_reader`` (stubbed: connector jar not in this image).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def generate_bank_accounts(spark: SparkSession, n: int, partitions: int = 10) -> DataFrame:
    """Deterministic bank_account generator (S2 parity: the reference's
    Faker-based producer, multi_process_producer.py:31-40). Built on
    ``spark.range`` so generation is distributed, never driver-side."""
    first = F.concat(F.lit("First"), (F.col("id") % 97).cast("string"))
    last = F.concat(F.lit("Last"), (F.col("id") % 89).cast("string"))
    desc = F.concat(
        F.lit("account holder number "),
        F.col("id").cast("string"),
        F.lit(" with a ten word description sentence attached here"),
    )
    return (
        spark.range(n)
        # partition key = record id field, hashed to `partitions` shards
        # (S4 parity: 10 provisioned shards, iac/s2_app.py:710-717)
        .repartition(partitions, "id")
        .select(
            F.md5(F.col("id").cast("string")).alias("id"),
            first.alias("firstname"),
            last.alias("lastname"),
            desc.alias("description"),
            F.lit(0).cast("long").alias("balance"),
        )
    )


def produce_jsonlines(df: DataFrame, out_dir: str) -> str:
    """S1 parity: land records as JSON-line files (the put_records batch
    -> the source dir). One file per partition = one put_records batch."""
    df.write.mode("append").json(out_dir)
    return out_dir


def decode_kinesis_records(raw: DataFrame, schema) -> DataFrame:
    """D1 parity over the Kinesis record envelope: the connector emits
    (data binary, partitionKey, sequenceNumber,
    approximateArrivalTimestamp); decode data -> utf8 -> json struct and
    keep the stream metadata columns (reference consumer decode:
    kds_example/kds_helper.py:29-36)."""
    parsed = F.from_json(F.col("data").cast("string"), schema)
    return raw.select(
        parsed.alias("_r"),
        "partitionKey",
        "sequenceNumber",
        "approximateArrivalTimestamp",
    ).select("_r.*", "partitionKey", "sequenceNumber", "approximateArrivalTimestamp")


def kinesis_reader(
    spark: SparkSession,
    stream_name: str,
    region: str = "us-east-1",
    schema=None,
    fmt: str = "aws-kinesis",
    starting_position: str = "LATEST",
):
    """S3 binding on a real cluster: Structured Streaming Kinesis source.

    ``fmt`` selects the connector implementation — the real
    spark-sql-kinesis jar ("aws-kinesis", not in this image) or the
    in-process Python Data Source shim ("fake-kinesis",
    sources/kinesis_testing.py) that emits the same record envelope for
    integration tests / local development. With ``schema`` set, the
    payload is decoded (D1) and stream metadata columns are preserved.
    """
    try:
        raw = (
            spark.readStream.format(fmt)
            .option("kinesis.streamName", stream_name)
            .option("kinesis.region", region)
            .option("kinesis.startingposition", starting_position)
            .load()
        )
    except Exception as exc:  # pragma: no cover - connector absent locally
        raise NotImplementedError(
            "Kinesis connector not available; add a spark-sql-kinesis "
            "connector package (or register the fake-kinesis testing "
            "source) and retry"
        ) from exc
    if schema is None:
        return raw
    return decode_kinesis_records(raw, schema)
