"""Firehose transform-event envelope protocol (SURVEY.md §1.1, §2.2 T1/T6).

The reference's Lambda receives
``{"records": [{"recordId", "approximateArrivalTimestamp", "data": b64}]}``
and must return ``{"records": [{"recordId", "result", "data"}]}`` with every
input recordId echoed exactly once (Firehose reconciles on it) —
shape pinned by the reference unit test (tests/test_lbd_to_s3.py:11-22),
statuses per kds_example/kds_helper.py:53-61.

Here the envelope batch is a DataFrame of envelope-records; the whole
transform is column expressions (decode -> transform -> status ->
re-encode) so it is one narrow codegen'd pass — no Python loop. The
``handle_event`` helper runs the exact dict-shaped protocol for golden
round-trip tests and for drop-in use as an actual Lambda body.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import serde
from .transform import STATUS_DROPPED, STATUS_OK, apply_transform


def envelope_df(spark: SparkSession, event: dict) -> DataFrame:
    """Lift a Firehose transform event dict into a DataFrame of records
    (the one envelope shape, ``serde.ENVELOPE_RECORD_SCHEMA``)."""
    return spark.createDataFrame(event["records"], serde.ENVELOPE_RECORD_SCHEMA)


def transform_envelope(
    records: DataFrame, fn: Callable[[dict], dict] | None = None
) -> DataFrame:
    """envelope records -> {recordId, result, data} with T1/T2/T6
    semantics: recordId echoed, OK payload re-encoded from the
    transformed record, Dropped/ProcessingFailed carry the ORIGINAL
    base64 payload untouched.

    The black-box ``fn`` owns all routing, the reference Lambda
    contract: it raises ``DropIt`` to drop a record and any other
    exception to fail it, and a payload ``json.loads`` cannot decode
    fails before ``fn`` runs. Without ``fn`` (the identity, declarative
    path) a record is Ok unless its payload cannot be decoded, which
    makes it ProcessingFailed.

    Documented deviation (declarative path): decode failure is
    SCHEMA-VALIDATED, not just parse-validated — a record that is
    valid JSON but type-mismatched against ``serde.BANK_ACCOUNT_SCHEMA``
    (e.g. ``"balance": "not-a-number"`` for a LongType field) routes to
    ProcessingFailed here, where the reference's bare ``json.loads``
    would accept the dict and fail (or not) somewhere inside the
    transform body. Strict-at-the-boundary is the deliberate
    strengthening: the typed payload columns downstream are never
    silently null from a coercion failure. The black-box ``fn`` path
    keeps exact reference semantics (json.loads + transform + DropIt
    inside the UDF)."""
    # Parse with a corrupt-record column: PERMISSIVE from_json yields an
    # all-null struct on malformed input (not a null struct), so decode
    # failure is only detectable via columnNameOfCorruptRecord.
    parse_schema = T.StructType(
        list(serde.BANK_ACCOUNT_SCHEMA.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    decoded = records.withColumn("json_line", serde.decoded_string("data")).withColumn(
        "rec",
        F.from_json(
            F.col("json_line"), parse_schema, {"columnNameOfCorruptRecord": "_corrupt_record"}
        ),
    )
    payload_struct = F.struct(*[F.col(f"rec.{f.name}") for f in serde.BANK_ACCOUNT_SCHEMA.fields])
    if fn is not None:
        routed = apply_transform(decoded, fn=fn)
        ok_data = serde.encode_raw_line("payload")
    else:
        # Undecodable payload = ProcessingFailed, matching the reference
        # where json.loads raises (F2 semantics).
        decode_failed = F.col("rec").isNull() | F.col("rec._corrupt_record").isNotNull()
        routed = apply_transform(decoded, fail_when=decode_failed)
        ok_data = serde.encode_json_line(payload_struct)
    result = (
        F.when(F.col("status") == STATUS_OK, F.lit("Ok"))
        .when(F.col("status") == STATUS_DROPPED, F.lit("Dropped"))
        .otherwise(F.lit("ProcessingFailed"))
    )
    data = F.when(F.col("status") == STATUS_OK, ok_data).otherwise(F.col("data"))
    return routed.select(
        F.col("recordId"), result.alias("result"), data.alias("data")
    )


def handle_event(
    spark: SparkSession, event: dict, fn: Callable[[dict], dict] | None = None
) -> dict:
    """The full Lambda-handler contract: event dict in, event dict out
    (reference kds_example/lbd/common.py:7-33)."""
    out = transform_envelope(envelope_df(spark, event), fn=fn)
    return {"records": [r.asDict() for r in out.collect()]}
