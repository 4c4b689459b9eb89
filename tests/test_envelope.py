"""Golden round-trip tests of the Firehose envelope protocol — the
engine twin of the reference's own unit test (tests/test_lbd_to_s3.py:
one record, fixed recordId + arrival timestamp, identity transform,
assert decoded output == input)."""

from __future__ import annotations

import base64
import json

from aws_dla_kinesis_delivery_stream_example_spark.streaming.envelope import (
    envelope_df,
    handle_event,
    transform_envelope,
)
from aws_dla_kinesis_delivery_stream_example_spark.streaming.transform import DropIt


def _b64(record: dict) -> str:
    return base64.b64encode((json.dumps(record) + "\n").encode("utf-8")).decode("utf-8")


def _event(*records: dict) -> dict:
    return {
        "invocationId": "invocationIdExample",
        "deliveryStreamArn": "arn:aws:kinesis:EXAMPLE",
        "region": "us-east-1",
        "records": [
            {
                "recordId": f"rec-{i:04d}",
                "approximateArrivalTimestamp": 1495072949453 + i,
                "data": _b64(r),
            }
            for i, r in enumerate(records)
        ],
    }


REC = {
    "id": "id-1",
    "firstname": "Jane",
    "lastname": "Doe",
    "description": "ten word description sentence here for the golden test",
    "balance": 0,
}


def test_identity_roundtrip(spark):
    """Identity transform: result Ok, decoded data == original record,
    recordId echoed (T1/T3/T6)."""
    out = handle_event(spark, _event(REC))
    assert len(out["records"]) == 1
    r = out["records"][0]
    assert r["recordId"] == "rec-0000"
    assert r["result"] == "Ok"
    decoded = json.loads(base64.b64decode(r["data"]).decode("utf-8"))
    assert decoded == REC


def test_status_routing_and_original_payload(spark):
    """DropIt -> Dropped; exception -> ProcessingFailed with ORIGINAL
    base64 payload (T2/F1/F2)."""

    def fn(rec: dict) -> dict:
        if rec["firstname"] == "dropme":
            raise DropIt()
        if rec["firstname"] == "failme":
            raise ValueError("boom")
        return rec

    ok = dict(REC)
    drop = dict(REC, id="id-2", firstname="dropme")
    fail = dict(REC, id="id-3", firstname="failme")
    event = _event(ok, drop, fail)
    out = handle_event(spark, event, fn=fn)
    by_id = {r["recordId"]: r for r in out["records"]}
    assert len(by_id) == 3  # every recordId echoed exactly once
    assert by_id["rec-0000"]["result"] == "Ok"
    assert by_id["rec-0001"]["result"] == "Dropped"
    assert by_id["rec-0002"]["result"] == "ProcessingFailed"
    # failed + dropped records carry the UNTOUCHED input payload
    assert by_id["rec-0002"]["data"] == event["records"][2]["data"]
    assert by_id["rec-0001"]["data"] == event["records"][1]["data"]


def test_declarative_envelope_transform(spark):
    """Declarative (JVM-only) envelope path over a mixed batch: every
    decodable record is Ok with its payload re-encoded from the typed
    record; an undecodable payload and a schema-mismatched one (valid
    JSON, balance not a number — the documented strict-at-the-boundary
    deviation) are ProcessingFailed with their original payloads."""
    recs = [dict(REC, id=f"id-{i}", balance=i * 10) for i in range(8)]
    event = _event(*recs, dict(REC, id="id-8", balance="not-a-number"))
    bad = base64.b64encode(b"}{ not json\n").decode("utf-8")
    event["records"].append({"recordId": "rec-bad", "approximateArrivalTimestamp": 1, "data": bad})
    out = {r.recordId: r for r in transform_envelope(envelope_df(spark, event)).collect()}
    assert len(out) == 10  # every recordId echoed exactly once
    for i, rec in enumerate(recs):
        r = out[f"rec-{i:04d}"]
        assert r.result == "Ok"
        assert json.loads(base64.b64decode(r.data).decode("utf-8")) == rec
    for rid, original in (("rec-0008", event["records"][8]["data"]), ("rec-bad", bad)):
        assert out[rid].result == "ProcessingFailed" and out[rid].data == original


def test_malformed_payload_fails_with_original(spark):
    """Undecodable payload => ProcessingFailed carrying the untouched
    base64 input (reference: json.loads raises => F2 routing)."""
    bad = base64.b64encode(b"not json at all\n").decode("utf-8")
    event = {"records": [{"recordId": "r-bad", "approximateArrivalTimestamp": 1, "data": bad}]}
    out = handle_event(spark, event)
    r = out["records"][0]
    assert r["result"] == "ProcessingFailed" and r["data"] == bad


def test_unicode_envelope_roundtrip(spark):
    rec = dict(REC, description="日本語テキスト with ünïcode")
    out = handle_event(spark, _event(rec))
    decoded = json.loads(base64.b64decode(out["records"][0]["data"]).decode("utf-8"))
    assert decoded["description"] == "日本語テキスト with ünïcode"

def test_decode_failure_outranks_drop_predicate(spark):
    """A record that is BOTH undecodable and drop-matched must route
    to ProcessingFailed with the original payload — in the reference,
    json.loads raises before any DropIt can be evaluated, so a
    transform that drops every record must never reclassify a decode
    failure as Dropped."""
    bad = base64.b64encode(b"}{ not json\n").decode("utf-8")
    event = {
        "records": [
            {"recordId": "r-bad", "approximateArrivalTimestamp": 1, "data": bad},
            {"recordId": "r-ok", "approximateArrivalTimestamp": 2, "data": _b64(REC)},
        ]
    }

    def drop_all(rec: dict) -> dict:
        raise DropIt()

    out = {r["recordId"]: r for r in handle_event(spark, event, fn=drop_all)["records"]}
    assert out["r-bad"]["result"] == "ProcessingFailed"
    assert out["r-bad"]["data"] == bad
    assert out["r-ok"]["result"] == "Dropped"


def test_stateful_batch_fallback_exact_on_cancellation_set(spark):
    """The batch fallback must sum in the same integer centi-units as
    the streaming state: a raw double sum loses 0.07 to catastrophic
    cancellation on [1e15, 0.07, -1e15] (ulp(1e15) = 0.125)."""
    from aws_dla_kinesis_delivery_stream_example_spark.streaming.stateful import (
        running_user_totals,
    )

    df = spark.createDataFrame(
        [(1, 1e15), (1, 0.07), (1, -1e15)], "user_id long, value double"
    )
    rows = running_user_totals(df).collect()
    assert rows[0]["n_events"] == 3
    assert abs(rows[0]["total_value"] - 0.07) < 1e-9
