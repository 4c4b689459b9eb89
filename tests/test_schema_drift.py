"""Schema-drift regression tests for the events table (VERDICT r03 #3).

The driver has regenerated ``events.parquet`` with a different ``ts``
encoding twice across rounds (r1-r2: parquet TIMESTAMP(NANOS); r3:
naive ``timestamp[us]`` -> Spark TIMESTAMP_NTZ). These tests write the
same rows in all three encodings and assert ``load_table`` normalizes
every one of them to TimestampType with identical instants — so the
next regeneration cannot silently break 7 queries again.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import (
    load_table,
    normalize_event_time,
)
from aws_dla_kinesis_delivery_stream_example_spark.streaming import windows as SW

UTC = dt.timezone.utc
# Deliberately includes a sub-microsecond-relevant value and a DST
# boundary instant (2024-03-10 07:30 UTC is 02:30 EST/03:30 EDT — the
# exact wall-clock a session-timezone-dependent conversion gets wrong).
ROWS = [
    (1, dt.datetime(2024, 1, 1, 0, 9, 58, 778549), 10, "click", 1.5),
    (2, dt.datetime(2024, 3, 10, 7, 30, 0, 123456), 11, "view", 2.0),
    (3, dt.datetime(2024, 6, 30, 23, 59, 59, 999999), 10, "purchase", 3.25),
    (4, dt.datetime(2024, 12, 31, 12, 0, 0, 1), 12, "click", 0.0),
]
ENCODINGS = ("ns", "us_naive", "us_utc")


def _write_events(base: str, encoding: str) -> str:
    ids, tss, users, types_, vals = zip(*ROWS)
    if encoding == "ns":
        ts_arr = pa.array(tss, type=pa.timestamp("ns"))
    elif encoding == "us_naive":
        ts_arr = pa.array(tss, type=pa.timestamp("us"))
    elif encoding == "us_utc":
        ts_arr = pa.array(
            [t.replace(tzinfo=UTC) for t in tss], type=pa.timestamp("us", tz="UTC")
        )
    else:  # pragma: no cover
        raise ValueError(encoding)
    table = pa.table(
        {
            "event_id": pa.array(ids, type=pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array(users, type=pa.int64()),
            "event_type": pa.array(types_, type=pa.string()),
            "value": pa.array(vals, type=pa.float64()),
            "props": pa.array(["{}"] * len(ids), type=pa.string()),
        }
    )
    sf_dir = os.path.join(base, encoding)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))
    return sf_dir


EXPECTED_MICROS = sorted(
    int(t.replace(tzinfo=UTC).timestamp() * 1_000_000) for _, t, *_ in ROWS
)


@pytest.mark.parametrize("encoding", ENCODINGS)
def test_load_table_normalizes_every_ts_encoding(spark, tmp_path_factory, encoding):
    base = str(tmp_path_factory.mktemp("events_enc"))
    sf_dir = _write_events(base, encoding)
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType), (
        f"{encoding}: ts must normalize to TimestampType, got "
        f"{df.schema['ts'].dataType}"
    )
    micros = sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())
    assert micros == EXPECTED_MICROS, f"{encoding}: instants drifted"


def test_all_encodings_agree_on_window_counts(spark, tmp_path_factory):
    """The q20-shape check: tumbling window counts must be identical
    across encodings (this is what silently diverges if normalization
    shifts instants across an hour boundary)."""
    base = str(tmp_path_factory.mktemp("events_enc_w"))
    results = {}
    for enc in ENCODINGS:
        sf_dir = _write_events(base, enc)
        out = SW.tumbling_counts(load_table(spark, sf_dir, "events"))
        results[enc] = sorted(tuple(r) for r in out.collect())
    assert results["ns"] == results["us_naive"] == results["us_utc"]
    assert len(results["ns"]) == 4  # each row in its own (hour, type) bucket


def test_normalize_event_time_is_session_tz_independent(spark, tmp_path_factory):
    """Force a non-UTC session timezone and assert the NTZ branch still
    yields the same UTC instants (ADVICE r03: a plain cast would shift
    by the session offset; make_timestamp(..., 'UTC') must not)."""
    base = str(tmp_path_factory.mktemp("events_enc_tz"))
    sf_dir = _write_events(base, "us_naive")
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        assert isinstance(raw.schema["ts"].dataType, T.TimestampNTZType)
        norm = normalize_event_time(raw)
        micros = sorted(r[0] for r in norm.select(F.unix_micros("ts")).collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert micros == EXPECTED_MICROS


def test_normalize_event_time_passthrough_without_ts(spark):
    df = spark.range(3)
    assert normalize_event_time(df) is df
