"""Streaming semantics tests (SURVEY.md §5.2 item 4): the same logical
plan run through Structured Streaming on a *closed* input must equal
the batch answer."""

from __future__ import annotations

import logging
import os

import pytest
from pyspark.sql import functions as F

from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table
from aws_dla_kinesis_delivery_stream_example_spark.streaming import windows as SW

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_parquet(spark, tmp_path_factory):
    """Re-materialize events with us timestamps (the raw file is ns,
    which the streaming parquet reader rejects the same way batch does)."""
    out = str(tmp_path_factory.mktemp("events") / "events_us")
    load_table(spark, SF_SMOKE, "events").write.parquet(out)
    return out


def _batch(spark, path):
    return spark.read.parquet(path)


def _as_sets(df):
    return {tuple(r) for r in df.collect()}


def test_tumbling_stream_equals_batch(spark, events_parquet):
    # complete mode: append would (correctly) hold back the final
    # windows still inside the watermark horizon on a closed input.
    streamed = SW.run_on_closed_input(spark, events_parquet, SW.tumbling_counts, "complete")
    batch = SW.tumbling_counts(_batch(spark, events_parquet))
    assert _as_sets(streamed) == _as_sets(batch)


def test_tumbling_append_holds_back_open_windows(spark, events_parquet):
    """Append mode emits only watermark-closed windows: streamed results
    are a strict prefix of the batch answer, missing only the tail."""
    streamed = _as_sets(
        SW.run_on_closed_input(spark, events_parquet, SW.tumbling_counts, "append")
    )
    batch = _as_sets(SW.tumbling_counts(_batch(spark, events_parquet)))
    assert streamed <= batch
    missing = batch - streamed
    max_closed = max(w for w, *_ in streamed)
    assert all(w > max_closed for w, *_ in missing)  # only the open tail


def test_sliding_stream_equals_batch(spark, events_parquet):
    streamed = SW.run_on_closed_input(spark, events_parquet, SW.sliding_counts, "complete")
    batch = SW.sliding_counts(_batch(spark, events_parquet))
    assert _as_sets(streamed) == _as_sets(batch)


def test_session_window_stream_runs(spark, events_parquet):
    """session_window is streaming-only in this form; assert it produces
    sessions and that per-user totals reconcile with the event count."""
    streamed = SW.run_on_closed_input(spark, events_parquet, SW.session_counts, "complete")
    total = streamed.agg(F.sum("session_len")).collect()[0][0]
    n_events = _batch(spark, events_parquet).count()
    assert total == n_events  # every event belongs to exactly one session


def test_streaming_dedup_equals_batch(spark, events_parquet):
    streamed = SW.run_on_closed_input(
        spark,
        events_parquet,
        lambda df: SW.streaming_dedup(df).select(
            "user_id", "event_type"
        ),
        "append",
    )
    batch = _batch(spark, events_parquet).select("user_id", "event_type").distinct()
    assert _as_sets(streamed) == _as_sets(batch)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics: with watermark W, a row older than
    max(event time) - W arriving in a LATER micro-batch is dropped."""
    src = str(tmp_path / "late_src")
    os.makedirs(src)
    # batch 1: events at 10:00 and 12:00 (watermark advances to 10:00)
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "a", 1.0), (2, "2024-01-01 12:00:00", "a", 1.0)],
        "event_id long, ts_s string, event_type string, value double",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) ts", "event_type", "value").coalesce(
        1
    ).write.parquet(src + "/b1")

    schema = "event_id long, ts timestamp, event_type string, value double"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src + "/b*")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    # batch 2: a LATE event at 09:00 — older than watermark (12:00 - 1h)
    spark.createDataFrame(
        [(3, "2024-01-01 09:00:00", "a", 1.0), (4, "2024-01-01 13:00:00", "a", 1.0)],
        "event_id long, ts_s string, event_type string, value double",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) ts", "event_type", "value").coalesce(
        1
    ).write.parquet(src + "/b2")
    q.processAllAvailable()
    # batch 3: a flush event far ahead so the watermark passes every
    # earlier window and append mode emits them.
    spark.createDataFrame(
        [(5, "2024-01-01 20:00:00", "a", 1.0)],
        "event_id long, ts_s string, event_type string, value double",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) ts", "event_type", "value").coalesce(
        1
    ).write.parquet(src + "/b3")
    q.processAllAvailable()
    q.stop()
    rows = {
        (r["w"]["start"].strftime("%H:%M"), r["n"])
        for r in spark.sql("SELECT * FROM late_out").collect()
    }
    # the 10:00 window closed with n=1: the late 09:00 event never surfaced
    assert ("10:00", 1) in rows
    assert not any(h == "09:00" for h, _ in rows)

def test_interval_join_stream_equals_batch(spark, events_parquet):
    """q73's operator: inner stream-stream interval joins emit matches
    as found, so an availableNow drain over a closed input equals the
    batch range join (the oracle path)."""
    streamed = SW.run_on_closed_input(spark, events_parquet, SW.interval_join_pairs, "append")
    batch = SW.interval_join_pairs(_batch(spark, events_parquet))
    assert _as_sets(streamed) == _as_sets(batch)


def test_interval_join_boundaries(spark, tmp_path):
    """Both range endpoints are INCLUSIVE ([l_ts, l_ts + horizon]), the
    join key is per-user, and a purchase strictly before the click never
    pairs — checked to the microsecond, in batch AND streaming."""
    rows = [
        (1, "2024-01-01 10:00:00", 1, "click"),
        (2, "2024-01-01 10:00:00", 1, "purchase"),  # == l_ts -> in
        (3, "2024-01-01 10:30:00", 1, "purchase"),  # == l_ts + 30 min -> in
        (4, "2024-01-01 10:30:00.000001", 1, "purchase"),  # 1 us over -> out
        (5, "2024-01-01 10:10:00", 2, "purchase"),  # other user -> out
        (6, "2024-01-01 09:59:59.999999", 1, "purchase"),  # before click -> out
    ]
    src = str(tmp_path / "ijoin_src")
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string"
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) ts", "user_id", "event_type")
    df.coalesce(1).write.parquet(src)

    expected = {
        (1, "2024-01-01 10:00:00", "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:00:00", "2024-01-01 10:30:00"),
    }

    def fmt(out):
        return {
            (r["user_id"], r["l_ts"].strftime("%Y-%m-%d %H:%M:%S"), r["r_ts"].strftime("%Y-%m-%d %H:%M:%S"))
            for r in out.collect()
        }

    batch = SW.interval_join_pairs(spark.read.parquet(src))
    assert fmt(batch) == expected
    streamed = SW.run_on_closed_input(spark, src, SW.interval_join_pairs, "append")
    assert fmt(streamed) == expected


_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


@pytest.mark.parametrize("provider", [None, _ROCKSDB], ids=["default", "rocksdb"])
def test_drain_runs_on_the_session_state_store(spark, caplog, provider):
    """A drain runs on the state-store provider its session sets and
    reports it, with its final progress, as one log record: provider
    custom metrics in ``stateOperators`` prove which store was active,
    not just configured. The caller's setting is left as it was."""
    from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs

    prev = spark.conf.get(SW._PROVIDER_CONF, None)
    if provider is not None:
        spark.conf.set(SW._PROVIDER_CONF, provider)
    try:
        setting = spark.conf.get(SW._PROVIDER_CONF, None)
        effective = spark.conf.get(SW._PROVIDER_CONF)
        # q91 keeps NoTimeout per-user state, so numRowsTotal stays
        # non-zero on a closed input (dedup/window state is
        # watermark-evicted by end of stream and would legitimately
        # report 0)
        with caplog.at_level(logging.INFO, logger=SW.__name__):
            df = all_specs()["q91_streaming_stateful_totals"].spark(spark, SF_SMOKE)
        assert df.count() > 0
        assert spark.conf.get(SW._PROVIDER_CONF, None) == setting
    finally:
        if prev is None:
            spark.conf.unset(SW._PROVIDER_CONF)
        else:
            spark.conf.set(SW._PROVIDER_CONF, prev)
    records = [r for r in caplog.records if r.name == SW.__name__]
    assert len(records) == 1, "one progress record per drain"
    prog = records[0].args
    assert prog["provider"] == effective
    ops = prog["progress"]["stateOperators"]
    assert ops, "stateful drain must report state operators"
    assert ops[0]["numRowsTotal"] > 0
    on_rocksdb = any("rocksdb" in k.lower() for k in ops[0].get("customMetrics", {}))
    assert on_rocksdb == (provider == _ROCKSDB)


def _sq_views(spark):
    return [
        r.tableName
        for r in spark.sql("SHOW TABLES").collect()
        if r.isTemporary and r.tableName.startswith("sq_")
    ]


def test_drain_leaves_no_view_and_frames_stay_readable(spark):
    from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs

    spec = all_specs()["q50_streaming_tumbling"]
    frames = [spec.spark(spark, SF_SMOKE) for _ in range(3)]
    assert _sq_views(spark) == []
    rows = [f.collect() for f in frames]
    assert rows[0] and rows[0] == rows[1] == rows[2]


def test_failed_drain_restores_session(spark, events_parquet, monkeypatch):
    """A drain whose operator fails mid-stream leaves no view, no
    checkpoint dir and no changed conf behind."""
    made = []
    real_mkdtemp = SW.tempfile.mkdtemp

    def mkdtemp(*a, **kw):
        made.append(real_mkdtemp(*a, **kw))
        return made[-1]

    monkeypatch.setattr(SW.tempfile, "mkdtemp", mkdtemp)
    provider = SW._PROVIDER_CONF
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_provider = spark.conf.get(provider, None)
    prev_checksum = spark.conf.get(SW._CHECKSUM_CONF, None)

    def op(df):
        return df.withColumn("boom", F.raise_error(F.lit("drain failure")))

    with pytest.raises(Exception, match="drain failure"):
        SW.run_on_closed_input(spark, events_parquet, op, "append", partitions="3")
    assert _sq_views(spark) == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert spark.conf.get(provider, None) == prev_provider
    assert spark.conf.get(SW._CHECKSUM_CONF, None) == prev_checksum
    assert len(made) == 1 and not os.path.exists(made[0])


def _checksum_threads(spark) -> int:
    jvm = spark.sparkContext._jvm
    it = jvm.java.lang.Thread.getAllStackTraces().keySet().iterator()
    n = 0
    while it.hasNext():
        n += it.next().getName().startswith("ChecksumCheckpointFileManager")
    return n


def test_drain_leaves_no_checksum_threads(spark, events_parquet):
    """A drain deletes its checkpoint, so it writes no checkpoint
    checksums: with them on, each drain left a 32-thread checksum pool
    behind in the JVM. The setting is restored afterwards, so a query
    that keeps its checkpoint (the resume tests) keeps its checksums."""
    prev = spark.conf.get(SW._CHECKSUM_CONF, None)
    before = _checksum_threads(spark)
    for _ in range(2):
        SW.run_on_closed_input(spark, events_parquet, SW.tumbling_counts, "complete").collect()
    assert _checksum_threads(spark) == before
    assert spark.conf.get(SW._CHECKSUM_CONF, None) == prev
