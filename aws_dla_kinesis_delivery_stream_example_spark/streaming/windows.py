"""Event-time streaming analytics (SURVEY.md §2.9 / §2.12 streaming row).

The reference has only processing-time buffers; event-time windows,
watermarks, session windows and streaming dedup are the engine's
generalization. Every function here takes a (possibly streaming)
DataFrame with a ``ts`` timestamp column and returns the transformed
(streaming) DataFrame — the SAME logical plan serves batch and stream,
which is what the closed-input stream==batch tests assert.
"""

from __future__ import annotations

import logging
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..shipping import python_passes
from ..sources.tables import normalize_event_time, parquet_schema


# The windows are part of each declared query, not arguments: hourly
# windows, half-hour slides and session gaps, and a watermark two hours
# behind the latest event (one hour on each side of the interval join,
# whose half-hour horizon bounds its state).
WATERMARK = "2 hours"


def tumbling_counts(df: DataFrame) -> DataFrame:
    df = normalize_event_time(df)
    src = df.withWatermark("ts", WATERMARK) if df.isStreaming else df
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(df: DataFrame) -> DataFrame:
    df = normalize_event_time(df)
    src = df.withWatermark("ts", WATERMARK) if df.isStreaming else df
    return (
        src.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"), "n", "sum_value")
    )


def session_counts(df: DataFrame) -> DataFrame:
    df = normalize_event_time(df)
    src = df.withWatermark("ts", WATERMARK) if df.isStreaming else df
    return (
        src.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("session_len"))
        .select("user_id", "session_len")
    )


def interval_join_pairs(df: DataFrame) -> DataFrame:
    """Stream-stream interval join: pair every ``click`` event with the
    same user's ``purchase`` events in ``[ts, ts + 30 minutes]``.

    Streaming shape: two filtered views of ONE source joined on the
    equi-key plus a bounded event-time range; the watermark + range
    bound let Spark expire join state (without them, state grows
    unboundedly). Inner stream-stream joins emit matches as they are
    found, so an availableNow drain over a closed input produces the
    complete pair set. The same plan runs in batch (the oracle path).
    """
    df = normalize_event_time(df)
    left = df.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts")
    )
    right = df.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts")
    )
    if df.isStreaming:
        left = left.withWatermark("l_ts", "1 hour")
        right = right.withWatermark("r_ts", "1 hour")
    pairs = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 minutes")),
    )
    return pairs.select(F.col("l_user").alias("user_id"), "l_ts", "r_ts")


def streaming_dedup(df: DataFrame) -> DataFrame:
    """One row per (user_id, event_type): within the watermark on a
    stream, exactly on a batch frame."""
    keys = ["user_id", "event_type"]
    df = normalize_event_time(df)
    if df.isStreaming:
        return df.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


# A drain runs on the state-store provider its session sets; it sets
# none itself. It deletes its checkpoint, so a provider's durability
# buys it nothing. On a default session that is Spark's heap-backed
# provider: against RocksDB, its commit skips the SST zip and fsync and
# opens no native instance per partition (perfbench `catalog`: q50's
# state commit about halved, peak RSS 45 MB lower). State larger than
# the heap is a deployment choice: select RocksDB in the session and
# every drain follows it.
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
# A drain deletes its checkpoint, so checkpoint-file checksums protect
# nothing there; with them on, each drain also leaves a 32-thread
# checksum pool behind in the JVM.
_CHECKSUM_CONF = "spark.sql.streaming.checkpoint.fileChecksum.enabled"

_log = logging.getLogger(__name__)


def run_on_closed_input(
    spark: SparkSession,
    parquet_path: str,
    op,
    output_mode: str,
    *,
    normalize_ts: bool = False,
    partitions: str | None = None,
) -> DataFrame:
    """Replay a *closed* parquet input (a file or a directory) through
    Structured Streaming and return the final result as a batch
    DataFrame (memory sink + availableNow). This is the FIXTURES.md
    rule: streaming answers are verified against the batch answer on
    the same closed input.

    Self-sufficient under any session: the reader schema comes from the
    parquet footer (``parquet_schema``), ``nanosAsLong`` is set for
    TIMESTAMP(NANOS) inputs, the session timezone is pinned to UTC so
    window-start strings render identically to the oracle's, and
    ``normalize_ts`` normalizes the ``ts`` event-time encodings.

    The shuffle width (``partitions``, default "8") and checkpoint
    checksums (off) are scoped to the drain and restored after it. The
    state-store provider is the session's own.
    Each stateful stage allocates one state-store instance per shuffle
    partition, so size the width to the drain's state, not its input:
    constant-state sketches want "2", per-key state wants the default.

    On success or failure the memory-sink view is dropped (the returned
    frame already holds the sink's plan) and the checkpoint directory
    is removed. Two settings DO outlive the call, as they do after
    ``sources.tables.load_table``: ``spark.sql.session.timeZone`` stays
    UTC and ``spark.sql.legacy.parquet.nanosAsLong`` stays true.
    One INFO record on this module's logger carries the provider the
    drain ran on, the final ``lastProgress`` (incl. ``stateOperators``),
    the state-store commit time summed over every micro-batch
    (``state_commit_ms``) and the Python passes of the last
    micro-batch's executed plan (``shipping.python_passes``).
    """
    tmp = tempfile.mkdtemp(prefix="stream_q_")
    name = f"sq_{uuid.uuid4().hex[:10]}"
    scoped = {
        "spark.sql.shuffle.partitions": partitions or "8",
        _CHECKSUM_CONF: "false",
    }
    prev = {k: spark.conf.get(k, None) for k in scoped}
    try:
        for k, v in scoped.items():
            spark.conf.set(k, v)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        schema = parquet_schema(spark, parquet_path)
        # The file source wants a directory or a glob: the glob admits a
        # single-file table and still lists a directory's files.
        stream = spark.readStream.schema(schema).parquet(parquet_path + "*")
        if normalize_ts:
            stream = normalize_event_time(stream)
        q = (
            op(stream)
            .writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # The Python passes are read off the last micro-batch's plan now:
        # the returned frame is the sink's table, not the drain.
        last = q._jsq.streamingQuery().lastExecution()
        _log.info(
            "closed-input drain %(query)s on %(provider)s "
            "(%(py_passes)d Python passes, %(state_commit_ms)d ms state "
            "commit): %(progress)s",
            {
                "query": name,
                "provider": spark.conf.get(_PROVIDER_CONF),
                "progress": q.lastProgress,
                "state_commit_ms": sum(
                    op["commitTimeMs"]
                    for p in q.recentProgress
                    for op in p["stateOperators"]
                ),
                "py_passes": python_passes(spark, last.executedPlan()) if last else 0,
            },
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        shutil.rmtree(tmp, ignore_errors=True)
