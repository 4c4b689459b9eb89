"""Custom stateful streaming operators via applyInPandasWithState
(SURVEY.md §2.9: the engine's generalization beyond the reference's
stateless record-at-a-time model).

``running_user_totals`` maintains per-user running (count, sum) across
micro-batches — the canonical keyed-state operator. State is one fixed-
width tuple per key: at 100 TB of events the state store scales with
|users|, not |events|, and lives in the checkpoint (RocksDB-backed on a
real cluster via spark.sql.streaming.stateStore.providerClass).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.anomaly import ZS_LOOKBACK, ZS_MIN_N, ZS_THRESHOLD, rolling_zscore
from ..shipping import ensure_shipped

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
# Sum is held in integer centi-units, not a double: float partial sums
# accumulate in per-batch arrival order, so an adversarial value set
# could land the final cent differently from the batch twin's one-pass
# sum (the q81/q90 integer-units pattern).  Event values are exact
# 2-dp decimals, so round(value*100) per row is lossless and the
# cross-batch sum is exact regardless of micro-batch order.
STATE_SCHEMA = "n long, total_centis long"


def _update(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    import pandas as _pd

    n, total_centis = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        total_centis += int((pdf["value"] * 100).round().sum())
    state.update((n, total_centis))
    yield _pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total_centis / 100.0]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming: per-user running totals, one output row per user per
    micro-batch (update semantics). Batch fallback computes the same
    final answer for stream==batch verification."""
    if not events.isStreaming:
        from pyspark.sql import functions as F

        # Sum in the SAME exact integer centi-units as the streaming
        # state (bround = pandas' half-even rounding), not raw doubles:
        # a raw double sum is accumulation-order-dependent and suffers
        # catastrophic cancellation (e.g. [1e15, 0.07, -1e15] sums to
        # 0.12-ish at ulp(1e15)=0.125 where the centi-unit state gives
        # exactly 0.07), which would make the promised stream == batch
        # verification fail on values the integer state handles exactly.
        return events.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.bround(F.col("value") * 100, 0).cast("long")) / 100.0
            ).alias("total_value"),
        )
    ensure_shipped(events.sparkSession)
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------
# Streaming rolling z-score anomaly detection (the streaming face of
# operators/anomaly.rolling_zscore, catalog q105).

ZS_OUTPUT_SCHEMA = "event_id long, user_id long, v_milli long, z double"
# Last <= ZS_LOOKBACK milli-unit values per key, oldest first: the state
# is a fixed-width ring of BIGINTs — at 100 TB of events the store
# scales with |users| x ZS_LOOKBACK, not |events|.
ZS_STATE_SCHEMA = "vals array<long>"


def _zs_update(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    import math as _math

    import pandas as _pd

    vals: list[int] = list(state.get[0]) if state.exists else []
    out_eid: list[int] = []
    out_v: list[int] = []
    out_z: list[float] = []
    # applyInPandasWithState splits a group exceeding
    # spark.sql.execution.arrow.maxRecordsPerBatch (~10k rows) into
    # multiple chunks delivered in arbitrary post-shuffle order, so the
    # (ts, event_id) sort MUST happen over the concatenated whole, not
    # per chunk — a per-chunk sort silently violates the documented
    # within-micro-batch ordering for large groups.  Per-key micro-batch
    # volume bounds the concat buffer.
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = (
            chunks[0]
            if len(chunks) == 1
            else _pd.concat(chunks, ignore_index=True)
        )
        # within-micro-batch event-time order; ACROSS batches the
        # operator relies on per-key in-order delivery (the Kinesis
        # per-shard ordering model the reference pipeline is built on)
        pdf = pdf.sort_values(["ts", "event_id"])
        for eid, v in zip(pdf["event_id"], pdf["v_milli"]):
            v = int(v)
            n = len(vals)
            if n >= ZS_MIN_N:
                s = sum(vals)
                ss = sum(x * x for x in vals)
                var_num = n * ss - s * s
                if var_num > 0:
                    # IDENTICAL IEEE op sequence as the batch plan
                    # (div/sub/div/sqrt on exact integers), so stream
                    # z == batch z bit-for-bit
                    z = (float(v) - float(s) / n) / _math.sqrt(
                        float(var_num) / (n * (n - 1))
                    )
                    if abs(z) >= ZS_THRESHOLD:
                        out_eid.append(int(eid))
                        out_v.append(v)
                        out_z.append(z)
            vals.append(v)
            if len(vals) > ZS_LOOKBACK:
                vals.pop(0)
    state.update((vals,))
    yield _pd.DataFrame(
        {
            "event_id": _pd.Series(out_eid, dtype="int64"),
            "user_id": _pd.Series([key[0]] * len(out_eid), dtype="int64"),
            "v_milli": _pd.Series(out_v, dtype="int64"),
            "z": _pd.Series(out_z, dtype="float64"),
        }
    )


def streaming_rolling_zscore(events: DataFrame) -> DataFrame:
    """Streaming: per-user rolling z-score outliers (|z| >= 3 against
    the previous <= 20 values, >= 10 required) — flagged events are
    APPENDED as they happen; state is a bounded ring of 20 BIGINTs per
    user. Input must carry (event_id, user_id, ts, v_milli) with
    v_milli already in exact integer milli-units (round upstream in
    the DataFrame, NOT here: pandas .round is half-even while the
    batch plan's F.round is half-up — rounding inside the state
    function would silently diverge on exact .5 ties).

    Ordering contract: within a micro-batch the group is sorted by
    (ts, event_id); across micro-batches the operator assumes per-key
    in-order delivery — the Kinesis per-shard (per partition key)
    ordering guarantee the reference pipeline is built on
    (kds_example/README.rst "ordered by arrival within a shard").

    Late data: if the input stream carries ``withWatermark("ts", d)``,
    events older than the watermark are DROPPED before they reach the
    state function — protecting the ring from out-of-order poisoning
    (one stale extreme value would shift every subsequent z). Spark
    applies its late-row filter to this operator family only under
    ``GroupStateTimeout.EventTimeTimeout`` (under NoTimeout late rows
    pass straight through — measured, and pinned by
    tests/test_round9_ops.py), so the timeout conf switches to
    EventTimeTimeout exactly when the plan carries an
    EventTimeWatermark node; no per-key timeout is ever registered, so
    no state expires. The batch plan (q105) over the late-filtered
    input is the replayable source of truth for backfills, and the two
    agree bit-for-bit (asserted in tests/test_stateful.py and
    test_round9_ops.py).

    Batch fallback: operators/anomaly.rolling_zscore on the identical
    milli-unit column, for stream == batch verification.
    """
    if not events.isStreaming:
        return rolling_zscore(events).select("event_id", "user_id", "v_milli", "z")
    ensure_shipped(events.sparkSession)
    has_watermark = "EventTimeWatermark" in str(
        events._jdf.queryExecution().analyzed()
    )
    return events.groupBy("user_id").applyInPandasWithState(
        _zs_update,
        outputStructType=ZS_OUTPUT_SCHEMA,
        stateStructType=ZS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if has_watermark
            else GroupStateTimeout.NoTimeout
        ),
    )
