"""Hardening tests: weighted_sample input guards, the q108 watermark
late-drop contract, and the multi-chunk ordering of the streaming
z-score state function."""

from __future__ import annotations

import datetime as dt
import glob
import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from aws_dla_kinesis_delivery_stream_example_spark.operators import sampling


# ------------------------------------------------------- q104 guards


def test_weighted_sample_rejects_string_id(spark):
    """String ids make the `id % n_salt` salt NULL under non-ANSI
    Spark — correct output but every row in ONE salt partition, the
    silent scale-shape defeat the validation exists to surface."""
    df = spark.createDataFrame(
        [("s", "doc-a", 5)], "source string, doc_id string, w long"
    )
    with pytest.raises(TypeError, match="must be numeric"):
        sampling.weighted_sample(df, F.col("w"))


def test_weighted_sample_rejects_nonpositive_weight(spark):
    """w=0 divides by zero in the ES key (ANSI abort on one bad row)
    and w<0 inverts the ordering — both must raise loudly, not produce
    a wrong sample."""
    for bad_w in (0, -3):
        df = spark.createDataFrame(
            [("s", 1, 5), ("s", 2, bad_w)], "source string, doc_id long, w long"
        )
        with pytest.raises(Exception, match="non-positive weight"):
            sampling.weighted_sample(df, F.col("w")).collect()


# ------------------------------------------ q108 watermark late drop


def _mk_batch(spark, src, rows, name, mtime):
    d = os.path.join(src, name)
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, v_milli long"
    ).coalesce(1).write.parquet(d)
    # the file source orders micro-batches by modification time: pin it
    for f in glob.glob(d + "/*"):
        os.utime(f, (mtime, mtime))


def test_streaming_zscore_watermark_drops_late_event(spark, tmp_path):
    """Four micro-batches for one user, so the 20-value ring spans >= 3
    of them; micro-batch 3 smuggles in an out-of-order event an hour
    old with an extreme value. With `withWatermark("ts", "5 seconds")`
    on the input the late row must be dropped BEFORE the state
    function (EventTimeTimeout late-filter path): (a) it is never
    flagged despite its extreme value, (b) it never poisons the ring —
    the planted in-order spike in micro-batch 4 is still flagged with
    the exact batch z, and (c) the whole flagged set equals the batch
    plan on the late-filtered input bit-for-bit.

    Without the watermark filter this fails in BOTH directions
    (measured: the late row itself flags at z≈949, and its 50000 in
    the ring inflates the variance so the true spike stops flagging)."""
    from aws_dla_kinesis_delivery_stream_example_spark.streaming.stateful import (
        streaming_rolling_zscore,
    )

    def T(s):
        return dt.datetime(2024, 1, 1, 10, 0, s)

    base = 1000
    calm = lambda i: base + (50 if i % 2 else -50)
    rows = [
        [(i, 1, T(i), calm(i)) for i in range(8)],
        [(i, 1, T(i), calm(i)) for i in range(8, 16)],
        [(i, 1, T(i), calm(i)) for i in range(16, 24)]
        + [(99, 1, dt.datetime(2024, 1, 1, 9, 0, 0), 50_000)],  # late
        [(i, 1, T(i), calm(i)) for i in range(24, 29)]
        + [(29, 1, T(29), 9_000)],  # in-order planted spike
    ]
    src = str(tmp_path / "src")
    now = time.time()
    for b, batch_rows in enumerate(rows):
        _mk_batch(spark, src, batch_rows, f"b{b}", now + b)

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, v_milli long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
        .withWatermark("ts", "5 seconds")
    )
    q = (
        streaming_rolling_zscore(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("zs_wm_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r.event_id, r.v_milli, r.z)
        for r in spark.sql("SELECT * FROM zs_wm_out").collect()
    )
    ev = spark.createDataFrame(
        [r for batch in rows for r in batch],
        "event_id long, user_id long, ts timestamp, v_milli long",
    )
    want = sorted(
        (r.event_id, r.v_milli, r.z)
        for r in streaming_rolling_zscore(
            ev.filter(F.col("event_id") != 99)
        ).collect()
    )
    assert got == want
    flagged_ids = {eid for eid, _, _ in got}
    assert 99 not in flagged_ids, "late event reached the state function"
    assert 29 in flagged_ids, "ring was poisoned — true spike unflagged"


# --------------------------- _zs_update multi-chunk ordering (ADVICE)


class _FakeState:
    """Minimal GroupState stand-in for driving _zs_update directly."""

    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def test_zs_update_sorts_across_arrow_chunks():
    """applyInPandasWithState splits a large group into multiple arrow
    chunks in arbitrary order; the state function must sort the
    CONCATENATED micro-batch, not each chunk. Feed the same 24 rows as
    (a) one in-order chunk and (b) two chunks delivered newest-first —
    outputs and final ring state must be identical. Before the round-9
    fix (per-chunk sort) case (b) walked the halves in the wrong order
    and both the flags and the ring diverged."""
    from aws_dla_kinesis_delivery_stream_example_spark.streaming.stateful import (
        _zs_update,
    )

    base = 1000
    rows = [
        (i, i, base + (50 if i % 2 else -50)) for i in range(23)
    ] + [(23, 23, 9_000)]  # spike at the end, after warm-up

    def pdf(subset):
        return pd.DataFrame(
            {
                "event_id": [r[0] for r in subset],
                "ts": [r[1] for r in subset],
                "v_milli": [r[2] for r in subset],
            }
        )

    s1 = _FakeState()
    out1 = pd.concat(list(_zs_update((1,), iter([pdf(rows)]), s1)))
    s2 = _FakeState()
    # two chunks, delivered newest-first (the adversarial split order)
    out2 = pd.concat(
        list(_zs_update((1,), iter([pdf(rows[12:]), pdf(rows[:12])]), s2))
    )
    assert out1.to_dict("records") == out2.to_dict("records")
    assert list(out1["event_id"]) == [23]
    assert s1.get == s2.get
    assert len(s1.get[0]) == 20
