"""Custom stateful operator: applyInPandasWithState running totals —
state persists across micro-batches and the final answer equals batch."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table
from aws_dla_kinesis_delivery_stream_example_spark.streaming.stateful import (
    running_user_totals,
)

from .conftest import SF_SMOKE


def test_stateful_stream_final_equals_batch(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "ts", "value")
    src = str(tmp_path / "src")
    # two micro-batches (maxFilesPerTrigger=1) so state must carry over
    ev.filter(F.col("event_id").isNull() if "event_id" in ev.columns else F.lit(False))
    half = ev.limit(500)
    rest = ev.subtract(half)
    half.write.parquet(os.path.join(src, "b1"))
    rest.write.parquet(os.path.join(src, "b2"))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
    )
    out = running_user_totals(stream)
    ckpt = str(tmp_path / "ckpt")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # memory sink in update mode appends each update; last row per user wins
    final = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
            FROM stateful_out
        ) WHERE rn = 1
        """
    )
    batch = running_user_totals(ev)
    got = {(r.user_id): (r.n_events, r.total_value) for r in final.collect()}
    want = {(r.user_id): (r.n_events, r.total_value) for r in batch.collect()}
    assert got == want


def test_stateful_sum_order_exactness(spark, tmp_path):
    """State holds integer centi-units, so the final cent cannot drift
    with micro-batch arrival order.  Drive values whose float partial
    sums are classically lossy (0.01/0.05/5.55 are not binary-exact)
    through six micro-batches and require the mathematically exact
    total, not just stream==batch agreement."""
    import os as _os

    cents = [0.01, 0.05, 5.55, 1.05, 0.10, 9.99]
    src = str(tmp_path / "src")
    per_batch = 500
    exact_centis = 0
    for b in range(6):
        v = [cents[b]] * per_batch
        exact_centis += round(cents[b] * 100) * per_batch
        spark.createDataFrame(
            [(1, None, x) for x in v], "user_id long, ts timestamp, value double"
        ).coalesce(1).write.parquet(_os.path.join(src, f"b{b}"))
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
    )
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_exact")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    row = spark.sql(
        "SELECT n_events, total_value FROM stateful_exact ORDER BY n_events DESC LIMIT 1"
    ).collect()[0]
    assert row.n_events == 6 * per_batch
    assert row.total_value == exact_centis / 100.0


def test_streaming_zscore_multibatch_equals_batch(spark, tmp_path):
    """Rolling z-score state must carry the 20-value ring ACROSS
    micro-batches: split the events table into two time-ordered files
    (every ts in b1 < every ts in b2, so the per-key in-order contract
    holds) and drain with maxFilesPerTrigger=1 — the flagged set,
    including the z doubles, must equal the batch window plan
    bit-for-bit. A state reset at the batch boundary would both drop
    flags (warm-up re-entered) and shift every early-b2 z."""
    import os as _os

    from pyspark.sql.functions import col, round as sround

    from aws_dla_kinesis_delivery_stream_example_spark.streaming.stateful import (
        streaming_rolling_zscore,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "ts", sround(col("value") * 1000, 0).cast("long").alias("v_milli")
    )
    cut = ev.selectExpr("percentile(unix_micros(ts), 0.5) p").collect()[0]["p"]
    src = str(tmp_path / "src")
    ev.filter(F.expr(f"unix_micros(ts) < {int(cut)}")).coalesce(1).write.parquet(
        _os.path.join(src, "b1")
    )
    ev.filter(F.expr(f"unix_micros(ts) >= {int(cut)}")).coalesce(1).write.parquet(
        _os.path.join(src, "b2")
    )
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp, v_milli long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
    )
    q = (
        streaming_rolling_zscore(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("zs_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.event_id, r.v_milli, r.z)
        for r in spark.sql("SELECT * FROM zs_out").collect()
    }
    want = {
        (r.event_id, r.v_milli, r.z)
        for r in streaming_rolling_zscore(ev).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_zscore_resume_from_checkpoint(spark, tmp_path):
    """Round-9 verdict Next #7 (append-mode applyInPandasWithState
    family, q108): kill the query between micro-batches and restart a
    NEW query from the same checkpoint. The restarted query must
    reload the per-user 20-value ring from the state store — if state
    restarted empty, warm-up (n >= 10) would be re-entered and every
    early-second-half z would shift. Output across the two query
    incarnations must partition the batch answer exactly (checkpointed
    source offsets: nothing re-emitted, nothing lost). Sink is the
    fault-tolerant FILE sink — the memory sink rejects append-mode
    checkpoint recovery outright, so it cannot host a resume test."""
    import os as _os

    from pyspark.sql.functions import col, round as sround

    from aws_dla_kinesis_delivery_stream_example_spark.streaming.stateful import (
        streaming_rolling_zscore,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "ts", sround(col("value") * 1000, 0).cast("long").alias("v_milli")
    )
    cut = ev.selectExpr("percentile(unix_micros(ts), 0.5) p").collect()[0]["p"]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # in-order-per-key across the crash: every b1 ts < every b2 ts
    ev.filter(F.expr(f"unix_micros(ts) < {int(cut)}")).coalesce(1).write.parquet(
        _os.path.join(src, "b1")
    )

    out_dir = str(tmp_path / "out")

    def drain():
        stream = spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, v_milli long"
        ).parquet(src + "/b*")
        q = (
            streaming_rolling_zscore(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()  # drain, then the query STOPS (the "kill")
        # sorted list, not set: a replayed row must show up as a dup
        return sorted(
            (r.event_id, r.v_milli, r.z)
            for r in spark.read.parquet(out_dir).collect()
        )

    first = drain()
    # crash happened: the query object is gone; second half lands
    ev.filter(F.expr(f"unix_micros(ts) >= {int(cut)}")).coalesce(1).write.parquet(
        _os.path.join(src, "b2")
    )
    final = drain()
    want = sorted(
        (r.event_id, r.v_milli, r.z)
        for r in streaming_rolling_zscore(ev).collect()
    )
    assert final == want and len(want) > 0
    assert len(final) > len(first) > 0, (
        "second incarnation emitted nothing (state not resumed?)"
    )


def test_streaming_countmin_resume_from_checkpoint(spark, tmp_path):
    """Round-9 verdict Next #7 (complete-mode streaming-agg sketch
    family, q113; q121's manifest family has the same check in
    test_round9c_ops.py): kill between micro-batches, restart from the
    checkpoint, and the FINAL complete-mode grid must equal the batch-
    built sketch bit-for-bit. A state reset would leave the restarted
    grid counting only the second half."""
    import os as _os

    from aws_dla_kinesis_delivery_stream_example_spark.operators import sketch

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(_os.path.join(src, "b1"))

    def drain(qname):
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            src + "/b*"
        )
        q = (
            sketch.countmin_counters(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r[0], r[1]): r[2]
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    partial = drain("cms_resume_1")
    assert partial, "first drain built no grid"
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(_os.path.join(src, "b2"))
    final = drain("cms_resume_2")
    want = {
        (r[0], r[1]): r[2] for r in sketch.countmin_counters(docs).collect()
    }
    assert final == want and len(want) > 0
    # the resumed grid must strictly extend the pre-crash one
    assert sum(final.values()) > sum(partial.values())


def test_streaming_hll_resume_from_checkpoint(spark, tmp_path):
    """Round-10 verdict Next #5 (the q129 constant-state family member
    that missed the round-10 discipline): kill the streaming HLL
    between micro-batches, restart from the checkpoint, and the FINAL
    complete-mode register file must equal the batch-built one
    bit-for-bit. A state reset would leave the restarted registers
    reflecting only the second half — with max-idempotent state the
    ONLY way to detect that is a batch whose second half adds new
    registers, so b1 is deliberately a small slice (docs are planted,
    each batch contributes disjoint shingle sets)."""
    import os as _os

    from aws_dla_kinesis_delivery_stream_example_spark.operators import sketch
    from aws_dla_kinesis_delivery_stream_example_spark.operators.dedup import (
        _shingle_hash_rows,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("source", "text")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # b1 = a thin slice (every 20th doc) so the register file is NOT
    # yet saturated; b2 = the rest, guaranteed to add registers
    base = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source", "text")
    base.filter("doc_id % 20 = 0").coalesce(1).write.parquet(_os.path.join(src, "b1"))

    def drain(qname):
        stream = spark.readStream.schema(
            "doc_id long, source string, text string"
        ).parquet(src + "/b*")
        regs = sketch.hll_registers(
            _shingle_hash_rows(
                stream.select("source", "text"), "source", 5, id_type="string"
            ).withColumnRenamed("doc", "source")
        )
        q = (
            regs.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r[0], r[1]): r[2]
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    partial = drain("hll_resume_1")
    assert partial, "first drain built no registers"
    base.filter("doc_id % 20 != 0").coalesce(1).write.parquet(_os.path.join(src, "b2"))
    final = drain("hll_resume_2")
    want = {
        (r[0], r[1]): r[2]
        for r in sketch.hll_registers(
            _shingle_hash_rows(docs, "source", 5, id_type="string")
            .withColumnRenamed("doc", "source")
        ).collect()
    }
    assert final == want and len(want) > 0
    # the resumed file must strictly extend the pre-crash one: b2 adds
    # registers (and can only raise rho, never lower it)
    assert len(final) > len(partial)
    assert all(final[k] >= v for k, v in partial.items())


def test_streaming_hist_resume_from_checkpoint(spark, tmp_path):
    """q134's histogram state joins the constant-state family WITH its
    crash-resume evidence in the same round (the q129 lesson): kill
    between micro-batches, restart from the checkpoint, and the FINAL
    complete-mode histogram must equal the batch-built one
    row-for-row. Counts are linear, so a state reset shows up as the
    second-half-only histogram and fails the bit-for-bit compare."""
    import os as _os

    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation10 import (
        hist_documents,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "n_chars"
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(_os.path.join(src, "b1"))

    def drain(qname):
        stream = spark.readStream.schema(
            "doc_id long, source string, n_chars long"
        ).parquet(src + "/b*")
        q = (
            hist_documents(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r[0], r[1]): r[2]
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    partial = drain("hist_resume_1")
    assert partial, "first drain built no histogram"
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(_os.path.join(src, "b2"))
    final = drain("hist_resume_2")
    want = {(r[0], r[1]): r[2] for r in hist_documents(docs).collect()}
    assert final == want and len(want) > 0
    # the resumed histogram strictly extends the pre-crash one
    assert sum(final.values()) > sum(partial.values())


def test_streaming_bloom_resume_from_checkpoint(spark, tmp_path):
    """q136's per-source bloom counters join the constant-state family
    WITH crash-resume evidence in the same round (the q129/q134
    lesson): kill between micro-batches, restart from the checkpoint,
    and the FINAL complete-mode counters must equal the batch face's
    row-for-row. Counters are linear (q134's caveat applies), so a
    state reset shows up as second-half-only counts and fails the
    compare. The static sides (bench_h + bit sets) are rebuilt at
    restart from the batch table — stream-static join state is not
    checkpointed, only the counter agg is."""
    import os as _os

    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation10 import (
        _bloom_probe,
        bloom_bits,
        bloom_counters,
        bloom_flag_probes,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    bench_h, bits = bloom_bits(spark, SF_SMOKE)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(_os.path.join(src, "b1"))

    def drain(qname):
        stream = spark.readStream.schema(
            "doc_id long, source string, text string"
        ).parquet(src + "/b*")
        counters = bloom_counters(
            bloom_flag_probes(_bloom_probe(stream), bench_h, bits)
        )
        q = (
            counters.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r[0]: (r[1], r[2], r[3])
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    partial = drain("bloom_resume_1")
    assert partial, "first drain built no counters"
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(_os.path.join(src, "b2"))
    final = drain("bloom_resume_2")
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in bloom_counters(
            bloom_flag_probes(_bloom_probe(docs), bench_h, bits)
        ).collect()
    }
    assert final == want and len(want) > 0
    # the resumed counters strictly extend the pre-crash ones
    assert sum(v[0] for v in final.values()) > sum(v[0] for v in partial.values())


def test_streaming_dsir_resume_from_checkpoint(spark, tmp_path):
    """q141's feature-distribution state joins the constant-state
    family WITH crash-resume evidence in the same round (the
    q129/q134/q136 lesson): kill between micro-batches, restart from
    the checkpoint, and the FINAL complete-mode (bkt, c_all, c_tgt)
    distribution must equal the batch-built one row-for-row. Counts
    are linear (q134's at-least-once caveat applies), so a state
    reset shows up as a second-half-only distribution and fails the
    bit-for-bit compare."""
    import os as _os

    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation12 import (
        _dsir_bucket_rows,
        dsir_distribution,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(_os.path.join(src, "b1"))

    def drain(qname):
        stream = spark.readStream.schema(
            "doc_id long, source string, lang string, text string"
        ).parquet(src + "/b*")
        q = (
            dsir_distribution(_dsir_bucket_rows(stream))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r[0]: (r[1], r[2])
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    partial = drain("dsir_resume_1")
    assert partial, "first drain built no distribution"
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(_os.path.join(src, "b2"))
    final = drain("dsir_resume_2")
    want = {
        r[0]: (r[1], r[2])
        for r in dsir_distribution(_dsir_bucket_rows(docs)).collect()
    }
    assert final == want and len(want) > 0
    # the resumed distribution strictly extends the pre-crash one:
    # counts can only grow, and the state never exceeds 256 rows
    assert sum(v[0] for v in final.values()) > sum(v[0] for v in partial.values())
    assert set(partial) <= set(final) and len(final) <= 256
    assert all(final[k][0] >= v[0] for k, v in partial.items())


def test_streaming_pii_resume_from_checkpoint(spark, tmp_path):
    """q144's per-source PII counter state joins the constant-state
    family WITH crash-resume evidence in the same round: kill between
    micro-batches, restart from the checkpoint, and the FINAL
    complete-mode counters must equal the batch-built ones
    row-for-row (all six counters linear — a state reset shows up as
    second-half-only counts and fails the compare)."""
    import os as _os

    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation13 import (
        _pii_augment,
        pii_counters,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(_os.path.join(src, "b1"))

    def drain(qname):
        stream = spark.readStream.schema(
            "doc_id long, source string, text string"
        ).parquet(src + "/b*")
        q = (
            pii_counters(_pii_augment(stream))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r[0]: tuple(r)[1:]
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    partial = drain("pii_resume_1")
    assert partial, "first drain built no counters"
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(_os.path.join(src, "b2"))
    final = drain("pii_resume_2")
    want = {
        r[0]: tuple(r)[1:]
        for r in pii_counters(_pii_augment(docs)).collect()
    }
    assert final == want and len(want) > 0
    # the resumed counters strictly extend the pre-crash ones, and
    # redaction residual stays 0 through the resume
    assert sum(v[0] for v in final.values()) > sum(v[0] for v in partial.values())
    assert all(v[-1] == 0 for v in final.values())


def test_streaming_skew_resume_from_checkpoint(spark, tmp_path):
    """q145's per-key count state joins the streaming catalog WITH
    crash-resume evidence in the same round (the q129/q134/q136/q141/
    q144 lesson): kill between micro-batches, restart from the
    checkpoint, and the FINAL complete-mode per-key counts must equal
    the batch face's row-for-row — so the skew rollup derived from
    that state matches q118 exactly. Counts are linear (q134's
    at-least-once caveat applies), so a state reset shows up as
    second-half-only counts and fails the compare."""
    import os as _os

    from aws_dla_kinesis_delivery_stream_example_spark.operators.skew import key_counts

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ev.filter("event_id % 2 = 0").coalesce(1).write.parquet(_os.path.join(src, "b1"))

    def drain(qname):
        stream = spark.readStream.schema("event_id long, user_id long").parquet(
            src + "/b*"
        )
        q = (
            key_counts(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r[0]: r[1] for r in spark.sql(f"SELECT * FROM {qname}").collect()}

    partial = drain("skew_resume_1")
    assert partial, "first drain built no per-key counts"
    ev.filter("event_id % 2 = 1").coalesce(1).write.parquet(_os.path.join(src, "b2"))
    final = drain("skew_resume_2")
    want = {r[0]: r[1] for r in key_counts(ev).collect()}
    assert final == want and len(want) > 0
    # the resumed counts strictly extend the pre-crash ones: per-key
    # counters only grow across the resume, none reset
    assert sum(final.values()) > sum(partial.values())
    assert all(final[k] >= v for k, v in partial.items())


def test_streaming_attrition_resume_from_checkpoint(spark, tmp_path):
    """q150's per-(source, reason) counter state joins the
    constant-state family WITH crash-resume evidence in the same round
    (the q129/q134/q136/q141/q144/q145 lesson): kill between
    micro-batches, restart from the checkpoint, and the FINAL
    complete-mode counters must equal the batch face's row-for-row.
    Counts are linear (q134's caveat applies), so a state reset shows
    up as second-half-only counts and fails the compare."""
    import os as _os

    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation16 import (
        attrition_counters,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(_os.path.join(src, "b1"))

    def drain(qname):
        stream = spark.readStream.schema(
            "doc_id long, source string, lang string, n_chars long, text string"
        ).parquet(src + "/b*")
        q = (
            attrition_counters(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r[0], r[1]): (r[2], r[3])
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    partial = drain("attr_resume_1")
    assert partial, "first drain built no counters"
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(_os.path.join(src, "b2"))
    final = drain("attr_resume_2")
    want = {
        (r[0], r[1]): (r[2], r[3]) for r in attrition_counters(docs).collect()
    }
    assert final == want and len(want) > 0
    # the resumed counters strictly extend the pre-crash ones, and the
    # state never exceeds |sources| x |reasons|
    assert sum(v[0] for v in final.values()) > sum(v[0] for v in partial.values())
    assert len(final) <= 20 * 5


def test_streaming_blocklist_resume_from_checkpoint(spark, tmp_path):
    """q152's per-(source, domain) counter state joins the per-key
    streaming family WITH crash-resume evidence in the same round (the
    q144/q145/q150 convention): kill between micro-batches, restart
    from the checkpoint, and the FINAL complete-mode counters must
    equal the batch-built ones row-for-row — so the blocklist report
    finalized from that state matches q151 exactly. Counts are linear
    (q134's at-least-once caveat applies), so a state reset shows up
    as second-half-only counts and fails the compare."""
    import os as _os

    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation17 import (
        _domain_augment,
        domain_counters,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(_os.path.join(src, "b1"))

    def drain(qname):
        stream = spark.readStream.schema(
            "doc_id long, source string, text string"
        ).parquet(src + "/b*")
        q = (
            domain_counters(_domain_augment(stream))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r[0], r[1]): (r[2], r[3])
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    partial = drain("bl_resume_1")
    assert partial, "first drain built no counters"
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(_os.path.join(src, "b2"))
    final = drain("bl_resume_2")
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in domain_counters(_domain_augment(docs)).collect()
    }
    assert final == want and len(want) > 0
    # the resumed counters strictly extend the pre-crash ones, and the
    # state stays per-key-bounded: |sources| x |domains| (97 planted)
    assert sum(v[0] for v in final.values()) > sum(v[0] for v in partial.values())
    assert set(partial) <= set(final)
    assert len(final) <= 20 * 97


def test_streaming_mojibake_resume_from_checkpoint(spark, tmp_path):
    """q154's per-source mojibake counter state joins the
    constant-state streaming family WITH crash-resume evidence in the
    same round (the q144/q150/q152 convention): kill between
    micro-batches, restart from the checkpoint, and the FINAL
    complete-mode counters must equal the batch-built ones
    row-for-row. All five counters are linear, so a state reset shows
    up as second-half-only counts and fails the compare; the residual
    stays 0 through the resume."""
    import os as _os

    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation18 import (
        _mojibake_augment,
        mojibake_counters,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(_os.path.join(src, "b1"))

    def drain(qname):
        stream = spark.readStream.schema(
            "doc_id long, source string, text string"
        ).parquet(src + "/b*")
        q = (
            mojibake_counters(_mojibake_augment(stream))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r[0]: tuple(r)[1:]
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    partial = drain("mb_resume_1")
    assert partial, "first drain built no counters"
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(_os.path.join(src, "b2"))
    final = drain("mb_resume_2")
    want = {
        r[0]: tuple(r)[1:]
        for r in mojibake_counters(_mojibake_augment(docs)).collect()
    }
    assert final == want and len(want) > 0
    assert sum(v[0] for v in final.values()) > sum(v[0] for v in partial.values())
    assert all(v[-1] == 0 for v in final.values())  # residual through resume


def test_streaming_line_dedup_resume_from_checkpoint(spark, tmp_path):
    """q156's per-(line-hash, doc) counter state joins the per-key
    streaming family WITH crash-resume evidence in the same round (the
    q144/q145/q150/q152/q154 convention): kill between micro-batches,
    restart from the checkpoint, and the FINAL complete-mode counters
    must equal the batch-built ones row-for-row — so the removal
    report finalized from that state matches q155 (minus its
    batch-only rewrite_xor) exactly.  n_occ is linear (q134's
    at-least-once caveat applies) while first_idx/tok_line are mins;
    a state reset shows up as second-half-only counts/firsts and
    fails the compare."""
    import os as _os

    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation19 import (
        _line_augment,
        line_counters,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(_os.path.join(src, "b1"))

    def drain(qname):
        stream = spark.readStream.schema(
            "doc_id long, source string, text string"
        ).parquet(src + "/b*")
        q = (
            line_counters(_line_augment(stream))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r[0], r[1]): (r[2], r[3], r[4], r[5])
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    partial = drain("ld_resume_1")
    assert partial, "first drain built no counters"
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(_os.path.join(src, "b2"))
    final = drain("ld_resume_2")
    want = {
        (r[0], r[1]): (r[2], r[3], r[4], r[5])
        for r in line_counters(_line_augment(docs)).collect()
    }
    assert final == want and len(want) > 0
    # the resumed state strictly extends the pre-crash keys (the
    # second half brings new (line, doc) pairs), and the cross-doc
    # shared lines (header/footer/related) span both halves — their
    # global first can only be decided with BOTH halves in state
    assert set(partial) < set(final)
    n_docs = docs.count()
    # per-key honesty: state cardinality tracks (line, doc) pairs —
    # bounded here by the corpus's total line count, NOT |sources|
    assert len(final) <= sum(
        2 + (d % 3 == 0) + (d % 4 == 0) + 2 * (d % 10 == 0)
        for d in range(n_docs)
    )


def test_streaming_perplexity_resume_from_checkpoint(spark, tmp_path):
    """q158's per-doc surprisal counter state joins the per-key
    streaming family WITH crash-resume evidence in the same round:
    kill between micro-batches, restart from the checkpoint, and the
    FINAL complete-mode counters must equal the batch-built ones
    row-for-row — so the bucket report finalized from that state (plus
    the STATIC model constants, unchanged across the crash) matches
    q157 exactly.  A state reset shows up as missing first-half docs
    and fails the compare."""
    import os as _os

    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation20 import (
        PPL_REF_SOURCE,
        _ppl_augment,
        ppl_counters,
        surprisal_model,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    ref = _ppl_augment(docs).filter(f"source = '{PPL_REF_SOURCE}'")
    vocab, n_ref, _g = surprisal_model(ref)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(_os.path.join(src, "b1"))

    def drain(qname):
        stream = spark.readStream.schema(
            "doc_id long, source string, text string"
        ).parquet(src + "/b*")
        q = (
            ppl_counters(_ppl_augment(stream), vocab, n_ref)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r[0]: (r[1], r[2], r[3])
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    partial = drain("ppl_resume_1")
    assert partial, "first drain built no counters"
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(_os.path.join(src, "b2"))
    final = drain("ppl_resume_2")
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in ppl_counters(_ppl_augment(docs), vocab, n_ref).collect()
    }
    assert final == want and len(want) > 0
    # the resumed state strictly extends the pre-crash keys (per-doc
    # state: first half = even doc_ids only), and cardinality is
    # exactly the count of docs with >= 1 token (ppl_counters drops
    # token-less docs by design — don't couple the resume check to
    # the fixture having none) — the per-key honesty statement
    assert set(partial) < set(final)
    from pyspark.sql import functions as FF

    from aws_dla_kinesis_delivery_stream_example_spark.functions import text as TXF

    tokful = _ppl_augment(docs).filter(FF.size(TXF.words("text")) > 0).count()
    assert len(final) == tokful


def test_streaming_bigram_ppl_resume_from_checkpoint(spark, tmp_path):
    """q160's per-doc bigram-surprisal counter state joins the per-key
    streaming family WITH crash-resume evidence in the same round
    (q158's test shape under the bigram model): kill between
    micro-batches, restart from the checkpoint, and the FINAL
    complete-mode counters must equal the batch-built ones
    row-for-row — so the bucket report finalized from that state
    (plus the STATIC model constants and the three static model
    frames, all unchanged across the crash) matches q159 exactly.
    A state reset shows up as missing first-half docs and fails the
    compare."""
    import os as _os

    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation20 import (
        PPL_REF_SOURCE,
        _ppl_augment,
    )
    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation21 import (
        bigram_counters,
        bigram_model,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    ref = _ppl_augment(docs).filter(f"source = '{PPL_REF_SOURCE}'")
    pairs, ctx, vocab, n_ref, _g2 = bigram_model(ref)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(_os.path.join(src, "b1"))

    def drain(qname):
        stream = spark.readStream.schema(
            "doc_id long, source string, text string"
        ).parquet(src + "/b*")
        q = (
            bigram_counters(_ppl_augment(stream), pairs, ctx, vocab, n_ref)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r[0]: (r[1], r[2], r[3])
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    partial = drain("bigram_resume_1")
    assert partial, "first drain built no counters"
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(_os.path.join(src, "b2"))
    final = drain("bigram_resume_2")
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in bigram_counters(
            _ppl_augment(docs), pairs, ctx, vocab, n_ref
        ).collect()
    }
    assert final == want and len(want) > 0
    # the resumed state strictly extends the pre-crash keys (per-doc
    # state: first half = even doc_ids only), and cardinality is
    # exactly the count of docs with >= 1 token (one pair per token
    # position — bigram_pairs drops token-less docs by design)
    assert set(partial) < set(final)
    from pyspark.sql import functions as FF

    from aws_dla_kinesis_delivery_stream_example_spark.functions import text as TXF

    tokful = _ppl_augment(docs).filter(FF.size(TXF.words("text")) > 0).count()
    assert len(final) == tokful


def test_streaming_llr_filter_resume_from_checkpoint(spark, tmp_path):
    """q162's per-doc weight-accumulator state joins the per-key
    streaming family WITH crash-resume evidence in the same round
    (q158/q160's test shape under the trained classifier): kill
    between micro-batches, restart from the checkpoint, and the FINAL
    complete-mode counters must equal the batch-built ones
    row-for-row — so the keep/drop report finalized from that state
    (plus the trained threshold and the static weight dim, unchanged
    across the crash) matches q161 exactly."""
    import os as _os

    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation20 import (
        PPL_REF_SOURCE,
    )
    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation22 import (
        _llr_augment,
        llr_classifier,
        llr_counters,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    aug = _llr_augment(docs)
    weights, w_oov, _theta2, _shift = llr_classifier(
        aug.filter(f"source = '{PPL_REF_SOURCE}'"),
        aug.filter(f"source <> '{PPL_REF_SOURCE}'"),
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(_os.path.join(src, "b1"))

    def drain(qname):
        stream = spark.readStream.schema(
            "doc_id long, source string, text string"
        ).parquet(src + "/b*")
        q = (
            llr_counters(_llr_augment(stream), weights, w_oov)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r[0]: (r[1], r[2], r[3])
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    partial = drain("llr_resume_1")
    assert partial, "first drain built no counters"
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(_os.path.join(src, "b2"))
    final = drain("llr_resume_2")
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in llr_counters(_llr_augment(docs), weights, w_oov).collect()
    }
    assert final == want and len(want) > 0
    assert set(partial) < set(final)
