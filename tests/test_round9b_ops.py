"""Planted-value tests for the round-9 operators (q109-q112): known
tiny inputs with hand-computed outputs, independent of the DuckDB
oracle machinery (which could share a misunderstanding with the
Spark plan)."""

from __future__ import annotations

import numpy as np

from aws_dla_kinesis_delivery_stream_example_spark.operators import (
    curation,
    multimodal,
    sketch,
)


# ---------------------------------------------------------------- q109


def test_shingle_novelty_planted(spark):
    """doc 1 (src A) introduces its shingles; doc 2 (src B) copies doc 1
    verbatim (novelty 0); doc 3 (src B) is fresh text (novelty 1).
    Shingle = word 5-gram, so texts are 6 words -> 2 shingles each."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "A"),
        (2, "alpha beta gamma delta epsilon zeta", "B"),
        (3, "one two three four five six", "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: (r["n_docs"], r["n_shingles"], r["n_novel"], r["novelty_ratio"])
        for r in curation.shingle_novelty(df).collect()
    }
    assert got == {
        "A": (1, 2, 2, 1.0),
        "B": (2, 4, 2, 0.5),  # doc 2 contributes 0 novel, doc 3 its 2
    }


def test_shingle_novelty_short_doc_counts_as_zero(spark):
    """A doc too short to shingle (< 5 words) still counts in n_docs
    with 0 shingles; a source with ONLY such docs gets NULL ratio
    (0/0 -> NULL on both engines, the FIXTURES.md rule)."""
    df = spark.createDataFrame(
        [(1, "too short", "A")], "doc_id long, text string, source string"
    )
    [r] = curation.shingle_novelty(df).collect()
    assert (r["n_docs"], r["n_shingles"], r["n_novel"]) == (1, 0, 0)
    assert r["novelty_ratio"] is None


# ---------------------------------------------------------------- q110


def test_int8_quantize_and_qdot_planted(spark):
    """Hand-check the quantization grid: [2, -1, 0] scales by 127/2 ->
    [127, -64 (63.5 rounds half-up to 64, away from zero), 0]; the
    zero vector quantizes to NULL (not a crash, not zeros)."""
    from aws_dla_kinesis_delivery_stream_example_spark.functions import vectors as V

    df = spark.createDataFrame(
        [(1, [2.0, -1.0, 0.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r["q"] for r in df.select("vec_id", V.int8_quantize("embedding").alias("q")).collect()}
    assert rows[1] == [127, -64, 0]
    assert rows[2] is None or all(v is None for v in rows[2])


# ---------------------------------------------------------------- q111


def test_audio_roundtrip_energy_planted(spark):
    """Synthesize one clip with a KNOWN waveform through the real WAV
    encode->decode round-trip and hand-compute the frame energies.
    doc_id=0, n_chars=300 -> samples v(i) = (7i % 201) - 100 for
    i<300; 256-sample frames -> one full frame and a ragged 44-sample
    one, energies computed exactly below."""
    docs = spark.createDataFrame([(0, "x", "s", 300)], "doc_id long, text string, source string, n_chars long")
    audio = multimodal.synthesize_audio(docs)
    [r] = multimodal.audio_frame_energy(audio).collect()
    frame = multimodal.AUDIO_FRAME
    v = [(0 * 31 + i * 7) % 201 - 100 for i in range(300)]
    f1 = sum(x * x for x in v[:frame])
    f2 = sum(x * x for x in v[frame:])
    assert r["n_samples"] == 300
    assert r["n_frames"] == 2
    assert r["total_energy"] == f1 + f2
    assert r["peak_frame_energy"] == max(f1, f2)
    # both frames average far above 100 per sample (loud)
    assert f1 >= 100 * frame and f2 >= 100 * (300 - frame)
    assert r["n_silent"] == 0


def test_audio_silence_detection(spark):
    """A clip whose waveform sits at tiny amplitudes must flag silent
    frames: feed a hand-built WAV of zeros through the decode path."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators import codecs

    payload = codecs.encode_wav(np.zeros(600, dtype="<i2"))
    media = spark.createDataFrame([(7, payload)], "media_id long, payload binary")
    [r] = multimodal.audio_frame_energy(media).collect()
    assert (r["n_samples"], r["n_frames"]) == (600, 3)  # 256 + 256 + ragged 88
    assert r["total_energy"] == 0 and r["n_silent"] == 3


def test_audio_malformed_payload_yields_zero_row(spark):
    """Garbage bytes must produce the zero-sample row, not crash the
    job (the _decode digest-fallback convention)."""
    media = spark.createDataFrame(
        [(9, b"not a wav at all")], "media_id long, payload binary"
    )
    [r] = multimodal.audio_frame_energy(media).collect()
    assert (r["n_samples"], r["n_frames"], r["total_energy"]) == (0, 0, 0)


# ---------------------------------------------------------------- q112


def test_countmin_estimates_exact_on_sparse_vocab(spark):
    """With a vocabulary far below the 4x1024 grid, collisions are
    overwhelmingly unlikely across ALL FOUR rows at once, so the min
    estimate equals the exact count; the CMS one-sided bound column
    must be uniformly true."""
    rows = [(1, "apple apple apple banana banana cherry")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["token"]: (r["exact_n"], r["cms_est"], r["overestimate_ok"])
        for r in sketch.countmin_heavy_hitters(df).collect()
    }
    assert got == {
        "apple": (3, 3, True),
        "banana": (2, 2, True),
        "cherry": (1, 1, True),
    }


def test_countmin_counters_constant_size(spark):
    """The counter grid is bounded by depth*width regardless of corpus
    size, and its total mass equals depth * token count (every token
    increments one bucket per row) — the mergeable-summary invariant."""
    from pyspark.sql import functions as F

    from aws_dla_kinesis_delivery_stream_example_spark.functions import text as TX
    from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    grid = sketch.countmin_counters(docs).persist()
    n_cells = grid.count()
    assert n_cells <= sketch.CMS_DEPTH * sketch.CMS_WIDTH
    total = grid.agg(F.sum("cnt")).collect()[0][0]
    n_tokens = docs.select(
        F.sum(F.size(TX.words("text"))).alias("n")
    ).collect()[0]["n"]
    grid.unpersist()
    assert total == sketch.CMS_DEPTH * n_tokens


def test_streaming_countmin_grid_equals_batch_across_batches(spark, tmp_path):
    """The CMS is a linear (mergeable) summary: however the stream
    splits the corpus into micro-batches, the final complete-mode grid
    must equal the batch-built sketch EXACTLY. Three files drained with
    maxFilesPerTrigger=1 force three incremental state merges."""
    import os

    from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    for i in range(3):
        docs.filter(f"doc_id % 3 = {i}").coalesce(1).write.parquet(
            os.path.join(src, f"b{i}")
        )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
    )
    q = (
        sketch.countmin_counters(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("cms_grid")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.r, r.bucket): r.cnt
        for r in spark.sql("SELECT * FROM cms_grid").collect()
    }
    want = {
        (r.r, r.bucket): r.cnt
        for r in sketch.countmin_counters(docs).collect()
    }
    assert got == want and len(want) > 0


# ---------------------------------------------------------------- q114


def test_minhash_calibration_planted(spark):
    """Two identical docs (exact Jaccard 1.0; every minhash matches so
    the estimate is exactly 1.0) plus one unrelated doc: the report
    must show 1 truth pair, 1 candidate, full recall/precision, zero
    estimate error."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators import dedup

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "one two three four five six seven eight nine"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    [r] = dedup.minhash_calibration_report(df).collect()
    assert (r["n_truth"], r["n_candidates"], r["n_hit"]) == (1, 1, 1)
    assert (r["recall_milli"], r["precision_milli"]) == (1000, 1000)
    assert r["mean_est_err_milli"] == 0.0 and r["max_est_err_milli"] == 0


def test_minhash_calibration_empty_corpus_is_all_null_safe(spark):
    """No pairs anywhere: counts must be 0 (not NULL, not a crash from
    0/0 — the nullif guards) and the error stats NULL/0."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "just one lonely document here today")], "doc_id long, text string"
    )
    [r] = dedup.minhash_calibration_report(df).collect()
    assert (r["n_truth"], r["n_candidates"], r["n_hit"]) == (0, 0, 0)
    assert r["recall_milli"] is None and r["precision_milli"] is None
    assert r["mean_est_err_milli"] is None and r["max_est_err_milli"] == 0
