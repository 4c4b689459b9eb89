"""Multimodal column plumbing (SURVEY.md §2.11 'Multimodal columns').

Design: media payloads are opaque ``binary`` columns with a typed
metadata struct; heavy per-item work (decode, feature-extract,
frame-sample) runs as Arrow-batched ``mapInPandas`` so each Python
worker touches a whole batch at a time. Decode is REAL for three
formats parsed with stdlib+numpy: uncompressed 24-bit BMP and PCM-16
WAV (.codecs) and baseline JPEG incl. 4:2:0 (.jpeg) — features are
content-derived pixel / sample statistics. Remaining codecs (MP3/video
— librosa/ffmpeg absent from this container) fall back to a
deterministic digest feature, keeping the pipeline shape exercised
either way; malformed payloads of ANY format take the same fallback
instead of failing the job.

At 100 TB blobs travel by reference where possible: keep a ``uri``
column and only materialize bytes inside the mapInPandas stage, so the
shuffle moves metadata, never media bytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..shipping import ensure_shipped

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("uri", T.StringType(), True),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("content_sha256", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def synthesize_media(documents: DataFrame, media_type: str = "image") -> DataFrame:
    """Derive a deterministic fake media table from `documents` (the
    container has no real media); payload = utf-8 bytes of the text."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit("synthetic://"), F.col("source"), F.lit("/"), F.col("doc_id")).alias("uri"),
        F.lit(media_type).alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit(64).cast("int").alias("width"),
            F.lit(64).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
            F.lit("raw").alias("codec"),
        ).alias("meta"),
    )


def _decode(payload: bytes, media_type: str) -> list[float]:
    """Decode + featurize one payload.

    Feature layouts (first element tags the decode path so mixed-format
    batches stay interpretable):
    - BMP image:  [1.0, width, height, mean_r, mean_g, mean_b,
                   std_r, std_g, std_b] (channel stats in [0, 1])
    - WAV audio:  [2.0, duration_s, rms, peak, zero_crossing_rate]
    - JPEG image: [3.0, width, height, mean_r, mean_g, mean_b,
                   std_r, std_g, std_b] (baseline decode, .jpeg module)
    - fallback:   [0.0] + 16 digest bytes / 255 (deterministic; used
                  for formats whose codecs aren't in this container)
    """
    import struct as _struct

    import numpy as np

    from . import codecs, jpeg

    def _img_stats(px: "np.ndarray", tag: float) -> list[float]:
        scaled = px.astype(np.float64) / 255.0
        h, w = scaled.shape[0], scaled.shape[1]
        means, stds = scaled.mean(axis=(0, 1)), scaled.std(axis=(0, 1))
        out = [tag, float(w), float(h), *map(float, means), *map(float, stds)]
        if not all(np.isfinite(v) for v in out):
            raise ValueError("non-finite image stats")
        return out

    data = payload or b""
    # codecs raise ValueError on malformed payloads by contract, but a
    # hostile/corrupt byte stream can still surface struct/Index errors
    # from parsing — ALL of them must hit the digest fallback rather
    # than crash the Spark job on one bad record.
    try:
        if data[:2] == b"BM":
            return _img_stats(codecs.decode_bmp(data), 1.0)
        if data[:2] == b"\xff\xd8":
            return _img_stats(jpeg.decode_jpeg(data), 3.0)
        if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
            rate, samples = codecs.decode_wav(data)
            dur = len(samples) / rate if rate else 0.0
            rms = float(np.sqrt(np.mean(samples**2))) if len(samples) else 0.0
            peak = float(np.max(np.abs(samples))) if len(samples) else 0.0
            zcr = (
                float(np.mean(np.abs(np.diff(np.signbit(samples).astype(np.int8)))))
                if len(samples) > 1
                else 0.0
            )
            out = [2.0, float(dur), rms, peak, zcr]
            if all(np.isfinite(v) for v in out):
                return out
    except (ValueError, _struct.error, IndexError):
        pass  # malformed/unsupported variant -> digest fallback
    digest = hashlib.sha256(data).digest()
    return [0.0] + [b / 255.0 for b in digest[:16]]


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(lambda b: len(b) if b is not None else 0).astype("int64"),
                    "content_sha256": payloads.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "feature": [
                        _decode(b, t) for b, t in zip(payloads, pdf["media_type"])
                    ],
                }
            )

    ensure_shipped(media.sparkSession)
    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame-sampling plumbing for video rows: expand each row into
    one frame timestamp per second (decode itself stubbed). Pure built-ins — the
    expansion is `sequence` + `explode`, no Python."""
    return (
        media.filter(F.col("media_type") == "video")
        .withColumn(
            "frame_ms",
            F.explode(F.sequence(F.lit(0), F.col("meta.duration_ms"), F.lit(1000))),
        )
        .select("media_id", "uri", "frame_ms")
    )


# ---------------------------------------------------------------------
# Audio windowing (round 9): synthesize -> REAL PCM-16 WAV round-trip
# -> frame-level integer energy features.

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("n_frames", T.LongType(), False),
        T.StructField("total_energy", T.LongType(), False),
        T.StructField("peak_frame_energy", T.LongType(), False),
        T.StructField("n_silent", T.LongType(), False),
    ]
)

# closed-form synthetic waveform: sample i of doc d is
#   v(d, i) = ((d*31 + i*7) mod 201) - 100
# — int16-ranged, deterministic, and recomputable by a SQL oracle
# WITHOUT decoding bytes, which is what makes the binary round-trip
# (encode_wav -> decode_wav) exactly checkable end-to-end.
_AUD_A, _AUD_B, _AUD_M, _AUD_C = 31, 7, 201, 100
# q111 frame geometry: 256-sample frames; a frame is silent below this
# mean squared sample.
AUDIO_FRAME = 256
SILENCE_ENERGY_PER_SAMPLE = 100


def synthesize_audio(documents: DataFrame) -> DataFrame:
    """Deterministic fake audio table: one PCM-16 mono WAV payload per
    document, ``n_chars`` samples of the closed-form waveform above.
    The synthesis itself is Arrow-batched numpy (vectorized per
    document); payloads are REAL RIFF/WAVE bytes, so everything
    downstream exercises the true decode path."""
    import numpy as np

    from . import codecs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d, n in zip(pdf["doc_id"], pdf["n_chars"]):
                i = np.arange(int(n), dtype=np.int64)
                v = (int(d) * _AUD_A + i * _AUD_B) % _AUD_M - _AUD_C
                payloads.append(codecs.encode_wav(v.astype("<i2")))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "media_type": ["audio"] * len(pdf),
                    "payload": payloads,
                }
            )

    ensure_shipped(documents.sparkSession)
    return documents.select("doc_id", "n_chars").mapInPandas(
        run, schema="media_id long, media_type string, payload binary"
    )


def audio_frame_energy(media: DataFrame) -> DataFrame:
    """Frame-level energy features over PCM-16 WAV payloads: split each
    clip into non-overlapping ``AUDIO_FRAME``-sample frames (last
    frame ragged) and compute EXACT integer energies — per media:
    (n_samples, n_frames, total_energy, peak_frame_energy, n_silent)
    where energy = sum of squared int16 samples (fits int64: 2^30 per
    sample x frame length) and a frame is silent iff its energy <
    ``SILENCE_ENERGY_PER_SAMPLE`` * its length.

    Integer energies, not float RMS, for the same reason as the q105
    milli-unit lattice: float sums are accumulation-order-dependent;
    the integer grid makes stream/batch/oracle agree exactly.

    Scale shape: one Arrow-batched mapInPandas pass — each worker
    decodes its batch with numpy (frombuffer + reshape, no Python
    per-sample loop), emits ONE narrow row per clip, and the shuffle
    that follows (if any) carries 6 longs per clip, never audio bytes.
    Malformed/non-WAV payloads yield a zero-sample row rather than
    failing the job (the _decode digest-fallback convention).
    """
    import numpy as np

    from . import codecs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "n_samples", "n_frames",
                                   "total_energy", "peak_frame_energy", "n_silent")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    _, samples = codecs.decode_wav(bytes(payload or b""))
                    # decode_wav scales by /32768 (exact in float32);
                    # multiply back for the exact int16 values
                    v = np.rint(samples.astype(np.float64) * 32768.0).astype(np.int64)
                except ValueError:
                    v = np.zeros(0, dtype=np.int64)
                n = len(v)
                if n:
                    pad = (-n) % AUDIO_FRAME
                    sq = np.pad(v * v, (0, pad))
                    frames = sq.reshape(-1, AUDIO_FRAME)
                    energies = frames.sum(axis=1)
                    lens = np.full(len(frames), AUDIO_FRAME, dtype=np.int64)
                    if pad:
                        lens[-1] = AUDIO_FRAME - pad
                    n_frames = len(frames)
                    total = int(energies.sum())
                    peak = int(energies.max())
                    n_silent = int(
                        (energies < SILENCE_ENERGY_PER_SAMPLE * lens).sum()
                    )
                else:
                    n_frames, total, peak, n_silent = 0, 0, 0, 0
                out["media_id"].append(int(mid))
                out["n_samples"].append(n)
                out["n_frames"].append(n_frames)
                out["total_energy"].append(total)
                out["peak_frame_energy"].append(peak)
                out["n_silent"].append(n_silent)
            yield pd.DataFrame(out)

    ensure_shipped(media.sparkSession)
    return media.select("media_id", "payload").mapInPandas(
        run, schema=AUDIO_FEATURE_SCHEMA
    )


# -- Perceptual near-duplicate detection (difference hash) -----------------
#
# The image-side member of the dedup family (q25..q28 are text-side):
# dHash (Krawetz's difference hash — the standard cheap perceptual
# fingerprint production image pipelines run before any embedding
# model) over the DECODED pixels: grayscale -> nearest-neighbor
# downsample to a (GRID_W x GRID_H) grid -> one bit per horizontal
# neighbor comparison -> 64 bits, carried as 4 x 16-bit band integers
# because the bands ARE the blocking key: two images within Hamming
# distance 3 agree on at least one band (pigeonhole over 4 bands), so
# a band equi-join is a recall-GUARANTEED candidate generator and the
# exact Hamming check kills false candidates — the q28 Manku-banding
# discipline, transplanted to pixels.

_DHASH_SRC_W, _DHASH_SRC_H = 18, 16  # synthesized full resolution
_DHASH_GRID_W, _DHASH_GRID_H = 9, 8  # downsample grid -> 64 dHash bits
_DHASH_BANDS = 4  # bands; recall guaranteed for Hamming <= _DHASH_BANDS - 1
_DHASH_BAND_BITS = (_DHASH_GRID_W - 1) * _DHASH_GRID_H // _DHASH_BANDS

DHASH_SIG_SCHEMA = "media_id long, b0 long, b1 long, b2 long, b3 long"


def _dhash_pixel(seed: int, x: int, y: int) -> int:
    """Engine-portable synthetic pixel: md5-60-bit of 'seed_x_y' mod
    256 — the hash60 convention (functions/text.py), computed with
    hashlib here because the pixel is born inside the Arrow batch that
    encodes the BMP."""
    return int(hashlib.md5(f"{seed}_{x}_{y}".encode()).hexdigest()[:15], 16) % 256


def synthesize_gray_bmp(documents: DataFrame) -> DataFrame:
    """Deterministic grayscale BMP per document (the container has no
    real images — synthesize_media's convention, but with REAL pixel
    content the decode path must recover exactly). Pixels come from
    the engine-portable md5 formula, so a SQL oracle can recompute the
    downstream perceptual hash without decoding a single byte.

    Near-duplicate stratum (the q143 planted-stratum convention):
    doc_id % 9 in {0, 1} share one content seed (doc_id floored to the
    9-block), and the % 9 == 1 member flips ONE full-res pixel by +128
    — a near-dup pair at dHash Hamming <= 1, NOT byte-identical, per
    9-block. Everything else seeds from its own doc_id, so non-planted
    pairs sit at the ~32-bit Hamming distance of independent hashes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from . import codecs

        for pdf in batches:
            payloads = []
            ids = pdf["doc_id"].astype("int64")
            for did in ids:
                did = int(did)
                seed = did // 9 * 9 if did % 9 <= 1 else did
                arr = np.empty((_DHASH_SRC_H, _DHASH_SRC_W), dtype=np.uint8)
                for y in range(_DHASH_SRC_H):
                    for x in range(_DHASH_SRC_W):
                        arr[y, x] = _dhash_pixel(seed, x, y)
                if did % 9 == 1:
                    arr[0, 0] = (int(arr[0, 0]) + 128) % 256
                payloads.append(
                    codecs.encode_bmp(np.repeat(arr[:, :, None], 3, axis=2))
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    ensure_shipped(documents.sparkSession)
    from .staging import spread_scan

    # spread_scan: ~288 md5 calls + a BMP encode per row make this the
    # package's heaviest per-row Python pass, and the bench scan feeds
    # it as ONE task; the spread frame is doc_id-only (8 B/row), so the
    # gated repartition is near-free here and a no-op at scale.
    return spread_scan(documents.select("doc_id")).mapInPandas(
        run, schema="media_id long, payload binary"
    )


def dhash_bands(media: DataFrame) -> DataFrame:
    """REAL decode path: BMP bytes -> pixels (codecs.decode_bmp) ->
    nearest-neighbor downsample to the 9x8 grid (codecs.resize_nearest,
    index math ``src = i * in // out``) -> dHash bit j = y*8+x set
    iff grid[y, x+1] > grid[y, x] -> packed into 4 band integers of
    16 bits each (bit j lands in band j // 16 at offset j % 16).
    Arrow-batched; the signature is 4 ints per image, so the shuffle
    that follows moves signatures, never pixels — at 100 TB the
    payload column stays behind in the scan stage (multimodal house
    rule: bytes never travel through an exchange).

    Band-collision candidates grow as C(n,2) * 4 / 2^16, so 16-bit
    bands saturate around n ~ 2^16 images; past that the band width
    is the knob to widen (SCALE.md, q146)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import codecs

        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "b0": [], "b1": [], "b2": [], "b3": []}
            for mid, raw in zip(pdf["media_id"], pdf["payload"]):
                px = codecs.decode_bmp(bytes(raw))
                g = codecs.resize_nearest(px, _DHASH_GRID_W, _DHASH_GRID_H)[:, :, 0]
                g = g.astype("int64")
                flat = (g[:, 1:] > g[:, :-1]).reshape(-1)
                out["media_id"].append(int(mid))
                for b in range(_DHASH_BANDS):
                    bits = flat[_DHASH_BAND_BITS * b : _DHASH_BAND_BITS * (b + 1)]
                    out[f"b{b}"].append(sum(1 << i for i, bit in enumerate(bits) if bit))
            yield pd.DataFrame(out)

    ensure_shipped(media.sparkSession)
    return media.select("media_id", "payload").mapInPandas(
        run, schema=DHASH_SIG_SCHEMA
    )


def dhash_near_duplicates(sigs: DataFrame) -> DataFrame:
    """Near-dup image pairs from a dHash signature table: band
    equi-join candidates (two signatures within Hamming
    ``_DHASH_BANDS - 1`` = 3 agree on >= 1 of the 4 bands — pigeonhole,
    so the blocking is recall-guaranteed, exactly q28's Manku argument;
    at 4+ differing bits 4 flips CAN damage all 4 bands), then the exact
    64-bit Hamming distance via bit_count(xor) per band kills false
    candidates. Candidate volume is bounded by band-value collisions
    (~2^-16 per band pair for independent images), never |images|^2;
    every join/agg here moves 5-int signature rows.

    The signature frame is STAGED (operators/staging.py caller
    contract: release_staging() after the terminal action): four plan
    arms read it (both band self-join sides + both verify probes), and
    without staging each arm would re-run the DECODE pipeline feeding
    ``sigs`` — at 100 TB that's re-decoding every image four times to
    save a 40-byte/image staging write. Joins stay UNHINTED: at bench
    SF Catalyst broadcasts the tiny staged frame; at scale its stats
    exceed the threshold and the same plan degrades to co-partitioned
    shuffle joins instead of OOMing the driver."""
    from .staging import stage

    sigs = stage(sigs)
    bands = sigs.selectExpr(
        "media_id", "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band, val)"
    )
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "val"])
        .where(F.col("a.media_id") < F.col("b.media_id"))
        .select(
            F.col("a.media_id").alias("doc_a"),
            F.col("b.media_id").alias("doc_b"),
        )
        .distinct()
    )
    sig_cols = [f"b{b}" for b in range(_DHASH_BANDS)]
    sa = sigs.select(
        F.col("media_id").alias("doc_a"),
        *[F.col(c).alias(f"{c}_a") for c in sig_cols],
    )
    sb = sigs.select(
        F.col("media_id").alias("doc_b"),
        *[F.col(c).alias(f"{c}_b") for c in sig_cols],
    )
    ham = sum(
        F.expr(f"bit_count({c}_a ^ {c}_b)") for c in sig_cols
    ).cast("int")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .where(F.col("hamming") <= _DHASH_BANDS - 1)
    )
