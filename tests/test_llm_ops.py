"""LLM-operator property tests: the hash-based operators (MinHash,
SimHash) are rows-only in the oracle gate, so their correctness is
established here against exact ground truth (Jaccard / near-dup
plants), plus multimodal plumbing and similarity-search recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_dla_kinesis_delivery_stream_example_spark.operators import (
    dedup,
    multimodal,
    similarity,
)
from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def planted_docs(spark):
    """documents + planted near-duplicates (one word changed) and exact
    duplicates, so recall is measurable."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 20)
    near = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    exact = base.select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    return docs.unionAll(near).unionAll(exact)


def test_shingle_ops_tolerate_null_text(spark):
    """A null text yields no shingles (oracle: regexp over NULL is empty)
    instead of failing the whole job."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, None),
         (3, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    pairs = dedup.shingle_jaccard_pairs(df, threshold=0.5).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(1, 3)}
    sigs = dedup.minhash_signatures(df).collect()
    assert {r.doc for r in sigs} == {1, 3}


def test_minhash_signatures_hash_rows_path_identical(spark, planted_docs):
    """Round-17 shared-shingle-pass optimization (q114/q142): feeding
    minhash_signatures the 60-bit _shingle_hash_rows output folded with
    pmod(h, 2^31-1) must reproduce EXACTLY the signatures of the
    internal mod= path — the property that lets
    minhash_calibration_report shingle the corpus once instead of
    twice."""
    from pyspark.sql import functions as F

    direct = {
        r.doc: list(r.signature)
        for r in dedup.minhash_signatures(planted_docs).collect()
    }
    sh60 = dedup._shingle_hash_rows(planted_docs, "doc_id", 5)
    folded = sh60.select(
        "doc", F.pmod(F.col("h"), F.lit(dedup._MERSENNE)).alias("h")
    )
    shared = {
        r.doc: list(r.signature)
        for r in dedup.minhash_signatures(
            planted_docs, _hash_rows=folded
        ).collect()
    }
    assert direct == shared and direct


def test_minhash_estimates_jaccard(spark, planted_docs):
    """MinHash estimate within 0.2 of exact Jaccard on candidate pairs."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.shingle_jaccard_pairs(planted_docs, threshold=0.3)
        .collect()
    }
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.minhash_near_duplicates(planted_docs)
        .collect()
    }
    assert exact, "plants must create high-jaccard pairs"
    common = set(exact) & set(est)
    # LSH recall on genuinely-similar pairs (jaccard >= 0.6)
    high = {p for p, j in exact.items() if j >= 0.6}
    assert len(high & set(est)) >= 0.9 * len(high)
    for p in common:
        assert abs(exact[p] - est[p]) < 0.25


def test_jaccard_frequency_cap_keeps_true_dups(spark, planted_docs):
    """max_df (the quadratic-hazard valve) must not lose genuine
    duplicates: exact copies share their rare shingles, so they stay
    jaccard=1.0 even when common shingles are dropped. (Each planted
    doc's shingles already have df=3 from the base/near/exact trio, so
    the cap sits above that but well below the corpus size.)"""
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.shingle_jaccard_pairs(
            planted_docs, threshold=0.5, max_df=10
        ).collect()
    }
    for i in range(20):  # planted exact copies at +200000
        assert pairs.get((i, i + 200000)) == 1.0


def test_lsh_recall_floor_sf001(spark):
    """Quantitative LSH guarantee at sf0.01: recall of MinHash-LSH vs
    EXACT Jaccard ground truth is >= 0.9 for pairs with J >= 0.7.

    Plants are graded truncations (keep 75/85/95% of each doc's words),
    so ground-truth pairs straddle the 0.7 threshold; truth is defined
    by the exact Jaccard, not by the plant mechanics.
    """
    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 40)
    plants = [docs]
    for i, frac in enumerate((0.75, 0.85, 0.95), start=1):
        plants.append(
            base.select(
                (F.col("doc_id") + 100000 * i).alias("doc_id"),
                F.array_join(
                    F.slice(
                        F.split("text", " "),
                        1,
                        F.ceil(F.size(F.split("text", " ")) * frac).cast("int"),
                    ),
                    " ",
                ).alias("text"),
            )
        )
    all_docs = plants[0]
    for p in plants[1:]:
        all_docs = all_docs.unionAll(p)
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.shingle_jaccard_pairs(all_docs, threshold=0.6).collect()
    }
    truth = {p for p, j in exact.items() if j >= 0.7}
    assert len(truth) >= 40, "graded plants must produce J>=0.7 ground truth"
    est = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_near_duplicates(all_docs).collect()
    }
    recall = len(truth & est) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall:.3f} below floor on {len(truth)} true pairs"


def test_minhash_finds_planted_near_dups(spark, planted_docs):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_near_duplicates(planted_docs)
        .collect()
    }
    planted = {(i, i + 100000) for i in range(20)} | {(i, i + 200000) for i in range(20)}
    found = planted & pairs
    assert len(found) >= 0.9 * len(planted)


def test_simhash_exact_dups_zero_hamming(spark, planted_docs):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_near_duplicates(planted_docs).collect()
    }
    for i in range(20):
        assert pairs.get((i, i + 200000)) == 0  # identical text => identical simhash


def test_simhash_bucket_valve_preserves_exact_pair_set(spark, planted_docs):
    """The hot-bucket chunk refinement is recall-preserving: forcing the
    valve onto EVERY bucket (bound 1) must yield the identical verified
    pair set as the unvalved join, on the planted corpus's fingerprints."""
    from pyspark.sql import functions as F

    usig = dedup.simhash_signatures(planted_docs).select("sig", "chunks").distinct()

    def verified(bound):
        return {
            (r.sig_a, r.sig_b)
            for r in dedup.simhash_band_candidates(usig, bound)
            .filter(F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))) <= 3)
            .collect()
        }

    base = verified(None)
    assert base == verified(1) and len(base) > 0


def test_simhash_valve_equivalence_on_random_sigs(spark):
    """Hypothesis-style randomized check of the recall-preservation
    claim: for random fingerprint populations (mix of uniform sigs,
    near-dup perturbations, and band-colliding crowds), the valved
    candidate set joined with Hamming verification equals the unvalved
    one — across several seeds and bounds."""
    import random

    from pyspark.sql import functions as F

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        sigs = set()
        while len(sigs) < 120:
            base = rng.getrandbits(63)
            sigs.add(base)
            # near-dups at hamming 1-4 off the base
            for _ in range(rng.randrange(3)):
                flip = base
                for _ in range(rng.randrange(1, 5)):
                    flip ^= 1 << rng.randrange(64)
                sigs.add(flip)
            # a band-colliding crowd: same high bits, varying low bits
            if rng.random() < 0.3:
                for i in range(rng.randrange(8)):
                    sigs.add((base & ~0xFFF) | rng.getrandbits(12))
        rows = [
            (s if s < (1 << 63) else s - (1 << 64),
             [(s >> (16 * c)) & 0xFFFF for c in range(4)])
            for s in sigs
        ]
        usig = spark.createDataFrame(rows, "sig long, chunks array<int>")

        def verified(bound):
            return {
                (r.sig_a, r.sig_b)
                for r in dedup.simhash_band_candidates(usig, bound)
                .filter(F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))) <= 3)
                .collect()
            }

        base_pairs = verified(None)
        for bound in (4, 64):
            assert verified(bound) == base_pairs, f"seed={seed} bound={bound}"


def _crowd_usig(spark, n):
    # n distinct sigs sharing every band triple that avoids the low
    # blocks: differences confined to bits 0..ceil(log2 n) (inside
    # Manku blocks 0 and 1 for n up to 2^22), so the (2,3,4)/(3,4,5)/...
    # triples all collide
    from pyspark.sql import functions as F

    sig = F.col("id").bitwiseOR(F.lit(0x0123_4567_8000_0000))
    chunks = [F.shiftrightunsigned(sig, 16 * c).bitwiseAND(F.lit(0xFFFF)).cast("int") for c in range(4)]
    return spark.range(n).select(sig.alias("sig"), F.array(*chunks).alias("chunks"))


def test_simhash_hard_bucket_bound_fails_fast(spark):
    """A degenerate fingerprint crowd past the hard bound (65,536 sigs
    in one band bucket) must raise with sizing guidance, not run an
    unbounded refined join; under the hard bound the refined join
    still returns the exact candidates."""
    import pytest

    usig = _crowd_usig(spark, dedup._HARD_BAND_BUCKET + 1)
    with pytest.raises(Exception, match="hard bound"):
        dedup.simhash_band_candidates(usig, max_band_bucket=8).count()
    # the fail-fast is independent of the refinement valve: it guards
    # the unvalved join too
    with pytest.raises(Exception, match="hard bound"):
        dedup.simhash_band_candidates(usig, max_band_bucket=None).count()
    # a crowd under the hard bound: refinement engages, exactness holds
    usig = _crowd_usig(spark, 40)
    unvalved = {
        (r.sig_a, r.sig_b)
        for r in dedup.simhash_band_candidates(usig, max_band_bucket=None).collect()
    }
    refined = {
        (r.sig_a, r.sig_b)
        for r in dedup.simhash_band_candidates(usig, max_band_bucket=8).collect()
    }
    # all differences are inside one 16-bit chunk => the chunk-refined
    # join keeps every pair (they share the other three chunks)
    assert refined == unvalved and len(refined) == 40 * 39 // 2


def test_ivf_topk_is_subset_of_bruteforce_space(spark):
    """IVF results must be genuine cosine scores: every (q,candidate)
    pair returned by IVF appears in the brute-force scoring with the
    same score; top-1 recall vs brute force is high on real data."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = similarity.as_queries(emb.filter(F.col("vec_id") < 20))
    bf = similarity.brute_force_topk(emb, queries, k=50)
    ivf = similarity.ivf_topk(emb, queries)
    bf_scores = {(r.q_id, r.vec_id): r.cos_sim for r in bf.collect()}
    ivf_rows = ivf.collect()
    in_bf = [((r.q_id, r.vec_id) in bf_scores) for r in ivf_rows]
    # IVF prunes, so not all appear in bf's top-50, but scores must agree
    for r in ivf_rows:
        if (r.q_id, r.vec_id) in bf_scores:
            assert abs(bf_scores[(r.q_id, r.vec_id)] - r.cos_sim) < 1e-9
    assert any(in_bf)


def test_topk_query_cap_guards_driver_collect(spark, monkeypatch):
    """The queries-are-small contract is ENFORCED: an over-cap query set
    raises with guidance instead of collecting unbounded data onto the
    driver (and into every task closure)."""
    import pytest

    emb = load_table(spark, SF_SMOKE, "embeddings")
    monkeypatch.setattr(similarity, "MAX_QUERY_VECTORS", 5)
    big = similarity.as_queries(emb.filter(F.col("vec_id") < 20))
    with pytest.raises(ValueError, match="MAX_QUERY_VECTORS"):
        similarity.brute_force_topk(emb, big, k=3)
    with pytest.raises(ValueError, match="MAX_QUERY_VECTORS"):
        similarity.ivf_topk(emb, big)
    # at the cap it still runs
    ok = similarity.brute_force_topk(emb, similarity.as_queries(emb.filter(F.col("vec_id") < 5)), k=3)
    assert ok.count() == 15


def test_embedding_near_duplicates_detects_planted(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    copies = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    planted = emb.unionAll(copies)
    pairs = {
        (r.vec_a, r.vec_b)
        for r in similarity.embedding_near_duplicates(planted).collect()
    }
    assert all((i, i + 10000) in pairs for i in range(10))


def test_multimodal_feature_extraction(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    media = multimodal.synthesize_media(docs)
    # same shape (names+types); nullability flags may differ
    assert media.schema.simpleString() == multimodal.MEDIA_SCHEMA.simpleString()
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == docs.count()
    # text-bytes payloads take the digest fallback: 0.0 tag + 16 bytes
    assert all(len(r.feature) == 17 and r.feature[0] == 0.0 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r.feature)
    # deterministic: same payload -> same digest feature
    again = {r.media_id: r.content_sha256 for r in multimodal.extract_features(media).collect()}
    assert all(again[r.media_id] == r.content_sha256 for r in rows)
    # n_bytes matches the payload length of utf-8 text
    lens = {r.doc_id: len(r.text.encode()) for r in docs.select("doc_id", "text").collect()}
    assert all(lens[r.media_id] == r.n_bytes for r in rows)


def _known_media(spark):
    """One 4x2 BMP (left half red, right half blue) and one 16 kHz WAV
    (±0.5 amplitude square wave, 0.1 s) with hand-computable stats."""
    import numpy as np

    from aws_dla_kinesis_delivery_stream_example_spark.operators import codecs

    px = np.zeros((2, 4, 3), np.uint8)
    px[:, :2] = [255, 0, 0]
    px[:, 2:] = [0, 0, 255]
    bmp = codecs.encode_bmp(px)
    wav = codecs.encode_wav(np.tile([16384, -16384], 800).astype(np.int16))
    media = spark.createDataFrame(
        [
            (1, "synthetic://img", "image", bytearray(bmp), (4, 2, None, "bmp")),
            (2, "synthetic://aud", "audio", bytearray(wav), (None, None, 100, "wav")),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    return px, bmp, wav, media


def test_codec_roundtrips():
    """Encoder/decoder are exact inverses (incl. BMP row padding)."""
    import numpy as np

    from aws_dla_kinesis_delivery_stream_example_spark.operators import codecs

    rng = np.random.default_rng(7)
    for w, h in [(4, 2), (3, 5), (1, 1)]:  # w=3 exercises row padding
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(codecs.decode_bmp(codecs.encode_bmp(px)), px)
    samples = rng.integers(-32768, 32768, 1234, dtype=np.int16)
    rate, got = codecs.decode_wav(codecs.encode_wav(samples))
    assert rate == codecs.WAV_RATE == 16000
    assert np.allclose(got, samples.astype(np.float32) / 32768.0)


def test_multimodal_real_decode_stats(spark):
    """extract_features produces genuine content-derived statistics for
    BMP/WAV payloads (not digest fakes)."""
    _px, _bmp, _wav, media = _known_media(spark)
    feats = {r.media_id: r.feature for r in multimodal.extract_features(media).collect()}
    img = feats[1]  # [tag, w, h, mean_rgb.., std_rgb..]
    assert img[0] == 1.0 and (img[1], img[2]) == (4.0, 2.0)
    # half the pixels are pure red, half pure blue => mean r=b=0.5, g=0
    assert abs(img[3] - 0.5) < 1e-6 and img[4] == 0.0 and abs(img[5] - 0.5) < 1e-6
    # each channel is a 0/1 half-split => std 0.5 for r and b, 0 for g
    assert abs(img[6] - 0.5) < 1e-6 and img[7] == 0.0 and abs(img[8] - 0.5) < 1e-6
    aud = feats[2]  # [tag, duration_s, rms, peak, zcr]
    assert aud[0] == 2.0
    assert abs(aud[1] - 0.1) < 1e-6  # 1600 samples at 16 kHz (float32 storage)
    assert abs(aud[2] - 0.5) < 1e-6 and abs(aud[3] - 0.5) < 1e-6  # rms & peak
    assert abs(aud[4] - 1.0) < 1e-3  # square wave crosses zero every sample


def test_jpeg_codec_roundtrip():
    """Baseline JPEG encode/decode in numpy: gradient images survive a
    roundtrip with small error, in 4:4:4 and 4:2:0, RGB and grayscale,
    at non-multiple-of-8 dimensions; malformed inputs raise ValueError."""
    import numpy as np
    import pytest

    from aws_dla_kinesis_delivery_stream_example_spark.operators import jpeg

    h, w = 37, 53
    yy, xx = np.mgrid[0:h, 0:w]
    px = np.stack([(yy * 3) % 256, (xx * 4) % 256, ((yy + xx) * 2) % 256], axis=-1).astype(
        np.uint8
    )
    for sub in ("444", "420"):
        data = jpeg.encode_jpeg(px, quality=90, subsampling=sub)
        assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
        out = jpeg.decode_jpeg(data)
        assert out.shape == (h, w, 3)
        assert np.abs(out.astype(int) - px.astype(int)).mean() < 10.0
    gray = ((yy * 5 + xx * 2) % 256).astype(np.uint8)
    og = jpeg.decode_jpeg(jpeg.encode_jpeg(gray, quality=90))
    assert og.shape == (h, w, 3)
    assert np.abs(og[:, :, 0].astype(int) - gray.astype(int)).mean() < 6.0
    # flat color is exact at high quality
    flat = np.full((16, 16, 3), 128, np.uint8)
    assert np.abs(
        jpeg.decode_jpeg(jpeg.encode_jpeg(flat, quality=95)).astype(int) - 128
    ).max() == 0
    full = jpeg.encode_jpeg(px)
    for bad in (b"", b"\xff\xd8\xff", full[:40], b"\xff\xd8" + b"\x00" * 50):
        with pytest.raises(ValueError):
            jpeg.decode_jpeg(bad)


def test_multimodal_jpeg_features_and_resize(spark):
    """A real JPEG fixture flows through extract_features (tag 3.0,
    content-derived channel stats) — multimodal decode is no longer
    partial."""
    import numpy as np

    from aws_dla_kinesis_delivery_stream_example_spark.operators import jpeg

    px = np.zeros((16, 16, 3), np.uint8)
    px[:, :8] = [255, 0, 0]
    px[:, 8:] = [0, 0, 255]
    payload = jpeg.encode_jpeg(px, quality=95)
    media = spark.createDataFrame(
        [(7, "synthetic://jpg", "image", bytearray(payload), (16, 16, None, "jpeg"))],
        multimodal.MEDIA_SCHEMA,
    )
    feat = multimodal.extract_features(media).collect()[0].feature
    assert feat[0] == 3.0 and (feat[1], feat[2]) == (16.0, 16.0)
    # half red / half blue: mean r ~= b ~= 0.5, g ~= 0
    assert abs(feat[3] - 0.5) < 0.05 and feat[4] < 0.05 and abs(feat[5] - 0.5) < 0.05


def test_multimodal_malformed_payloads_fall_back(spark):
    """Corrupt media of every family (truncated WAV fmt, stereo WAV,
    negative-width BMP, truncated JPEG) must take the digest fallback,
    never crash the job or emit NaN features."""
    import numpy as np

    from aws_dla_kinesis_delivery_stream_example_spark.operators import codecs, jpeg

    wav = codecs.encode_wav(np.array([1000, -1000] * 50, np.int16))
    truncated_wav = wav[:20]  # cut inside the fmt chunk
    stereo = bytearray(wav)
    stereo[22] = 2  # channels=2 in fmt
    bmp = codecs.encode_bmp(np.zeros((2, 2, 3), np.uint8))
    neg_bmp = bytearray(bmp)
    neg_bmp[18:22] = (0xFFFFFFFF).to_bytes(4, "little")  # signed width = -1
    bad_jpeg = jpeg.encode_jpeg(np.zeros((8, 8, 3), np.uint8))[:30]
    media = spark.createDataFrame(
        [
            (1, "u1", "audio", bytearray(truncated_wav), (None, None, None, "wav")),
            (2, "u2", "audio", bytes(stereo), (None, None, None, "wav")),
            (3, "u3", "image", bytes(neg_bmp), (2, 2, None, "bmp")),
            (4, "u4", "image", bytearray(bad_jpeg), (8, 8, None, "jpeg")),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.extract_features(media).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.feature[0] == 0.0 and len(r.feature) == 17  # digest fallback
        assert all(np.isfinite(v) for v in r.feature)


def test_multimodal_frame_sampling(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    media = multimodal.synthesize_media(docs, media_type="video")
    frames = multimodal.sample_frames(media)
    one = media.select("media_id", "meta.duration_ms").collect()[0]
    n = frames.filter(F.col("media_id") == one.media_id).count()
    assert n == one.duration_ms // 1000 + 1

def test_duplicate_clusters_components(spark):
    """Chain + separate pair + transitive closure: min-label clusters."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    out = {r.doc: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_duplicate_clusters_long_chain_and_empty(spark):
    """Round-17 convergence rework (label-sum fixpoint instead of a
    changed-count job): a diameter-5 chain needs 5 propagation rounds
    — the monotone-sum criterion must not stop early — and an EMPTY
    pair list (sum aggregate returns NULL) must terminate immediately
    with zero label rows rather than loop."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "doc_a long, doc_b long"
    )
    out = {r.doc: r.cluster_id for r in dedup.duplicate_clusters(chain).collect()}
    assert out == {i: 1 for i in range(1, 8)}
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.duplicate_clusters(empty).collect() == []


def test_duplicate_clusters_rejects_non_numeric_ids(spark):
    """Round-17 advisor: string ids cast to NULL under the sum-based
    convergence test and would silently return under-merged clusters —
    the operator must fail loudly at entry instead."""
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "doc_a string, doc_b string"
    )
    with _pytest.raises(TypeError, match="numeric"):
        dedup.duplicate_clusters(pairs)


def test_cluster_survivors_picks_best_quality_with_min_id_ties(spark):
    """Planted clusters with hand-built scores: the survivor must be
    the argmax-score member (NOT min id), ties break to min id, and
    removed-size accounting excludes exactly the survivor."""
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc long, cluster_id long",
    )
    scored = spark.createDataFrame(
        # cluster 1: doc 2 wins on score (min-id convention would say 1)
        # cluster 10: scores tie -> min id 10 wins
        [(1, 50, 100), (2, 90, 200), (3, 50, 300), (10, 70, 400), (11, 70, 500)],
        "doc long, p_u long, n_chars long",
    )
    out = {r.cluster_id: r for r in dedup.cluster_survivors(clusters, scored).collect()}
    c1, c10 = out[1], out[10]
    assert (c1.survivor_doc, c1.survivor_score) == (2, 90)
    assert (c1.n_members, c1.n_removed, c1.removed_n_chars) == (3, 2, 400)
    assert (c10.survivor_doc, c10.survivor_score) == (10, 70)
    assert (c10.n_members, c10.n_removed, c10.removed_n_chars) == (2, 1, 500)


def test_cluster_survivors_randomized_equivalence(spark):
    """Randomized check vs a brute-force Python reference: for random
    cluster assignments and scores (with deliberate score ties), the
    max_by aggregation must agree with sort-and-pick-first on every
    cluster, and the accounting must be exact."""
    import random

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        n = 120
        rows = [
            (i, rng.randrange(8), rng.randrange(5), rng.randrange(1, 1000))
            for i in range(n)
        ]
        clusters = spark.createDataFrame(
            [(i, c) for i, c, _, _ in rows], "doc long, cluster_id long"
        )
        scored = spark.createDataFrame(
            [(i, s, ch) for i, _, s, ch in rows],
            "doc long, p_u long, n_chars long",
        )
        got = {r.cluster_id: r for r in dedup.cluster_survivors(clusters, scored).collect()}
        by_cluster: dict[int, list[tuple[int, int, int]]] = {}
        for i, c, s, ch in rows:
            by_cluster.setdefault(c, []).append((i, s, ch))
        assert set(got) == set(by_cluster)
        for c, members in by_cluster.items():
            best = sorted(members, key=lambda t: (-t[1], t[0]))[0]
            r = got[c]
            assert (r.survivor_doc, r.survivor_score) == (best[0], best[1]), (seed, c)
            assert r.n_members == len(members)
            assert r.n_removed == len(members) - 1
            assert r.removed_n_chars == sum(ch for _, _, ch in members) - best[2]


def test_ivf_multiprobe_recall_dominates_single_probe(spark):
    """Hamming-1 multi-probe must (a) score identically to brute force
    on every pair it returns, and (b) never lose a candidate the single
    probe found — strictly more buckets are scanned per query, so
    recall vs the exact top-k can only go up."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = similarity.as_queries(emb.filter(F.col("vec_id") < 20))
    bf_top = {
        (r.q_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    single = similarity.ivf_topk(emb, queries)
    multi = similarity.ivf_topk(emb, queries, hamming_probes=1)
    s_hits = {(r.q_id, r.vec_id) for r in single.collect()} & bf_top
    m_hits = {(r.q_id, r.vec_id) for r in multi.collect()} & bf_top
    assert len(m_hits) >= len(s_hits)


def test_simhash_valve_engages_on_band_crowd_corpus(spark):
    """End-to-end at the DEFAULT bound: a template-crowd TEXT corpus
    concentrates >256 distinct fingerprints on one band key, the
    hot-bucket valve engages (candidate set strictly shrinks), and the
    verified Hamming<=3 pair set is identical to the unvalved join."""
    from pyspark.sql import functions as F

    from .band_crowd import build_band_crowd_corpus

    rows, expected = build_band_crowd_corpus(n_variants=300, n_twins=20)
    assert expected["n_planted_twins"] == 20
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    usig = (
        dedup.simhash_signatures(docs)
        .select("sig", "chunks")
        .distinct()
        .persist()
    )
    try:
        banded = usig.select(
            "sig",
            F.explode(F.array(*dedup._manku_band_keys(F.col("sig")))).alias("bk"),
        )
        max_bucket = banded.groupBy("bk").count().agg(F.max("count")).collect()[0][0]
        assert max_bucket > 256  # the default valve threshold WILL fire

        def run(bound):
            cand = dedup.simhash_band_candidates(usig, bound)
            verified = {
                (r.sig_a, r.sig_b)
                for r in cand.filter(
                    F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))) <= 3
                ).collect()
            }
            return cand.count(), verified

        n_valved, tp_valved = run(256)
        n_unvalved, tp_unvalved = run(None)
        assert n_valved < n_unvalved  # the valve actually cut candidates
        assert tp_valved == tp_unvalved  # ...without losing a single pair
        assert len(tp_valved) >= 20  # at least the planted twins verify
    finally:
        usig.unpersist()
