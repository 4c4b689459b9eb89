#!/usr/bin/env python
"""Scale rehearsal for the dedup/ANN operator family (SCALE.md §Dedup).

Runs the quadratic-hazard operators across the full 100x span of
available scale factors (sf0.001 -> sf0.1) and records, per SF:

- wall time per operator
- CANDIDATE pair counts (the pre-verification join fan-out — the
  number that must stay near-linear for the banded designs to hold)
- output pair counts

Prints one JSON line per (sf, op) plus a final summary with the
log10 growth exponent of candidates vs corpus size between the
smallest and largest SF (1.0 = perfectly linear; the banded designs
should sit near 1, the exact-Jaccard path is the one to watch).

Usage: python scripts/scale_rehearsal.py [--max-df N]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_dla_kinesis_delivery_stream_example_spark.operators import curation, dedup  # noqa: E402
from aws_dla_kinesis_delivery_stream_example_spark.session import get_spark  # noqa: E402
from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table  # noqa: E402

SFS = [("0.001", "/root/testdata/sf0.001"), ("0.01", "/root/testdata/sf0.01"), ("0.1", "/root/testdata/sf0.1")]


def synthesize_10x(src_dir: str, factor: int = 10) -> str:
    """Deterministic ``factor``x documents(+embeddings) set: replicate
    sf0.1 with per-replica perturbation (no driver dependency; written
    under /tmp).

    The growth model is 'the corpus grew ``factor``x with the same
    duplicate DENSITY', not 'copies of everything': replica k>0
    prefixes every token with r{k} (disjoint vocabulary per replica, so
    no spurious cross-replica near-dups — within-replica structure is
    preserved verbatim) and adds seeded N(0, 0.05) noise to embeddings
    (cluster geometry persists, exact duplicates stop being exact).
    Embeddings are synthesized at EVERY factor since round 10 (the
    100x tier now also curves the q110 quantized-ANN family, verdict
    r9 Next #4). One-time cost, keyed by source mtime.
    """
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd  # noqa: F401 (pyarrow->pandas roundtrip)
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = hashlib.md5(
        f"{src_dir}:{os.path.getmtime(os.path.join(src_dir, 'documents.parquet'))}".encode()
    ).hexdigest()[:10]
    out_dir = os.path.join("/tmp", f"spark_graft_scale{factor}x_{key}")
    # marker v2: v1 dirs at factor!=10 lack embeddings.parquet (the
    # 100x tier only curved text ops before round 10) — rebuild those
    marker = os.path.join(out_dir, "_SYNTH_OK2")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)

    docs = pq.read_table(os.path.join(src_dir, "documents.parquet")).to_pandas()
    tok = _re.compile(r"[A-Za-z0-9]+")
    frames = []
    for k in range(factor):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + k * 10_000_000
        if k:
            pre = f"r{k}"
            d["text"] = d["text"].map(
                lambda s, p=pre: tok.sub(lambda m: p + m.group(0), s)
                if isinstance(s, str)
                else s
            )
        frames.append(d)
    big = pd.concat(frames, ignore_index=True)
    pq.write_table(pa.Table.from_pandas(big, preserve_index=False),
                   os.path.join(out_dir, "documents.parquet"))

    emb = pq.read_table(os.path.join(src_dir, "embeddings.parquet")).to_pandas()
    mat = np.vstack(emb["embedding"].to_numpy()).astype("float32")
    eframes = []
    for k in range(factor):
        e = emb.copy()
        e["vec_id"] = e["vec_id"] + k * 10_000_000
        m = mat if k == 0 else mat + np.random.default_rng(k).normal(
            0.0, 0.05, mat.shape
        ).astype("float32")
        e["embedding"] = list(m)
        eframes.append(e)
    bige = pd.concat(eframes, ignore_index=True)
    pq.write_table(pa.Table.from_pandas(bige, preserve_index=False),
                   os.path.join(out_dir, "embeddings.parquet"))
    open(marker, "w").close()
    return out_dir


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, round(time.perf_counter() - t0, 2)


# ---------------------------------------------------------------------------
# SimHash valve engagement (VERDICT r06 ask #4): a template-crowded corpus
# whose band bucket exceeds max_band_bucket, so the chunk-refinement valve
# demonstrably ENGAGES in a measured run (the unit tests exercise it only on
# synthetic signatures).
# ---------------------------------------------------------------------------

_MANKU_OFFS = (0, 11, 22, 33, 44, 54)
_MANKU_WIDTHS = (11, 11, 11, 11, 10, 10)
_PROT_BLOCKS = (0, 2, 4)  # one clean block-triple = band shared by ALL variants


def _sig_row(tok: str):
    """±1 contribution of one token to the 64 sig bits (index b = sig
    bit b) — the same md5 math as dedup.simhash_signatures, replicated
    offline so the corpus can be CONSTRUCTED to crowd a band bucket."""
    import hashlib

    import numpy as np

    d = hashlib.md5(tok.encode()).digest()[:8]
    row = np.unpackbits(np.frombuffer(d, np.uint8)).astype(np.int64)
    return (2 * row - 1)[::-1]  # unpackbits index k is sig bit 63-k


def build_band_crowd_corpus(seed: int = 7, n_variants: int = 600, n_twins: int = 60):
    """Deterministic adversarial template corpus: >256 DISTINCT sigs on
    ONE Manku band key (the boilerplate-template shape that crowds band
    buckets at web scale), constructed offline from the operator's own
    public md5 bit math.

    Shape: a steered-greedy template whose bit-sums are sign-stable
    (|s| >= 16) on blocks {0,2,4} — so every variant shares that
    block-triple band key — and near zero on blocks {1,3,5}, which a
    per-variant filler (4 unique tokens x count 3, |delta| <= 12 < 16)
    flips variably.  The volatile blocks intersect all FOUR 16-bit
    chunks, so crowd pairs differ in every chunk and the valve's
    chunk-refined join can cut them; Hamming<=3 pairs always share a
    clean chunk (pigeonhole) and are preserved.  ``n_twins`` planted
    near-dups (one extra count-1 token, searched to flip 1-3 bits) make
    the true-pair set non-trivially non-empty.

    Returns (rows, expected): rows = [(doc_id, text)], expected = dict
    of offline-predicted stats (distinct sigs, crowd bucket size).
    """
    import numpy as np

    prot = sorted(
        b
        for j in _PROT_BLOCKS
        for b in range(_MANKU_OFFS[j], _MANKU_OFFS[j] + _MANKU_WIDTHS[j])
    )
    vol = sorted(set(range(64)) - set(prot))
    P, V = np.array(prot), np.array(vol)
    target_p = 16

    # steered greedy: each step adds the best of 512 candidate tokens —
    # push weak protected bits toward |s| >= target, volatile toward 0
    s = np.zeros(64, dtype=np.int64)
    tmpl: list[str] = []
    for it in range(3000):
        need_p = np.abs(s[P]) < target_p + 4
        weak_p = np.abs(s[P]) < target_p
        hot_v = np.abs(s[V]) > 4
        if not weak_p.any() and hot_v.sum() <= 8:
            break
        best_sc, best = -1e18, None
        for j in range(512):
            t = f"g{seed}x{it}x{j}"
            r = _sig_row(t)
            dirp = np.where(s[P] != 0, np.sign(s[P]), 1)
            sc = (r[P] * dirp * need_p).sum() + (r[V] * -np.sign(s[V]) * hot_v).sum()
            if sc > best_sc:
                best_sc, best = sc, (t, r)
        tmpl.append(best[0])
        s = s + best[1]
    assert np.abs(s[P]).min() >= target_p, "template construction failed to converge"

    def sig_of(total: "np.ndarray") -> int:
        v = (total > 0).astype(np.uint64)
        return int((v << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64))

    tmpl_text = " ".join(tmpl)
    rows, sigs = [], []
    base_totals = {}
    for vtx in range(n_variants):
        fills = [f"f{vtx}n{j}" for j in range(4)]
        tot = s + sum(3 * _sig_row(f) for f in fills)
        base_totals[vtx] = (fills, tot)
        rows.append((900_000_000 + vtx, tmpl_text + " " + " ".join(f + " " + f + " " + f for f in fills)))
        sigs.append(sig_of(tot))
    # twins: search a count-1 extra token that flips 1-3 bits of its base
    planted = 0
    for vtx in range(n_variants):
        if planted >= n_twins:
            break
        fills, tot = base_totals[vtx]
        for j in range(300):
            tw = f"tw{vtx}x{j}"
            tot2 = tot + _sig_row(tw)
            hd = bin(sig_of(tot) ^ sig_of(tot2)).count("1")
            if 1 <= hd <= 3:
                rows.append(
                    (
                        950_000_000 + vtx,
                        tmpl_text
                        + " "
                        + " ".join(f + " " + f + " " + f for f in fills)
                        + " "
                        + tw,
                    )
                )
                sigs.append(sig_of(tot2))
                planted += 1
                break
    uniq = set(sigs)
    expected = {
        "n_crowd_docs": len(rows),
        "n_planted_twins": planted,
        "expected_distinct_sigs": len(uniq),
    }
    assert len(uniq) > 256, "crowd must exceed the default max_band_bucket"
    return rows, expected


def _measure_valve(spark, docs) -> dict:
    """Candidate counts, wall time, and true-pair equivalence for the
    band join valved (max_band_bucket=256) vs unvalved (None)."""
    from pyspark.sql import functions as F

    from aws_dla_kinesis_delivery_stream_example_spark.operators import dedup

    # usig stays UNPERSISTED for the timed runs, matching the operator
    # as shipped: persisting it hides size statistics behind an
    # InMemoryRelation and flips the broadcast band joins to sort-merge
    # (measured 2.2s -> 5.9s on the 10x tier), which would distort the
    # absolute valved/unvalved wall times this function exists to
    # record. It is persisted only for the untimed diagnostics below
    # and unpersisted again before the first timed run.
    usig = (
        dedup.simhash_signatures(docs)
        .select("sig", "chunks")
        .distinct()
    )
    usig.persist()
    n_sigs = usig.count()
    banded = usig.select(
        "sig", F.explode(F.array(*dedup._manku_band_keys(F.col("sig")))).alias("bk")
    )
    max_bucket = banded.groupBy("bk").count().agg(F.max("count")).collect()[0][0]
    # diagnostics done — unpersist BEFORE the timed runs so they see
    # the operator as shipped (recomputing signatures inline, size
    # statistics visible to Catalyst -> broadcast band joins), not an
    # InMemoryRelation that flips the joins to sort-merge
    usig.unpersist(blocking=True)
    row = {
        "n_docs": docs.count(),
        "n_distinct_sigs": n_sigs,
        "max_band_bucket_size": int(max_bucket),
        "valve_threshold": 256,
    }
    # the whole point is a measured ENGAGED valve — fail loudly if the
    # corpus did not actually crowd a bucket past the threshold
    assert max_bucket > 256, f"valve would not engage: max bucket {max_bucket}"

    def run(max_band_bucket):
        # persist the candidate OUTPUT (the main-loop protocol): the
        # untimed true-pair decomposition then reads the materialized
        # candidates instead of re-executing the whole band join —
        # output-side persistence does not hide the INPUT's statistics,
        # so the timed join strategy is unaffected
        cand = dedup.simhash_band_candidates(usig, max_band_bucket=max_band_bucket).persist()
        n, sec = timed(cand.count)
        tp = {
            (r["sig_a"], r["sig_b"])
            for r in cand.filter(
                F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))) <= 3
            ).collect()
        }
        cand.unpersist()
        return n, sec, tp

    n_v, sec_v, tp_v = run(256)
    n_u, sec_u, tp_u = run(None)
    row.update(
        valved_candidates=n_v,
        valved_sec=sec_v,
        unvalved_candidates=n_u,
        unvalved_sec=sec_u,
        true_pairs=len(tp_v),
        true_pairs_equal=tp_v == tp_u,
        candidate_cut=round(1 - n_v / max(n_u, 1), 4),
    )
    return row


def extreme_tier_rehearsal(
    spark, src_dir: str, ref_row: dict | None, max_df: int | None = None
) -> dict:
    """100x tier (sf0.1 replicated to ~500k docs, disjoint per-replica
    vocabulary): the text-dedup candidate generators at a 1000x total
    span vs sf0.001. Measures the four operators whose banding/valving
    is the 100 TB design claim; exponents are computed against the 10x
    tier (``ref_row``) so the marginal decade is visible, not averaged
    away."""
    from pyspark.sql import functions as F

    from aws_dla_kinesis_delivery_stream_example_spark.operators import dedup
    from aws_dla_kinesis_delivery_stream_example_spark.operators import tfidf as TF

    tier_dir = synthesize_10x(src_dir, factor=100)
    docs = load_table(spark, tier_dir, "documents").select("doc_id", "text")
    row: dict = {"n_docs": docs.count()}

    cand, row["minhash_sec"] = timed(
        lambda: dedup.minhash_near_duplicates(docs, threshold=0.0).count()
    )
    row["minhash_candidates"] = cand
    spark.catalog.clearCache()

    usig = (
        dedup.simhash_signatures(docs)
        .select("sig", "chunks")
        .distinct()
    )
    cand_df = dedup.simhash_band_candidates(usig).persist()
    cand, row["simhash_sec"] = timed(cand_df.count)
    row["simhash_candidates"] = cand
    row["simhash_true_pairs"] = cand_df.filter(
        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))) <= 3
    ).count()
    cand_df.unpersist()
    spark.catalog.clearCache()

    # SAME max_df as the 10x reference row: the exponent below divides
    # this tier's candidates by ref_row's, so the two tiers must run
    # the identical operator configuration — a cap-free 100x tier vs a
    # df-capped 10x row would overstate the marginal-decade growth
    cand, row["jaccard_sec"] = timed(
        lambda: dedup.shingle_jaccard_pairs(docs, threshold=0.0, max_df=max_df).count()
    )
    row["jaccard_candidates"] = cand
    spark.catalog.clearCache()

    cand, row["tfidf_abs_sec"] = timed(
        lambda: TF.tfidf_cosine_pairs(
            docs, threshold=-1.0
        ).count()
    )
    row["tfidf_abs_candidates"] = cand
    spark.catalog.clearCache()

    # q93 duplicated-span coverage at the extreme tier: the operator's
    # claim is strict linearity in corpus tokens (no pair join), so the
    # marginal decade 50k -> 500k docs is where a hidden superlinearity
    # would surface. Candidates := total duplicated windows.
    from aws_dla_kinesis_delivery_stream_example_spark.operators import curation as CU

    spans = CU.duplicated_span_stats(docs).persist()
    _, row["spans_sec"] = timed(spans.count)
    row["spans_candidates"] = int(
        spans.agg(F.sum("n_dup_windows")).collect()[0][0] or 0
    )
    spans.unpersist()
    spark.catalog.clearCache()

    # q103 chunk-dedup rewrite at the extreme tier: like q93 it claims
    # strict linearity in corpus tokens (min-struct hash agg, no pair
    # join), so the marginal decade is where hidden superlinearity
    # would surface. Candidates := total chunks.
    rw = CU.chunk_dedup_rewrite(docs).persist()
    _, row["rewrite_sec"] = timed(rw.count)
    row["rewrite_candidates"] = int(
        rw.agg(F.sum("n_chunks")).collect()[0][0] or 0
    )
    rw.unpersist()
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging as _release,
    )

    _release()
    spark.catalog.clearCache()

    # q110 quantized ANN at the extreme tier (round-9 verdict Next #4):
    # the 10x candidate exponent was 1.6 and the catalog config pins
    # n_bits=3 (8 sign buckets), so candidates = sum_b |P_b| x |C_b|
    # grows ~quadratically at FIXED bucket count — measure that
    # honestly, then measure the VALVE: n_bits scaled with corpus size
    # (n_bits ~ log2(n/target_bucket_docs), the trained-quantizer
    # analog: cell count grows with the corpus so per-cell density —
    # and with it per-probe work — stays constant). Both tiers of the
    # exponent computation use the 10x row's fixed-bits candidates.
    from aws_dla_kinesis_delivery_stream_example_spark.functions import (
        vectors as _V,
    )
    from aws_dla_kinesis_delivery_stream_example_spark.operators import (
        similarity as SIM,
    )

    emb = load_table(spark, tier_dir, "embeddings")
    row["n_vecs"] = emb.count()

    def _qcand(n_bits: int) -> int:
        b = emb.select("vec_id", _V.sign_bucket("embedding", n_bits).alias("bucket"))
        return (
            b.filter(F.col("vec_id") % 2 == 1)
            .join(
                b.filter(F.col("vec_id") % 2 == 0).withColumnRenamed("vec_id", "nbr"),
                "bucket",
            )
            .count()
        )

    row["quantann_candidates"], row["quantann_cand_sec"] = timed(
        lambda: _qcand(3)
    )
    # valve: keep ~2.5k vectors per bucket (the 10x tier's density at
    # n_bits=3: 20k vecs / 8 buckets) => n_bits grows by ~3.3 per
    # decade; at this tier (200k vecs) that lands on n_bits=6.
    valve_bits = max(3, int(math.log2(max(row["n_vecs"], 1) / 2500)))
    row["quantann_valve_bits"] = valve_bits
    row["quantann_valved_candidates"], row["quantann_valved_cand_sec"] = timed(
        lambda: _qcand(valve_bits)
    )
    # end-to-end GEMM path at the valve config (the catalog's top-k,
    # bucket count scaled) — the wall a 100 TB deployment pays
    _, row["quantann_valved_sec"] = timed(
        lambda: SIM.quantized_topk(
            emb,
            probe_pred=F.col("vec_id") % 2 == 1,
            corpus_pred=F.col("vec_id") % 2 == 0,
            n_bits=valve_bits,
        ).count()
    )
    spark.catalog.clearCache()

    # q119 fuzzy decontam at the extreme tier: bench PINNED to the
    # smallest driver tier's slice (an eval suite does not grow with
    # the crawl), candidates := blocked pairs the O(len^2) levenshtein
    # verify must score. Blocking volume is |bench shingles| x df — in
    # this synth model replicas have disjoint vocabulary so df of
    # bench shingles is constant and candidates should stay ~FLAT
    # across tiers (exponent ~0); the corpus-scan side (shingling
    # 500k docs) is the linear cost, visible in fuzzy_sec.
    bench_fixed = (
        load_table(spark, SFS[0][1], "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .select("doc_id", "text")
    )
    from aws_dla_kinesis_delivery_stream_example_spark.operators.dedup import (
        _shingle_hash_rows as _shr,
    )

    cand_docs = docs.filter(F.col("doc_id") % 50 != 0)
    bsh = (
        _shr(bench_fixed, "doc_id", 4)
        .select(F.col("doc").alias("bid"), "h")
        .distinct()
    )
    csh = _shr(cand_docs, "doc_id", 4).select(
        F.col("doc").alias("cid"), "h"
    )
    row["fuzzy_candidates"] = (
        csh.join(F.broadcast(bsh), "h").select("cid", "bid").distinct().count()
    )
    _, row["fuzzy_sec"] = timed(
        lambda: CU.fuzzy_contamination(cand_docs, bench_fixed).count()
    )
    _release()
    spark.catalog.clearCache()

    # round-13: SNM at the extreme tier — the order-based blocker's
    # whole claim is candidates <= w*n regardless of content, so the
    # marginal decade 50k -> 500k docs must show exponent ~1.0 and the
    # rank build must not degrade (the distributed-rank design is
    # exactly what a naive port breaks at this size).
    from aws_dla_kinesis_delivery_stream_example_spark.plans import (
        curation11 as _c11,
    )

    rk = _c11.snm_global_rank(docs)
    bnd = (F.col("grank") / _c11._SNM_W).cast("long")
    lft = rk.select(F.col("doc_id").alias("ida"), F.col("grank").alias("ga"), bnd.alias("b"))
    rgt = rk.select(
        F.col("doc_id").alias("idb"),
        F.col("grank").alias("gb"),
        F.explode(F.array(bnd, bnd - 1)).alias("b"),
    )
    cand, row["snm_cand_sec"] = timed(
        lambda: lft.join(rgt, "b")
        .filter((F.col("gb") - F.col("ga")).between(1, _c11._SNM_W))
        .count()
    )
    row["snm_candidates"] = cand
    # the @query decorator returns the function itself, so the module
    # attribute is directly callable on the synth tier dir
    _, row["snm_sec"] = timed(
        lambda: _c11.q138_sorted_neighborhood(spark, tier_dir).count()
    )
    _release()
    spark.catalog.clearCache()

    # round-13: DSIR at the extreme tier — candidates := token
    # occurrences (linear), bucket state must stay <= 256 (the
    # corpus-independence pin at half a million docs).
    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation12 import (
        q140_dsir_reweight as _q140,
    )

    _, row["dsir_sec"] = timed(lambda: _q140(spark, tier_dir).count())
    _tok = docs.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("t")
    )
    row["dsir_candidates"] = _tok.count()
    row["dsir_buckets"] = (
        _tok.select(
            F.expr(
                "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % 256"
            ).alias("bkt")
        )
        .distinct()
        .count()
    )
    assert row["dsir_buckets"] <= 256
    _release()
    spark.catalog.clearCache()

    # round-14: q143 PII audit at the extreme tier — one codegen scan,
    # candidates := docs (linear by construction), state = |sources|.
    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation13 import (
        q143_pii_audit as _q143,
    )

    _, row["pii_sec"] = timed(lambda: _q143(spark, tier_dir).count())
    row["pii_candidates"] = row["n_docs"]
    _release()
    spark.catalog.clearCache()

    # round-15: dHash at the extreme tier, BOTH geometries (round-14
    # verdict Next #5) — the wide remedy's collision claim MEASURED at
    # ~500k images: the bench 16-bit bands saturate (candidate exponent
    # drifts toward 2 — C(n,2)*4/2^16 collisions dominate the planted
    # n/9 floor), while the wide 64-bit bands hold the linear floor.
    from aws_dla_kinesis_delivery_stream_example_spark.operators import (
        multimodal as _mm,
    )
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        stage as _stage,
    )

    _media = _stage(_mm.synthesize_gray_bmp(docs))
    _media.count()  # materialize the decode outside both timing
    # windows (round-15 review) — *_cand_sec below are candidates-only
    # walls from cached pixels, symmetric between geometries; the full
    # q146 query is not run at this tier, so no dhash_sec key here
    _sigs = _stage(_mm.dhash_bands(_media))
    row["dhash_candidates"], row["dhash_cand_sec"] = timed(
        lambda: _mm.dhash_band_candidates(_sigs).count()
    )
    _wide = _stage(_mm.dhash_bands(_media, grid=_mm.DHASH_GEOM_WIDE))
    row["dhash_wide_candidates"], row["dhash_wide_cand_sec"] = timed(
        lambda: _mm.dhash_band_candidates(_wide).count()
    )
    _release()
    spark.catalog.clearCache()

    if ref_row:
        growth = math.log10(row["n_docs"] / max(ref_row["n_docs"], 1))
        for op in ("minhash", "simhash", "jaccard", "tfidf_abs", "spans", "rewrite",
                   "quantann", "fuzzy", "snm", "dsir", "pii", "dhash",
                   "dhash_wide"):
            if f"{op}_candidates" not in ref_row:
                continue
            c_lo = max(ref_row[f"{op}_candidates"], 1)
            c_hi = max(row[f"{op}_candidates"], 1)
            row[f"{op}_exponent_vs_10x"] = round(
                math.log10(c_hi / c_lo) / growth, 2
            )
        if "quantann_candidates" in ref_row:
            row["quantann_valved_exponent_vs_10x"] = round(
                math.log10(
                    max(row["quantann_valved_candidates"], 1)
                    / max(ref_row["quantann_candidates"], 1)
                ) / growth, 2
            )
    return row


def simhash_valve_rehearsal(spark, base_dir: str) -> dict:
    """Two measured tiers with the hot-bucket valve ENGAGED:

    - ``engaged``: base-tier documents + a 600-variant crowd — the
      realistic mix; asserts true-pair equivalence and records the
      candidate cut. At this size the valve's extra stages COST wall
      time (the 217k-pair bucket is trivially cheap locally); what it
      buys is the candidate bound.
    - ``crossover``: a 20,000-variant crowd — the bucket's O(m^2) is
      now the dominant term and the valve wins wall time outright,
      the shape a 100 TB boilerplate crowd takes.
    """
    crowd_rows, expected = build_band_crowd_corpus()
    crowd = spark.createDataFrame(crowd_rows, "doc_id long, text string")
    base = load_table(spark, base_dir, "documents").select("doc_id", "text")
    engaged = {**expected, **_measure_valve(spark, base.unionByName(crowd))}

    big_rows, big_expected = build_band_crowd_corpus(n_variants=20_000, n_twins=60)
    big = spark.createDataFrame(big_rows, "doc_id long, text string")
    crossover = {**big_expected, **_measure_valve(spark, big)}
    return {"engaged": engaged, "crossover": crossover}


def main() -> None:
    max_df = None
    if "--max-df" in sys.argv:
        max_df = int(sys.argv[sys.argv.index("--max-df") + 1])
    tiers = list(SFS)
    if "--with-10x" in sys.argv:
        tiers.append(("1.0-synth", synthesize_10x(SFS[-1][1])))
    # Local-mode sizing for the long multi-tier run: driver == executor,
    # so a long full-GC pause (measured 144 s during the 100x tier once
    # the heap had churned through the whole sweep) can miss the default
    # 10 s heartbeats past the 120 s network timeout — Spark then
    # removes its own executor and every cached plan dies
    # (CacheManager NPEs). Raise both; they are diagnostics knobs, not
    # measurement inputs.
    spark = get_spark(
        extra_conf={
            "spark.executor.heartbeatInterval": "60s",
            "spark.network.timeout": "600s",
        }
    )
    results: dict[str, dict] = {}
    for sf, sf_dir in tiers:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        n_docs = docs.count()
        row: dict = {"n_docs": n_docs}

        # exact n-gram Jaccard: candidates = pairs sharing >=1 shingle
        cand, row["jaccard_sec"] = timed(
            lambda: dedup.shingle_jaccard_pairs(docs, threshold=0.0, max_df=max_df).count()
        )
        row["jaccard_candidates"] = cand

        # MinHash LSH: candidates = banded-join pairs (threshold 0)
        cand, row["minhash_sec"] = timed(
            lambda: dedup.minhash_near_duplicates(docs, threshold=0.0).count()
        )
        row["minhash_candidates"] = cand

        # SimHash: candidates = PRE-verification band-collision sig
        # pairs at the production radius (Manku block-triple banding,
        # round-6 hot-bucket valve at its defaults). Also decompose the
        # candidate set: how many pass the Hamming<=3 verify (the rest
        # cost one XOR+POPCNT each), and how crowded the worst band
        # bucket is (the valve's trigger signal).
        from pyspark.sql import functions as _F

        # persist the CANDIDATE set so the true-pairs decomposition does
        # not re-run the expensive band join. The distinct-sig input
        # stays UNPERSISTED on purpose: persisting it hides the size
        # statistics that let Catalyst broadcast the band self-joins
        # (measured 2.2 -> 5.9 s on q28), which would distort the very
        # timing this rehearsal records.
        usig = (
            dedup.simhash_signatures(docs)
            .select("sig", "chunks")
            .distinct()
        )
        cand_df = dedup.simhash_band_candidates(usig).persist()
        cand, row["simhash_sec"] = timed(cand_df.count)
        row["simhash_candidates"] = cand
        row["simhash_true_pairs"] = cand_df.filter(
            _F.bit_count(_F.col("sig_a").bitwiseXOR(_F.col("sig_b"))) <= 3
        ).count()
        banded = usig.select(
            "sig",
            _F.explode(_F.array(*dedup._manku_band_keys(_F.col("sig")))).alias("bk"),
        )
        row["simhash_max_bucket"] = (
            banded.groupBy("bk").count().agg(_F.max("count")).collect()[0][0]
        )
        cand_df.unpersist()

        # clusters over the q49-style pair set
        pairs = dedup.shingle_jaccard_pairs(docs, threshold=0.5, max_df=max_df)
        n_clustered, row["clusters_sec"] = timed(lambda: dedup.duplicate_clusters(pairs).count())
        row["clustered_docs"] = n_clustered

        # contamination: candidate shingle hits against a FIXED-size
        # benchmark set (a real eval set does not grow with the corpus)
        # — the broadcast side is constant, so hits must grow ~linearly
        # with the corpus
        from pyspark.sql import functions as F

        full = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
        bench = full.filter(F.col("doc_id") < 10)
        cand_docs = full.filter(F.col("doc_id") >= 10)
        n_hits, row["contam_sec"] = timed(
            lambda: curation.contaminated_ids(cand_docs, bench).count()
        )
        row["contam_candidates"] = n_hits

        # boilerplate: the df-count aggregation is linear; the hazard is
        # the boilerplate-set size (broadcast back) — track it
        n_boiler, row["boiler_sec"] = timed(
            lambda: curation.boilerplate_ratio(full)
            .filter("n_boiler > 0")
            .count()
        )
        row["boiler_candidates"] = n_boiler

        # semantic dedup: candidate pairs are bounded by sum over
        # clusters of n_c^2/2 ~ n^2/k — the blocking must keep the
        # within-cluster pair count near n^2/k, NOT n^2 (growth
        # exponent ~2 of cluster-local candidates is expected and fine;
        # the win is the constant 1/k and bucket-locality: no shuffle
        # of the pair space, only of assignments)
        from aws_dla_kinesis_delivery_stream_example_spark.operators import clustering

        emb = load_table(spark, sf_dir, "embeddings")
        # at the 10x tier the unvalved threshold-0 pair count (~n^2/k)
        # would be ~156M rows of count-only output; engage the
        # documented hot-cluster valve instead — the exponent then
        # shows the valve flattening the cluster-local quadratic, which
        # is exactly the 100 TB operating mode
        sub_blocks = 4 if sf == "1.0-synth" else None
        row["semdedup_sub_blocks"] = sub_blocks
        n_pairs, row["semdedup_sec"] = timed(
            lambda: clustering.semantic_near_duplicates(
                emb, threshold=0.0, sub_blocks=sub_blocks
            ).count()
        )
        row["semdedup_candidates"] = n_pairs

        # sparse TF-IDF: candidates = pairs sharing >=1 surviving token
        # (threshold disabled). The greatest(floor, frac*n) valve keeps
        # per-token fan-out bounded relative to the corpus; candidate
        # growth should track the near-dup population, not n^2.
        from aws_dla_kinesis_delivery_stream_example_spark.operators import tfidf as TF

        n_tf, row["tfidf_sec"] = timed(
            lambda: TF.tfidf_cosine_pairs(
                docs, threshold=-1.0, max_df_frac=0.1
            ).count()
        )
        row["tfidf_candidates"] = n_tf

        # the ABSOLUTE cap is the documented 100 TB mode: candidate
        # growth must flatten once df outgrows the cap (the relative
        # mode above is the catalog/test-fixture mode and is allowed
        # to grow ~quadratically on the planted near-dup population)
        n_tfa, row["tfidf_abs_sec"] = timed(
            lambda: TF.tfidf_cosine_pairs(
                docs, threshold=-1.0
            ).count()
        )
        row["tfidf_abs_candidates"] = n_tfa

        # RECALL, not just cost (VERDICT r06 ask #3): the absolute mode
        # is cost-flat partly by finding nothing once df outgrows the
        # cap. Ground truth = CAP-FREE exact jaccard >= 0.5 pairs (the
        # q49 near-dup definition, max_df=None regardless of --max-df);
        # report how many of those each capped tfidf candidate set
        # recovers. Runs after the timed measurements so nothing here
        # warms them.
        truth = (
            dedup.shingle_jaccard_pairs(docs, threshold=0.5, max_df=None)
            .select("doc_a", "doc_b")
            .persist()
        )
        row["n_true_pairs"] = truth.count()
        frac_cand = TF.tfidf_cosine_pairs(
            docs, threshold=-1.0, max_df_frac=0.1
        ).select("doc_a", "doc_b")
        row["tfidf_true_pairs"] = truth.join(
            frac_cand, ["doc_a", "doc_b"], "left_semi"
        ).count()
        abs_cand = TF.tfidf_cosine_pairs(
            docs, threshold=-1.0
        ).select("doc_a", "doc_b")
        row["tfidf_abs_true_pairs"] = truth.join(
            abs_cand, ["doc_a", "doc_b"], "left_semi"
        ).count()
        # the documented handoff: MinHash recovers the template-dup
        # population the df-capped tfidf modes go blind to — measure it
        # on the same truth set so the claim carries a number
        mh_cand = dedup.minhash_near_duplicates(docs, threshold=0.0).select("doc_a", "doc_b")
        row["minhash_true_pairs"] = truth.join(
            mh_cand, ["doc_a", "doc_b"], "left_semi"
        ).count()
        truth.unpersist()

        # q93 duplicated-span coverage (EXACTSUBSTR-style): per-doc
        # output, NO pair join anywhere — its "candidates" analog is
        # the total duplicated-window count, which must track corpus
        # token count ~linearly (the operator's whole design claim).
        from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
            release_staging,
        )
        from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs

        specs = all_specs()
        spans = specs["q93_duplicated_spans"].spark(spark, sf_dir).persist()
        _, row["spans_sec"] = timed(spans.count)
        sp = spans.agg(
            F.sum("n_dup_windows").alias("dw"),
            F.sum("dup_tokens").alias("dt"),
            F.sum("n_tokens").alias("nt"),
        ).collect()[0]
        row["spans_candidates"] = int(sp["dw"] or 0)
        row["spans_dup_tokens"] = int(sp["dt"] or 0)
        row["spans_corpus_tokens"] = int(sp["nt"] or 0)
        spans.unpersist()
        release_staging()
        spark.catalog.clearCache()

        # q94 quality-aware survivor selection: one max_by hash agg
        # over the clustered membership — candidates := total cluster
        # members fed to the agg (the shuffled row count; the agg
        # state itself is one struct per cluster per task).
        surv = specs["q94_dedup_survivors"].spark(spark, sf_dir).persist()
        n_clusters, row["survivors_sec"] = timed(surv.count)
        row["survivors_clusters"] = n_clusters
        row["survivors_candidates"] = int(
            surv.agg(F.sum("n_members")).collect()[0][0] or 0
        )
        surv.unpersist()
        release_staging()
        spark.catalog.clearCache()

        # q95 end-to-end curation pipeline: wall time per tier plus
        # the funnel totals — candidates := docs entering the final
        # (token-budget) stage, the volume every staged boundary has
        # to carry; must grow ~linearly with the corpus.
        pipe = specs["q95_curation_pipeline"].spark(spark, sf_dir).persist()
        n_sources, row["pipeline_sec"] = timed(pipe.count)
        pp = pipe.agg(
            F.sum("n_input").alias("ni"),
            F.sum("n_decontam").alias("nd"),
            F.sum("n_kept").alias("nk"),
            F.sum("tokens_kept").alias("tk"),
        ).collect()[0]
        row["pipeline_sources"] = n_sources
        row["pipeline_input_docs"] = int(pp["ni"] or 0)
        row["pipeline_candidates"] = int(pp["nd"] or 0)
        row["pipeline_kept_docs"] = int(pp["nk"] or 0)
        row["pipeline_kept_tokens"] = int(pp["tk"] or 0)
        pipe.unpersist()
        release_staging()

        # round-8 additions: q96 overlap audit (broadcast-bench family
        # — candidates := candidate shingle rows hitting the bench
        # set), q98 chunking (candidates := chunks, = tokens/stride by
        # construction), q99 similar-doc graph (df-capped pair family
        # — candidates := symmetrized ranked edges kept), q100 cross
        # dedup (bucket-blocked GEMM — candidates := emitted pairs at
        # the calibrated 0.42 gate). q97 is two tiny aggs — no hazard
        # to curve.
        ov = specs["q96_contamination_overlap"].spark(spark, sf_dir).persist()
        _, row["overlap_sec"] = timed(ov.count)
        row["overlap_candidates"] = int(ov.agg(F.sum("n_hit")).collect()[0][0] or 0)
        ov.unpersist()
        release_staging()
        spark.catalog.clearCache()

        n_chunks, row["chunking_sec"] = timed(
            lambda: specs["q98_token_chunking"].spark(spark, sf_dir).count()
        )
        row["chunking_candidates"] = n_chunks

        knn = specs["q99_similar_doc_graph"].spark(spark, sf_dir).persist()
        n_edges, row["knngraph_sec"] = timed(knn.count)
        row["knngraph_candidates"] = n_edges
        knn.unpersist()
        release_staging()
        spark.catalog.clearCache()

        n_xd, row["crossdedup_sec"] = timed(
            lambda: specs["q100_embedding_cross_dedup"].spark(spark, sf_dir).count()
        )
        row["crossdedup_candidates"] = n_xd
        release_staging()

        # round-8 second batch: q103 rewrite (chunk family — candidates
        # := total chunks, linear in corpus tokens by construction;
        # removed-chunk count recorded alongside), q106 source overlap
        # (per-shingle source-set fold — candidates := summed shared-
        # shingle counts across pairs), q107 pagerank (df-capped pair
        # family — candidates := symmetric edge count, sum(degree)).
        # q104 is two k-row-output windows (no hazard to curve); q105
        # is one linear window pass over events, timed on the REAL
        # tiers only (the synth tiers replicate documents, not events).
        rw = specs["q103_chunk_dedup_rewrite"].spark(spark, sf_dir).persist()
        _, row["rewrite_sec"] = timed(rw.count)
        rr = rw.agg(
            F.sum("n_chunks").alias("nc"),
            F.sum(F.col("n_chunks") - F.col("n_kept")).alias("rm"),
        ).collect()[0]
        row["rewrite_candidates"] = int(rr["nc"] or 0)
        row["rewrite_removed_chunks"] = int(rr["rm"] or 0)
        rw.unpersist()
        release_staging()
        spark.catalog.clearCache()

        # q155 line-level dedup rewrite (round-16): NO pair space
        # anywhere — candidates := total line occurrences entering the
        # keep decision (= sum n_lines), linear in the corpus by
        # construction; the hazard is boilerplate-line key skew, which
        # the two-level (lhash, doc) agg spreads over doc_id before
        # the per-lhash count. The 10x synth tier keeps per-replica
        # plant structure (disjoint vocab, shifted doc_id strata), so
        # the exponent must sit at ~1.0.
        ld = specs["q155_line_dedup_rewrite"].spark(spark, sf_dir).persist()
        _, row["linededup_sec"] = timed(ld.count)
        lr = ld.agg(
            F.sum("n_lines").alias("nl"),
            F.sum("removed_lines").alias("rm"),
        ).collect()[0]
        row["linededup_candidates"] = int(lr["nl"] or 0)
        row["linededup_removed_lines"] = int(lr["rm"] or 0)
        ld.unpersist()
        release_staging()
        spark.catalog.clearCache()

        so = specs["q106_source_overlap"].spark(spark, sf_dir).persist()
        _, row["srcoverlap_sec"] = timed(so.count)
        row["srcoverlap_candidates"] = int(
            so.agg(F.sum("n_shared")).collect()[0][0] or 0
        )
        so.unpersist()
        release_staging()
        spark.catalog.clearCache()

        pr = specs["q107_doc_pagerank"].spark(spark, sf_dir).persist()
        _, row["pagerank_sec"] = timed(pr.count)
        row["pagerank_candidates"] = int(
            pr.agg(F.sum("degree")).collect()[0][0] or 0
        )
        pr.unpersist()
        release_staging()
        spark.catalog.clearCache()

        # round-9 additions with a scale hazard to curve: q109 novelty
        # (shingle-family — candidates := distinct (doc, shingle) rows
        # feeding the firsts agg, must track corpus tokens ~linearly)
        # and q110 quantized ANN (bucket-join family — candidates :=
        # probe x corpus pairs through the shared sign bucket, the
        # q100/crossdedup shape). q111/q112/q113 are linear single-pass
        # or constant-state (no hazard); q114 composes two already-
        # curved generators.
        nov = specs["q109_shingle_novelty"].spark(spark, sf_dir).persist()
        _, row["novelty_sec"] = timed(nov.count)
        row["novelty_candidates"] = int(
            nov.agg(F.sum("n_shingles")).collect()[0][0] or 0
        )
        nov.unpersist()
        release_staging()
        spark.catalog.clearCache()

        if os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
            from aws_dla_kinesis_delivery_stream_example_spark.functions import (
                vectors as _V,
            )

            embq = load_table(spark, sf_dir, "embeddings").select(
                "vec_id", _V.sign_bucket("embedding", 3).alias("bucket")
            )
            qpairs = embq.filter(F.col("vec_id") % 2 == 1).join(
                embq.filter(F.col("vec_id") % 2 == 0).withColumnRenamed(
                    "vec_id", "nbr"
                ),
                "bucket",
            )
            row["quantann_candidates"], _qsec = timed(qpairs.count)
            _, row["quantann_sec"] = timed(
                lambda: specs["q110_quantized_ann"].spark(spark, sf_dir).count()
            )
            spark.catalog.clearCache()

        # q104 weighted sampling: two bounded windows — the curve to
        # watch is the stage-1 shuffled volume (candidates := corpus
        # rows entering the salted rank), which must stay linear while
        # the OUTPUT stays k x |strata| x const. Wall per tier recorded.
        n_sample_out, row["sampling_sec"] = timed(
            lambda: specs["q104_weighted_sample"].spark(spark, sf_dir).count()
        )
        row["sampling_candidates"] = row["n_docs"]
        row["sampling_output_rows"] = n_sample_out
        release_staging()
        spark.catalog.clearCache()

        # round-9c: q119 fuzzy decontam. The catalog query's benchmark
        # is a corpus slice (doc_id % 50), which GROWS with the tier —
        # at 100 TB the eval set is FIXED, so the rehearsal isolates
        # the true story: bench pinned to the SMALLEST tier's slice,
        # candidates := blocked (cand, bench) pairs — the volume the
        # O(len^2) levenshtein verify stage must score; must stay
        # ~linear in corpus docs at fixed bench.
        from aws_dla_kinesis_delivery_stream_example_spark.operators import (
            curation as _cur,
        )

        bench_fixed = (
            load_table(spark, SFS[0][1], "documents")
            .filter(F.col("doc_id") % 50 == 0)
            .select("doc_id", "text")
        )
        from aws_dla_kinesis_delivery_stream_example_spark.operators.dedup import (
            _shingle_hash_rows as _shr,
        )

        cand_docs = docs.filter(F.col("doc_id") % 50 != 0)
        bsh = (
            _shr(bench_fixed, "doc_id", 4)
            .select(F.col("doc").alias("bid"), "h")
            .distinct()
        )
        csh = _shr(cand_docs, "doc_id", 4).select(
            F.col("doc").alias("cid"), "h"
        )
        row["fuzzy_candidates"] = (
            csh.join(F.broadcast(bsh), "h").select("cid", "bid").distinct().count()
        )
        _, row["fuzzy_sec"] = timed(
            lambda: _cur.fuzzy_contamination(cand_docs, bench_fixed).count()
        )
        release_staging()
        spark.catalog.clearCache()

        # round-9b: q116 snapshot diff (full-outer-join family —
        # candidates := docs present in EITHER snapshot, i.e. the
        # joined row volume; must track corpus size exactly linearly).
        # q115 shard manifests and q117 fertility are single map-side-
        # combinable hash aggs over scan-time projections — no hazard
        # to curve (the q97 convention).
        sd = specs["q116_snapshot_diff"].spark(spark, sf_dir).persist()
        _, row["snapdiff_sec"] = timed(sd.count)
        row["snapdiff_candidates"] = int(
            sd.agg(F.sum("n_docs")).collect()[0][0] or 0
        )
        sd.unpersist()
        spark.catalog.clearCache()

        if os.path.exists(os.path.join(sf_dir, "events.parquet")):
            row["n_events"] = load_table(spark, sf_dir, "events").count()
            # q118 skew audit: phase-1 per-key agg — candidates :=
            # distinct keys crossing the bucket agg; wall must stay
            # linear in events while the OUTPUT stays n_buckets rows.
            sa = specs["q118_key_skew_audit"].spark(spark, sf_dir).persist()
            _, row["skewaudit_sec"] = timed(sa.count)
            row["skewaudit_candidates"] = int(
                sa.agg(F.sum("n_keys")).collect()[0][0] or 0
            )
            sa.unpersist()
            spark.catalog.clearCache()
            n_out, row["zscore_sec"] = timed(
                lambda: specs["q105_rolling_zscore"].spark(spark, sf_dir).count()
            )
            row["zscore_candidates"] = n_out
            # q108 streaming twin: REAL applyInPandasWithState drain
            # over the same events (the session's state store). Candidates :=
            # flagged rows — must equal the batch q105 count (hash
            # parity is the catalog's gate; the rehearsal pins the
            # count and curves the drain wall, whose state is
            # |users| x 20 BIGINTs at every tier).
            n_sout, row["zstream_sec"] = timed(
                lambda: specs["q108_streaming_zscore"].spark(spark, sf_dir).count()
            )
            row["zstream_candidates"] = n_sout
            row["zstream_equals_batch"] = n_sout == n_out
            release_staging()
            spark.catalog.clearCache()

        # round-13: q138/q139 SNM — the ORDER-based blocking family.
        # candidates := band-join pairs PRE-verification; by
        # construction <= w*n (single pass) and <= P*w*n (multi-pass),
        # so the exponent must sit at ~1.0 exactly — this is the
        # "linear candidates" design claim, measured. Wall per tier
        # for the full catalog queries recorded alongside.
        from aws_dla_kinesis_delivery_stream_example_spark.plans import (
            curation11 as _c11,
        )

        def _snm_cand_count(pass_ids) -> int:
            per_pass = []
            for p in pass_ids:
                rk = _c11.snm_global_rank(docs, _c11._snm_key(p))
                bnd = (F.col("grank") / _c11._SNM_W).cast("long")
                lft = rk.select(
                    F.col("doc_id").alias("ida"),
                    F.col("grank").alias("ga"),
                    bnd.alias("b"),
                )
                rgt = rk.select(
                    F.col("doc_id").alias("idb"),
                    F.col("grank").alias("gb"),
                    F.explode(F.array(bnd, bnd - 1)).alias("b"),
                )
                per_pass.append(
                    lft.join(rgt, "b")
                    .filter(
                        (F.col("gb") - F.col("ga")).between(1, _c11._SNM_W)
                    )
                    .select(
                        F.least("ida", "idb").alias("doc_a"),
                        F.greatest("ida", "idb").alias("doc_b"),
                    )
                )
            u = per_pass[0]
            for c in per_pass[1:]:
                u = u.unionByName(c)
            return u.distinct().count()

        row["snm_candidates"] = _snm_cand_count([0])
        _, row["snm_sec"] = timed(
            lambda: specs["q138_sorted_neighborhood"].spark(spark, sf_dir).count()
        )
        release_staging()
        spark.catalog.clearCache()
        row["snmmulti_candidates"] = _snm_cand_count([0, 1])
        _, row["snmmulti_sec"] = timed(
            lambda: specs["q139_snm_multipass"].spark(spark, sf_dir).count()
        )
        release_staging()
        spark.catalog.clearCache()

        # round-13: q140 DSIR — constant-state family. candidates :=
        # token occurrences (the one corpus-sized pass, linear by
        # construction); dsir_buckets is the STATE bound and must stay
        # <= 256 at every tier (the corpus-independence claim).
        _, row["dsir_sec"] = timed(
            lambda: specs["q140_dsir_reweight"].spark(spark, sf_dir).count()
        )
        _tok = docs.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("t")
        )
        row["dsir_candidates"] = _tok.count()
        row["dsir_buckets"] = (
            _tok.select(
                F.expr(
                    "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % 256"
                ).alias("bkt")
            )
            .distinct()
            .count()
        )
        assert row["dsir_buckets"] <= 256
        release_staging()
        spark.catalog.clearCache()

        # round-14: q143/q144 PII audit — one scan-side codegen pass,
        # |sources| x 6 counter state. candidates := docs (trivially
        # linear; recorded so the newest family member curves next to
        # the rest), state bound asserted == |sources|.
        _cnt, row["pii_sec"] = timed(
            lambda: specs["q143_pii_audit"].spark(spark, sf_dir).count()
        )
        row["pii_candidates"] = row["n_docs"]
        row["pii_state_rows"] = _cnt
        # `docs` here is a (doc_id, text) projection — reload for source
        assert _cnt == (
            load_table(spark, sf_dir, "documents")
            .select("source")
            .distinct()
            .count()
        )
        release_staging()
        spark.catalog.clearCache()

        # round-14: q146 dHash image near-dup — candidates := the band
        # equi-join pair count BEFORE the Hamming verify. Expected
        # ~ planted n/9 (linear) + C(n,2)*4/2^16 collisions (quadratic,
        # tiny constant): the curve's realized exponent drifting toward
        # 2 across tiers is the DOCUMENTED 16-bit-band saturation that
        # mandates wider bands at production n (q146 docstring) — the
        # rehearsal measures the drift instead of hiding it.
        from aws_dla_kinesis_delivery_stream_example_spark.operators import (
            multimodal as _mm,
        )
        from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
            stage as _stage,
        )

        _media = _stage(
            _mm.synthesize_gray_bmp(load_table(spark, sf_dir, "documents"))
        )  # staged: bench AND wide signatures decode the same corpus once
        _media.count()  # materialize the synth+decode OUTSIDE every
        # timing window so the two geometries' candidate timings pay
        # the SAME residual cost (band pack from cached pixels +
        # self-join) and are apples-to-apples (round-15 review: the
        # first count used to absorb the decode into whichever
        # geometry ran first)
        _sigs = _stage(_mm.dhash_bands(_media))
        # the SAME candidate generator the query runs (round-14 review:
        # a copy here could silently curve a different blocking);
        # *_cand_sec keys time candidates-only from cached pixels —
        # dhash_sec (below) stays the FULL q146 query wall, one
        # semantic per key
        row["dhash_candidates"], row["dhash_cand_sec"] = timed(
            lambda: _mm.dhash_band_candidates(_sigs).count()
        )
        _, row["dhash_sec"] = timed(
            lambda: specs["q146_image_dhash_dedup"].spark(spark, sf_dir).count()
        )
        # round-15: the DHASH_GEOM_WIDE remedy measured, not only
        # pinned (round-14 verdict Next #5) — same decoded corpus,
        # 17x16 grid -> 4 x 64-bit bands: candidates should hug the
        # planted linear floor (~n/9 near-dup pairs, band collisions at
        # ~2^-64), so the wide exponent stays ~1 across tiers where the
        # bench geometry's 16-bit bands saturate toward 2.
        _wide = _stage(_mm.dhash_bands(_media, grid=_mm.DHASH_GEOM_WIDE))
        row["dhash_wide_candidates"], row["dhash_wide_cand_sec"] = timed(
            lambda: _mm.dhash_band_candidates(_wide).count()
        )
        release_staging()
        spark.catalog.clearCache()

        results[sf] = row
        # operator-internal persists (postings/shingle staging) are
        # per-measurement scratch; don't let them tax the next SF
        spark.catalog.clearCache()
        print("SCALEJSON " + json.dumps({"sf": sf, **row}), flush=True)

    lo, hi = results[tiers[0][0]], results[tiers[-1][0]]
    growth = math.log10(max(hi["n_docs"], 1) / max(lo["n_docs"], 1))
    summary = {"span_docs": f'{lo["n_docs"]}->{hi["n_docs"]}', "max_df": max_df}
    for op in (
        "jaccard", "minhash", "simhash", "contam", "boiler", "semdedup",
        "tfidf", "tfidf_abs", "spans", "survivors", "pipeline",
        "overlap", "chunking", "knngraph", "crossdedup",
        "rewrite", "linededup", "srcoverlap", "pagerank", "sampling",
        "novelty", "snapdiff", "fuzzy", "snm", "snmmulti", "dsir", "pii",
        "dhash", "dhash_wide",
    ):
        c_lo, c_hi = max(lo[f"{op}_candidates"], 1), max(hi[f"{op}_candidates"], 1)
        summary[f"{op}_candidate_exponent"] = round(math.log10(c_hi / c_lo) / growth, 2)
        # dhash_wide carries only a candidates-only wall (*_cand_sec —
        # the full q146 query runs the bench geometry); every other op
        # times its full operator under *_sec
        tkey = f"{op}_sec" if f"{op}_sec" in lo else f"{op}_cand_sec"
        summary[f"{op}_time_ratio"] = round(hi[tkey] / max(lo[tkey], 0.01), 1)
    # q110's bucket-join curve needs embeddings on both endpoint tiers
    # (present at the real SFs and the 10x synth tier, not the 100x)
    if "quantann_candidates" in lo and "quantann_candidates" in hi:
        c_lo = max(lo["quantann_candidates"], 1)
        c_hi = max(hi["quantann_candidates"], 1)
        summary["quantann_candidate_exponent"] = round(
            math.log10(c_hi / c_lo) / growth, 2
        )
        summary["quantann_time_ratio"] = round(
            hi["quantann_sec"] / max(lo["quantann_sec"], 0.01), 1
        )
    # q105/q118 run on the real tiers only (no events in the synth
    # tiers): their exponents use the events span, not documents
    zlo, zhi = results[SFS[0][0]], results[SFS[-1][0]]
    if "skewaudit_candidates" in zlo and "skewaudit_candidates" in zhi:
        zgrowth = math.log10(max(zhi["n_events"], 1) / max(zlo["n_events"], 1))
        summary["skewaudit_candidate_exponent"] = round(
            math.log10(
                max(zhi["skewaudit_candidates"], 1)
                / max(zlo["skewaudit_candidates"], 1)
            ) / zgrowth, 2
        )
        summary["skewaudit_time_ratio"] = round(
            zhi["skewaudit_sec"] / max(zlo["skewaudit_sec"], 0.01), 1
        )
    if "zscore_candidates" in zlo and "zscore_candidates" in zhi:
        zgrowth = math.log10(max(zhi["n_events"], 1) / max(zlo["n_events"], 1))
        summary["zscore_span_events"] = f'{zlo["n_events"]}->{zhi["n_events"]}'
        summary["zscore_candidate_exponent"] = round(
            math.log10(
                max(zhi["zscore_candidates"], 1) / max(zlo["zscore_candidates"], 1)
            ) / zgrowth, 2
        )
        summary["zscore_time_ratio"] = round(
            zhi["zscore_sec"] / max(zlo["zscore_sec"], 0.01), 1
        )
    if "zstream_candidates" in zlo and "zstream_candidates" in zhi:
        zgrowth = math.log10(max(zhi["n_events"], 1) / max(zlo["n_events"], 1))
        summary["zstream_candidate_exponent"] = round(
            math.log10(
                max(zhi["zstream_candidates"], 1) / max(zlo["zstream_candidates"], 1)
            ) / zgrowth, 2
        )
        summary["zstream_time_ratio"] = round(
            zhi["zstream_sec"] / max(zlo["zstream_sec"], 0.01), 1
        )
        summary["zstream_equals_batch_all_tiers"] = all(
            results[sf].get("zstream_equals_batch", True) for sf, _ in SFS
        )
    print("SCALESUMMARY " + json.dumps(summary), flush=True)

    # valve-engagement measurement (band-crowded corpus on the largest
    # driver tier, NOT the synth tier — the crowd is its own stressor)
    valved = simhash_valve_rehearsal(spark, SFS[-1][1])
    spark.catalog.clearCache()
    print("SCALEVALVED " + json.dumps(valved), flush=True)

    extreme = None
    if "--with-100x" in sys.argv:
        extreme = extreme_tier_rehearsal(
            spark, SFS[-1][1], results.get("1.0-synth"), max_df=max_df
        )
        print("SCALE100X " + json.dumps(extreme), flush=True)

    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
        artifact = {
            "per_sf": [{"sf": sf, **results[sf]} for sf, _ in tiers],
            "summary": summary,
            "simhash_valved": valved,
        }
        if extreme is not None:
            artifact["extreme_100x"] = extreme
        with open(out_path, "w") as f:
            json.dump(artifact, f, indent=1)
        print(f"SCALEOUT {out_path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
