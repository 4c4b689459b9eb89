"""Round-8 operator unit tests (q96-q102 family): planted signals for
contamination overlap, cross-corpus embedding dedup, token chunking
(hand-computed geometry + randomized tiling property), the quantile
gate, the kNN-graph tie-break, and BPE merge-candidate weighting —
complementing the oracle-parity gate that checks the catalog specs
against DuckDB."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from aws_dla_kinesis_delivery_stream_example_spark.operators import curation, similarity
from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
    release_staging,
)
from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_contamination_overlap_planted_fractions(spark):
    """Hand-computed overlap fractions: doc 1 shares 2 of its 3
    distinct 4-grams with the benchmark, doc 2 shares none, doc 3 is
    too short for any 4-gram and must be absent from the output."""
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon", "bench")])
    # doc 1 tokens: alpha beta gamma delta zeta eta -> 4-grams:
    #   "alpha beta gamma delta" (in bench), "beta gamma delta zeta"
    #   (not), "gamma delta zeta eta" (not) -> 1/3
    cand = _docs(
        spark,
        [
            (1, "alpha beta gamma delta zeta eta", "web"),
            (2, "totally different words right here now", "web"),
            (3, "too short", "web"),
        ],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in curation.contamination_overlap(cand, bench).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["n_shingles"] == 3 and out[1]["n_hit"] == 1
    assert abs(out[1]["overlap_frac"] - round(1 / 3, 4)) < 1e-9
    assert out[2]["n_hit"] == 0 and out[2]["overlap_frac"] == 0.0


def test_embedding_cross_duplicates_sides_never_self_join(spark):
    """A planted near-identical pair ACROSS sides is found; equally
    near-identical pairs WITHIN one side are never emitted — the
    operator's whole contract vs the self-join variant."""
    rows = [
        # new side (ids 1,3): 1 matches corpus 2; 1 and 3 are near-dups
        # of each other but must NOT pair (same side)
        (1, [1.0, 0.2, 0.1, 0.0]),
        (3, [1.0, 0.2, 0.1, 0.001]),
        # corpus side (ids 2,4): 2 matches new 1; 2 and 4 near-dups of
        # each other but must NOT pair (same side)
        (2, [1.0, 0.2, 0.1, 0.002]),
        (4, [1.0, 0.2, 0.1, 0.003]),
        # corpus vector in a different sign bucket: never a candidate
        (6, [-1.0, -0.2, -0.1, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    new = emb.filter(F.col("vec_id") % 2 == 1)
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    got = {
        (r["vec_new"], r["vec_corpus"])
        for r in similarity.embedding_cross_duplicates(new, corpus).collect()
    }
    assert got == {(1, 2), (1, 4), (3, 2), (3, 4)}
    # every emitted pair is new x corpus — no (1,3), no (2,4)


def test_token_chunking_geometry(spark, tmp_path):
    """Chunk boundaries, hand-computed at chunk=32/stride=24: a
    33-token doc yields chunks starting at 1 (32 tokens) and 25
    (9 tokens); a 32-token doc yields ONE chunk; empty/null texts
    yield none."""
    texts = {
        1: " ".join(f"w{i}" for i in range(33)),
        2: " ".join(f"v{i}" for i in range(32)),
        3: "",
        4: None,
    }
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(sorted(texts), pa.int64()),
                "text": pa.array([texts[i] for i in sorted(texts)]),
                "lang": pa.array(["en"] * 4),
                "source": pa.array(["s"] * 4),
                "n_chars": pa.array(
                    [len(t or "") for t in (texts[i] for i in sorted(texts))],
                    pa.int64(),
                ),
            }
        ),
        tmp_path / "documents.parquet",
    )
    spec = all_specs()["q98_token_chunking"]
    spark_pdf = spec.spark(spark, str(tmp_path)).toPandas()
    rows = spark_pdf.to_dict("records")
    # oracle parity ON THIS fixture: the null-text doc is the case the
    # driver corpus never exercises, and DuckDB's null-ignoring
    # greatest() would emit a phantom chunk for it without the
    # coalesce guard in the oracle's series bound
    import duckdb

    from .oracle_utils import canonicalize

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{tmp_path}/documents.parquet')"
    )
    duck_pdf = con.execute(spec.oracle).fetchdf()
    con.close()
    assert canonicalize(spark_pdf) == canonicalize(duck_pdf)
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2}
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [(r["chunk_idx"], r["start_tok"], r["n_tok_chunk"]) for r in c1] == [
        (1, 1, 32),
        (2, 25, 9),
    ]
    assert [(r["chunk_idx"], r["start_tok"], r["n_tok_chunk"]) for r in by_doc[2]] == [
        (1, 1, 32)
    ]
    # overlapping chunks of the same doc hash differently
    assert c1[0]["chunk_hash"] != c1[1]["chunk_hash"]


def test_quantile_gate_single_doc_source(spark, tmp_path):
    """A one-doc source's p70 threshold IS its own score, so the doc
    is kept (>= holds with equality) on both engines — the degenerate
    boundary the interpolation could get wrong."""
    import duckdb

    from .oracle_utils import canonicalize

    texts = {
        1: ("the quick brown fox jumps over the lazy dog today", "solo"),
        2: ("the small value table is in the data row again", "multi"),
        3: ("batch window query value is of the line sort key", "multi"),
        4: ("1234 !!! ??? ###", "multi"),
    }
    ids = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i][0] for i in ids]),
                "lang": pa.array(["en"] * len(ids)),
                "source": pa.array([texts[i][1] for i in ids]),
                "n_chars": pa.array([len(texts[i][0]) for i in ids], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    spec = all_specs()["q97_quantile_quality_gate"]
    try:
        spark_pdf = spec.spark(spark, str(tmp_path)).toPandas()
    finally:
        release_staging()
        spark.catalog.clearCache()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{tmp_path}/documents.parquet')"
    )
    duck_pdf = con.execute(spec.oracle).fetchdf()
    con.close()
    assert canonicalize(spark_pdf) == canonicalize(duck_pdf)
    solo = spark_pdf[spark_pdf.source == "solo"].iloc[0]
    assert int(solo["n_docs"]) == 1 and int(solo["n_kept"]) == 1


def test_knn_graph_tiebreak_and_symmetry(spark, tmp_path):
    """Two identical docs B and C are each other's rank-1 neighbors
    (jaccard 1.0); doc A ties with both at the same jaccard and must
    rank B before C (lower neighbor id on equal scores)."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    texts = {
        1: base + " kilo lima mike november oscar",  # A: overlaps B/C's prefix
        2: base,  # B
        3: base,  # C (exact dup of B)
    }
    ids = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in ids]),
                "lang": pa.array(["en"] * 3),
                "source": pa.array(["s"] * 3),
                "n_chars": pa.array([len(texts[i]) for i in ids], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    try:
        rows = [
            (r["doc"], r["rnk"], r["neighbor"], r["jaccard"])
            for r in all_specs()["q99_similar_doc_graph"]
            .spark(spark, str(tmp_path))
            .collect()
        ]
    finally:
        release_staging()
        spark.catalog.clearCache()
    by_doc = {}
    for doc, rnk, nb, j in rows:
        by_doc.setdefault(doc, []).append((rnk, nb, j))
    # A's ties break on neighbor id: B (2) before C (3), equal jaccard
    a = sorted(by_doc[1])
    assert [x[1] for x in a] == [2, 3] and a[0][2] == a[1][2]
    # B and C each rank the other first at jaccard 1.0
    assert by_doc[2][0][1:] == (3, 1.0) or (1, 3, 1.0) in [(r, n, j) for r, n, j in by_doc[2]]
    assert sorted(by_doc[2])[0] == (1, 3, 1.0)
    assert sorted(by_doc[3])[0] == (1, 2, 1.0)


def test_bpe_merge_candidates_weighted_counts(spark, tmp_path):
    """Hand-computed BPE step-1 counts: 'aaa' contributes 'a a' twice
    per occurrence (adjacent-position convention), pair counts weight
    by word frequency, and single-char words ('i') contribute nothing
    (the sequence(1,0)-descending guard)."""
    texts = {
        1: "aaa ab i",
        2: "aaa",
    }
    ids = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in ids]),
                "lang": pa.array(["en"] * 2),
                "source": pa.array(["s"] * 2),
                "n_chars": pa.array([len(texts[i]) for i in ids], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    got = {
        r["pair"]: r["n_occurrences"]
        for r in all_specs()["q101_bpe_merge_candidates"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    # vocab: aaa(n=2) -> 'a a' x2 positions x2 occurrences = 4; ab(1)
    assert got == {"a a": 4, "a b": 1}


def test_chunking_covers_every_token(spark):
    """Property over randomized doc lengths: chunks tile the doc —
    first chunk starts at 1, consecutive starts differ by the stride,
    the last chunk reaches exactly the doc end, and no chunk is fully
    contained in its predecessor (the redundant-tail rule)."""
    import random

    rng = random.Random(8)
    lengths = [rng.randrange(1, 200) for _ in range(30)] + [1, 8, 9, 24, 32, 33, 56, 57]
    rows = [
        (i, " ".join(f"t{i}x{j}" for j in range(n)), "s")
        for i, n in enumerate(lengths)
    ]
    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation3 import (
        _CHUNK_STRIDE,
        _CHUNK_TOKENS,
    )

    # drive the spec's real plan: write the rows as a documents table
    # and let the catalog callable load it like any sf dir
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        _pq.write_table(
            _pa.table(
                {
                    "doc_id": _pa.array([r[0] for r in rows], _pa.int64()),
                    "text": _pa.array([r[1] for r in rows]),
                    "lang": _pa.array(["en"] * len(rows)),
                    "source": _pa.array(["s"] * len(rows)),
                    "n_chars": _pa.array([len(r[1]) for r in rows], _pa.int64()),
                }
            ),
            os.path.join(d, "documents.parquet"),
        )
        out = (
            all_specs()["q98_token_chunking"].spark(spark, d).collect()
        )
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, n in enumerate(lengths):
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        assert chunks[0]["start_tok"] == 1, (doc_id, n)
        for a, b in zip(chunks, chunks[1:]):
            assert b["start_tok"] - a["start_tok"] == _CHUNK_STRIDE, (doc_id, n)
            # no chunk fully inside its predecessor
            assert b["start_tok"] + b["n_tok_chunk"] > a["start_tok"] + a["n_tok_chunk"]
        last = chunks[-1]
        assert last["start_tok"] + last["n_tok_chunk"] - 1 == n, (doc_id, n)
        for c in chunks:
            assert 1 <= c["n_tok_chunk"] <= _CHUNK_TOKENS


def test_contamination_overlap_randomized_brute_force(spark):
    """Random word-soup corpora vs an independent pure-Python
    recomputation of (n_shingles, n_hit, overlap_frac) — guards the
    distinct-shingle convention, the left-join hit counting, and the
    short-doc exclusion against any fixed planted blind spot."""
    import random
    import re

    n = curation.CONTAM_N
    n_hit_docs = 0
    for seed in (11, 12, 13):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(5)]  # tiny vocab -> real overlap
        mk = lambda lo, hi: " ".join(  # noqa: E731
            rng.choice(vocab) for _ in range(rng.randrange(lo, hi))
        )
        bench_rows = [(100 + i, mk(10, 30), "bench") for i in range(3)]
        cand_rows = [(i, mk(0, 12), "web") for i in range(25)]

        def shingles(text):
            toks = re.findall(r"[a-z0-9]+", text.lower())
            return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

        bench_set = set().union(*(shingles(t) for _, t, _ in bench_rows))
        expected = {}
        for doc_id, text, _ in cand_rows:
            sh = shingles(text)
            if sh:
                hit = len(sh & bench_set)
                expected[doc_id] = (len(sh), hit, round(hit / len(sh), 4))
        out = {
            r["doc_id"]: (r["n_shingles"], r["n_hit"], r["overlap_frac"])
            for r in curation.contamination_overlap(
                _docs(spark, cand_rows), _docs(spark, bench_rows)
            ).collect()
        }
        assert out == expected, seed
        n_hit_docs += sum(1 for _, hit, _ in expected.values() if hit)
    assert n_hit_docs >= 10  # the corpora really overlap the benchmark


def test_embedding_cross_duplicates_randomized_brute_force(spark):
    """Random vectors vs a numpy recomputation under the SAME
    sign-bucket blocking contract: every (odd, even) pair sharing a
    bucket with cosine >= threshold, and nothing else."""
    import numpy as np

    for seed in (21, 22):
        rng = np.random.default_rng(seed)
        n_vec, dim, thr = 60, 6, similarity._CROSS_DUP_COS
        mat = rng.normal(size=(n_vec, dim)).astype("float64")
        # plant a few cross-side near-dups so the expected set is non-empty
        for base, twin in ((1, 2), (7, 10), (15, 20)):
            mat[twin] = mat[base] + rng.normal(scale=0.01, size=dim)
        rows = [(i, [float(x) for x in mat[i]]) for i in range(n_vec)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        # the operator reads float32 columns: brute-force on the SAME
        # downcast values or borderline cosines disagree
        m32 = np.array([r[1] for r in rows], dtype="float32").astype("float64")
        unit = m32 / np.linalg.norm(m32, axis=1, keepdims=True)
        bucket = (
            4 * (m32[:, 0] > 0).astype(int)
            + 2 * (m32[:, 1] > 0).astype(int)
            + (m32[:, 2] > 0).astype(int)
        )
        expected = set()
        for a in range(n_vec):
            if a % 2 == 0:
                continue
            for b in range(n_vec):
                if b % 2 == 1 or bucket[a] != bucket[b]:
                    continue
                if float(unit[a] @ unit[b]) >= thr:
                    expected.add((a, b))
        got = {
            (r["vec_new"], r["vec_corpus"])
            for r in similarity.embedding_cross_duplicates(
                emb.filter(F.col("vec_id") % 2 == 1),
                emb.filter(F.col("vec_id") % 2 == 0),
            ).collect()
        }
        assert got == expected, (seed, got ^ expected)


def test_bpe_merge_candidates_randomized_brute_force(spark, tmp_path):
    """Random corpora vs a pure-Python weighted pair count, including
    the top-50 tie order (count desc, pair asc)."""
    import random
    import re
    from collections import Counter

    rng = random.Random(31)
    alphabet = "abcd"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 6)))
        for _ in range(40)
    ]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randrange(1, 20))), "s")
        for i in range(30)
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows]),
                "lang": pa.array(["en"] * len(rows)),
                "source": pa.array(["s"] * len(rows)),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    vocab: Counter = Counter()
    for _, text, _ in rows:
        vocab.update(re.findall(r"[a-z0-9]+", text.lower()))
    pairs: Counter = Counter()
    for tok, cnt in vocab.items():
        for i in range(len(tok) - 1):
            pairs[f"{tok[i]} {tok[i+1]}"] += cnt
    expected = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = [
        (r["pair"], r["n_occurrences"])
        for r in all_specs()["q101_bpe_merge_candidates"]
        .spark(spark, str(tmp_path))
        .collect()
    ]
    assert got == expected


def test_empty_text_does_not_crash_quality_family(spark, tmp_path):
    """Spark 4 runs ANSI mode by default, where double division by
    zero THROWS: an empty-text document used to abort q97/q85/q94
    inside quality_p_u's alpha/punct ratios (DuckDB yields NULL for
    the same input). Both engines now produce NULL via nullif and
    must agree on the aggregate outputs."""
    import duckdb

    from .oracle_utils import canonicalize

    texts = {
        1: ("", "s"),  # the crash case: length(text) = 0
        2: ("the quick brown fox jumps over the lazy dog today", "s"),
        3: ("the small value table is in the data row again", "s"),
    }
    ids = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i][0] for i in ids]),
                "lang": pa.array(["en"] * len(ids)),
                "source": pa.array([texts[i][1] for i in ids]),
                "n_chars": pa.array([len(texts[i][0]) for i in ids], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{tmp_path}/documents.parquet')"
    )
    for name in ("q85_quality_classifier", "q97_quantile_quality_gate"):
        spec = all_specs()[name]
        try:
            spark_pdf = spec.spark(spark, str(tmp_path)).toPandas()  # must not raise
        finally:
            release_staging()
            spark.catalog.clearCache()
        duck_pdf = con.execute(spec.oracle).fetchdf()
        assert canonicalize(spark_pdf) == canonicalize(duck_pdf), name
    con.close()


def test_ivf_multiprobe_radius_means_what_it_says(spark):
    """hamming_probes=2 must probe every bucket within Hamming
    distance 2 (C(3,1)+C(3,2)=6 flips + own bucket = 7 of 8 buckets
    at n_bits=3) — not silently behave like radius 1 — and a radius
    past n_bits raises instead of capping."""
    import numpy as np
    import pytest as _pytest

    rng = np.random.default_rng(5)
    # query in bucket 0b111; its true nearest neighbor's first three
    # dims differ in TWO signs -> bucket Hamming 2 away: radius 1
    # cannot see it, radius 2 must
    q = np.array([1.0, 1.0, 1.0, 5.0, 5.0, 5.0])
    near = np.array([-1.0, -1.0, 1.0, 5.0, 5.0, 5.0])  # bucket 0b001
    far = rng.normal(size=(30, 6)) - 3.0  # negative-ish: other buckets
    cands = [(0, [float(x) for x in near])] + [
        (i + 1, [float(x) for x in far[i]]) for i in range(len(far))
    ]
    cand_df = spark.createDataFrame(cands, "vec_id long, embedding array<float>")
    q_df = spark.createDataFrame([(99, [float(x) for x in q])], "q_id long, q_emb array<float>")
    from aws_dla_kinesis_delivery_stream_example_spark.operators.similarity import (
        ivf_topk,
    )

    def top1(probes):
        rows = ivf_topk(cand_df, q_df, hamming_probes=probes).filter("rn = 1").collect()
        return rows[0]["vec_id"] if rows else None

    assert top1(1) != 0, "radius-1 should not reach the Hamming-2 bucket"
    assert top1(2) == 0, "radius-2 must recover the true neighbor"
    with _pytest.raises(ValueError, match="hamming_probes"):
        ivf_topk(cand_df, q_df, hamming_probes=4)


def test_tfidf_zero_weight_doc_does_not_crash(spark):
    """A doc made entirely of corpus-universal tokens (idf = 0) used
    to produce a zero norm and a 0/0 division that ABORTS the job
    under Spark 4's default ANSI mode; zero-weight postings are now
    dropped, so the doc simply pairs with nothing — the same answer
    the DuckDB oracle's NULL-cosine filter produces."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators import tfidf as TF

    docs = _docs(
        spark,
        [
            (1, "the", "s"),  # only the universal token: zero norm
            (2, "the foo bar baz", "s"),
            (3, "the foo bar baz qux", "s"),
        ],
    )
    try:
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in TF.tfidf_cosine_pairs(docs).collect()
        }
    finally:
        release_staging()
        spark.catalog.clearCache()
    assert (1, 2) not in pairs and (1, 3) not in pairs
    assert (2, 3) in pairs  # real overlap on non-universal tokens survives
