"""Curation-operator unit tests (operator-level, planted signals) —
complements the oracle-parity gate which checks the q64-q69 catalog
specs against DuckDB."""

from __future__ import annotations

from aws_dla_kinesis_delivery_stream_example_spark.operators import curation


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_contamination_finds_planted_overlap(spark):
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon", "bench")])
    cand = _docs(
        spark,
        [
            (1, "zzz alpha beta gamma delta yyy", "web"),  # shares a 4-gram
            (2, "totally different words here now", "web"),
            (3, None, "web"),
            (4, "", "web"),
        ],
    )
    hits = sorted(
        r.doc_id for r in curation.contaminated_ids(cand, bench).collect()
    )
    assert hits == [1]


def test_incremental_dedup_null_and_cross_batch_semantics(spark):
    """Nulls follow SQL GROUP BY semantics on both engines: a null
    digest never matches the corpus (anti join null semantics), and
    null-text docs within the batch form one group with a min-id
    survivor — identical to the DuckDB oracle's behavior."""
    corpus = _docs(spark, [(0, "seen before", "c"), (2, None, "c")])
    batch = _docs(
        spark,
        [
            (1, "seen before", "b"),  # dup of corpus -> dropped
            (3, None, "b"),  # null digest: survives the anti join
            (5, None, "b"),  # second null: collapses into doc 3's group
            (7, "brand new", "b"),
            (9, "brand new", "b"),  # within-batch dup of 7
        ],
    )
    kept = {
        r.keep_id: r.n_copies
        for r in curation.incremental_dedup(batch, corpus).collect()
    }
    assert kept == {3: 2, 7: 2}


def test_boilerplate_planted_template(spark):
    """A shared 5-gram template across >= min_df docs is flagged; the
    unique remainder is not."""
    template = "please subscribe to our newsletter"
    rows = [(i, f"{template} unique{i} words{i} here{i} now{i} end{i}", "s") for i in range(3)]
    rows.append((99, "entirely unrelated text goes right here today", "s"))
    out = {
        r.doc_id: (r.n_boiler, r.n_shingles)
        for r in curation.boilerplate_ratio(
            _docs(spark, rows)
        ).collect()
    }
    for i in range(3):
        assert out[i][0] >= 1  # the template shingle is boilerplate
    assert out[99][0] == 0


def test_centroid_cosines_identical_vectors(spark):
    """All-identical vectors per label => centroid == vector => cosine
    exactly 1.0 for every row."""
    emb = spark.createDataFrame(
        [(i, [1.0, 2.0, 2.0], i % 2) for i in range(6)],
        "vec_id long, embedding array<float>, label int",
    )
    cc = curation.centroid_cosines(emb).collect()
    assert len(cc) == 6
    for r in cc:
        assert abs(r.cos_centroid - 1.0) < 1e-12


def test_duplicated_spans_planted_coverage(spark):
    """EXACTSUBSTR-style coverage on planted docs, hand-computed:
    cross-doc shared runs, OVERLAPPING duplicated windows counted as a
    token union (not an occurrence sum), within-doc repetition, and a
    too-short doc reporting zeros."""
    w = [f"w{i}" for i in range(1, 31)]  # w1..w30, all distinct
    rows = [
        (1, " ".join(w), "s"),  # 30 toks; windows @1,@2 duplicated
        # x-pad + w1..w20 + y-pad: shares exactly the w1..w20 run
        (2, " ".join([f"x{i}" for i in range(5)] + w[:20] + [f"y{i}" for i in range(5)]), "s"),
        (3, " ".join(w[:21]), "s"),  # w1..w21: both windows duplicated
        (4, "z1 z2 z3 z4 z5", "s"),  # shorter than n: zeros
        (5, " ".join([f"v{i}" for i in range(20)] * 2), "s"),  # self-repeat
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in curation.duplicated_span_stats(
            _docs(spark, rows)
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    # doc1: [w1..w20] (also in docs 2,3) and [w2..w21] (also in doc 3)
    # overlap -> union covers w1..w21 = 21 tokens, NOT 40
    assert out[1]["n_tokens"] == 30
    assert out[1]["n_dup_windows"] == 2
    assert out[1]["dup_tokens"] == 21
    assert abs(out[1]["dup_fraction"] - 0.7) < 1e-9
    # doc2: one duplicated window ([w1..w20] at pos 6) -> 20 of 30
    assert out[2]["n_dup_windows"] == 1
    assert out[2]["dup_tokens"] == 20
    assert abs(out[2]["dup_fraction"] - 0.666667) < 1e-9
    # doc3: fully covered (21 of 21)
    assert out[3]["dup_tokens"] == 21
    assert abs(out[3]["dup_fraction"] - 1.0) < 1e-9
    # doc4: shorter than the window -> zeros, but still reported
    assert out[4] == {
        "doc_id": 4, "n_tokens": 5, "n_dup_windows": 0,
        "dup_tokens": 0, "dup_fraction": 0.0,
    }
    # doc5: [v0..v19] occurs at pos 1 and pos 21 (within-doc repeat);
    # the 19 cyclic-rotation windows between them occur once each
    assert out[5]["n_dup_windows"] == 2
    assert out[5]["dup_tokens"] == 40
    assert abs(out[5]["dup_fraction"] - 1.0) < 1e-9
    # drop the operator's staging cache: without this, the persisted
    # frame leaks into whatever test runs next and inflates the
    # staging counters the thread-scope test asserts on
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    assert release_staging() >= 1


def test_duplicated_spans_randomized_brute_force(spark):
    """Randomized corpora vs an independent Python re-implementation
    of the EXACTSUBSTR coverage semantics (same md5 60-bit window
    keys, same interval-union rule): catches any drift in window
    enumeration, dup counting, or coverage math that a fixed planted
    fixture would miss."""
    import hashlib
    import random
    import re
    from collections import Counter

    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    n = curation._SPAN_N
    n_dup_docs = 0
    for seed in (3, 17):
        rng = random.Random(seed)
        # docs are runs of 7-token phrases from a tiny phrase set, with
        # a stray token now and then: real duplicated n-token windows,
        # overlapping ones, and docs shorter than n
        phrases = [[f"p{j}t{k}" for k in range(7)] for j in range(4)]
        rows = []
        for i in range(40):
            tk = []
            for _ in range(rng.randrange(1, 7)):
                tk += rng.choice(phrases) if rng.random() < 0.8 else [f"s{rng.randrange(50)}"]
            rows.append((i, " ".join(tk), "s"))
        # brute force: window hash counts across the corpus, then
        # per-doc interval union of duplicated [pos, pos+n) windows
        def toks(t):
            return re.findall(r"[a-z0-9]+", t.lower())

        win_h = {}
        counts: Counter = Counter()
        for doc_id, text, _ in rows:
            tk = toks(text)
            hs = []
            for i in range(len(tk) - n + 1):
                h = int(hashlib.md5(" ".join(tk[i : i + n]).encode()).hexdigest()[:15], 16)
                hs.append(h)
                counts[h] += 1
            win_h[doc_id] = (len(tk), hs)
        expected = {}
        for doc_id, (L, hs) in win_h.items():
            dup_pos = [i + 1 for i, h in enumerate(hs) if counts[h] > 1]
            cov = 0
            for a, b in zip(dup_pos, dup_pos[1:] + [None]):
                cov += min(b - a, n) if b is not None else n
            expected[doc_id] = (L, len(dup_pos), cov)
        out = {
            r["doc_id"]: r.asDict()
            for r in curation.duplicated_span_stats(
                _docs(spark, rows)
            ).collect()
        }
        release_staging()
        assert set(out) == set(expected)
        for doc_id, (L, n_dup, cov) in expected.items():
            r = out[doc_id]
            assert r["n_tokens"] == L, (seed, doc_id)
            assert r["n_dup_windows"] == n_dup, (seed, doc_id)
            assert r["dup_tokens"] == cov, (seed, doc_id)
        n_dup_docs += sum(1 for _, n_dup, _ in expected.values() if n_dup)
    assert n_dup_docs >= 10  # the corpora really carry duplicated windows


def test_q95_token_budget_boundary_tie(spark, tmp_path):
    """Planted budget-boundary tie (round-7 verdict 'Next round #6'):
    the per-source cumsum keeps docs with ``cum <= 500`` in doc_id
    order, and a doc whose cumulative count lands EXACTLY on 500 is
    the off-by-one class two engines' window framing could disagree
    on (`<` vs `<=`, RANGE vs ROWS peers). Three clean docs with
    token counts 200 / 300 / 11: doc 2 ties the boundary at cum=500
    (must be KEPT on both engines), doc 3 at cum=511 must be dropped.
    Runs the full q95 Spark plan AND its DuckDB oracle on the planted
    corpus and compares values exactly."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )
    from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs
    from .oracle_utils import canonicalize

    # "the wN" pad style passes the q85 gate (stopword + alpha heavy),
    # and disjoint vocab keeps 5-gram Jaccard between docs at 0.
    texts = {
        1: " ".join(f"the apple{i}" for i in range(100)),  # 200 tokens
        2: " ".join(f"the banana{i}" for i in range(150)),  # 300 tokens, cum=500
        3: "the quick brown fox jumps over the lazy dog again today",  # 11, cum=511
    }
    ids = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in ids]),
                "lang": pa.array(["en"] * len(ids)),
                "source": pa.array(["s"] * len(ids)),
                "n_chars": pa.array([len(texts[i]) for i in ids], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    spec = all_specs()["q95_curation_pipeline"]
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

    assert len(spark_pdf) == 1
    r = spark_pdf.iloc[0]
    # the boundary doc (cum == budget exactly) is kept; the next is not
    assert int(r["n_kept"]) == 2
    assert int(r["tokens_kept"]) == 500
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
    assert canonicalize(spark_pdf) == canonicalize(duck_pdf)
