"""Planted-signal tests for the sparse TF-IDF cosine operator (q81)."""

from __future__ import annotations

from aws_dla_kinesis_delivery_stream_example_spark.operators.tfidf import (
    MAX_DF,
    MAX_DF_CEILING,
    MAX_DF_FRAC,
    tfidf_cosine_pairs,
    tfidf_postings,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_identical_docs_score_one(spark):
    docs = _docs(
        spark,
        [
            (1, "quick brown fox jumps over the lazy dog"),
            (2, "quick brown fox jumps over the lazy dog"),
            (3, "entirely different words about spark engines"),
        ],
    )
    out = {(r["doc_a"], r["doc_b"]): r["cos_sim"] for r in
           tfidf_cosine_pairs(docs).collect()}
    assert set(out) == {(1, 2)}
    assert abs(out[(1, 2)] - 1.0) < 1e-6


def test_hot_token_cap_prunes_stopword_only_overlap(spark):
    # every doc shares the hot token "the" (df = MAX_DF + 2); docs 1/2
    # also share rare content. At 52 docs the relative cap is below the
    # MAX_DF floor, so the cap is df <= MAX_DF and the hot token is
    # pruned: 1-2 still pair on their rare terms, but no pair exists
    # merely through "the".
    rows = [(1, "the zebra quagga unique"), (2, "the zebra quagga unique")]
    rows += [(i, f"the other{i} material{i}") for i in range(3, MAX_DF + 3)]
    docs = _docs(spark, rows)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in tfidf_cosine_pairs(docs).collect()
    }
    assert (1, 2) in pairs
    assert all(p == (1, 2) for p in pairs)


def test_relative_cap_floor(spark):
    # the relative cap over a tiny corpus must not go below the
    # absolute floor: with floor MAX_DF nothing is pruned at n_docs=3.
    docs = _docs(
        spark,
        [(1, "alpha beta"), (2, "alpha gamma"), (3, "alpha delta")],
    )
    toks = tfidf_postings(docs)
    assert toks.filter("tok = 'alpha'").count() == 3  # df=3 <= MAX_DF floor


def _df_corpus(spark, n_docs, tokens_by_df):
    """n_docs docs; token t appears in the first df docs for each
    (t, df), every doc also carries a unique filler token."""
    from pyspark.sql import functions as F

    i = F.col("id")
    parts = [F.when(i < df, F.lit(tok)) for tok, df in tokens_by_df] + [F.concat(F.lit("filler"), i.cast("string"))]
    return spark.range(n_docs).select(i.alias("doc_id"), F.concat_ws(" ", *parts).alias("text"))


def _surviving(docs):
    return {r["tok"] for r in tfidf_postings(docs).select("tok").distinct().collect()}


def test_relative_cap_ceiling_clamps(spark):
    # MAX_DF_CEILING + 100 docs' worth of relative cap: unclamped it
    # would be MAX_DF_CEILING + 100 and keep "hot" (df MAX_DF_CEILING
    # + 50); the ceiling clamps it to MAX_DF_CEILING, above the MAX_DF
    # floor, so "hot" is pruned while "edge" (df at the ceiling) and a
    # rare token survive.
    n = round((MAX_DF_CEILING + 100) / MAX_DF_FRAC)
    docs = _df_corpus(
        spark, n, [("hot", MAX_DF_CEILING + 50), ("edge", MAX_DF_CEILING), ("rare", 2)]
    )
    s = _surviving(docs)
    assert "rare" in s and "edge" in s and "hot" not in s


def test_cap_composition_boundaries(spark):
    # The effective cap is greatest(MAX_DF, least(MAX_DF_FRAC * N,
    # MAX_DF_CEILING)). Walk its three regimes, one corpus size each.
    # floor-dominated: greatest(50, least(0.1*200=20, 1000)) = 50
    s = _surviving(_df_corpus(spark, 200, [("mid", MAX_DF + 10), ("rare", MAX_DF)]))
    assert "rare" in s and "mid" not in s
    # frac-dominated: greatest(50, least(0.1*2000=200, 1000)) = 200
    s = _surviving(_df_corpus(spark, 2000, [("common", 250), ("mid", 200)]))
    assert "mid" in s and "common" not in s
    # ceiling-clamped: greatest(50, least(0.1*12000=1200, 1000)) = 1000
    s = _surviving(_df_corpus(spark, 12000, [("common", 1100), ("mid", 1000)]))
    assert "mid" in s and "common" not in s


def test_weights_are_on_6dp_grid(spark):
    docs = _docs(spark, [(1, "a a b"), (2, "b c")])
    ws = [r["w"] for r in tfidf_postings(docs).collect()]
    assert all(abs(w - round(w, 6)) < 1e-12 for w in ws)


def test_bm25_tf_and_length_normalization(spark):
    from aws_dla_kinesis_delivery_stream_example_spark.operators.tfidf import bm25_topk

    # "spark" is the only BM25_QUERY term these documents contain
    docs = _docs(
        spark,
        [
            # doc 1: two hits, short -> top
            (1, "spark spark engine"),
            # doc 2: one hit, same length
            (2, "spark other engine"),
            # doc 3: one hit, much longer -> length-normalized below 2
            (3, "spark " + "filler " * 40),
            # doc 4: no hits -> absent
            (4, "nothing relevant here"),
        ],
    )
    out = bm25_topk(docs, top_k=10).collect()
    ranked = [r["doc"] for r in out]
    assert ranked == [1, 2, 3]  # tf dominance, then length normalization
    scores = {r["doc"]: r["bm25"] for r in out}
    assert scores[1] > scores[2] > scores[3] > 0


def test_staging_released_after_sweep(spark):
    """Operator-internal staging caches must be releasable: run the
    persisting operators, act on their results, release, and require
    zero persistent RDDs left in the session (the long-lived-session
    leak the round-4 review flagged)."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators import dedup, tfidf
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )
    from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    # scope the assertion to THIS sweep's delta: earlier tests may have
    # run localCheckpoint-based operators (duplicate_clusters in
    # q49/q94) whose superseded checkpoint RDDs linger until the
    # driver GC triggers the ContextCleaner — out of scope here
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    tfidf.tfidf_cosine_pairs(docs).count()
    dedup.shingle_jaccard_pairs(docs, threshold=0.5).count()
    during = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert len(during - before) > 0
    assert release_staging() >= 2
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert after - before == set(), "staging sweep left its own caches behind"


def test_staging_registry_is_thread_scoped(spark):
    """release_staging() on one thread must not drop frames another
    thread staged (the interleaved-queries hazard): each submitting
    thread owns a private registry."""
    import threading

    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
        stage,
        staged_elsewhere,
    )

    df = spark.range(10)
    stage(df)
    other_released, other_orphans = [], []
    def _other():
        other_orphans.append(staged_elsewhere())
        other_released.append(release_staging())
    t = threading.Thread(target=_other)
    t.start()
    t.join()
    assert other_released == [0]  # the other thread sees nothing to drop
    assert other_orphans == [1]  # ...but the mismatch IS observable
    assert df.storageLevel.useMemory  # ours is still persisted
    assert release_staging() == 1  # and we can drop it
    assert staged_elsewhere() == 0


def test_milliweight_overflow_guard(spark):
    """A pathological doc repeating one rare token enough to push
    w_m past the int64-safe bound must FAIL FAST, not wrap silently."""
    import pytest as _pytest

    from aws_dla_kinesis_delivery_stream_example_spark.operators import tfidf
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    docs = spark.createDataFrame(
        [
            (1, "zzquare " * 2_000_000),  # tf=2e6 of a rare token: w ~ tf*ln(3/2) > 3000
            (2, "ordinary text here"),
        ],
        "doc_id long, text string",
    )
    with _pytest.raises(Exception, match="integer-cosine bound"):
        tfidf.tfidf_cosine_pairs(docs).count()
    release_staging()
