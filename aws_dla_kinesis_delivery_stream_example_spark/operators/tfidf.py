"""Sparse TF-IDF cosine similarity (SURVEY.md §2.11 'Near-dup text
dedup' — the sparse-vector complement to the dense embedding path in
``operators/similarity.py``).

The operators read the documents frame's ``doc_id`` and ``text``
columns by name: that schema is their contract, so no column name is a
parameter.

The classic inverted-index shape: explode docs to (doc, token, tf)
postings, weight by smoothed idf, and compute pairwise dots with a
self-join ON TOKEN — so only pairs that share a term are ever formed
(the sparse analog of cluster/band blocking; never all-pairs).

100 TB notes
------------
- The one quadratic hazard is hot tokens: a stopword shared by every
  doc fans out O(df^2) pairs. ``MAX_DF`` is the valve (same contract
  as shingle_jaccard_pairs' ``max_df``): drop postings whose document
  frequency exceeds it BEFORE the join. For TF-IDF this is
  principled, not just safe — high-df terms carry near-zero idf
  weight, so the cosine over the capped vocabulary is the cosine that
  matters.
- Weights are rounded to 6 dp on a shared grid (both engines compute
  ``round(tf * ln((N+1)/(df+1)), 6)``), keeping the DuckDB oracle
  hash-exact despite platform ``ln`` ulp differences.
- Postings are materialized once (persist) and feed four consumers
  (df filter already applied, both join sides, norms) — one staging
  table, one corpus scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX
from .staging import stage

# Milli-weight magnitude bound for the integer cosine arithmetic.  The
# squared-norm / dot sums run in int64, which under non-ANSI Spark
# WRAPS silently on overflow — corrupting cosines instead of failing.
# |w_m| <= 3e6 keeps every square <= 9e12, so a document needs > 1e6
# surviving distinct terms before a sum can reach int64 range; weights
# above the bound (w = tf*idf > 3000, e.g. a pathological doc
# repeating one rare token ~1e5+ times) fail fast with sizing
# guidance instead (same valve philosophy as MAX_DF / the GEMM budget
# guard in clustering.py).
_MAX_W_M = 3_000_000


def _checked_milliweight(w_m):
    return F.when(
        F.abs(w_m) > _MAX_W_M,
        F.raise_error(
            F.concat(
                F.lit(
                    "tfidf weight exceeds the integer-cosine bound "
                    f"(|w*1000| > {_MAX_W_M}): a document repeats a rare "
                    "token enough to overflow int64 norm sums. Cap term "
                    "frequency upstream or drop the token via the df cap; "
                    "offending w_m="
                ),
                w_m.cast("string"),
            )
        ).cast("long"),
    ).otherwise(w_m)


# The hot-token cap on postings is greatest(MAX_DF, least(n_docs *
# MAX_DF_FRAC, MAX_DF_CEILING)): an absolute floor so a small corpus
# keeps its vocabulary, a corpus-relative term so the cap means the
# same across scale factors, and an absolute ceiling on that term.
MAX_DF = 50
MAX_DF_FRAC = 0.1
# The ceiling: the join hazard is O(df^2) pairs per token, so any cap
# that grows linearly with the corpus admits quadratic total work —
# measured at exponent 2.81 / 331 s / 125M pairs for just 50k docs
# without it (SCALE_REHEARSAL_r05.json, tfidf frac mode). Clamped, the
# cap is constant once the corpus outgrows MAX_DF_CEILING / MAX_DF_FRAC
# docs: per-token fan-out is then at most C(ceiling, 2) pairs (~0.5M
# at 1000) regardless of N.
MAX_DF_CEILING = 1_000
# TF-IDF cosine at or above which two documents pair (q81).
TFIDF_THRESHOLD = 0.3


def tfidf_postings(docs: DataFrame) -> DataFrame:
    """(doc, tok, w) postings with smoothed-idf weights on the 6-dp
    grid, over the tokens whose document frequency is within the
    hot-token cap (see ``MAX_DF``)."""
    toks = (
        docs.select(F.col("doc_id").alias("doc"), F.explode(TX.words("text")).alias("tok"))
        .groupBy("doc", "tok")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    rel = F.least(F.col("n_docs") * MAX_DF_FRAC, F.lit(float(MAX_DF_CEILING)))
    cap = F.greatest(F.lit(float(MAX_DF)), rel)
    dfreq = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df").cast("double") <= cap)
        .select("tok", "df")
    )
    return (
        toks.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc",
            "tok",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1) / (F.col("df").cast("double") + 1)),
                6,
            ).alias("w"),
        )
    )


def tfidf_cosine_pairs(docs: DataFrame) -> DataFrame:
    """All doc pairs sharing >= 1 (surviving) term, with TF-IDF cosine
    >= ``TFIDF_THRESHOLD``. Returns (doc_a, doc_b, cos_sim) with doc_a
    < doc_b, cosine rounded to 4 dp (threshold applied on the 6-dp
    grid).

    Dot products and norms are summed in INTEGER milli-weight units
    (w_m = round(w * 1000)): double sums are accumulation-order-
    dependent, and a pair whose cosine lands on a rounding boundary
    would flip in/out of the result between engines. Integer sums are
    exact and order-free, so the downstream sqrt/divide/round runs on
    bit-identical inputs everywhere. Magnitudes are CHECKED, not
    assumed: |w_m| > _MAX_W_M raises at scan time (see
    _checked_milliweight) rather than letting int64 norm sums wrap.

    The postings table is persisted as staging (feeds norms + both
    join sides); after the terminal action on the returned frame, call
    ``staging.release_staging()`` to drop it (``bench.py`` does).

    RECALL WARNING — do not use this operator for recall-critical
    dedup. The df cap prunes the candidate join's hottest terms, and
    duplicated *templates* live exactly in those high-df terms: on
    sf0.1's 5,000 documents (SCALE_REHEARSAL_r07.json, SCALE.md
    §TF-IDF), an absolute ``MAX_DF`` cap found **0 of 256** planted
    true pairs and this relative cap ~5%, while
    :func:`~..operators.dedup.minhash_near_duplicates` found 100% at
    linear candidate growth. TF-IDF cosine is the right operator for
    *content* similarity over distinctive vocabulary (retrieval-ish
    workloads, BM25 companions); for near-duplicate detection where
    missing a pair matters, use MinHash — it is this repo's designated
    recall operator."""
    w = stage(
        tfidf_postings(docs)
        .withColumn(
            "w_m",
            _checked_milliweight(F.round(F.col("w") * 1000, 0).cast("long")),
        )
        # Drop zero-weight postings (idf = 0 for a token present in
        # EVERY doc): they contribute nothing to any dot product or
        # norm, they widen the hottest possible join key, and a doc
        # whose tokens are ALL zero-weight would get nrm = 0 — whose
        # 0/0 cosine THROWS under Spark 4's default ANSI mode while
        # the DuckDB oracle yields NULL and drops the pair. With the
        # filter, such a doc simply has no postings and no pairs —
        # the same answer set as the oracle's NULL-filtered rows.
        .filter(F.col("w_m") != 0)
    )
    norms = w.groupBy("doc").agg(
        F.sqrt(F.sum(F.col("w_m") * F.col("w_m")).cast("double")).alias("nrm")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.sum(F.col("a.w_m") * F.col("b.w_m")).alias("dot"))
    )
    na = norms.select(F.col("doc").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc").alias("doc_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot").cast("double") / (F.col("na") * F.col("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(F.round(cos, 6) >= TFIDF_THRESHOLD)
        .select("doc_a", "doc_b", F.round(cos, 4).alias("cos_sim"))
    )


# Okapi BM25's standard term-saturation and length-normalization weights.
_BM25_K1 = 1.2
_BM25_B = 0.75
# the catalog's fixed search (q82, and q84's lexical retriever)
BM25_QUERY = ("spark", "stream", "join")


def bm25_topk(
    docs: DataFrame,
    top_k: int = 20,
    with_rank: bool = False,
) -> DataFrame:
    """BM25 ranked retrieval for ``BM25_QUERY`` over the corpus — the
    search the reference delivers documents INTO OpenSearch for
    (kds_example/oss_utils.py:43-47 match_all / search helpers are the
    §2.8 query surface; this is the scored variant), computed
    Spark-side.

    Scale shape: the ``isin(BM25_QUERY)`` filter lands directly on
    the exploded postings BEFORE any shuffle, so posting volume is
    bounded by the query vocabulary, not the corpus vocabulary; corpus
    stats (N, avgdl) are a broadcast 1-row aggregate; the final cut is
    TakeOrderedAndProject. Per-term weights and the summed score are
    rounded on a 6-dp grid so ranking (and the DuckDB oracle hash)
    is platform-exact; returns (doc, bm25) with bm25 at 4 dp.
    """
    base = docs.select(
        F.col("doc_id").alias("doc"), TX.words("text").alias("tks")
    ).withColumn("dl", F.size("tks").cast("double"))
    stats = base.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    posts = (
        base.select("doc", "dl", F.explode("tks").alias("tok"))
        .filter(F.col("tok").isin(list(BM25_QUERY)))
        .groupBy("doc", "tok")
        .agg(F.count("*").cast("double").alias("tf"), F.first("dl").alias("dl"))
    )
    dfreq = posts.groupBy("tok").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf") + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    terms = (
        posts.join(dfreq, "tok")
        .crossJoin(F.broadcast(stats))
        .select("doc", F.round(idf * tf_norm, 6).alias("w"))
    )
    cut = (
        terms.groupBy("doc")
        .agg(F.round(F.sum("w"), 6).alias("score"))
        .orderBy(F.desc("score"), "doc")
        .limit(top_k)
    )
    if with_rank:
        from pyspark.sql.window import Window

        # ranking window runs on the already-limited top_k rows (a
        # single tiny partition by construction), never the corpus
        rn = F.row_number().over(Window.orderBy(F.desc("score"), "doc"))
        return cut.select(
            "doc", F.round("score", 4).alias("bm25"), rn.cast("long").alias("rank")
        )
    return cut.select("doc", F.round("score", 4).alias("bm25"))
