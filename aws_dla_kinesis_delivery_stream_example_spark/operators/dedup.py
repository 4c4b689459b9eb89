"""Deduplication operators (SURVEY.md §2.11).

Three near-dup tiers, all shuffle-frugal by construction (exact dedup
is one hash-aggregate on the key, inline in q25):

- ngram:      exact Jaccard over distinct word shingles; linear-ish
              self-join because word 5-grams are near-unique.
- minhash:    MinHash + LSH banding — candidate pairs come from a
              band-bucket equi-join (no quadratic pair enumeration),
              then exact-Jaccard verification on candidates only.
- simhash:    64-bit sign fingerprint; near-dup candidates share a
              16-bit chunk (Hamming<=3-style banding), verified by
              true Hamming distance.

The operators read the documents frame's ``doc_id`` and ``text``
columns by name: that schema is their contract, so no column name is a
parameter (``_shingle_hash_rows`` alone takes its id column: q106's
cross-source audit and the per-source sketches shingle per ``source``).

Word shingling is JVM expressions: ``_shingle_hash_rows`` is one
codegen'd regex pass (``text.word_ngrams``) plus md5, so the queries
built on it start no Python worker. A per-row state machine that no
regex expresses stays Arrow-batched Python: ``cdc_chunk_rows`` (a
rolling-window boundary) and ``simhash_signatures`` (a weighted bit
sum). Everything after them (signature min-aggs, band joins,
verification, clustering) is JVM expressions and joins. At 100 TB: shingling is a narrow map; the
only shuffles are groupBy(doc) for signatures and the band-key join,
both on bounded-width keys. Reference parity: the
reference has no dedup; this is the mandated extension surface
(BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import NumericType

from ..functions import text as TX
from .staging import stage

# Mersenne prime 2^31-1: universal-hash modulus; the md5 60-bit prefix
# gives the base shingle hash (folded into the 31-bit field so a*h
# never overflows int64 under ANSI arithmetic). All constants fixed =>
# deterministic across runs/nodes AND reproducible in DuckDB SQL.
_MERSENNE = (1 << 31) - 1

# Word 5-grams: the shingle width of the near-dup operators here and of
# the corpus statistics built on their shingles (curation.boilerplate_ratio,
# curation.shingle_novelty, q102's per-source HLL).
_SHINGLE_N = 5


def shingle_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.1,
    max_df: int | None = None,
) -> DataFrame:
    """Exact word-5-gram Jaccard similarity for all pairs of documents
    sharing >=1 shingle.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    max_df: the 100 TB safety valve for the operator's one quadratic
    hazard — the self-join fans out O(df^2) pairs per shingle, so a
    boilerplate shingle shared by millions of docs explodes. Setting
    max_df drops shingles whose document frequency exceeds it BEFORE
    the join (both intersections and sizes use the capped shingle set,
    so the result is still an exact Jaccard — over the rare-shingle
    space). Identical/near-identical docs still match: they share their
    rare shingles too. Default None = fully exact (oracle parity).

    The shingle table is persisted as staging; after the terminal
    action on the returned frame, call ``staging.release_staging()``
    to drop it (``bench.py`` does).
    """
    # Shingling is the expensive narrow map and feeds three consumers
    # (sizes + both join sides): materialize it once. At 100 TB this is
    # a staging table write, not a cache — same idea, explicit storage.
    # Shingles are represented by their md5-prefix hash, not the
    # string: Jaccard is invariant under an injective mapping and the
    # join key shrinks ~4x.
    sh = stage(_capped_shingles(df, max_df))
    # caller releases via staging.release_staging()
    return _jaccard_pairs_on(sh, threshold)


def _jaccard_pairs_on(sh: DataFrame, threshold: float) -> DataFrame:
    """The jaccard core of shingle_jaccard_pairs over an ALREADY-STAGED
    (doc, shingle) frame — split out so callers that have the shingle
    rows in hand (minhash_calibration_report shares ONE corpus shingle
    pass between the exact-truth and MinHash sides) skip a second
    shingle pass + materialization. `sh` must be staged by the caller:
    it feeds three consumers (sizes + both self-join sides)."""
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _capped_shingles(df: DataFrame, max_df: int | None) -> DataFrame:
    """(doc, shingle) rows with the optional max_df valve applied —
    the shared prefix of shingle_jaccard_pairs and
    shared_shingle_pairs. NOT staged here: each caller stages at the
    boundary its own consumer count requires."""
    sh = _shingle_hash_rows(df, "doc_id", _SHINGLE_N).withColumnRenamed("h", "shingle")
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle", "left_semi")
    return sh


_SHARED_MAX_DF = 10  # shared_shingle_pairs' df cap (q55's max_df valve)


def shared_shingle_pairs(df: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs (doc_a < doc_b) sharing >= 1
    shingle of document frequency <= ``_SHARED_MAX_DF`` — exactly
    ``shingle_jaccard_pairs(threshold=0, max_df=_SHARED_MAX_DF)``
    projected to its id columns, without the jaccard arithmetic.

    Every co-occurring pair has n_inter >= 1 and a positive union size,
    so jaccard > 0 always passes a threshold-0 filter: the per-doc
    sizes aggregation and the two size joins of the jaccard form are
    provably dead weight for a caller that only wants the co-occurrence
    graph (q107's edge derivation; its oracle derives edges straight
    from the intersect CTE). Dropping them removes one corpus-keyed
    aggregation and two joins from the plan (guide §1.2 step 1: don't
    compute things you throw away) at any scale.

    The staged shingle frame serves the self-join's two sides; the
    caller releases via ``staging.release_staging()`` (same contract as
    shingle_jaccard_pairs). Equivalence to the threshold-0 jaccard form
    is pinned in tests/test_round8b_ops.py.
    """
    sh = stage(_capped_shingles(df, _SHARED_MAX_DF))
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def _shingle_hash_rows(
    df: DataFrame,
    id_col: str,
    n: int,
    mod: int | None = None,
    id_type: str = "long",
) -> DataFrame:
    """(doc, h) rows: one 60-bit hash per DISTINCT word n-gram of each
    row's ``text`` (distinct within the row, not across rows: two rows
    sharing an id each contribute their own n-grams).

    ``id_col`` is the column that becomes ``doc``, and ``id_type`` its
    output type (``long`` for ``doc_id``; ``string`` lets a GROUPING
    value like ``source`` ride through — the cross-source overlap audit
    shingles per source).

    JVM expressions only: ``text.word_ngrams`` (one codegen'd regex
    pass), ``array_distinct`` per row, ``explode``, ``text.hash60``.
    Two other shapes were measured and rejected. A ``mapInPandas`` pass
    starts a Python daemon and an Arrow worker next to the JVM (about
    140 MB) and was slower on 100k documents at ``local[4]`` on a
    4-vCPU host (4.6-5.0 s warm against 3.3-3.8 s). Building the n-grams with
    ``transform(sequence(...), lambda)`` is interpreted, not codegen'd,
    and took 19.7-22.0 s. Per-row distinct is also why there is no
    ``.distinct()`` on (doc, h): it adds an exchange, and it is wrong
    when the id is not unique (q132's per-source probe).

    The md5 60-bit prefix is bit-identical in DuckDB
    (CAST('0x' || substring(md5(s),1,15) AS BIGINT)), which is what
    puts the hash-based dedup queries under full hash oracles.

    ``mod`` folds the hash into a smaller space. Only the MinHash
    pipeline passes it (2^31-1, so its (2k+1)*h+c permutations stay
    inside int64); everything else uses the full 60 bits — a 31-bit
    space collides at birthday scale ~2^16 shingles, i.e. constantly
    at 100 TB, which would corrupt jaccard/contamination candidates.
    At 60 bits the collision odds for 10^10 corpus shingles are ~3%
    across the whole corpus and vanish per-pair.
    """
    grams = df.select(
        F.col(id_col).cast(id_type).alias("doc"),
        F.explode(F.array_distinct(TX.word_ngrams("text", n))).alias("s"),
    )
    h = TX.hash60("s")
    return grams.select("doc", (h if mod is None else F.pmod(h, F.lit(mod))).alias("h"))


# Content-defined chunking geometry (q135 and its oracle): 4-token
# rolling windows, a boundary where the window hash = 0 mod 32, so
# chunks run ~32 tokens.
CDC_WINDOW = 4
CDC_MASK = 32


def cdc_chunk_rows(df: DataFrame) -> DataFrame:
    """(doc, chunk_hash, chunk_len) content-defined chunks: a chunk
    boundary falls AFTER token j whenever the rolling ``CDC_WINDOW``-gram
    ending at j hashes to 0 mod ``CDC_MASK`` (gear/Rabin-style CDC on the
    word stream), so an insertion only re-chunks its local
    neighborhood — unlike fixed-stride chunking (q103), where one
    inserted token shifts every downstream chunk and defeats dedup.
    Expected chunk length ~``CDC_MASK`` tokens; a doc shorter than the
    window is one whole-doc chunk (boundaries need a full window).

    Arrow-batched Python: where a chunk ends depends on a rolling
    window hash over the tokens before it, a per-row state machine no
    regex expresses, so tokenize + window-hash + segment + chunk-hash
    run in one pass per batch. The chunk hash is the
    house 60-bit md5 prefix of the space-joined chunk tokens, so
    DuckDB reproduces every boundary and every chunk key bit-for-bit
    (string_agg over the same cumulative-cut-count chunk ids)."""
    from ..shipping import ensure_shipped

    def run(batches):
        import hashlib
        import re

        import pandas as _pd

        tok_re = re.compile(r"[a-z0-9]+")
        for pdf in batches:
            out_doc, out_h, out_len = [], [], []
            for doc, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):
                    continue
                toks = tok_re.findall(text.lower())
                if not toks:
                    continue
                start = 0
                for j in range(CDC_WINDOW, len(toks)):
                    # boundary after token j (1-based: window ends at
                    # j) <=> hash of toks[j-CDC_WINDOW:j] = 0 mod CDC_MASK;
                    # the LAST token never cuts (an empty tail chunk
                    # cannot exist in either engine's formulation)
                    w = " ".join(toks[j - CDC_WINDOW : j])
                    hw = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
                    if hw % CDC_MASK == 0:
                        chunk = " ".join(toks[start:j])
                        out_doc.append(doc)
                        out_h.append(
                            int(hashlib.md5(chunk.encode()).hexdigest()[:15], 16)
                        )
                        out_len.append(j - start)
                        start = j
                chunk = " ".join(toks[start:])
                out_doc.append(doc)
                out_h.append(int(hashlib.md5(chunk.encode()).hexdigest()[:15], 16))
                out_len.append(len(toks) - start)
            yield _pd.DataFrame(
                {"doc": out_doc, "chunk_hash": out_h, "chunk_len": out_len}
            )

    ensure_shipped(df.sparkSession)
    return df.select("doc_id", "text").mapInPandas(run, "doc long, chunk_hash long, chunk_len long")


# MinHash geometry: 64 hashes in 16 bands of 4 rows.
_MINHASH_N = 64
_MINHASH_BANDS = 16
# Estimated Jaccard at or above which a candidate pair is a near-duplicate
# (q27; the calibration audit measures recall and precision at it too).
MINHASH_THRESHOLD = 0.5


def minhash_signatures(df: DataFrame, _hash_rows: DataFrame | None = None) -> DataFrame:
    """(doc, signature array<long>) — min over ``_MINHASH_N`` universal
    hashes of the shingle-hash set. One narrow map + one groupBy(doc)
    aggregate.

    Shingle hashes are folded to 31 bits (mod 2^31-1) HERE ONLY: the
    permutation arithmetic (2k+1)*h + c must stay inside int64, and a
    31-bit base space is harmless for MinHash (collisions only merge
    shingles before the min, a vanishing perturbation of the estimate)
    — unlike the jaccard/contamination family, which needs the full
    60-bit space (see _shingle_hash_rows).

    ``_hash_rows``: optional precomputed (doc, h) rows ALREADY folded
    mod 2^31-1 (i.e. pmod of the 60-bit _shingle_hash_rows output —
    bit-identical to passing mod= into the shingle pass, since the
    60-bit h is non-negative). Lets a caller that already shingled
    the same frame (minhash_calibration_report) skip a second full
    corpus text pass; equivalence pinned in tests/test_llm_ops.py."""
    sh = (
        _hash_rows
        if _hash_rows is not None
        else _shingle_hash_rows(df, "doc_id", _SHINGLE_N, mod=_MERSENNE)
    )
    # h_i(x) = (a_i*x + b_i) mod p, fixed odd a_i / b_i derived from i.
    mins = [
        F.min(F.pmod(F.lit(2 * i + 1) * F.col("h") + F.lit(1_000_003 * (i + 1)), F.lit(_MERSENNE))).alias(f"mh{i}")
        for i in range(_MINHASH_N)
    ]
    agg = sh.groupBy("doc").agg(*mins)
    return agg.select("doc", F.array(*[f"mh{i}" for i in range(_MINHASH_N)]).alias("signature"))


def minhash_near_duplicates(
    df: DataFrame,
    _hash_rows: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: band the signature into
    ``_MINHASH_BANDS`` bands, equi-join on (band_idx, band_hash) to get
    candidates, verify candidates with the estimated Jaccard = fraction
    of matching minhashes.

    Returns (doc_a, doc_b, est_jaccard >= ``MINHASH_THRESHOLD``). The
    LSH join is the 100 TB path: candidates ~ true-positive pairs,
    never all pairs.
    """
    rows = _MINHASH_N // _MINHASH_BANDS
    # Signature computation (shingle + 64 min-aggs) feeds both join
    # sides — materialize once (staging table at 100 TB).
    sig = stage(minhash_signatures(df, _hash_rows))
    # Narrow band join: only (doc, band) rows shuffle; the 64-long
    # signatures re-attach AFTER pair dedup, so candidate multiplicity
    # never multiplies the signature payload (the shuffle-size property
    # that matters at 100 TB).
    banded = sig.select(
        "doc",
        F.posexplode(
            F.array(*[F.xxhash64(F.slice("signature", i * rows + 1, rows)) for i in range(_MINHASH_BANDS)])
        ).alias("band_idx", "band_hash"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sig.select(F.col("doc").alias("doc_a"), F.col("signature").alias("sig_a"))
    sb = sig.select(F.col("doc").alias("doc_b"), F.col("signature").alias("sig_b"))
    # Re-attach signatures with the CANDIDATE side broadcast: the
    # candidate set is ~true-positive-sized (tiny next to the corpus), so
    # both joins become broadcast hash joins and the full signature table
    # is never shuffled — the re-shuffle of `sig` was the dominant cost
    # of this stage at sf0.1 and grows with the corpus, while the
    # broadcast side grows with the duplicate count only.
    cand = sb.join(F.broadcast(sa.join(F.broadcast(cand), "doc_a")), "doc_b")
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("double") / F.lit(float(_MINHASH_N))
    return cand.select("doc_a", "doc_b", est.alias("est_jaccard")).filter(
        F.col("est_jaccard") >= MINHASH_THRESHOLD
    )


def duplicate_clusters(pairs: DataFrame) -> DataFrame:
    """Resolve near-dup (doc_a, doc_b) pairs into clusters: connected components by
    iterative min-label propagation. Returns (doc, cluster_id) where
    cluster_id = min doc id in the component.

    Driver-side loop, data-side joins: each iteration is ONE join +
    ONE aggregation — the label rebuild `min(own, min over neighbors)`
    folds the propagated labels and the node's own label in a single
    hash agg over their union (round-17 fusion; previously each round
    paid a second, node-sized left join to re-attach own labels).
    Convergence is detected from the label-sum invariant: min-label
    propagation only ever DECREASES labels, so the per-round sum of
    cluster_ids (summed exactly, as decimal(38,0), so corpus-scale id
    sums cannot wrap int64) is strictly decreasing until the fixpoint
    and equal sums <=> no label changed — one scalar aggregate per
    round over the checkpointed labels, replacing the old
    changed-count job, with the previous round's sum remembered on the
    driver instead of re-derived. `localCheckpoint` truncates lineage
    so the plan stays flat. Plain one-hop min propagation converges in
    O(diameter) iterations — NOT O(log): the min label moves one edge
    per round.
    That is the right trade here because dedup components are near-
    cliques in practice (every copy pairs with every other, diameter
    1-2), so 2-3 iterations suffice at any scale and each keeps the
    simple equi-join shape. A corpus whose duplicates drift GRADUALLY
    (a 1,000-version chain where only adjacent versions clear the
    similarity threshold) would pay ~1,000 driver-side rounds; if
    that shape matters, switch to a pointer-doubling / large-star-
    small-star variant (O(log) rounds at ~2x the per-round join work)
    — the propagation loop below is the only thing that changes.

    Resource note: each iteration's ``localCheckpoint`` stores its
    result; superseded checkpoints are freed by Spark's ContextCleaner
    once the driver garbage-collects their references, so a long-lived
    driver session accrues at most O(iterations) small label tables
    between GCs (``import gc; gc.collect()`` forces the release).
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("cluster_id", F.col("doc"))
    )
    # The sum-based convergence test is only sound for NUMERIC ids: a
    # non-numeric id (e.g. string doc keys) casts to NULL, F.sum
    # returns NULL, and the None-break below would silently return
    # under-merged clusters after one round (round-17 advisor). Fail
    # loudly at entry instead; with numeric non-null ids, a NULL sum
    # means exactly "labels is empty" (decimal(38,0) overflow needs
    # ~1e28 corpus-scale ids — out of scope by construction).
    id_type = labels.schema["cluster_id"].dataType
    if not isinstance(id_type, NumericType):
        raise TypeError(
            "duplicate_clusters: ids must be numeric for the sum-based "
            f"convergence test; got {id_type.simpleString()} — map ids "
            "to a numeric key (e.g. xxhash64) before clustering"
        )
    prev_sum = None
    while True:
        labels = (
            edges.join(
                labels.select(F.col("doc").alias("dst"), "cluster_id"), "dst"
            )
            .select(F.col("src").alias("doc"), "cluster_id")
            .unionAll(labels)
            .groupBy("doc")
            # LAZY checkpoint: the convergence sum right below is the
            # round's one action and materializes it — eager would pay
            # a separate job per round just to store the same rows
            # (round 17: 2 jobs/round -> 1). Lineage is truncated
            # either way (the checkpoint replaces the join/agg tree
            # with an RDD scan in every downstream plan).
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum is None or cur_sum == prev_sum:
            break  # empty graph, or fixpoint (sum is strictly decreasing)
        prev_sum = cur_sum
    edges.unpersist()
    return labels


def cluster_survivors(clusters: DataFrame, scored: DataFrame) -> DataFrame:
    """Quality-aware survivor selection: per near-dup cluster, keep the
    member with the highest quality ``p_u`` (ties -> lowest id) and
    account for what gets dropped — the curation step after cluster
    resolution, where production pipelines keep the *best* copy of
    duplicated content rather than an arbitrary one (the usual
    refinement over ``duplicate_clusters``' min-id convention).

    ``clusters`` is (doc, cluster_id) as produced by
    ``duplicate_clusters``; ``scored`` carries (doc, p_u, n_chars) for
    at least every clustered doc.

    100 TB design note: survivor choice is ONE hash aggregation using
    ``max_by(id, struct(score, -id))`` — map-side-combinable and
    skew-immune, deliberately NOT a row_number window: a pathological
    mega-cluster (millions of copies of one boilerplate page) would
    funnel into a single window partition and sort, while max_by folds
    it in constant state per cluster per task.

    Returns (cluster_id, survivor_doc, survivor_score, n_members,
    n_removed, removed_n_chars) — one row per cluster.

    Contract: ``p_u`` must be non-null and exactly comparable
    (integers, e.g. q85 micro-units). A NULL score would make the
    max_by ordering struct contain a null field, whose placement
    engines disagree on — coalesce scores before calling. And
    ``doc`` must be NUMERIC: the tie-break negates it, and under
    non-ANSI Spark negating a string casts to NULL, which would make
    the struct ordering engine-dependent instead of failing — so the
    type is validated here and a non-numeric id raises immediately.
    """
    _NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")
    id_type = dict(clusters.dtypes).get("doc")
    if id_type is None or not (
        id_type in _NUMERIC or id_type.startswith("decimal")
    ):
        raise TypeError(
            "cluster_survivors: column 'doc' must be numeric for the "
            f"max_by(id, struct(score, -id)) tie-break, got {id_type!r} — "
            "hash or zip string ids to a numeric surrogate first "
            "(e.g. xxhash64(id))"
        )
    j = clusters.join(scored, "doc")
    # struct comparison is lexicographic: max score first, then max(-id)
    # = min id — the deterministic tie-break both engines agree on for
    # exact-integer scores
    pref = F.struct(
        F.col("p_u").alias("s"), (-F.col("doc")).alias("neg_id")
    )
    aggs = [
        F.max_by(F.col("doc"), pref).alias("survivor_doc"),
        F.max("p_u").alias("survivor_score"),
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - 1).alias("n_removed"),
        (F.sum("n_chars") - F.max_by(F.col("n_chars"), pref)).alias("removed_n_chars"),
    ]
    return j.groupBy("cluster_id").agg(*aggs)


def simhash_signatures(df: DataFrame) -> DataFrame:
    """64-bit SimHash packed into ONE long: (doc, sig, chunks array<int>).

    bit_j = sign of Σ_tokens tf(token) * (2*bit_j(hash(token)) - 1); the
    four 16-bit chunks are the banding keys (two fingerprints within
    Hamming distance 3 share at least one chunk — pigeonhole). Packing
    into a long keeps pair-join rows ~24 bytes and makes Hamming
    distance a single ``bit_count(xor)`` — the layout that survives
    100 TB: the candidate shuffle moves fixed-width keys, never arrays.

    Computed in ONE Arrow-batched narrow pass (tokenize + hash +
    weighted bit-sum in numpy), with a per-worker token→bits cache —
    real vocabularies repeat heavily, so hashing amortizes to near-zero.
    This replaced a token-explode + 64-way groupBy aggregate that
    shuffled one row per token OCCURRENCE (corpus-sized shuffle vs none;
    measured 3x faster at sf0.1 and strictly better at scale). Docs with
    no tokens produce no signature, matching the former groupBy-of-
    empty-explode semantics.
    """
    from ..shipping import ensure_shipped

    def run(batches):
        import hashlib
        import re
        from collections import Counter

        import numpy as np
        import pandas as _pd

        tok_re = re.compile(r"[a-z0-9]+")
        # token -> (64,) 0/1 bit row; bounded so a pathological vocabulary
        # can't grow executor memory without limit
        cache: dict[str, np.ndarray] = {}
        # weights[k] pairs with unpackbits order (MSB-first): bit k of
        # the digest-as-big-endian-int is sig bit 63-k
        weights = np.left_shift(np.uint64(1), np.arange(63, -1, -1, dtype=np.uint64))

        def tok_bits(tok: str) -> np.ndarray:
            b = cache.get(tok)
            if b is None:
                # first 8 md5 bytes, MSB-first: ENGINE-PORTABLE — DuckDB
                # rebuilds the same 64-bit profile from the md5 hex
                # prefix (two 32-bit halves), putting SimHash (q28)
                # under a full hash oracle.
                d = hashlib.md5(tok.encode()).digest()[:8]
                b = np.unpackbits(np.frombuffer(d, np.uint8)).astype(np.int64)
                if len(cache) < 200_000:
                    cache[tok] = b
            return b

        for pdf in batches:
            out_doc, out_sig, out_chunks = [], [], []
            for doc, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):
                    continue
                tf = Counter(tok_re.findall(text.lower()))
                if not tf:
                    continue
                m = np.stack([tok_bits(t) for t in tf])  # (unique, 64)
                counts = np.fromiter(tf.values(), dtype=np.int64, count=len(tf))
                s = counts @ (2 * m - 1)
                v = ((s > 0).astype(np.uint64) * weights).sum(dtype=np.uint64)
                sig = int(v)
                if sig >= 1 << 63:
                    sig -= 1 << 64  # two's-complement into a Spark long
                out_doc.append(doc)
                out_sig.append(sig)
                out_chunks.append([int((int(v) >> (16 * c)) & 0xFFFF) for c in range(4)])
            yield _pd.DataFrame({"doc": out_doc, "sig": out_sig, "chunks": out_chunks})

    ensure_shipped(df.sparkSession)
    return df.select("doc_id", "text").mapInPandas(run, "doc long, sig long, chunks array<int>")


# Manku-style banding (Manku/Jain/Das Sarma, WWW'07 "Detecting
# near-duplicates for web crawling"): split the 64-bit fingerprint into
# 6 blocks (11,11,11,11,10,10 bits); a pair within Hamming distance 3
# has >= 3 clean blocks, so at least one of the C(6,3)=20 block-triple
# combinations matches exactly. Band keys are ~32 bits — 65536x more
# selective than a single 16-bit chunk, which kills the birthday-
# paradox candidate growth a growing corpus inflicts on narrow keys
# (measured: candidate exponent 2.0 with 16-bit chunks over 500 ->
# 5,000 documents, SCALE_REHEARSAL_r04.json).
_MANKU_BLOCK_BITS = (11, 11, 11, 11, 10, 10)
_MANKU_RADIUS = 3  # the guarantee: hamming <= 6 - 3 blocks clean


def _manku_band_keys(sig_col) -> list:
    """One ~32-bit band key expression per block-triple combination."""
    from itertools import combinations

    offs, acc = [], 0
    for w in _MANKU_BLOCK_BITS:
        offs.append(acc)
        acc += w
    blocks = [
        F.shiftrightunsigned(sig_col, offs[j]).bitwiseAND(F.lit((1 << w) - 1))
        for j, w in enumerate(_MANKU_BLOCK_BITS)
    ]
    keys = []
    for band, (i, j, k) in enumerate(combinations(range(len(blocks)), 3)):
        key = (blocks[i] * F.lit(1 << 22)) + (blocks[j] * F.lit(1 << 11)) + blocks[k]
        keys.append(F.struct(F.lit(band).alias("band"), key.alias("key")))
    return keys


# Fail-fast bound of simhash_band_candidates: a band bucket with more
# distinct sigs than this raises instead of running a quadratic join.
_HARD_BAND_BUCKET = 65_536


def simhash_band_candidates(
    usig: DataFrame,
    max_band_bucket: int | None = 256,
) -> DataFrame:
    """Pre-verification candidate sig pairs for the radius-3 search
    (``_MANKU_RADIUS``) from the band join over DISTINCT fingerprints:
    Manku block-triple banding, recall-guaranteed, ~32-bit keys.

    Hot-bucket valve (``max_band_bucket``, the analog of the jaccard
    ``max_df`` / tfidf absolute-cap valves): template-correlated corpora
    concentrate many DISTINCT-but-not-near fingerprints on a few band
    keys, and each such bucket contributes O(m^2) candidate pairs before
    the Hamming verify (measured: candidate exponent 1.64 over a 10x
    corpus growth — SCALE_REHEARSAL_r05.json).  Band buckets larger than
    the bound are therefore re-joined under a REFINED key: (band key,
    chunk position, 16-bit chunk value).  Pigeonhole keeps this exact
    for the radius-3 search — a pair within Hamming distance 3 differs
    in <= 3 of the four 16-bit chunks, so at least one chunk position
    matches exactly — while pairs whose differences touch all four
    chunks (Hamming >= 4, i.e. every false positive the hot buckets
    mass-produce) never meet.  Recall is unchanged; only the candidate
    over-generation is cut, so the semantic oracle (all Hamming<=3
    pairs) still holds.

    The hot-key set is broadcast: its size is bounded by
    20*|unique sigs|/max_band_bucket, so size the bound to keep that
    broadcastable at the target corpus (at 10^9 unique sigs the default
    256 bounds it at ~80M keys — raise the bound accordingly; the valve
    only needs to engage on the pathological tail).  ``None`` is the
    unvalved band join, the reference the valve tests compare against.
    Worst case — many distinct sigs differing only inside ONE chunk —
    is irreducible for an exact radius-3 search (those candidates may
    all be true pairs), so the refined join's budget is the honest
    floor, not a silent cap.

    ``_HARD_BAND_BUCKET`` completes the budget with a FAIL-FAST (the
    ``_checked_milliweight`` philosophy: never silently quadratic): a
    band bucket beyond the hard bound — a degenerate fingerprint crowd,
    e.g. web-scale boilerplate collapsing onto one sig neighborhood —
    raises with sizing guidance instead of running an unbounded refined
    self-join, on the valved and the unvalved path alike.  The candidate
    budget is hard: cold pairs <= 20*n*max_band_bucket/2, refined hot
    pairs <= (20n/max_band_bucket) * 2*_HARD_BAND_BUCKET^2 — linear in
    corpus size — and each candidate costs one XOR+POPCNT to verify.
    Exact-dedup the degenerate sig crowd first (it is, definitionally,
    a set of exact near-duplicates).
    """

    overflow = F.raise_error(
        F.concat(
            F.lit(
                "simhash band bucket exceeds the hard bound "
                f"({_HARD_BAND_BUCKET}): a degenerate fingerprint crowd "
                "would make even the chunk-refined join quadratic. "
                "Exact-dedup the crowd first (those docs share a "
                "fingerprint neighborhood); bucket_rows="
            ),
            F.col("bucket_rows").cast("string"),
        )
    ).isNotNull()

    def _pairs(side: DataFrame, keys: list[str]) -> DataFrame:
        a, b = side.alias("a"), side.alias("b")
        cond = F.col("a.sig") < F.col("b.sig")
        for k in keys:
            cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
        return a.join(b, cond).select(
            F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b")
        )

    banded = usig.select(
        "sig", "chunks", F.explode(F.array(*_manku_band_keys(F.col("sig")))).alias("bk")
    ).select("sig", "chunks", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    bucket_rows = banded.groupBy("band", "key").agg(F.count(F.lit(1)).alias("bucket_rows"))
    over_hard = F.when(F.col("bucket_rows") > _HARD_BAND_BUCKET, overflow)

    if max_band_bucket is None:
        # the fail-fast as an anti join against a tripwire aggregate
        # that is empty when every bucket is under the hard bound and
        # RAISES while being built otherwise (the raise lives in a
        # filter predicate — a projection could be pruned by Catalyst;
        # a filter cannot)
        tripwire = bucket_rows.filter(over_hard.otherwise(F.lit(False))).select("band", "key")
        unvalved = banded.drop("chunks").join(F.broadcast(tripwire), ["band", "key"], "left_anti")
        return _pairs(unvalved, ["band", "key"]).dropDuplicates(["sig_a", "sig_b"])

    # valved path: the fail-fast shares the hot-key aggregation — it is
    # evaluated while materializing the broadcast hot-key set, so an
    # over-the-bound bucket stops the job before any refined join runs
    hot_keys = bucket_rows.filter(
        (F.col("bucket_rows") > max_band_bucket) & over_hard.otherwise(F.lit(True))
    ).select("band", "key")
    cold = banded.join(F.broadcast(hot_keys), ["band", "key"], "left_anti").drop("chunks")
    hot = (
        banded.join(F.broadcast(hot_keys), ["band", "key"], "left_semi")
        .select("sig", "band", "key", F.posexplode("chunks").alias("cpos", "ckey"))
    )
    return (
        _pairs(cold, ["band", "key"])
        .unionByName(_pairs(hot, ["band", "key", "cpos", "ckey"]))
        .dropDuplicates(["sig_a", "sig_b"])
    )


def simhash_near_duplicates(df: DataFrame) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance ``_MANKU_RADIUS``:
    candidates share a Manku block-triple band key, verified by exact
    Hamming distance = bit_count(sig_a XOR sig_b).

    The band join runs over DISTINCT fingerprints, not docs: a corpus
    with many identical fingerprints (exact duplicates are common in
    web data) otherwise turns every hot band bucket into an O(n^2)
    doc-pair blow-up *before* verification. Banding unique sigs caps
    the join at unique-fingerprint cardinality; doc multiplicity
    re-attaches after the (tiny) verified sig-pair set. DISTINCT-sig
    crowding goes through the hot-bucket valve (recall-preserving
    chunk refinement — see :func:`simhash_band_candidates`).
    """
    sig = stage(simhash_signatures(df))
    # usig feeds up to five scans inside the candidate generator, and
    # recomputing the distinct from the staged `sig` per scan looks
    # wasteful — but staging usig too was MEASURED WORSE (2.2 s -> 5.9 s
    # at sf0.1): the InMemoryRelation hides the size statistics that let
    # Catalyst broadcast the band self-joins, trading a cheap re-shuffle
    # of cached rows for sort-merge joins. Leave the distinct lazy.
    usig = sig.select("sig", "chunks").distinct()
    spair = (
        simhash_band_candidates(usig)
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= _MANKU_RADIUS)
    )
    da = sig.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    db = sig.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    # Doc multiplicity re-attaches with the verified sig-pair set
    # BROADCAST (it is near-dup-sized, not corpus-sized), so the full
    # per-doc fingerprint table is never shuffled: both re-attach joins
    # are broadcast hash joins over the persisted `sig` scan.
    cross = db.join(F.broadcast(da.join(F.broadcast(spair), "sig_a")), "sig_b").select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
        "hamming",
    )
    # identical fingerprints: true duplicate pairs, hamming 0 by identity.
    # Restrict both sides to fingerprints that actually repeat (a tiny,
    # broadcastable set) before the self-join — otherwise the equi-join
    # shuffles the whole corpus to produce a duplicate-sized output.
    dup_sigs = (
        sig.groupBy("sig").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1).select("sig")
    )
    dup_docs = sig.join(F.broadcast(dup_sigs), "sig", "left_semi").select("doc", "sig")
    x, y = dup_docs.alias("x"), dup_docs.alias("y")
    same = x.join(
        y, (F.col("x.sig") == F.col("y.sig")) & (F.col("x.doc") < F.col("y.doc"))
    ).select(
        F.col("x.doc").alias("doc_a"),
        F.col("y.doc").alias("doc_b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    return cross.unionByName(same)



def minhash_calibration_report(docs: DataFrame) -> DataFrame:
    """Estimator-quality audit: how well do the MinHash(64)+LSH(16)
    candidates (q27) track the EXACT-Jaccard >= 0.5 truth set
    (cap-free q26)? One summary row:

    (n_truth, n_candidates, n_hit, recall_milli, precision_milli,
     mean_est_err_milli, max_est_err_milli)

    where hit = candidate pair that is also a truth pair, and the est
    error compares the signature estimate against the exact Jaccard on
    the hit pairs, in integer milli-units (per-pair rounding BEFORE the
    mean keeps the aggregate off float summation order — the q105
    lattice rule).

    This is the 'measure, don't guess' loop as a first-class operator:
    at 100 TB one runs it on a sampled stratum to pick bands/hashes
    before committing the full dedup job. Cost = the two candidate
    generators it audits; the join of their outputs is pair-set-sized.

    The two generators SHARE one corpus shingle pass (round 17): both
    shingle at n=5, and the MinHash base hash is exactly the 60-bit
    hash folded mod 2^31-1, so one staged 60-bit (doc, h) frame feeds
    the exact-jaccard side directly and the MinHash side through a
    pmod projection — halving the operator's full-corpus text passes
    (guide §1.2 step 1: the dominant cost at 100 TB is reading and
    tokenizing the corpus, and this audit was doing it twice).
    """
    sh60 = stage(_shingle_hash_rows(docs, "doc_id", _SHINGLE_N))
    truth = _jaccard_pairs_on(
        sh60.withColumnRenamed("h", "shingle"), MINHASH_THRESHOLD
    ).select("doc_a", "doc_b", F.round(F.col("jaccard") * 1000, 0).cast("long").alias("ej_exact_milli"))
    h31 = sh60.select("doc", F.pmod(F.col("h"), F.lit(_MERSENNE)).alias("h"))
    cand = minhash_near_duplicates(docs, _hash_rows=h31).select(
        "doc_a", "doc_b",
        F.round(F.col("est_jaccard") * 1000, 0).cast("long").alias("ej_est_milli"),
    )
    j = truth.join(cand, ["doc_a", "doc_b"], "full_outer")
    hit = F.col("ej_exact_milli").isNotNull() & F.col("ej_est_milli").isNotNull()
    err = F.abs(F.col("ej_est_milli") - F.col("ej_exact_milli"))
    # ONE aggregation pass: the error stats are conditional aggregates
    # over the hit pairs, not a second derivation of the (expensive)
    # candidate-generator join
    return j.agg(
        F.count("ej_exact_milli").cast("long").alias("n_truth"),
        F.count("ej_est_milli").cast("long").alias("n_candidates"),
        F.count(F.when(hit, 1)).cast("long").alias("n_hit"),
        F.sum(F.when(hit, err)).alias("_err_sum"),
        F.max(F.when(hit, err)).alias("_err_max"),
    ).select(
        "n_truth",
        "n_candidates",
        "n_hit",
        F.round(F.col("n_hit") * 1000.0 / F.nullif(F.col("n_truth"), F.lit(0)), 0)
        .cast("long")
        .alias("recall_milli"),
        F.round(
            F.col("n_hit") * 1000.0 / F.nullif(F.col("n_candidates"), F.lit(0)), 0
        )
        .cast("long")
        .alias("precision_milli"),
        F.round(
            F.col("_err_sum") / F.nullif(F.col("n_hit"), F.lit(0)).cast("double"), 2
        ).alias("mean_est_err_milli"),
        F.coalesce(F.col("_err_max"), F.lit(0)).cast("long").alias("max_est_err_milli"),
    )


# Knuth multiplicative hash (floor(2^32/phi) mod 2^31-1): the q60
# deterministic-split convention (plans/llm.py), restated here because
# operators must not import plans. Engine-independent integer
# arithmetic — any SQL engine reproduces the stratum exactly.
_CAL_SAMPLE_MULT = 2654435761
_CAL_SAMPLE_MOD = 2147483647
# The audited stratum: hash mod 2, bucket 0 — the largest proper
# stratum, non-vacuous (n_truth > 0) at every committed SF (mod 4
# already empties the truth set at sf0.01's geometry). At 100 TB the
# stratum would be far smaller (mod 1000 for a 0.1% pilot).
CAL_STRATUM_MOD = 2
CAL_STRATUM_BUCKET = 0


def minhash_calibration_sampled(docs: DataFrame) -> DataFrame:
    """``minhash_calibration_report`` restricted to a DETERMINISTIC
    1/``CAL_STRATUM_MOD`` document stratum — the 100 TB execution mode
    of q114.

    q114's point is "measure, don't guess": audit the LSH candidate
    generator against cap-free EXACT-Jaccard truth before committing
    the full dedup job. The exact side is the one corpus-quadratic
    piece, fine at bench SF and unpayable at 100 TB. The scale answer
    is not to cap it (a df cap changes what "truth" means) but to
    SAMPLE the corpus: run the identical audit on a multiplicative-
    hash stratum of the documents (the q60 split convention, so the
    stratum is reproducible in any engine and uncorrelated with
    doc_id order or content), then size bands/hashes from the sampled
    recall/precision. Sampling DOCUMENTS (not pairs) keeps both
    generators' semantics intact within the stratum; the measured
    tradeoff is that cross-stratum pairs are invisible — recall/
    precision are estimated from within-stratum pairs, which is the
    standard SNM/LSH calibration protocol and unbiased when strata
    are hash-random.

    The result equals q114's report over a corpus of only the
    stratum's documents (pinned by test): a scale mode equals its
    audited face wherever both are computable. The stratum filter is a
    scan-side integer predicate applied before any shuffle or Arrow
    pass, so the whole pipeline downstream (shingling, signatures,
    joins) runs on |corpus|/CAL_STRATUM_MOD rows.
    """
    # Reduce id mod P BEFORE multiplying: the raw product overflows
    # int64 past id ~3.47e9 — Spark would wrap silently (dropping those
    # docs from every bucket) while DuckDB raises; the reduced form is
    # mathematically identical and peaks at (P-1)*MULT ~ 5.7e18, inside
    # int64.
    bucket = (
        (F.col("doc_id") % _CAL_SAMPLE_MOD)
        * _CAL_SAMPLE_MULT
        % _CAL_SAMPLE_MOD
        % CAL_STRATUM_MOD
    )
    return minhash_calibration_report(docs.filter(bucket == CAL_STRATUM_BUCKET))
