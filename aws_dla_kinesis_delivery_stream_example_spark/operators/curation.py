"""Corpus-curation operators beyond per-doc scoring (SURVEY.md §2.11
extension): benchmark-contamination checks, incremental (batch-vs-
corpus) dedup, boilerplate n-gram detection, and embedding-centroid
quality stats.

The operators read their frames' columns by name: a documents frame's
``doc_id`` and ``text`` (``source`` for the cross-source audit, ``fp``
for the snapshot diff) and the embeddings frame's ``vec_id``,
``embedding`` and ``label``. That schema is their contract, so no
column name is a parameter.

100 TB design notes
-------------------
- Contamination: the *benchmark* shingle set is tiny (benchmarks are
  MBs, the corpus is TBs), so the membership probe is a broadcast semi
  join — the corpus-sized side streams map-side, no shuffle of corpus
  shingles at all.
- Incremental dedup: the "have we seen this content before" key is a
  fixed-width digest (md5 here: engine-independent, reproducible by any
  SQL oracle; swap xxhash64 in production for speed), so the anti join
  shuffles 16-byte keys, never document bodies.
- Boilerplate: document-frequency counting is a map-side-combinable
  aggregation; the resulting boilerplate set (shingles with df >=
  min_df) is vastly smaller than the corpus and broadcasts back for
  the per-doc ratio join.
- Centroid stats: per-label centroids are |labels| x dim doubles —
  broadcast-sized by construction; the per-vector cosine is a narrow
  map over the embedding column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from .staging import stage

CONTAM_N = 4  # word n-gram width of every benchmark-contamination check
FUZZY_MAX_DIST_MILLI = 300  # fuzzy_contamination: normalized edit distance <= 0.3
# chunk_dedup_rewrite geometry: non-overlapping 16-token chunks (the
# C4/RefinedWeb dedup granularity), small enough that the ~54-token
# synthetic docs produce 3-4 chunks each, so removal is non-vacuous.
DEDUP_CHUNK_TOKENS = 16
_SPAN_N = 20  # duplicated_span_stats: tokens per window
_SNAPSHOT_KEEP_COLS = ("source", "n_chars")  # snapshot_diff's carried metadata


def content_digest(text_col: str) -> Column:
    """Engine-independent content key for exact dedup across runs
    (md5 is reproducible in DuckDB/Trino/Flink SQL alike)."""
    return F.md5(F.col(text_col))


def contaminated_ids(candidates: DataFrame, benchmark: DataFrame) -> DataFrame:
    """``doc_id`` of the candidate docs sharing >= 1 word-``CONTAM_N``-gram with
    any benchmark doc (the decontamination pass a training pipeline
    runs against eval sets before training).

    The benchmark shingle set is deduplicated and broadcast; candidate
    shingles stream through a map-side semi join. Shingles are
    represented by their md5-prefix hash (dedup._shingle_hash_rows)
    — membership is invariant under the injective mapping and the
    broadcast set shrinks ~4x.
    """
    from .dedup import _shingle_hash_rows

    bench_sh = (
        _shingle_hash_rows(benchmark, "doc_id", CONTAM_N)
        .select(F.col("h").alias("shingle"))
        .distinct()
    )
    cand_sh = _shingle_hash_rows(candidates, "doc_id", CONTAM_N).select(
        F.col("doc").alias("doc_id"), F.col("h").alias("shingle")
    )
    return (
        cand_sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )


def contamination_overlap(candidates: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Per-candidate-doc benchmark overlap FRACTION — the graded
    refinement of :func:`contaminated_ids`' boolean flag (the GPT-3
    appendix-C style "n-gram overlap with eval sets" audit): for every
    candidate document, what share of its distinct word
    ``CONTAM_N``-grams appears anywhere in the benchmark set. A
    pipeline thresholds this (drop at >= 10%, review at >= 1%) instead
    of dropping on a single shared shingle.

    Returns (doc_id, n_shingles, n_hit, overlap_frac) — one row per
    candidate doc that has >= 1 shingle (docs shorter than ``CONTAM_N``
    words produce none, same exclusion as ``boilerplate_ratio``);
    overlap_frac is rounded to 4 dp on both engines.

    100 TB shape: identical to ``contaminated_ids`` — the benchmark
    shingle set is distinct + broadcast (a real eval suite is MBs, not
    TBs), candidate shingles stream through one map-side hash join,
    and the per-doc ratio is a map-side-combinable count aggregation.
    No shuffle grows with the benchmark; everything else is linear in
    candidate corpus tokens.
    """
    from .dedup import _shingle_hash_rows

    bench_sh = (
        _shingle_hash_rows(benchmark, "doc_id", CONTAM_N)
        .select(F.col("h").alias("shingle"))
        .distinct()
    )
    cand_sh = _shingle_hash_rows(candidates, "doc_id", CONTAM_N).select(
        F.col("doc").alias("doc_id"), F.col("h").alias("shingle")
    )
    flagged = cand_sh.join(
        F.broadcast(bench_sh.withColumn("_b", F.lit(1))), "shingle", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_b"), F.lit(0))).cast("long").alias("n_hit"),
        )
        .withColumn(
            "overlap_frac",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_shingles").cast("double"),
                4,
            ),
        )
    )


def incremental_dedup(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """Dedup a new ingest batch against an existing corpus, then within
    itself: drop batch docs whose content digest already exists in the
    corpus, then keep the min-id survivor per digest among the rest.

    Returns one row per kept doc: (keep_id, source, n_copies) where
    n_copies counts the within-batch duplicates it absorbed.

    NULL-text semantics are SQL's, deliberately (they are what the
    DuckDB oracle computes and what the q65 contract pins): a NULL
    digest never matches the corpus (anti-join null inequality), and
    all NULL-text batch docs then collapse into ONE group with a
    min-id survivor — GROUP BY treats NULLs as equal. If your
    pipeline means "content unknown, keep all" for failed
    extractions, pre-filter null texts before calling; silently
    treating unknown content as mutual duplicates is usually not what
    you want (tests/test_curation.py pins the SQL behavior).
    """
    bh = batch.withColumn("_h", content_digest("text"))
    ch = corpus.select(content_digest("text").alias("_h")).distinct()
    fresh = bh.join(ch, "_h", "left_anti")
    return (
        fresh.groupBy("_h")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.expr("min_by(source, doc_id)").alias("source"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("_h")
    )


def boilerplate_ratio(docs: DataFrame) -> DataFrame:
    """Per-doc share of word-5-gram shingles that are *boilerplate*
    (appear in >= 3 distinct docs) — the C4-style repeated-template
    signal. Docs with zero shingles (shorter than 5 words) are
    excluded.

    Returns (doc_id, n_shingles, n_boiler, boiler_ratio).
    """
    # The shingle explosion feeds two consumers (the df count and the
    # per-doc ratio join) — materialize it once instead of re-running
    # the tokenize+explode over the corpus (a staging table at scale).
    # Hash-represented shingles (see contaminated_ids): df counting and
    # set membership are injective-mapping-invariant.
    from .dedup import _SHINGLE_N, _shingle_hash_rows

    sh = stage(
        _shingle_hash_rows(docs, "doc_id", _SHINGLE_N).select(
            F.col("doc").alias("doc_id"), F.col("h").alias("shingle")
        )
    )
    boiler = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 3)
        .select("shingle")
    )
    flagged = sh.join(
        F.broadcast(boiler.withColumn("_b", F.lit(1))), "shingle", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_b"), F.lit(0))).cast("long").alias("n_boiler"),
        )
        .withColumn(
            "boiler_ratio",
            F.col("n_boiler").cast("double") / F.col("n_shingles").cast("double"),
        )
    )


def duplicated_span_stats(docs: DataFrame) -> DataFrame:
    """Per-doc duplicated-span coverage — the EXACTSUBSTR-style signal
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): how much of each document is covered by ``_SPAN_N``-token
    windows that occur MORE THAN ONCE in the corpus (cross-doc or
    within-doc). Unlike the pair-producing dedup family this emits one
    row per document, so there is NO pair join and no O(df^2) hazard
    anywhere: window hashing is a narrow map, the duplicate-window set
    is one map-side-combinable count aggregation, the join-back is an
    equi semi join on fixed-width hashes, and coverage is a per-doc
    window function — every stage linear in corpus token count.

    Coverage counts each token once even under overlapping duplicated
    windows (union of [pos, pos+_SPAN_N) intervals via a sorted lead()
    pass), which is what makes the number a defensible "fraction of this doc
    is duplicated text" curation signal rather than an occurrence
    count (``boilerplate_ratio`` is the occurrence-count variant at
    shingle granularity).

    Returns (doc_id, n_tokens, n_dup_windows, dup_tokens,
    dup_fraction) for EVERY input document; docs shorter than
    ``_SPAN_N`` tokens report zeros. Window hashes are 60-bit md5
    prefixes — engine-portable (the q37 pattern), so the whole statistic sits
    under a full DuckDB hash oracle.
    """
    from pyspark.sql import Window

    from ..functions import text as TX

    toks = docs.select(
        F.col("doc_id").alias("doc"), TX.words("text").alias("toks")
    ).withColumn("n_tokens", F.size("toks").cast("long"))
    window_structs = F.transform(
        F.sequence(F.lit(1), F.size("toks") - _SPAN_N + 1),
        lambda i: F.struct(
            i.alias("pos"),
            TX.hash60(F.concat_ws(" ", F.slice("toks", i, _SPAN_N))).alias("h"),
        ),
    )
    # ONE tokenize+hash pass feeds all three consumers (duplicate
    # count, join-back, final n_tokens projection): stage the
    # pre-explode frame holding (doc, n_tokens, hashed windows) —
    # a staging table at 100 TB scale.  Docs shorter than _SPAN_N carry a
    # NULL window array (explode drops them) but keep their n_tokens
    # row.  Staging pre-explode instead of post keeps the cache the
    # same size while making n_tokens free — the former shape re-ran
    # the tokenizing regex over the whole corpus a second time just to
    # recompute n_tokens for the final join.
    pre = stage(
        toks.select(
            "doc",
            "n_tokens",
            F.when(F.col("n_tokens") >= _SPAN_N, window_structs).alias("ws"),
        )
    )
    w = pre.select("doc", F.explode("ws").alias("w")).select(
        "doc", F.col("w.pos").alias("pos"), F.col("w.h").alias("h")
    )
    # duplicated = total occurrences > 1; NOT broadcast — at web scale
    # the duplicated-span set grows with the duplicate population, so
    # the join-back is a plain (linear) shuffle join, AQE may still
    # broadcast it when small
    dup = (
        w.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("h")
    )
    ww = Window.partitionBy("doc").orderBy("pos")
    nxt = F.lead("pos").over(ww)
    covered = (
        F.when(nxt.isNotNull() & (nxt - F.col("pos") < _SPAN_N), nxt - F.col("pos"))
        .otherwise(F.lit(_SPAN_N))
        .cast("long")
    )
    per_doc = (
        w.join(dup, "h", "left_semi")
        .select("doc", covered.alias("cov"))
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.sum("cov").alias("dup_tokens"),
        )
    )
    return (
        pre.select("doc", "n_tokens")
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"),
            "n_tokens",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
                6,
            ).alias("dup_fraction"),
        )
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Element-wise mean ``embedding`` per ``label`` as (label, centroid
    array<double>) — |labels| x dim rows, broadcast-sized."""
    unpacked = emb.select(
        F.col("label"), F.posexplode(F.col("embedding")).alias("pos", "val")
    )
    cent = unpacked.groupBy("label", "pos").agg(F.avg("val").alias("c"))
    return (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            "label", F.transform("pc", lambda s: s["c"]).alias("centroid")
        )
    )


def centroid_cosines(emb: DataFrame) -> DataFrame:
    """(vec_id, label, cos_centroid): the cosine of every vector to its
    label centroid — the outlier / drift signal used to filter corrupt
    or mislabeled embeddings."""
    cents = label_centroids(emb)
    return emb.join(F.broadcast(cents), "label").select(
        "vec_id", "label", cosine("embedding", "centroid").alias("cos_centroid")
    )


def chunk_dedup_rewrite(df: DataFrame) -> DataFrame:
    """C4/RefinedWeb-style duplicate-chunk REMOVAL with document
    rewrite: split each doc into non-overlapping
    ``DEDUP_CHUNK_TOKENS``-token chunks, keep only each chunk content's
    global first occurrence (min (doc_id, chunk_idx)), reassemble the
    surviving text per doc.

    Returns (doc_id, n_chunks, n_kept, removed_frac, kept_hash) — the
    60-bit hash of the rewritten text, not the text: at 100 TB the
    rewrite lands in a sink, the audit row stays narrow. A doc whose
    every chunk occurred earlier keeps nothing (kept_hash = hash60("")).

    Scale shape: (1) chunking is a narrow map with the token array
    projected BEFORE the HOF (an inline tokenize inside the lambda
    re-tokenizes per chunk — the measured ~90x q98 trap); (2) first
    occurrence per content hash is ONE min-struct hash agg — the
    skew-immune q94 shape: a boilerplate chunk shared by millions of
    docs partial-aggregates map-side, where a row_number window would
    sort that crowd on a single partition; (3) the kept set joins back
    on the 60-bit hash, linear in chunks; (4) reassembly is a per-doc
    collect_list bounded by the DOCUMENT's own chunk count. The chunk
    frame feeds the agg and the join-back: staged once (caller
    releases via staging.release_staging()).
    """
    from ..functions import text as TX

    toks = df.select("doc_id", TX.words("text").alias("tk"))
    tk = F.col("tk")
    starts = F.when(
        F.size(tk) >= 1, F.sequence(F.lit(1), F.size(tk), F.lit(DEDUP_CHUNK_TOKENS))
    ).otherwise(F.array().cast("array<int>"))
    chunk_structs = F.transform(
        starts,
        lambda s, i: F.struct(
            (i + 1).cast("long").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(tk, s, DEDUP_CHUNK_TOKENS)).alias("ctext"),
        ),
    )
    ch = stage(
        toks.select("doc_id", F.explode(chunk_structs).alias("c")).select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.ctext").alias("ctext"),
            TX.hash60(F.col("c.ctext")).alias("chash"),
        )
    )
    first = ch.groupBy("chash").agg(F.min(F.struct("doc_id", "chunk_idx")).alias("f"))
    kept = (
        ch.join(first, "chash")
        .where(
            (F.col("doc_id") == F.col("f.doc_id"))
            & (F.col("chunk_idx") == F.col("f.chunk_idx"))
        )
        .select("doc_id", "chunk_idx", "ctext")
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        TX.hash60(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "ctext"))),
                    lambda s: s["ctext"],
                ),
                " ",
            )
        ).alias("kept_hash"),
    )
    n_chunks = (
        F.floor(
            (F.coalesce(F.size(tk), F.lit(0)) + (DEDUP_CHUNK_TOKENS - 1)) / DEDUP_CHUNK_TOKENS
        )
        .cast("long")
        .alias("n_chunks")
    )
    base = toks.select("doc_id", n_chunks)
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.round(
            (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0))).cast("double")
            / F.nullif(F.col("n_chunks"), F.lit(0)).cast("double"),
            4,
        ).alias("removed_frac"),
        F.coalesce(F.col("kept_hash"), TX.hash60(F.lit(""))).alias("kept_hash"),
    )


def source_overlap(df: DataFrame) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, the
    count of distinct word-5-gram shingles both contain, with Jaccard
    and containment — the "which sources copy from which" audit that
    decides mixture weights and dedup ORDER (dedup the copier against
    the origin).

    Returns (src_a, src_b, n_shared, n_a, n_b, jaccard, containment)
    with src_a < src_b.

    Scale shape: a shingle-level self-join fans out df^2 rows per
    shingle; this instead folds each shingle's source SET in one hash
    agg — collect_set bounded by the SOURCE COUNT, a schema-level
    constant (~10-100), not data — and explodes the upper-triangle
    pairs per shingle: O(shingles x n_sources^2) with a tiny constant.
    Source sizes broadcast back onto the pair counts. The distinct
    (source, shingle-hash) frame feeds the sizes agg and the fold:
    staged once (caller releases via staging.release_staging()).
    Shingling goes through the family's shingle pass
    (dedup._shingle_hash_rows, source riding as the id).
    """
    from .dedup import _SHINGLE_N, _shingle_hash_rows

    sh = stage(
        _shingle_hash_rows(df, "source", _SHINGLE_N, id_type="string")
        .withColumnRenamed("doc", "source")
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    by_sh = (
        sh.groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    ss = F.col("ss")
    pair_list = F.flatten(
        F.transform(
            ss,
            lambda a, i: F.transform(
                F.slice(ss, i + 2, F.greatest(F.size(ss) - i - 1, F.lit(0))),
                lambda b: F.struct(a.alias("src_a"), b.alias("src_b")),
            ),
        )
    )
    ov = (
        by_sh.select(F.explode(pair_list).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        ov.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
            F.round(
                F.col("n_shared").cast("double") / F.least("n_a", "n_b"), 4
            ).alias("containment"),
        )
    )


def shingle_novelty(docs: DataFrame) -> DataFrame:
    """Per-source shingle NOVELTY audit over the (doc_id, text, source)
    columns' word-5-gram shingles: treating ``doc_id`` order as crawl
    order, a doc's shingle is *novel* iff this doc is the shingle's
    globally first occurrence (min doc id over the corpus). A source
    whose novelty ratio collapses is re-crawling content the corpus
    already holds — the signal that decides when additional crawling
    stops buying training data (the q102 composition report's temporal
    cousin).

    Returns one row per source:
    (source, n_docs, n_shingles, n_novel, novelty_ratio).

    Scale shape — two hash aggs, ZERO shingle-table joins:
    1. distinct (doc, shingle-60-bit-hash) rows (dedup house base);
    2. first occurrence = min(doc) per hash — map-side-combinable,
       skew-immune (a boilerplate shingle in millions of docs folds to
       one min per task);
    3. novel-per-doc needs NO join back: regroup the firsts frame
       (shingle-distinct-sized) BY ITS OWN min-doc column — count =
       how many shingles this doc introduced;
    4. per-doc shingle counts and the novel counts then join the
       node-sized documents frame and aggregate by source (~tens of
       rows).
    The doc->source attach joins frames bounded by |docs|, never by
    |shingle rows|.
    """
    from .dedup import _SHINGLE_N, _shingle_hash_rows

    sh = stage(
        _shingle_hash_rows(docs, "doc_id", _SHINGLE_N)
    )  # caller releases via staging.release_staging()
    per_doc = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    novel_per_doc = (
        sh.groupBy("h")
        .agg(F.min("doc").alias("doc"))
        .groupBy("doc")
        .agg(F.count("*").alias("n_novel"))
    )
    base = docs.select(F.col("doc_id").alias("doc"), "source")
    joined = base.join(per_doc, "doc", "left").join(novel_per_doc, "doc", "left")
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("n_sh"), F.lit(0))).cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("n_novel"), F.lit(0))).cast("long").alias("n_novel"),
        )
        .select(
            "source",
            "n_docs",
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double")
                / F.nullif(F.col("n_shingles"), F.lit(0)).cast("double"),
                4,
            ).alias("novelty_ratio"),
        )
    )


def fuzzy_contamination(candidates: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Fuzzy decontamination: candidate docs within a NORMALIZED edit
    distance of ``FUZZY_MAX_DIST_MILLI``/1000 of any benchmark doc. Exact
    n-gram decontamination (q64/q96) misses eval items that entered
    the crawl with light reformatting — wrapped lines, shuffled
    punctuation, inserted boilerplate; an edit-distance verify stage
    behind an n-gram blocking stage catches those without ever
    scoring the full cross product.

    Two stages, the classic blocking+verification shape:
    1. BLOCK: distinct (candidate, bench) pairs sharing >= 1 word-
       ``CONTAM_N``-gram — the benchmark shingle set is tiny (eval suites are
       KBs, corpora are TBs) and broadcast, so this is a map-side join
       whose output is bounded by |bench shingle matches|, never
       |cand| x |bench|.
    2. VERIFY: levenshtein on the pair texts. O(len_a x len_b) per
       pair — strictly the gated path; the block cap is what makes it
       affordable. The gate is EXACT integer arithmetic
       (1000*lev <= FUZZY_MAX_DIST_MILLI * greatest(len_a, len_b, 1)), no
       IEEE division anywhere.

    Returns one row per contaminated candidate:
    (doc_id, n_blocked, n_fuzzy, best_lev_milli, best_bench) — best =
    lexicographic struct min over gated pairs (deterministic ties).

    Engine caveat (pinned by the ASCII fixture contract, FIXTURES.md):
    Spark's levenshtein counts CHARACTERS while DuckDB's counts BYTES
    — identical on ASCII, divergent on multi-byte code points. The
    fixtures are ASCII-only (verified at all SFs), so the oracle
    holds on ASCII input only.
    """
    from .dedup import _shingle_hash_rows

    # No .distinct() on the bench shingles: _shingle_hash_rows already
    # emits per-doc-distinct shingles, and the pair set is deduplicated
    # after the blocking join, so a distinct here would only add an
    # exchange + aggregation before the broadcast. This assumes
    # benchmark ids are unique per frame: a re-ingested bench doc under
    # the same id would broadcast duplicate (bid, shingle) rows and fan
    # out duplicate join hits (results stay correct via
    # pairs.distinct(); only the broadcast build and join output
    # inflate). Catalog callers pass the driver's unique-id bench split.
    bench_sh = _shingle_hash_rows(benchmark, "doc_id", CONTAM_N).select(
        F.col("doc").alias("_bid"), F.col("h").alias("shingle")
    )
    cand_sh = _shingle_hash_rows(candidates, "doc_id", CONTAM_N).select(
        F.col("doc").alias("_cid"), F.col("h").alias("shingle")
    )
    pairs = (
        cand_sh.join(F.broadcast(bench_sh), "shingle")
        .select("_cid", "_bid")
        .distinct()
    )
    cand_txt = candidates.select(
        F.col("doc_id").alias("_cid"), F.col("text").alias("_ctext")
    )
    bench_txt = benchmark.select(
        F.col("doc_id").alias("_bid"), F.col("text").alias("_btext")
    )
    scored = (
        pairs.join(cand_txt, "_cid")
        .join(F.broadcast(bench_txt), "_bid")
        .select(
            "_cid",
            "_bid",
            F.levenshtein("_ctext", "_btext").cast("long").alias("_lev"),
            F.greatest(
                F.length("_ctext"), F.length("_btext"), F.lit(1)
            )
            .cast("long")
            .alias("_mlen"),
        )
    )
    gate = F.lit(1000) * F.col("_lev") <= F.lit(FUZZY_MAX_DIST_MILLI) * F.col("_mlen")
    lev_milli = F.expr("1000 * _lev div _mlen")
    best = F.min(
        F.when(gate, F.struct(lev_milli.alias("l"), F.col("_bid").alias("b")))
    ).alias("_best")
    return (
        scored.groupBy("_cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocked"),
            F.sum(gate.cast("long")).cast("long").alias("n_fuzzy"),
            best,
        )
        .filter(F.col("n_fuzzy") >= 1)
        .select(
            F.col("_cid").alias("doc_id"),
            "n_blocked",
            "n_fuzzy",
            F.col("_best.l").cast("long").alias("best_lev_milli"),
            F.col("_best.b").alias("best_bench"),
        )
    )


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Recrawl delta: classify every document across two corpus
    snapshots by identity (``doc_id``) and content fingerprint (``fp``).

    Returns one row per doc id present in EITHER snapshot:
    (doc_id, status, source, n_chars) where status ∈
    {'added', 'removed', 'changed', 'unchanged'} and source / n_chars
    are coalesce(new.col, old.col) — the freshest available metadata.

    Recrawls dominate web-scale corpus maintenance: 90%+ of a monthly
    crawl is unchanged content, and re-deduplicating / re-scoring it
    wastes the whole cluster. This diff gates the expensive pipeline
    to 'added' + 'changed' rows only; fingerprints (60-bit content
    hashes, the q37 convention) make content comparison a BIGINT
    equality instead of a text comparison.

    Scale shape: ONE full-outer shuffle join on the id — both sides
    hash-partition by the same key, so at 100 TB this is the minimal
    co-partitioned exchange; the status CASE is pure codegen. No
    window, no skew exposure (ids are unique on each side).
    """
    o = old.select(
        F.col("doc_id").alias("_oid"),
        F.col("fp").alias("_ofp"),
        *[F.col(c).alias(f"_o_{c}") for c in _SNAPSHOT_KEEP_COLS],
    )
    n = new.select(
        F.col("doc_id").alias("_nid"),
        F.col("fp").alias("_nfp"),
        *[F.col(c).alias(f"_n_{c}") for c in _SNAPSHOT_KEEP_COLS],
    )
    j = o.join(n, o["_oid"] == n["_nid"], "full_outer")
    status = (
        F.when(F.col("_oid").isNull(), F.lit("added"))
        .when(F.col("_nid").isNull(), F.lit("removed"))
        .when(F.col("_ofp") != F.col("_nfp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        F.coalesce(F.col("_nid"), F.col("_oid")).alias("doc_id"),
        status.alias("status"),
        *[
            F.coalesce(F.col(f"_n_{c}"), F.col(f"_o_{c}")).alias(c)
            for c in _SNAPSHOT_KEEP_COLS
        ],
    )
