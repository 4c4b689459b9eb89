"""Round-8 coverage batch (q96-q102): the graded/incremental refinements
of the curation family — per-doc contamination overlap fractions, a
per-source quantile quality gate, RAG-style token chunking, a top-k
similar-document graph, batch-vs-corpus embedding dedup, BPE
merge-candidate statistics, and a per-source corpus composition
report.

Conventions follow catalog.py: identical column aliases both sides,
total ORDER BY, BIGINT casts on integer aggregates, doubles rounded
where both engines are on-grid. 100 TB notes per query live in the
docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import text as TX
from ..operators import curation, dedup, similarity
from ..sources.tables import load_table
from .catalog import query
from .curation import _BENCH_MOD
from .quality import QUALITY_SCORED_CTE

# q98 chunker geometry: 32-token chunks every 24 tokens (25% overlap) —
# small enough that the ~54-token synthetic docs produce 2-3 chunks
# each, so the operator is non-vacuous at every test SF; a production
# embedding pipeline would use 512/384 with the identical plan.
_CHUNK_TOKENS = 32
_CHUNK_STRIDE = 24


@query(
    "q96_contamination_overlap",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(array_slice(tk, i, i + 3), ' ') AS shingle
            FROM toks, UNNEST(generate_series(1, greatest(len(tk) - 3, 0))) AS t(i)
        ),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(count(*) FILTER (shingle IN (SELECT shingle FROM bench))
                    AS BIGINT) AS n_hit,
               round(CAST(count(*) FILTER (shingle IN (SELECT shingle FROM bench))
                          AS DOUBLE) / count(*), 4) AS overlap_frac
        FROM sh
        WHERE doc_id % {_BENCH_MOD} <> 0
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    description="Per-doc benchmark-overlap FRACTION (GPT-3 appendix-C "
    "style n-gram overlap audit): share of each candidate doc's distinct "
    "word-4-grams found anywhere in the benchmark set — the graded "
    "refinement of q64's boolean flag",
    tags=("llm", "curation", "dedup"),
)
def q96_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical to q64 — benchmark shingle set distinct +
    broadcast (eval suites are MBs), candidate shingles stream through
    one map-side hash join, per-doc ratio is a map-side-combinable
    count agg. Linear in candidate corpus tokens; nothing grows with
    the benchmark."""
    docs = load_table(spark, sf_dir, "documents")
    bench_pred = F.col("doc_id") % _BENCH_MOD == 0
    bench, cand = docs.filter(bench_pred), docs.filter(~bench_pred)
    return curation.contamination_overlap(cand, bench).orderBy("doc_id")


@query(
    "q97_quantile_quality_gate",
    oracle=f"""
        WITH {QUALITY_SCORED_CTE},
        thr AS (
            SELECT source, quantile_cont(p_u, 0.70) AS thr
            FROM q_scored GROUP BY source
        )
        SELECT q.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (q.p_u >= t.thr) AS BIGINT) AS n_kept,
               round(min(t.thr), 4) AS thr_p_u
        FROM q_scored q JOIN thr t ON t.source = q.source
        GROUP BY q.source
        ORDER BY q.source
    """,
    description="Per-source QUANTILE quality gate: keep the top ~30% of "
    "each source by q85 model score (threshold = exact interpolated "
    "p70 per source) — the relative-bar variant of q85's absolute gate, "
    "the production move when score distributions differ per domain",
    tags=("llm", "quality", "classifier"),
)
def q97_quantile_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: two passes, NO per-source sort — (1) one exact
    `percentile` aggregation per source (micro-unit integer scores,
    Spark percentile == DuckDB quantile_cont, the q40 contract), (2)
    thresholds broadcast back and the keep-count folds in the same
    per-source hash agg. A percent_rank window would sort every
    source's full doc set; this shape shuffles only (source, p_u)
    pairs and the k-row threshold table. Boundary semantics are
    engine-stable: scores are integers, so an interpolated threshold
    is either exactly an integer (both engines compute the same exact
    double) or strictly between two integers — either way the >= keep
    set cannot flip on a last-ulp difference.

    100 TB caveat (the q43 exact-vs-approx split): EXACT `percentile`
    buffers each group's values in the aggregation state, so a
    billion-doc source would blow executor memory. This catalog spec
    stays exact because the DuckDB oracle demands bit-stable
    thresholds; the production swap is one token —
    `approx_percentile("p_u", 0.70, 10_000)` — which is
    constant-state and map-side-combinable with the IDENTICAL plan
    shape around it (threshold broadcast + hash agg unchanged)."""
    from ..operators.staging import stage
    from .quality import quality_p_u

    docs = load_table(spark, sf_dir, "documents")
    # staged: the scored frame feeds BOTH the percentile aggregation
    # and the join-side scan — unstaged, the model's four regex passes
    # over every document's full text run twice
    scored = stage(docs.select("source", quality_p_u().alias("p_u")))
    thr = scored.groupBy("source").agg(
        F.percentile("p_u", F.lit(0.70)).alias("thr")
    )
    return (
        scored.join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("p_u") >= F.col("thr"), 1)).alias("n_kept"),
            F.round(F.min("thr"), 4).alias("thr_p_u"),
        )
        .orderBy("source")
    )


@query(
    "q98_token_chunking",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        -- starts run while the PREVIOUS chunk hasn't reached the end:
        -- s <= n_tok - chunk + stride (no redundant tail chunk fully
        -- contained in its predecessor); empty AND NULL texts emit
        -- nothing — len(tk) is NULL for NULL text and DuckDB's
        -- greatest() IGNORES nulls (greatest(NULL, 1) = 1), so the
        -- bound must coalesce len(tk) to 0 first or a NULL-text doc
        -- would emit one phantom chunk the Spark plan never produces
        ch AS (
            SELECT doc_id,
                   CAST((i - 1) / {_CHUNK_STRIDE} + 1 AS BIGINT) AS chunk_idx,
                   CAST(i AS BIGINT) AS start_tok,
                   CAST(least({_CHUNK_TOKENS}, len(tk) - i + 1) AS BIGINT) AS n_tok_chunk,
                   array_to_string(array_slice(tk, i, i + {_CHUNK_TOKENS} - 1), ' ') AS txt
            FROM toks, UNNEST(generate_series(
                1,
                CASE WHEN coalesce(len(tk), 0) = 0 THEN 0
                     ELSE greatest(len(tk) - {_CHUNK_TOKENS} + {_CHUNK_STRIDE}, 1) END,
                {_CHUNK_STRIDE})) AS t(i)
        )
        SELECT doc_id, chunk_idx, start_tok, n_tok_chunk,
               CAST('0x' || substring(md5(txt), 1, 15) AS BIGINT) AS chunk_hash
        FROM ch
        ORDER BY doc_id, chunk_idx
    """,
    description=f"Document chunking for embedding/RAG pipelines: "
    f"{_CHUNK_TOKENS}-token chunks every {_CHUNK_STRIDE} tokens (25% "
    "overlap), one row per chunk with its token span and a 60-bit "
    "content hash (q37 portable-md5 convention)",
    tags=("llm", "text", "chunking"),
)
def q98_token_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: a narrow map — tokenize ONCE into a projected
    column, transform over a start sequence, explode. No shuffle at
    all except the final catalog ORDER BY (which a pipeline consumer
    drops); chunk count is corpus_tokens/stride regardless of
    document skew, and the chunk text never leaves the row it was
    built in (only the 60-bit hash and the span land in the output).

    The token array MUST be projected into its own column before the
    higher-order transform: Catalyst does not hoist lambda-invariant
    subtrees out of HOFs (and CollapseProject declines to re-inline a
    non-cheap expression referenced repeatedly), so an inline
    ``words(text)`` inside the lambda re-tokenizes the whole document
    once per chunk — O(doc_tokens^2/stride), measured 77.1 s vs
    0.86 s (~90x) on 50 docs of 20k tokens; invisible on ~54-token
    fixtures. Same projection pattern as ``duplicated_span_stats``."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TX.words("text").alias("toks"))
    w = F.col("toks")
    # starts run while the previous chunk hasn't reached the doc end
    # (s <= n_tok - chunk + stride): no redundant tail chunk fully
    # contained in its predecessor; empty docs emit no chunks
    starts = F.when(
        F.size(w) >= 1,
        F.sequence(
            F.lit(1),
            F.greatest(
                F.size(w) - _CHUNK_TOKENS + _CHUNK_STRIDE, F.lit(1)
            ),
            F.lit(_CHUNK_STRIDE),
        ),
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            (i + 1).cast("long").alias("chunk_idx"),
            s.cast("long").alias("start_tok"),
            F.least(F.lit(_CHUNK_TOKENS), F.size(w) - s + 1)
            .cast("long")
            .alias("n_tok_chunk"),
            TX.hash60(F.concat_ws(" ", F.slice(w, s, _CHUNK_TOKENS)))
            .alias("chunk_hash"),
        ),
    )
    return (
        toks.select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_idx", "c.start_tok", "c.n_tok_chunk", "c.chunk_hash")
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "q99_similar_doc_graph",
    oracle="""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        -- the operator joins on the family's 60-bit shingle hash; the
        -- oracle joins on the shingle STRING — equivalent up to 60-bit
        -- md5 collisions (~1e-10 at these tiers; the 31-bit fold that
        -- DID collide at threshold 0 is now MinHash-only, see
        -- dedup._shingle_hash_rows)
        sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(array_slice(tk, i, i + 4), ' ') AS shingle
            FROM toks, UNNEST(generate_series(1, greatest(len(tk) - 4, 0))) AS t(i)
        ),
        rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 10),
        sh2 AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT doc_a, doc_b,
                   CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS j
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
        ),
        sym AS (
            SELECT doc_a AS doc, doc_b AS neighbor, j FROM pairs
            UNION ALL
            SELECT doc_b AS doc, doc_a AS neighbor, j FROM pairs
        )
        SELECT doc, CAST(rnk AS BIGINT) AS rnk, neighbor,
               round(j, 3) AS jaccard
        FROM (
            SELECT doc, neighbor, j,
                   row_number() OVER (PARTITION BY doc
                                      ORDER BY j DESC, neighbor ASC) AS rnk
            FROM sym
        )
        WHERE rnk <= 3
        ORDER BY doc, rnk
    """,
    description="Top-3 similar-document graph: per doc, its 3 nearest "
    "neighbors by frequency-capped (max_df=10, the q55 valve) exact "
    "word-5-gram Jaccard — the doc-level kNN graph behind cluster "
    "seeding and near-dup exploration",
    tags=("llm", "dedup", "similarity", "topk"),
)
def q99_similar_doc_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: candidates come from the df-capped shingle join
    (q55's valve bounds fan-out at max_df^2 per shingle), then the
    per-doc top-3 is a row_number window whose partitions are a single
    doc's candidate list — bounded by the cap, never the corpus. Rank
    ties break on neighbor id; the ordering key is the RAW jaccard
    double, identical across engines because both compute one division
    of the same integers."""
    from ..operators.staging import stage

    docs = load_table(spark, sf_dir, "documents")
    # the pair set feeds BOTH union branches of the symmetrization —
    # stage it once, or each branch re-derives the whole shingle join
    # + jaccard aggregation (measured 14 exchanges unstaged -> 2
    # staged; pinned at budget 3 in tests/test_plan_shapes.py)
    pairs = stage(
        dedup.shingle_jaccard_pairs(docs, threshold=0.0, max_df=10)
    )
    sym = pairs.select(
        F.col("doc_a").alias("doc"), F.col("doc_b").alias("neighbor"), "jaccard"
    ).unionAll(
        pairs.select(
            F.col("doc_b").alias("doc"), F.col("doc_a").alias("neighbor"), "jaccard"
        )
    )
    win = W.partitionBy("doc").orderBy(F.desc("jaccard"), F.asc("neighbor"))
    return (
        sym.withColumn("rnk", F.row_number().over(win).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc", "rnk", "neighbor", F.round("jaccard", 3).alias("jaccard"))
        .orderBy("doc", "rnk")
    )


@query(
    "q100_embedding_cross_dedup",
    oracle="""
        WITH b AS (
            SELECT vec_id, embedding,
                   4*CAST(embedding[1] > 0 AS INT) + 2*CAST(embedding[2] > 0 AS INT)
                     + CAST(embedding[3] > 0 AS INT) AS bucket
            FROM embeddings
        )
        SELECT vec_new, vec_corpus, cos_sim FROM (
            SELECT n.vec_id AS vec_new, c.vec_id AS vec_corpus,
                   round(list_sum(list_transform(generate_series(1, len(n.embedding)),
                         i -> CAST(n.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
                     / nullif(sqrt(list_sum(list_transform(n.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0), 4)
                   AS cos_sim
            FROM b n JOIN b c ON n.bucket = c.bucket
            WHERE n.vec_id % 2 = 1 AND c.vec_id % 2 = 0
        )
        WHERE cos_sim >= 0.42
        ORDER BY vec_new, vec_corpus
    """,
    description="Batch-vs-corpus embedding dedup (>= 0.42 on the "
    "synthetic tier; see q36 for the threshold calibration note): new "
    "vectors (odd ids) joined to corpus vectors (even ids) through the "
    "shared sign bucket — the dense-vector analog of q65's incremental "
    "dedup, no self-join on either side",
    tags=("llm", "dedup", "similarity"),
)
def q100_embedding_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold 0.42 is the same gate-tier calibration as q36: the
    synthetic embeddings (500 random vectors) top out at within-bucket
    cosine ~0.51, so a production-style 0.95 gate would verify an
    empty set; 0.42 yields 9/4/57 pairs at sf0.001/0.01/0.1 through the
    identical plan. The operator's pre-filter gate sits just below it
    (similarity._CROSS_DUP_COS)."""
    emb = load_table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 2 == 1)
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    pairs = similarity.embedding_cross_duplicates(new, corpus)
    return (
        pairs.select("vec_new", "vec_corpus", F.round("cos_sim", 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.42)
        .orderBy("vec_new", "vec_corpus")
    )


@query(
    "q101_bpe_merge_candidates",
    oracle="""
        WITH vocab AS (
            SELECT tok, count(*) AS n FROM (
                SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
                FROM documents
            ) GROUP BY tok
        ),
        chars AS (SELECT tok, n, string_split(tok, '') AS cs FROM vocab),
        pairs AS (
            SELECT cs[i] || ' ' || cs[i + 1] AS pair, n
            FROM chars, UNNEST(generate_series(1, len(cs) - 1)) AS t(i)
        )
        SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences
        FROM pairs
        GROUP BY pair
        ORDER BY n_occurrences DESC, pair
        LIMIT 50
    """,
    description="BPE tokenizer training, step 1: top-50 adjacent "
    "character-pair frequencies weighted by word frequency — the "
    "merge-candidate table a BPE trainer updates each iteration, "
    "computed over the VOCABULARY (with counts), never the corpus",
    tags=("llm", "text", "tokenizer", "topk"),
)
def q101_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape — the reason real BPE trainers survive web-scale
    corpora, reproduced in the plan: token counting map-side combines
    into a VOCAB-sized table (Zipf-bounded ~10^5-10^6 rows however big
    the corpus), and the per-character explode + pair count runs over
    vocab rows only — corpus size never touches the second stage. The
    final top-50 is TakeOrderedAndProject. Repeated pairs inside one
    word count once per position ('aaa' contributes 'a a' twice), the
    BPE convention."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(TX.words("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        # chars projected into a column BEFORE the HOF — the same
        # hoist as q98: an inline split inside the lambda re-splits
        # the word once per character pair (O(len^2) per word)
        .withColumn("cs", F.filter(F.split(F.col("tok"), ""), lambda c: c != ""))
    )
    cs = F.col("cs")
    # guard single-char words: sequence(1, 0) runs DESCENDING in Spark
    # (step inferred -1), which would index past the array
    pair_list = F.when(
        F.size(cs) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(cs) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(cs, i), F.element_at(cs, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        vocab.select(F.explode(pair_list).alias("pair"), "n")
        .groupBy("pair")
        .agg(F.sum("n").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(50)
    )


@query(
    "q102_corpus_composition",
    oracle="""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(array_slice(tk, i, i + 4), ' ') AS shingle
            FROM toks, UNNEST(generate_series(1, greatest(len(tk) - 4, 0))) AS t(i)
        ),
        j AS (
            SELECT d.source, s.shingle
            FROM sh s JOIN documents d USING (doc_id)
        ),
        agg AS (
            SELECT source,
                   CAST(count(DISTINCT shingle) AS BIGINT) AS distinct_shingles,
                   CAST(count(*) AS BIGINT) AS total_occurrences
            FROM j GROUP BY source
        ),
        per AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
                        AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        )
        SELECT p.source, p.n_docs, p.n_tokens,
               coalesce(a.distinct_shingles, 0) AS distinct_shingles,
               coalesce(a.total_occurrences, 0) AS total_occurrences,
               round(1.0 - CAST(a.distinct_shingles AS DOUBLE)
                     / a.total_occurrences, 4) AS dup_rate,
               TRUE AS hll_within_5pct
        FROM per p LEFT JOIN agg a USING (source)
        ORDER BY p.source
    """,
    description="Per-source corpus composition report: docs, tokens, "
    "EXACT distinct word-5-gram count (two-level agg, q43's "
    "Expand-free pattern), cross-doc shingle duplication rate, and an "
    "HLL tolerance verdict — the accounting a dedup/budget planning "
    "pass runs before committing to a curation strategy",
    tags=("llm", "curation", "aggregate", "approx"),
)
def q102_corpus_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: shingle rows shuffle ONCE on (source, hash) for
    the level-1 dedup-count; the level-2 per-source rollup is
    map-side-combinable over level-1's already-shrunk output. The HLL
    column (rsd=0.015, q43's honesty convention: the verified 5%
    bound is ~3.3 sigma) is what a 100 TB planning pass would run
    INSTEAD of the exact column when distinct cardinality threatens
    the level-1 state; both are computed here so the verdict column
    proves the sketch lands inside its advertised bound against the
    exact truth."""
    from ..operators.dedup import _SHINGLE_N, _shingle_hash_rows

    docs = load_table(spark, sf_dir, "documents")
    sh = _shingle_hash_rows(docs, "doc_id", _SHINGLE_N)
    j = sh.join(docs.select(F.col("doc_id").alias("doc"), "source"), "doc")
    lvl1 = j.groupBy("source", "h").agg(F.count(F.lit(1)).alias("occ"))
    # HLL is duplicate-insensitive, so sketching lvl1's one-row-per-
    # distinct-(source,h) output gives the IDENTICAL estimate as
    # sketching j — without re-deriving the Arrow-UDF shingle subtree
    # a second time for a separate (source)-partitioned aggregation.
    # All three measures fold into ONE level-2 rollup over lvl1.
    exact = lvl1.groupBy("source").agg(
        F.count(F.lit(1)).alias("distinct_shingles"),
        F.sum("occ").alias("total_occurrences"),
        F.approx_count_distinct("h", rsd=0.015).alias("hll"),
    )
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(TX.words("text"))).cast("long").alias("n_tokens"),
    )
    zero = F.lit(0).cast("long")
    return (
        per.join(exact, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.coalesce("distinct_shingles", zero).alias("distinct_shingles"),
            F.coalesce("total_occurrences", zero).alias("total_occurrences"),
            F.round(
                1.0
                - F.col("distinct_shingles").cast("double")
                / F.col("total_occurrences").cast("double"),
                4,
            ).alias("dup_rate"),
            # a source with zero shingles has nothing to verify: emit
            # the vacuous TRUE the oracle's literal produces, not NULL
            F.when(F.col("distinct_shingles").isNull(), F.lit(True))
            .otherwise(
                F.abs(
                    F.col("hll").cast("double") - F.col("distinct_shingles")
                )
                / F.col("distinct_shingles")
                <= 0.05
            )
            .alias("hll_within_5pct"),
        )
        .orderBy("source")
    )
