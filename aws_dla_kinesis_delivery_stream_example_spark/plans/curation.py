"""Corpus-curation query specs (q64+): decontamination, incremental
dedup, boilerplate detection, mixture reweighting, sequence packing,
embedding-centroid hygiene — the remaining operators a training-data
pipeline runs between raw ingest and tokenized output.

Conventions follow catalog.py: identical column aliases both sides,
total ORDER BY, BIGINT casts on integer aggregates, doubles rounded
where both engines are on-grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import curation
from ..sources.tables import load_table
from .catalog import query

# Deterministic benchmark membership: every 50th doc plays the role of
# an eval-set document (sf-stable: scales with the corpus).
_BENCH_MOD = 50


@query(
    "q64_contamination_check",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(array_slice(tk, i, i + 3), ' ') AS shingle
            FROM toks, UNNEST(generate_series(1, greatest(len(tk) - 3, 0))) AS t(i)
        ),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0),
        hit AS (
            SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (shingle)
            WHERE s.doc_id % {_BENCH_MOD} <> 0
        )
        SELECT source,
               count(*) AS n_candidates,
               CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM hit)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
        FROM documents
        WHERE doc_id % {_BENCH_MOD} <> 0
        GROUP BY source ORDER BY source
    """,
    description="Benchmark decontamination: candidate docs sharing any "
    "word-4-gram with the (broadcast) benchmark shingle set are flagged; "
    "per-source contamination counts are the audit output",
    tags=("llm", "curation", "dedup"),
)
def q64_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench_pred = F.col("doc_id") % _BENCH_MOD == 0
    bench, cand = docs.filter(bench_pred), docs.filter(~bench_pred)
    hits = curation.contaminated_ids(cand, bench)
    flagged = cand.join(
        hits.withColumn("_hit", F.lit(1)), "doc_id", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_contaminated"),
        )
        .orderBy("source")
    )


@query(
    "q65_incremental_dedup",
    oracle="""
        WITH h AS (
            SELECT doc_id, source, md5(text) AS hsh FROM documents
        ),
        corpus AS (SELECT DISTINCT hsh FROM h WHERE doc_id % 2 = 0),
        batch AS (SELECT * FROM h WHERE doc_id % 2 = 1),
        fresh AS (
            SELECT b.* FROM batch b
            WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.hsh = b.hsh)
        )
        SELECT min(doc_id) AS keep_id,
               arg_min(source, doc_id) AS source,
               count(*) AS n_copies
        FROM fresh GROUP BY hsh ORDER BY keep_id
    """,
    description="Incremental dedup: a new ingest batch (odd doc_ids) is "
    "deduped against the existing corpus (even doc_ids) by md5 content "
    "digest — 16-byte keys through the anti join, never document bodies — "
    "then min-id-survivor deduped within itself",
    tags=("llm", "curation", "dedup"),
)
def q65_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    kept = curation.incremental_dedup(batch, corpus)
    return kept.select("keep_id", "source", "n_copies").orderBy("keep_id")


@query(
    "q66_boilerplate_ngrams",
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
        boiler AS (
            SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 3
        ),
        per_doc AS (
            SELECT s.doc_id, count(*) AS n_sh,
                   sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
            FROM sh s LEFT JOIN boiler b USING (shingle)
            GROUP BY s.doc_id
        )
        SELECT d.source,
               count(*) AS n_docs,
               CAST(sum(p.n_boiler) AS BIGINT) AS boiler_shingles,
               round(avg(CAST(p.n_boiler AS DOUBLE) / p.n_sh), 4) AS avg_boiler_ratio
        FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
        GROUP BY d.source ORDER BY source
    """,
    description="Boilerplate n-gram detection (C4-style): word-5-grams "
    "appearing in >= 3 distinct docs are boilerplate; the df count is "
    "map-side combinable and the boilerplate set broadcasts back for "
    "the per-doc ratio",
    tags=("llm", "curation", "quality"),
)
def q66_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = curation.boilerplate_ratio(docs)
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_boiler").cast("long").alias("boiler_shingles"),
            F.round(F.avg(F.col("boiler_ratio")), 4).alias("avg_boiler_ratio"),
        )
        .orderBy("source")
    )


@query(
    "q67_mixture_reweight",
    oracle="""
        WITH s AS (
            SELECT source,
                   CAST(sum(len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))) AS BIGINT)
                     AS n_tok
            FROM documents GROUP BY source
        ),
        t AS (
            SELECT source, n_tok,
                   CASE WHEN substr(source, length(source), 1)
                             IN ('0','2','4','6','8')
                        THEN 2.0 ELSE 1.0 END AS w
            FROM s
        ),
        g AS (SELECT sum(n_tok) AS total, sum(w) AS sumw FROM t)
        SELECT source, n_tok,
               round(w / sumw, 4) AS target_share,
               round(least(1.0, (w / sumw) * total / n_tok), 4) AS sample_rate
        FROM t, g ORDER BY source
    """,
    description="Domain-mixture reweighting: per-source sampling rates "
    "that hit a target mixture (2x weight on even-suffixed sources), "
    "clamped at 1.0 — one aggregation plus a broadcast of the 1-row "
    "global totals",
    tags=("llm", "curation"),
)
def q67_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(TX.bpe_token_count("text")).cast("long").alias("n_tok")
    )
    w = F.when(
        F.substring(F.col("source"), -1, 1).isin("0", "2", "4", "6", "8"), F.lit(2.0)
    ).otherwise(F.lit(1.0))
    t = s.withColumn("w", w)
    g = t.agg(
        F.sum("n_tok").cast("double").alias("total"), F.sum("w").alias("sumw")
    )
    # nullif: a source whose docs are all empty/whitespace has
    # n_tok = 0 (a real SUM over zero counts, not NULL) — ANSI Spark
    # would throw DIVIDE_BY_ZERO where the DuckDB oracle yields NULL;
    # nullif makes both emit a NULL sample_rate row (FIXTURES.md rule)
    rate = F.least(
        F.lit(1.0),
        (F.col("w") / F.col("sumw"))
        * F.col("total")
        / F.nullif(F.col("n_tok"), F.lit(0)),
    )
    return (
        t.crossJoin(F.broadcast(g))
        .select(
            "source",
            "n_tok",
            F.round(F.col("w") / F.col("sumw"), 4).alias("target_share"),
            F.round(rate, 4).alias("sample_rate"),
        )
        .orderBy("source")
    )


_CTX = 2048  # packed-sequence context length (tokens)


@query(
    "q68_sequence_packing",
    oracle=f"""
        WITH t AS (
            SELECT source, doc_id,
                   len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_tok
            FROM documents
        ),
        c AS (
            SELECT source, n_tok,
                   sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum
            FROM t WHERE n_tok > 0
        )
        SELECT source,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST(floor((max(cum) - 1) / {_CTX}) + 1 AS BIGINT) AS n_sequences,
               CAST(sum(CASE WHEN floor((cum - n_tok) / {_CTX})
                                  <> floor((cum - 1) / {_CTX})
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
        FROM c GROUP BY source ORDER BY source
    """,
    description="Concat-and-split sequence packing accounting: docs "
    "stream per source in doc_id order into 2048-token sequences; "
    "outputs sequence counts and boundary-straddling docs (the rows "
    "needing cross-doc attention masks) — one window + one aggregate",
    tags=("llm", "curation", "window"),
)
def q68_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "doc_id", TX.bpe_token_count("text").alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    win = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = t.withColumn("cum", F.sum("n_tok").over(win))
    straddle = (
        F.floor((F.col("cum") - F.col("n_tok")) / _CTX)
        != F.floor((F.col("cum") - 1) / _CTX)
    ).cast("long")
    return (
        c.groupBy("source")
        .agg(
            F.sum("n_tok").cast("long").alias("total_tokens"),
            (F.floor((F.max("cum") - 1) / _CTX) + 1).cast("long").alias("n_sequences"),
            F.sum(straddle).cast("long").alias("n_straddlers"),
        )
        .orderBy("source")
    )


@query(
    "q69_embedding_centroid_stats",
    oracle="""
        WITH u AS (
            SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS val,
                   vec_id, embedding
            FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
        ),
        c AS (SELECT label, pos, avg(val) AS cv FROM u GROUP BY label, pos),
        d AS (
            SELECT u.vec_id, u.label,
                   sum(u.val * c.cv) AS dot,
                   sqrt(sum(u.val * u.val)) AS na,
                   sqrt(sum(c.cv * c.cv)) AS nb
            FROM u JOIN c ON c.label = u.label AND c.pos = u.pos
            GROUP BY u.vec_id, u.label
        )
        SELECT label,
               count(*) AS n,
               round(avg(dot / (na * nb)), 3) AS avg_cos,
               round(min(dot / (na * nb)), 3) AS min_cos
        FROM d GROUP BY label ORDER BY label
    """,
    description="Embedding hygiene vs label centroid: cosine of every "
    "vector to its label's mean embedding (broadcast centroids), the "
    "outlier/drift signal for corrupt or mislabeled vectors",
    tags=("llm", "curation", "similarity"),
)
def q69_embedding_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cc = curation.centroid_cosines(emb)
    return (
        cc.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("cos_centroid"), 3).alias("avg_cos"),
            F.round(F.min("cos_centroid"), 3).alias("min_cos"),
        )
        .orderBy("label")
    )


@query(
    "q93_duplicated_spans",
    oracle="""
        WITH t AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM documents
        ),
        w AS (
            SELECT doc_id, i AS pos,
                   CAST('0x' || substring(
                       md5(array_to_string(array_slice(toks, i, i + 19), ' ')),
                       1, 15) AS BIGINT) AS h
            FROM t, UNNEST(generate_series(1, len(toks) - 19)) AS g(i)
            WHERE len(toks) >= 20
        ),
        d AS (SELECT h FROM w GROUP BY h HAVING count(*) > 1),
        dw AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (h)),
        cov AS (
            SELECT doc_id,
                   CASE WHEN lead(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                             - pos < 20
                        THEN lead(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                             - pos
                        ELSE 20 END AS c
            FROM dw
        ),
        pd AS (
            SELECT doc_id, count(*) AS n_dup_windows, sum(c) AS dup_tokens
            FROM cov GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.toks) AS BIGINT) AS n_tokens,
               CAST(coalesce(pd.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
               CAST(coalesce(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               round(coalesce(pd.dup_tokens, 0)
                     / greatest(len(t.toks), 1), 6) AS dup_fraction
        FROM t LEFT JOIN pd USING (doc_id)
        ORDER BY doc_id
    """,
    description="EXACTSUBSTR-style duplicated-span coverage (Lee et "
    "al.): per-doc fraction of tokens covered by 20-token windows "
    "occurring more than once in the corpus — one row per doc, no "
    "pair join, every stage linear in corpus token count (the massive-"
    "dedup quality signal used by modern pretraining pipelines)",
    tags=("llm", "curation", "dedup"),
)
def q93_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return curation.duplicated_span_stats(docs).orderBy("doc_id")


# Per-source token budget for the pipeline's final stage — small
# enough to ENGAGE at every test SF (q63's 20k budget never binds on
# the small corpora, which would leave the stage untested).
_PIPE_BUDGET = 500

# The pipeline keeps a STRICTER quality bar than the q85 audit gate
# (0.8 vs 0.5 micro-unit probability): on the test corpus every doc
# scores 0.78-0.85, so the audit threshold would make this stage a
# no-op and the funnel would never demonstrate a quality drop — the
# usual production move of tuning the keep-bar to the corpus's score
# distribution, with the same model either way. Causal evidence that
# the gate drops junk regardless of corpus lives in
# tests/test_planted_positives.py.
_PIPE_QUALITY_MIN = 800_000


def _q95_oracle() -> str:
    from .llm import jaccard_clusters_cte
    from .quality import QUALITY_SCORED_CTE

    return f"""
        WITH RECURSIVE
        inp AS (SELECT * FROM documents WHERE doc_id % {_BENCH_MOD} <> 0),
        ex AS (SELECT min(doc_id) AS doc_id FROM inp GROUP BY md5(text)),
        e AS (SELECT i.* FROM inp i JOIN ex USING (doc_id)),
        {jaccard_clusters_cte('e')},
        {QUALITY_SCORED_CTE},
        surv AS (
            SELECT cluster_id, doc AS survivor_doc
            FROM (SELECT c.cluster_id, c.doc, s.p_u
                  FROM j_clusters c JOIN q_scored s ON s.doc_id = c.doc)
            QUALIFY row_number() OVER (PARTITION BY cluster_id
                                       ORDER BY p_u DESC, doc ASC) = 1
        ),
        nd AS (
            SELECT * FROM e WHERE doc_id NOT IN (SELECT doc FROM j_clusters)
            UNION ALL
            SELECT e.* FROM e JOIN surv ON e.doc_id = surv.survivor_doc
        ),
        qual AS (
            SELECT nd.* FROM nd JOIN q_scored s ON s.doc_id = nd.doc_id
            WHERE s.p_u >= {_PIPE_QUALITY_MIN}
        ),
        qtoks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM qual
        ),
        qsh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(array_slice(tk, i, i + 3), ' ') AS shingle
            FROM qtoks, UNNEST(generate_series(1, greatest(len(tk) - 3, 0))) AS t(i)
        ),
        btoks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents WHERE doc_id % {_BENCH_MOD} = 0
        ),
        bsh AS (
            SELECT DISTINCT array_to_string(array_slice(tk, i, i + 3), ' ') AS shingle
            FROM btoks, UNNEST(generate_series(1, greatest(len(tk) - 3, 0))) AS t(i)
        ),
        hit AS (SELECT DISTINCT q.doc_id FROM qsh q JOIN bsh USING (shingle)),
        dec AS (
            SELECT * FROM qual WHERE doc_id NOT IN (SELECT doc_id FROM hit)
        ),
        tokc AS (
            SELECT source, doc_id,
                   len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_tok
            FROM dec
        ),
        bud AS (
            SELECT source, doc_id, n_tok,
                   sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum
            FROM tokc
        ),
        kept AS (SELECT * FROM bud WHERE cum <= {_PIPE_BUDGET}),
        f0 AS (SELECT source, count(*) AS c FROM inp GROUP BY source),
        f1 AS (SELECT source, count(*) AS c FROM e GROUP BY source),
        f2 AS (SELECT source, count(*) AS c FROM nd GROUP BY source),
        f3 AS (SELECT source, count(*) AS c FROM qual GROUP BY source),
        f4 AS (SELECT source, count(*) AS c FROM dec GROUP BY source),
        f5 AS (SELECT source, count(*) AS c, sum(n_tok) AS tk FROM kept GROUP BY source)
        SELECT f0.source,
               CAST(f0.c AS BIGINT) AS n_input,
               CAST(coalesce(f1.c, 0) AS BIGINT) AS n_exact,
               CAST(coalesce(f2.c, 0) AS BIGINT) AS n_neardup,
               CAST(coalesce(f3.c, 0) AS BIGINT) AS n_quality,
               CAST(coalesce(f4.c, 0) AS BIGINT) AS n_decontam,
               CAST(coalesce(f5.c, 0) AS BIGINT) AS n_kept,
               CAST(coalesce(f5.tk, 0) AS BIGINT) AS tokens_kept
        FROM f0
        LEFT JOIN f1 USING (source)
        LEFT JOIN f2 USING (source)
        LEFT JOIN f3 USING (source)
        LEFT JOIN f4 USING (source)
        LEFT JOIN f5 USING (source)
        ORDER BY source
    """


@query(
    "q95_curation_pipeline",
    oracle=_q95_oracle(),
    description="End-to-end batch curation pipeline, composed from the "
    "catalog's own operators: exact dedup -> near-dup cluster "
    "resolution with quality-aware survivor selection (q49+q94) -> "
    "q85 quality model at a stricter keep-bar -> benchmark "
    "decontamination (q64) -> per-"
    "source token budget (q63) — with a per-source funnel audit (doc "
    "counts surviving each stage + tokens kept) as the output, the "
    "end-state a training-data pipeline actually ships",
    tags=("llm", "curation", "dedup", "pipeline", "iterative"),
)
def q95_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: every stage is a catalog operator that already
    carries its own 100 TB design note (hash-agg exact dedup, staged
    shingles + df-capped pair join, iterative components, max_by
    survivor agg, broadcast bench shingle set, per-source window
    cumsum). Each stage's output is STAGED (`stage()` — a staging
    table between pipeline stages at 100 TB) because it feeds both the
    next stage and its own funnel count; without the boundary, every
    funnel aggregate would re-derive its whole chain prefix and the
    pipeline's work would grow quadratically in stage count (measured
    by plan-tree walk, cached subtrees excluded: 94 exchanges with
    stage() dropped vs 12 staged — pinned at budget 16 in
    tests/test_plan_shapes.py::test_q95_staged_exchange_budget)."""
    from pyspark.sql import Window as W

    from ..operators import dedup
    from ..operators.staging import stage
    from .quality import quality_p_u

    docs = load_table(spark, sf_dir, "documents")
    bench_pred = F.col("doc_id") % _BENCH_MOD == 0
    bench, inp = docs.filter(bench_pred), docs.filter(~bench_pred)

    # 1 — exact dedup (min-id survivor per CONTENT DIGEST — the q65
    # convention: the shuffle carries 16-byte keys, never document
    # bodies, per the operator family's design note). The staged
    # survivor frame also carries the q85 quality score as a column so
    # the model's 4 regex passes run ONCE here and stages 2 and 3 read
    # a plain column.
    exact_ids = inp.groupBy(curation.content_digest("text")).agg(
        F.min("doc_id").alias("doc_id")
    )
    e = stage(
        inp.join(exact_ids.select("doc_id"), "doc_id", "left_semi").withColumn(
            "p_u", quality_p_u()
        )
    )

    # 2 — near-dup clusters over the exact survivors; keep the best-
    # quality member per cluster (q94), pass singletons through
    pairs = dedup.shingle_jaccard_pairs(e, threshold=0.4)
    clusters = dedup.duplicate_clusters(pairs).select(
        "doc", F.col("cluster_id").cast("long").alias("cluster_id")
    )
    scored = e.select(F.col("doc_id").alias("doc"), "p_u", "n_chars")
    surv = dedup.cluster_survivors(clusters, scored)
    nd_ids = (
        e.join(clusters.select(F.col("doc").alias("doc_id")), "doc_id", "left_anti")
        .select("doc_id")
        .unionAll(surv.select(F.col("survivor_doc").alias("doc_id")))
    )
    nd = stage(e.join(nd_ids, "doc_id", "left_semi"))

    # 3 — quality gate (q85's model at the pipeline's stricter bar;
    # p_u was computed once into the staged `e`). NOT staged (round
    # 18): it is a pure narrow filter on a COLUMN of the staged `nd`,
    # so each of its consumers re-runs just the filter over the cached
    # frame — staging it paid a full materialization pass for zero
    # avoided recomputation (guide §5: cache only when recomputing is
    # more expensive than the memory pressure).
    qual = nd.filter(F.col("p_u") >= _PIPE_QUALITY_MIN)

    # 4 — decontamination vs the benchmark docs (broadcast shingle
    # set). Stage the HIT-ID LIST (tiny — contaminated ids only), not
    # the decontaminated document frame: dec's two consumers re-run
    # only a broadcast anti-join over the cached `nd` filter, while
    # stage(dec) materialized a second full copy of the surviving
    # documents (text included) to avoid recomputing exactly that
    # cheap join. The expensive part — the shingle pass inside
    # contaminated_ids — runs once either way because `hits` is what
    # is cached (guide §5).
    hits = stage(curation.contaminated_ids(qual, bench))
    dec = qual.join(hits, "doc_id", "left_anti")

    # 5 — per-source token budget in doc_id order
    tokc = dec.select("source", "doc_id", TX.bpe_token_count("text").alias("n_tok"))
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    kept = tokc.withColumn("cum", F.sum("n_tok").over(w)).filter(
        F.col("cum") <= _PIPE_BUDGET
    )

    # funnel audit (round 18): ONE union + ONE aggregation. The old
    # shape ran one groupBy(source) per stage and left-joined six
    # tiny frames together — 6 aggregation exchanges + 5 broadcast
    # joins for seven numbers. Every stage is a (source, stage-tag)
    # projection of an already-staged cut, so unioning the
    # projections and folding them in a single conditional agg does
    # the same arithmetic with ONE exchange; partial aggregation
    # collapses each branch map-side before it (guide §2.4/§2.3).
    # Stage sets are nested (kept ⊆ dec ⊆ qual ⊆ nd ⊆ e ⊆ inp), so
    # grouping the union by source yields exactly the sources of
    # `inp` — the old left-join spine — and a count-if per tag equals
    # the old per-stage counts (absent stage -> 0, the old coalesce).
    def _t(df, st):
        return df.select(
            "source", F.lit(st).alias("st"), F.lit(0).cast("long").alias("tok")
        )

    u = (
        _t(inp, 0)
        .unionAll(_t(e, 1))
        .unionAll(_t(nd, 2))
        .unionAll(_t(qual, 3))
        .unionAll(_t(dec, 4))
        .unionAll(
            kept.select(
                "source",
                F.lit(5).alias("st"),
                F.col("n_tok").cast("long").alias("tok"),
            )
        )
    )

    def _n(st, name):
        return F.count(F.when(F.col("st") == st, 1)).alias(name)

    zero = F.lit(0).cast("long")
    return (
        u.groupBy("source")
        .agg(
            _n(0, "n_input"),
            _n(1, "n_exact"),
            _n(2, "n_neardup"),
            _n(3, "n_quality"),
            _n(4, "n_decontam"),
            _n(5, "n_kept"),
            F.coalesce(
                F.sum(F.when(F.col("st") == 5, F.col("tok"))), zero
            ).alias("tokens_kept"),
        )
        .orderBy("source")
    )
