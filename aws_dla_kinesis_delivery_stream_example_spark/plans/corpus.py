"""Round-4 coverage batch: corpus/vocabulary accounting and product-
analytics shapes a training-data pipeline runs next to dedup/curation —
vocabulary building, deterministic sampling, cohort retention, and a
sessionized conversion funnel.

100 TB notes per query are in the docstrings; all four are pure
DataFrame plans (no Python in the hot path) with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import text as TX
from ..operators.tfidf import (
    MAX_DF,
    MAX_DF_CEILING,
    MAX_DF_FRAC,
    TFIDF_THRESHOLD,
    tfidf_cosine_pairs,
)
from ..sources.tables import load_table
from .catalog import query


@query(
    "q77_vocabulary_topk",
    oracle="""
        SELECT tok, CAST(count(*) AS BIGINT) AS n
        FROM (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
            FROM documents
        )
        GROUP BY tok
        ORDER BY n DESC, tok
        LIMIT 100
    """,
    description="Vocabulary building: top-100 corpus tokens by frequency "
    "(explode -> partial-agg count -> TakeOrdered). The frequency table "
    "behind tokenizer training and stopword induction",
    tags=("llm", "text", "topk"),
)
def q77_vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: explode is narrow; the count groupBy map-side
    combines per token BEFORE the shuffle, so shuffle volume is the
    distinct-vocab size per partition, not token occurrences (Zipf
    makes that ~10^5-10^6 rows however big the corpus); the final
    ``orderBy().limit()`` compiles to TakeOrderedAndProject, never a
    global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(TX.words("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(100)
    )


@query(
    "q78_deterministic_sample",
    oracle="""
        SELECT source, doc_id, rk
        FROM (
            SELECT source, doc_id,
                   CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS BIGINT) AS rk
            FROM documents
        )
        WHERE rk <= 20
        ORDER BY source, rk
    """,
    description="Deterministic per-source k-sample: rank by md5(doc_id) "
    "(a stable pseudo-random order reproducible across engines and "
    "runs) and keep the first 20 per source — the eval-set carve-out "
    "pattern where resampling on rerun would contaminate train/test",
    tags=("llm", "sampling", "window"),
)
def q78_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one shuffle on ``source``; the rank-filter prunes
    to k rows per group immediately after the per-group sort. md5 of
    the key (not rand()) makes the sample a pure function of the data
    — re-runnable, auditable, and identical on any cluster size."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.select("source", "doc_id", F.row_number().over(w).cast("long").alias("rk"))
        .filter(F.col("rk") <= 20)
        .orderBy("source", "rk")
    )


@query(
    "q79_retention_cohorts",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
            FROM events
        ),
        coh AS (
            SELECT user_id, min(d) AS c FROM ud GROUP BY user_id
        )
        SELECT strftime(coh.c, '%Y-%m-%d') AS cohort_day,
               CAST(datediff('day', coh.c, ud.d) AS BIGINT) AS day_offset,
               CAST(count(DISTINCT ud.user_id) AS BIGINT) AS n_users
        FROM ud JOIN coh ON ud.user_id = coh.user_id
        GROUP BY coh.c, datediff('day', coh.c, ud.d)
        ORDER BY cohort_day, day_offset
    """,
    description="Cohort retention matrix: users bucketed by first-seen "
    "day, distinct-user counts per (cohort, day offset) — the standard "
    "engagement rollup over the events stream",
    tags=("events", "aggregate", "cohort"),
)
def q79_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: distinct (user, day) first (map-side partial dedup
    before the shuffle), then the cohort min as a WINDOW over user_id —
    one exchange replaces the groupBy+self-join alternative (which
    costs two) and never materializes a separate cohort table; the
    final distinct-count shuffles the already-deduped pairs on the
    small (cohort, offset) key space."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        ud.withColumn("c", F.min("d").over(W.partitionBy("user_id")))
        .groupBy(
            F.date_format("c", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "c").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


def session_assignment(ev: DataFrame) -> DataFrame:
    """Gaps-and-islands session labeling (q22/q80 convention): a new
    session starts when the gap from the previous event of the same
    user STRICTLY exceeds 30 minutes, compared in integer microseconds
    (the grid both engines share). Adds a ``session_id`` column.
    Shared between q80 and its property test so the tested logic IS
    the production logic."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (us - F.unix_micros(F.lag("ts").over(w)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    return flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )


@query(
    "q80_session_funnel",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_type, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts, event_type,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM flagged
        ),
        per_session AS (
            SELECT user_id, session_id,
                   min(epoch_us(ts)) FILTER (event_type = 'click') AS first_click,
                   max(epoch_us(ts)) FILTER (event_type = 'purchase') AS last_purchase
            FROM sessions
            GROUP BY user_id, session_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(count(*) FILTER (first_click IS NOT NULL) AS BIGINT) AS n_click_sessions,
               CAST(count(*) FILTER (
                   first_click IS NOT NULL AND last_purchase IS NOT NULL
                   AND last_purchase >= first_click
               ) AS BIGINT) AS n_converted,
               round(
                   CAST(count(*) FILTER (
                       first_click IS NOT NULL AND last_purchase IS NOT NULL
                       AND last_purchase >= first_click
                   ) AS DOUBLE)
                   / nullif(count(*) FILTER (first_click IS NOT NULL), 0),
                   4
               ) AS conv_rate
        FROM per_session
    """,
    description="Sessionized conversion funnel: 30-min-gap sessions "
    "(q22's gaps-and-islands convention, microsecond-exact), a session "
    "converts when a purchase lands at-or-after its first click; "
    "global session/click/conversion counts + rate",
    tags=("events", "session", "funnel"),
)
def q80_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one shuffle on ``user_id`` serves BOTH window
    passes and the per-session agg (same partitioning); the final
    global rollup is a single-row reduce. Comparisons are in integer
    microseconds (``unix_micros``), the grid both engines share."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    sessions = session_assignment(ev)
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "click", us)).alias("first_click"),
        F.max(F.when(F.col("event_type") == "purchase", us)).alias("last_purchase"),
    )
    converted = F.col("first_click").isNotNull() & (
        F.col("last_purchase") >= F.col("first_click")
    )
    return per_session.agg(
        F.count("*").alias("n_sessions"),
        F.count(F.when(F.col("first_click").isNotNull(), 1)).alias("n_click_sessions"),
        F.count(F.when(converted, 1)).alias("n_converted"),
        F.round(
            F.count(F.when(converted, 1)).cast("double")
            / F.nullif(F.count(F.when(F.col("first_click").isNotNull(), 1)), F.lit(0)),
            4,
        ).alias("conv_rate"),
    )


@query(
    "q81_tfidf_cosine_pairs",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
            FROM (
                SELECT doc_id,
                       unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
                FROM documents
            )
            GROUP BY doc_id, tok
        ),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        dfreq AS (
            SELECT tok, count(*) AS df FROM toks GROUP BY tok
            HAVING count(*) <= greatest(
                {MAX_DF},
                least((SELECT count(*) FROM documents) * {MAX_DF_FRAC},
                      {MAX_DF_CEILING})
            )
        ),
        w AS (
            SELECT t.doc_id, t.tok,
                   CAST(round(round(t.tf * ln((n.n_docs + 1) / (d.df + 1)), 6)
                              * 1000) AS BIGINT) AS w_m
            FROM toks t JOIN dfreq d ON d.tok = t.tok, n
        ),
        norms AS (
            SELECT doc_id, sqrt(CAST(sum(w_m * w_m) AS DOUBLE)) AS nrm
            FROM w GROUP BY doc_id
        ),
        dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(sum(a.w_m * b.w_m) AS DOUBLE) AS dot
            FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               round(dot / (na.nrm * nb.nrm), 4) AS cos_sim
        FROM dots
        JOIN norms na ON na.doc_id = doc_a
        JOIN norms nb ON nb.doc_id = doc_b
        WHERE round(dot / (na.nrm * nb.nrm), 6) >= {TFIDF_THRESHOLD}
        ORDER BY doc_a, doc_b
    """,
    description="Sparse TF-IDF cosine near-dup pairs via inverted-index "
    "self-join on token (pairs form only where a term is shared; hot "
    f"tokens over greatest({MAX_DF}, least({MAX_DF_FRAC}"
    f" * n_docs, {MAX_DF_CEILING})) are pruned before the join "
    "— principled for TF-IDF since high-df terms carry ~zero idf "
    "weight; the ceiling keeps per-token fan-out absolutely bounded)",
    tags=("llm", "dedup", "similarity"),
)
def q81_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: postings staged once; the pair join is ON TOKEN so
    fan-out is bounded by cap^2 per term; norms/dots are partial-agg
    shuffles on doc keys. The sparse complement of q76's dense
    cluster-blocked GEMM."""
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(docs).orderBy("doc_a", "doc_b")


@query(
    "q82_bm25_search",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS tks
            FROM documents
        ),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   avg(CAST(len(tks) AS DOUBLE)) AS avgdl
            FROM base
        ),
        posts AS (
            SELECT doc_id, tok,
                   CAST(count(*) AS DOUBLE) AS tf,
                   any_value(dl) AS dl
            FROM (
                SELECT doc_id, CAST(len(tks) AS DOUBLE) AS dl,
                       unnest(tks) AS tok
                FROM base
            )
            WHERE tok IN ('spark', 'stream', 'join')
            GROUP BY doc_id, tok
        ),
        dfreq AS (
            SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM posts GROUP BY tok
        ),
        terms AS (
            SELECT p.doc_id,
                   round(
                       ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * p.tf * 2.2
                       / (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl / s.avgdl)),
                       6
                   ) AS w
            FROM posts p JOIN dfreq d ON d.tok = p.tok, stats s
        ),
        scores AS (
            SELECT doc_id, round(sum(w), 6) AS score FROM terms GROUP BY doc_id
        )
        SELECT doc_id, round(score, 4) AS bm25
        FROM scores
        ORDER BY score DESC, doc_id
        LIMIT 20
    """,
    description="BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed "
    "3-term query — the scored version of the reference's OpenSearch "
    "search surface (SURVEY.md §2.8), computed engine-side: postings "
    "filtered to the query vocabulary before any shuffle, corpus stats "
    "as a broadcast 1-row aggregate, TakeOrdered top-20",
    tags=("llm", "search", "topk"),
)
def q82_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: see operators/tfidf.bm25_topk — postings volume is
    bounded by the query vocabulary (3 terms), never the corpus
    vocabulary; ranking is on the shared 6-dp grid."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.tfidf import bm25_topk

    return bm25_topk(docs).select(
        F.col("doc").alias("doc_id"), "bm25"
    )


_RRF_K = 60
_DOT_DUCK84 = (
    "list_sum(list_transform(generate_series(1, len(q_emb)), "
    "i -> CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))"
)
_NORM_Q84 = "sqrt(list_sum(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
_NORM_C84 = "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


@query(
    "q84_hybrid_search",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS q_id, embedding AS q_emb
            FROM embeddings WHERE vec_id = 0
        ),
        scored AS (
            SELECT vec_id, {_DOT_DUCK84} / ({_NORM_Q84} * {_NORM_C84}) AS cos
            FROM embeddings CROSS JOIN q
            WHERE vec_id <> q_id
        ),
        cosr AS (
            SELECT id, r_c FROM (
                SELECT vec_id AS id,
                       row_number() OVER (ORDER BY round(cos, 6) DESC, vec_id) AS r_c
                FROM scored
            ) WHERE r_c <= 50
        ),
        base AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tks
            FROM documents
        ),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   avg(CAST(len(tks) AS DOUBLE)) AS avgdl
            FROM base
        ),
        posts AS (
            SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
            FROM (
                SELECT doc_id, CAST(len(tks) AS DOUBLE) AS dl, unnest(tks) AS tok
                FROM base
            )
            WHERE tok IN ('spark', 'stream', 'join')
            GROUP BY doc_id, tok
        ),
        dfreq AS (
            SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM posts GROUP BY tok
        ),
        terms AS (
            SELECT p.doc_id,
                   round(
                       ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * p.tf * 2.2
                       / (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl / s.avgdl)),
                       6
                   ) AS w
            FROM posts p JOIN dfreq d ON d.tok = p.tok, stats s
        ),
        bscores AS (
            SELECT doc_id, round(sum(w), 6) AS score FROM terms GROUP BY doc_id
        ),
        bmr AS (
            SELECT id, r_b FROM (
                SELECT doc_id AS id,
                       row_number() OVER (ORDER BY score DESC, doc_id) AS r_b
                FROM bscores
            ) WHERE r_b <= 50
        ),
        fused AS (
            SELECT coalesce(bmr.id, cosr.id) AS doc_id,
                   bmr.r_b AS bm25_rank,
                   cosr.r_c AS cos_rank,
                   round(
                       coalesce(1.0 / ({_RRF_K} + bmr.r_b), 0)
                       + coalesce(1.0 / ({_RRF_K} + cosr.r_c), 0),
                       6
                   ) AS rrf
            FROM bmr FULL OUTER JOIN cosr ON bmr.id = cosr.id
        )
        SELECT doc_id, bm25_rank, cos_rank, rrf
        FROM fused
        ORDER BY rrf DESC, doc_id
        LIMIT 20
    """,
    description="Hybrid retrieval: reciprocal-rank fusion (k=60) of the "
    "BM25 top-50 (3-term lexical query) and the exact cosine top-50 "
    "(query = doc 0's embedding) — the modern lexical+dense search "
    "stack over the same corpus, exploiting the shared doc_id/vec_id "
    "domain",
    tags=("llm", "search", "similarity"),
)
def q84_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: each retriever is independently scale-safe (BM25:
    query-vocab-bounded postings + TakeOrdered; cosine: one GEMM scan
    pass); the fusion full-outer join runs on two <= 50-row lists —
    constant work no matter the corpus size."""
    from ..operators.similarity import as_queries, brute_force_topk
    from ..operators.tfidf import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bmr = bm25_topk(docs, top_k=50, with_rank=True).select(
        F.col("doc").alias("id"), F.col("rank").alias("bm25_rank")
    )
    cosr = brute_force_topk(
        emb, as_queries(emb.filter(F.col("vec_id") == 0)), k=50
    ).select(F.col("vec_id").alias("id"), F.col("rn").cast("long").alias("cos_rank"))
    fused = bmr.join(cosr, "id", "full_outer")
    rrf = F.round(
        F.coalesce(1.0 / (_RRF_K + F.col("bm25_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (_RRF_K + F.col("cos_rank")), F.lit(0.0)),
        6,
    )
    return (
        fused.select(
            F.col("id").alias("doc_id"), "bm25_rank", "cos_rank", rrf.alias("rrf")
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(20)
    )


# q88's date range: 3 of the lake's 30 daily partitions.
_Q88_DATES = ("2024-01-10", "2024-01-12")


@query(
    "q88_partition_pruned_scan",
    oracle=f"""
        SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS event_date,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS sum_value
        FROM events
        WHERE CAST(date_trunc('day', ts) AS DATE)
              BETWEEN DATE '{_Q88_DATES[0]}' AND DATE '{_Q88_DATES[1]}'
        GROUP BY event_date, event_type
        ORDER BY event_date, event_type
    """,
    description="Storage-layout operator: events re-materialized as a "
    "date-partitioned lake (.../event_date=YYYY-MM-DD/), then a "
    "3-of-30-day query reads it back — the BETWEEN on the partition "
    "column compiles to PartitionFilters, so 90% of the lake is never "
    "listed (tests assert the pruned plan); results hash-checked "
    "against the flat-table oracle",
    tags=("events", "storage", "pruning"),
)
def q88_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: partition pruning happens at PLANNING time on the
    directory listing — at 100 TB the difference between scanning 3
    days and listing 10 years. Pushdown (row-group skip) still applies
    within the surviving partitions; the agg is map-side combined on
    the small (date, type) key space. The filter is on the partition
    column, so it compiles to PartitionFilters: directories outside
    the range are never listed, let alone read."""
    from ..sources.partitioned import materialize_partitioned_events

    ev = spark.read.parquet(materialize_partitioned_events(spark, sf_dir)).filter(
        F.col("event_date").between(*_Q88_DATES)
    )
    return (
        ev.groupBy(
            F.date_format("event_date", "yyyy-MM-dd").alias("event_date"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("event_date", "event_type")
    )
