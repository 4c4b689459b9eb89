"""Corpus-curation query specs, part 2 (q71+): semantic clustering,
Gopher-style intra-document repetition signals, and out-of-vocabulary
rate scoring — the remaining quality/structure passes of a training-
data pipeline.

Conventions follow catalog.py: identical column aliases both sides,
total ORDER BY, BIGINT casts on integer aggregates, doubles rounded
where both engines are on-grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as TX
from ..operators import clustering
from ..sources.tables import load_table
from .catalog import query

_VOCAB = 16  # OOV vocabulary size (top-16 words by frequency)


@query(
    "q71_kmeans_assign",
    oracle=f"""
        WITH seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
                   embedding AS cemb
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT {clustering.KMEANS_K})
        ),
        u AS (
            SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
            FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
        ),
        cu AS (
            SELECT cluster, i AS pos, CAST(cemb[i] AS DOUBLE) AS cval
            FROM seeds, UNNEST(generate_series(1, len(cemb))) AS t(i)
        ),
        d AS (
            SELECT u.vec_id, cu.cluster,
                   round(sum((u.val - cu.cval) * (u.val - cu.cval)), 6) AS d2
            FROM u JOIN cu USING (pos)
            GROUP BY u.vec_id, cu.cluster
        ),
        a AS (
            SELECT vec_id, cluster, d2,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cluster) AS rk
            FROM d
        )
        SELECT cluster,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(d2), 3) AS avg_d2,
               round(max(d2), 3) AS max_d2
        FROM a WHERE rk = 1
        GROUP BY cluster ORDER BY cluster
    """,
    description="SemDeDup-style Lloyd assignment: every embedding joins "
    "its nearest of 8 deterministic seed centroids (closure-broadcast "
    "GEMM, one mapInPandas pass, no shuffle); per-cluster size and "
    "dispersion profile is the curation pipeline's balance report",
    tags=("llm", "curation", "clustering"),
)
def q71_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = clustering.kmeans_assign(emb)
    return clustering.cluster_profile(assigned)


@query(
    "q72_doc_repetition",
    oracle="""
        WITH w AS (
            SELECT doc_id, source,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS wk
            FROM documents
        ),
        s AS (
            SELECT doc_id, source, len(wk) AS n_words,
                   len(list_distinct(wk)) AS n_distinct
            FROM w
        ),
        bg AS (
            SELECT doc_id, wk[i] || ' ' || wk[i + 1] AS b
            FROM w, UNNEST(generate_series(1, len(wk) - 1)) AS t(i)
        ),
        bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
        pd AS (
            SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_bg
            FROM bc GROUP BY doc_id
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(1.0 - CAST(n_distinct AS DOUBLE) / n_words), 4)
                   AS avg_dup_word_frac,
               round(avg(CAST(top_cnt AS DOUBLE) / n_bg), 4)
                   AS avg_top_bigram_frac
        FROM s JOIN pd USING (doc_id)
        GROUP BY source ORDER BY source
    """,
    description="Gopher-style repetition signals: per-doc duplicate-word "
    "fraction and most-frequent-bigram share, aggregated per source — "
    "the degenerate/templated-text filter; all JVM-side (explode + "
    "zip_with bigrams), scan-speed at 100 TB",
    tags=("llm", "curation", "text"),
)
def q72_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", "source", TX.words("text").alias("wk")).filter(
        F.size("wk") >= 2
    )
    stats = w.select(
        "doc_id",
        "source",
        F.size("wk").alias("n_words"),
        F.size(F.array_distinct("wk")).alias("n_distinct"),
    )
    bigrams = w.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("wk", 1, F.size("wk") - 1),
                F.slice("wk", 2, F.size("wk") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("b"),
    )
    per_doc = (
        bigrams.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"), F.sum("c").alias("n_bg"))
    )
    return (
        stats.join(per_doc, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.avg(
                    F.lit(1.0)
                    - F.col("n_distinct").cast("double") / F.col("n_words")
                ),
                4,
            ).alias("avg_dup_word_frac"),
            F.round(
                F.avg(F.col("top_cnt").cast("double") / F.col("n_bg")), 4
            ).alias("avg_top_bigram_frac"),
        )
        .orderBy("source")
    )


@query(
    "q74_oov_rate",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, source,
                   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
            FROM documents
        ),
        wc AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        vocab AS (
            SELECT w FROM wc
            QUALIFY row_number() OVER (ORDER BY c DESC, w) <= {_VOCAB}
        ),
        pd AS (
            SELECT doc_id, source, count(*) AS n_tok,
                   sum(CASE WHEN w IN (SELECT w FROM vocab)
                            THEN 0 ELSE 1 END) AS n_oov
            FROM tok GROUP BY doc_id, source
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_oov) AS BIGINT) AS total_oov,
               round(avg(CAST(n_oov AS DOUBLE) / n_tok), 4) AS avg_oov_frac
        FROM pd GROUP BY source ORDER BY source
    """,
    description="Out-of-vocabulary rate vs a corpus-derived top-16 "
    "vocabulary (deterministic freq-desc/word-asc ranking): the LM-proxy "
    "quality score; vocabulary is broadcast back, corpus streams through "
    "one explode + map-side join",
    tags=("llm", "curation", "text"),
)
def q74_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "source", F.explode(TX.words("text")).alias("w"))
    wc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # Global row_number over the WORD-COUNT table (vocabulary-sized, a
    # tiny fraction of the corpus) — the single-partition sort is on
    # |vocab| rows, never on corpus rows.
    vocab = (
        wc.withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("w")))
        )
        .filter(F.col("rk") <= _VOCAB)
        .select("w")
    )
    per_doc = (
        tok.join(F.broadcast(vocab.withColumn("_v", F.lit(1))), "w", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_oov").cast("long").alias("total_oov"),
            F.round(
                F.avg(F.col("n_oov").cast("double") / F.col("n_tok")), 4
            ).alias("avg_oov_frac"),
        )
        .orderBy("source")
    )


# Shared CTE prefix for the k-means family: deterministic seeds, the
# unpacked embedding table, seed centroids per position, first-pass
# distances and the first-pass assignment (the q71 plan).
_KMEANS_CTES = f"""
        seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
                   embedding AS cemb
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT {clustering.KMEANS_K})
        ),
        u AS (
            SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
            FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
        ),
        cu AS (
            SELECT cluster, i AS pos, CAST(cemb[i] AS DOUBLE) AS cval
            FROM seeds, UNNEST(generate_series(1, len(cemb))) AS t(i)
        ),
        d1 AS (
            SELECT u.vec_id, cu.cluster,
                   round(sum((u.val - cu.cval) * (u.val - cu.cval)), 6) AS d2
            FROM u JOIN cu USING (pos)
            GROUP BY u.vec_id, cu.cluster
        ),
        a1 AS (
            SELECT vec_id, cluster FROM (
                SELECT vec_id, cluster,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d2, cluster) AS rk
                FROM d1) WHERE rk = 1
        )
"""


def _round_half_up(x: float, digits: int) -> float:
    import math

    p = 10.0**digits
    return math.floor(x * p + 0.5) / p


@query(
    "q75_kmeans_update",
    oracle=f"""
        WITH {_KMEANS_CTES},
        c2 AS (
            SELECT a1.cluster, u.pos, round(avg(u.val), 6) AS cv2
            FROM a1 JOIN u USING (vec_id) GROUP BY a1.cluster, u.pos
        ),
        cu2 AS (
            SELECT cu.cluster, cu.pos, coalesce(c2.cv2, cu.cval) AS cval
            FROM cu LEFT JOIN c2 ON c2.cluster = cu.cluster AND c2.pos = cu.pos
        ),
        dd AS (
            SELECT u.vec_id, cu2.cluster,
                   round(sum((u.val - cu2.cval) * (u.val - cu2.cval)), 6) AS d2
            FROM u JOIN cu2 USING (pos)
            GROUP BY u.vec_id, cu2.cluster
        ),
        a2 AS (
            SELECT vec_id, cluster, d2 FROM (
                SELECT vec_id, cluster, d2,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d2, cluster) AS rk
                FROM dd) WHERE rk = 1
        ),
        drift AS (
            SELECT cu.cluster,
                   round(sqrt(sum((cu2.cval - cu.cval) * (cu2.cval - cu.cval))), 4)
                       AS drift
            FROM cu JOIN cu2 ON cu2.cluster = cu.cluster AND cu2.pos = cu.pos
            GROUP BY cu.cluster
        )
        SELECT a2.cluster,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(a2.d2), 3) AS avg_d2,
               max(drift.drift) AS drift
        FROM a2 JOIN drift ON drift.cluster = a2.cluster
        GROUP BY a2.cluster ORDER BY a2.cluster
    """,
    description="Full Lloyd iteration: assignment + centroid UPDATE via "
    "per-batch partial sums (map-side combine, one corpus scan, no "
    "shuffle of vectors), re-broadcast updated centroids, second "
    "assignment; reports per-cluster size, inertia, and centroid drift "
    "— the iterative-ML pattern at 100 TB",
    tags=("llm", "curation", "clustering"),
)
def q75_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = clustering.kmeans_seeds(emb)
    newc = clustering.updated_centroids(emb, seeds)
    assigned2 = clustering.assign_with_centroids(emb, newc)
    prof = clustering.cluster_profile(assigned2).drop("max_d2")
    drift_rows = [
        (c, _round_half_up(float(np.sqrt(((newc[c] - seeds[c]) ** 2).sum())), 4))
        for c in range(clustering.KMEANS_K)
    ]
    ddf = spark.createDataFrame(drift_rows, "cluster int, drift double")
    return (
        prof.join(F.broadcast(ddf), "cluster")
        .select("cluster", "n", "avg_d2", "drift")
        .orderBy("cluster")
    )


@query(
    "q76_semantic_dedup",
    oracle=f"""
        WITH {_KMEANS_CTES},
        nrm AS (SELECT vec_id, sqrt(sum(val * val)) AS n FROM u GROUP BY vec_id),
        un AS (
            SELECT u.vec_id, u.pos, u.val / nrm.n AS uval
            FROM u JOIN nrm USING (vec_id)
        ),
        p AS (
            SELECT a.cluster, a.vec_id AS va, b.vec_id AS vb
            FROM a1 a JOIN a1 b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        ),
        c AS (
            SELECT p.cluster, p.va, p.vb,
                   round(sum(x.uval * y.uval), 6) AS cos_sim
            FROM p
            JOIN un x ON x.vec_id = p.va
            JOIN un y ON y.vec_id = p.vb AND y.pos = x.pos
            GROUP BY p.cluster, p.va, p.vb
        )
        SELECT cluster,
               CAST(count(*) AS BIGINT) AS n_pairs,
               round(avg(cos_sim), 4) AS avg_cos
        FROM c WHERE cos_sim >= {clustering.SEMDEDUP_THRESHOLD}
        GROUP BY cluster ORDER BY cluster
    """,
    description="SemDeDup: cosine near-dup pairs mined WITHIN k-means "
    "clusters (assignment = candidate blocking, O(n^2/k) pair space, "
    "bucket-local upper-triangle GEMM; vectors ride with the assignment "
    "so no corpus self-join), per-cluster pair counts",
    tags=("llm", "curation", "dedup", "clustering"),
)
def q76_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = clustering.semantic_near_duplicates(emb)
    return (
        pairs.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg("cos_sim"), 4).alias("avg_cos"),
        )
        .orderBy("cluster")
    )


@query(
    "q92_ivf_learned_topk",
    oracle=f"""
        WITH {_KMEANS_CTES},
        c2 AS (
            SELECT a1.cluster, u.pos, round(avg(u.val), 6) AS cv2
            FROM a1 JOIN u USING (vec_id) GROUP BY a1.cluster, u.pos
        ),
        cu2 AS (
            SELECT cu.cluster, cu.pos, coalesce(c2.cv2, cu.cval) AS cval
            FROM cu LEFT JOIN c2 ON c2.cluster = cu.cluster AND c2.pos = cu.pos
        ),
        dd AS (
            SELECT u.vec_id, cu2.cluster,
                   round(sum((u.val - cu2.cval) * (u.val - cu2.cval)), 6) AS d2
            FROM u JOIN cu2 USING (pos)
            GROUP BY u.vec_id, cu2.cluster
        ),
        a2 AS (
            SELECT vec_id, cluster FROM (
                SELECT vec_id, cluster,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d2, cluster) AS rk
                FROM dd) WHERE rk = 1
        ),
        qp AS (
            SELECT vec_id AS q_id, cluster FROM (
                SELECT vec_id, cluster,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d2, cluster) AS rk
                FROM dd WHERE vec_id < 5) WHERE rk <= 2
        ),
        qe AS (
            SELECT vec_id AS q_id, embedding AS q_emb
            FROM embeddings WHERE vec_id < 5
        ),
        cand AS (
            SELECT a2.vec_id, a2.cluster, e.embedding
            FROM a2 JOIN embeddings e USING (vec_id)
        ),
        scored AS (
            SELECT qp.q_id, cand.vec_id,
                   list_sum(list_transform(generate_series(1, len(q_emb)),
                       i -> CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(q_emb,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
            FROM qp
            JOIN cand USING (cluster)
            JOIN qe ON qe.q_id = qp.q_id
            WHERE cand.vec_id <> qp.q_id
        ),
        ranked AS (
            SELECT q_id, vec_id, cos,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY round(cos, 6) DESC, vec_id) AS rn
            FROM scored
        )
        SELECT q_id, vec_id, round(cos, 4) AS cos_sim, rn
        FROM ranked WHERE rn <= 5
        ORDER BY q_id, rn
    """,
    description="IVF ANN with a LEARNED coarse quantizer: k-means "
    "centroids (deterministic seeds + one Lloyd refinement, all on the "
    "6-dp grid) partition the corpus into data-following cells; each "
    "query probes its 2 nearest cells — the production upgrade over "
    "q34's data-independent sign buckets (recall property-tested vs "
    "brute force in tests/test_clustering.py)",
    tags=("llm", "similarity", "clustering"),
)
def q92_ivf_learned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = similarity.as_queries(emb.filter(F.col("vec_id") < 5))
    return similarity.ivf_learned_topk(emb, queries).orderBy("q_id", "rn")
