"""LLM-data-pipeline queries (SURVEY.md §2.11): dedup, text analysis,
similarity search over documents/embeddings. EVERY query here carries
a full DuckDB hash oracle — the hash-based ops (MinHash/SimHash)
migrated from xxhash64 to the portable md5-prefix lattice in round 5
precisely so the oracle could reproduce them bit-for-bit (the
``test_every_query_has_a_full_hash_oracle`` gate pins this); they are
ADDITIONALLY verified against exact Jaccard in the pytest suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.vectors import norm2
from ..operators import dedup, similarity
from ..sources.tables import load_table
from .catalog import query


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

@query(
    "q25_dedup_exact",
    oracle="""
        SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents
        GROUP BY text
        ORDER BY keep_id
    """,
    description="Exact dedup: one hash-aggregate on the text key, "
    "deterministic min-id survivor",
    tags=("llm", "dedup"),
)
def q25_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    )


@query(
    "q26_ngram_jaccard",
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
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT doc_a, doc_b,
                   round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 3) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
        )
        WHERE jaccard >= 0.1
        ORDER BY doc_a, doc_b
    """,
    description="Exact word-5-gram Jaccard pairs (>= 0.1); shingle "
    "self-join stays near-linear because word 5-grams are near-unique",
    tags=("llm", "dedup"),
)
def q26_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.shingle_jaccard_pairs(docs, threshold=0.0)
    return (
        pairs.select("doc_a", "doc_b", F.round("jaccard", 3).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.1)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q55_jaccard_freq_capped",
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
        rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 10),
        sh2 AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT doc_a, doc_b,
                   round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 3) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
        )
        WHERE jaccard >= 0.1
        ORDER BY doc_a, doc_b
    """,
    description="Frequency-capped exact Jaccard (max_df=10): the 100 TB "
    "safety valve that bounds the shingle self-join fan-out to O(max_df^2) "
    "per shingle while keeping true duplicate pairs (they share rare shingles)",
    tags=("llm", "dedup"),
)
def q55_jaccard_freq_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.shingle_jaccard_pairs(docs, threshold=0.0, max_df=10)
    return (
        pairs.select("doc_a", "doc_b", F.round("jaccard", 3).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.1)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q27_minhash_lsh_dedup",
    # Full hash oracle: the md5-prefix base hash and the fixed universal-
    # hash constants are bit-reproducible in DuckDB, so the oracle
    # recomputes the exact 64-long signatures and the LSH SEMANTICS
    # (pairs sharing >= 1 of the 16 bands). Spark's xxhash64 band KEYS
    # are an internal equality acceleration — banding on hashed slices
    # admits the same pair set (collisions are filtered by the
    # est_jaccard >= 0.5 verification), so the outputs hash-match.
    oracle="""
        WITH w AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id AS doc,
                   CAST('0x' || substring(md5(array_to_string(tk[i:i+4], ' ')), 1, 15)
                        AS BIGINT) % 2147483647 AS h
            FROM w, UNNEST(generate_series(1, len(tk) - 4)) AS t(i)
            WHERE len(tk) >= 5
        ),
        mh AS (
            SELECT doc, k,
                   min(((2*k + 1) * h + 1000003 * (k + 1)) % 2147483647) AS v
            FROM sh, UNNEST(generate_series(0, 63)) AS tt(k)
            GROUP BY doc, k
        ),
        sig AS (SELECT doc, list(v ORDER BY k) AS s FROM mh GROUP BY doc),
        bands AS (
            SELECT doc, b, s[b*4 + 1 : b*4 + 4] AS bv
            FROM sig, UNNEST(generate_series(0, 15)) AS bb(b)
        ),
        cand AS (
            SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
            FROM bands a JOIN bands b
              ON a.b = b.b AND a.bv = b.bv AND a.doc < b.doc
        ),
        est AS (
            SELECT c.doc_a, c.doc_b,
                   list_sum(list_transform(generate_series(1, 64),
                       i -> CAST(sa.s[i] = sb.s[i] AS INT))) / 64.0 AS ej
            FROM cand c
            JOIN sig sa ON sa.doc = c.doc_a
            JOIN sig sb ON sb.doc = c.doc_b
        )
        SELECT doc_a, doc_b, round(ej, 3) AS est_jaccard
        FROM est WHERE ej >= 0.5
        ORDER BY doc_a, doc_b
    """,
    description="MinHash(64)+LSH(16 bands) near-dup candidate pairs with "
    "estimated Jaccard >= 0.5 — the scale path for shingle dedup; md5-"
    "seeded hashing makes the signatures engine-portable, so the whole "
    "pipeline (shingle -> signature -> band join -> verify) runs under "
    "a full DuckDB hash oracle",
    tags=("llm", "dedup"),
)
def q27_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        dedup.minhash_near_duplicates(docs)
        .select("doc_a", "doc_b", F.round("est_jaccard", 3).alias("est_jaccard"))
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q28_simhash_dedup",
    # Full hash oracle: token bit-profiles come from the md5 prefix
    # (bit-identical in DuckDB), so the oracle recomputes the exact
    # 64-bit fingerprints.  Spark's Manku block-triple banding is
    # recall-GUARANTEED for Hamming <= 3 (>= 3 clean blocks => one
    # matching triple) and false candidates die at the exact-Hamming
    # verify, so the SEMANTIC spec — all pairs with bit_count(xor) <= 3
    # — is the oracle; the banding is pure acceleration.
    oracle="""
        WITH w AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        tf AS (
            SELECT doc_id AS doc, t.tok, count(*) AS c
            FROM w, UNNEST(tk) AS t(tok)
            GROUP BY doc, t.tok
        ),
        hb AS (
            SELECT tok,
                   CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) AS hi,
                   CAST('0x' || substring(md5(tok), 9, 8) AS BIGINT) AS lo
            FROM (SELECT DISTINCT tok FROM tf)
        ),
        bits AS (
            SELECT tf.doc, p.p,
                   sum(tf.c * (2 * (CASE WHEN p.p >= 32
                                         THEN (hb.hi >> (p.p - 32)) & 1
                                         ELSE (hb.lo >> p.p) & 1 END) - 1)) AS s
            FROM tf JOIN hb USING (tok), UNNEST(generate_series(0, 63)) AS p(p)
            GROUP BY tf.doc, p.p
        ),
        halves AS (
            SELECT doc,
                   sum(CASE WHEN p >= 32 AND s > 0 THEN 1 << (p - 32) ELSE 0 END) AS shi,
                   sum(CASE WHEN p < 32 AND s > 0 THEN 1 << p ELSE 0 END) AS slo
            FROM bits GROUP BY doc
        ),
        sigs AS (
            -- the sums above widen to HUGEINT; the BIGINT cast matters:
            -- xor over 128-bit reps of mixed-sign pairs would see 64
            -- phantom high bits and inflate the Hamming distance
            SELECT doc,
                   CAST(CASE WHEN shi >= 2147483648
                             THEN (shi - 4294967296) * 4294967296 + slo
                             ELSE shi * 4294967296 + slo END AS BIGINT) AS sig
            FROM halves
        )
        SELECT a.doc AS doc_a, b.doc AS doc_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        FROM sigs a JOIN sigs b ON a.doc < b.doc
        WHERE bit_count(xor(a.sig, b.sig)) <= 3
        ORDER BY doc_a, doc_b
    """,
    description="SimHash-64 near-dup pairs (Hamming <= 3) via Manku "
    "block-triple banding over distinct fingerprints; md5-seeded bit "
    "profiles make the fingerprints engine-portable, so the operator "
    "runs under a full DuckDB hash oracle",
    tags=("llm", "dedup"),
)
def q28_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        dedup.simhash_near_duplicates(docs)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@query(
    "q29_text_stats",
    oracle="""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
               CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
               CAST(len(regexp_extract_all(lower(text), '\\b(the|a|an|of|and|to|is|in|that|it)\\b')) AS BIGINT) AS n_stop,
               round(CAST(len(regexp_extract_all(lower(text), '\\b(the|a|an|of|and|to|is|in|that|it)\\b')) AS DOUBLE)
                     / nullif(len(regexp_extract_all(text, '\\S+')), 0), 3) AS stop_ratio
        FROM documents
        ORDER BY doc_id
    """,
    description="Per-document token / punctuation / stopword stats — "
    "pure codegen'd regex expressions at scan speed",
    tags=("llm", "text"),
)
def q29_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = TX.token_count("text")
    n_stop = TX.stopword_count("text")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        TX.punct_count("text").alias("n_punct"),
        n_stop.alias("n_stop"),
        F.round(n_stop.cast("double") / F.nullif(n_tokens, F.lit(0)), 3).alias("stop_ratio"),
    ).orderBy("doc_id")


@query(
    "q30_quality_filter",
    oracle="""
        SELECT doc_id,
               round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                     / nullif(length(text), 0), 3) AS alpha_ratio,
               n_chars
        FROM documents
        WHERE lang = 'en'
          AND n_chars BETWEEN 100 AND 5000
          AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
              / nullif(length(text), 0) >= 0.6
        ORDER BY doc_id
    """,
    description="Language + length + alpha-ratio quality gate (the "
    "training-data quality filter pattern)",
    tags=("llm", "text"),
)
def q30_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ar = TX.alpha_ratio("text")
    return (
        docs.filter(
            (F.col("lang") == "en") & F.col("n_chars").between(100, 5000) & (ar >= 0.6)
        )
        .select("doc_id", F.round(ar, 3).alias("alpha_ratio"), "n_chars")
        .orderBy("doc_id")
    )


@query(
    "q31_token_totals",
    oracle="""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))) AS BIGINT) AS total_tokens,
               round(avg(len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))), 2) AS avg_tokens
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    description="BPE-ish token accounting per language (corpus sizing)",
    tags=("llm", "text"),
)
def q31_token_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nt = TX.bpe_token_count("text")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(nt).alias("total_tokens"),
            F.round(F.avg(nt), 2).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "q32_lang_id",
    oracle="""
        SELECT doc_id, lang,
               CASE
                 WHEN len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) >= 2 THEN 'en'
                 WHEN len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b')) >= 2 THEN 'de'
                 WHEN len(regexp_extract_all(lower(text), '\\b(el|la|los|es|de)\\b')) >= 2 THEN 'es'
                 WHEN len(regexp_extract_all(lower(text), '\\b(le|les|est|et|une)\\b')) >= 2 THEN 'fr'
                 ELSE 'other'
               END AS lang_guess
        FROM documents
        ORDER BY doc_id
    """,
    description="N-gram-heuristic language ID (stopword voting) compared "
    "against the labeled lang column",
    tags=("llm", "text"),
)
def q32_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    guess = TX.stopword_lang("text")
    return docs.select("doc_id", "lang", guess.alias("lang_guess")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_DOT_DUCK = (
    "list_sum(list_transform(generate_series(1, len(q_emb)), "
    "i -> CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))"
)
_NORM_Q = "sqrt(list_sum(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
_NORM_C = "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


@query(
    "q33_cosine_topk",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5
        ),
        scored AS (
            SELECT q_id, vec_id,
                   {_DOT_DUCK} / ({_NORM_Q} * {_NORM_C}) AS cos
            FROM embeddings CROSS JOIN q
            WHERE vec_id <> q_id
        ),
        ranked AS (
            SELECT q_id, vec_id, cos,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY round(cos, 6) DESC, vec_id) AS rn
            FROM scored
        )
        SELECT q_id, vec_id, round(cos, 4) AS cos_sim, rn
        FROM ranked WHERE rn <= 10
        ORDER BY q_id, rn
    """,
    description="Brute-force exact top-10 cosine per query (broadcast "
    "query set, linear candidate scan) — the ANN correctness baseline",
    tags=("llm", "similarity"),
)
def q33_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = similarity.as_queries(emb.filter(F.col("vec_id") < 5))
    return similarity.brute_force_topk(emb, queries, k=10).orderBy("q_id", "rn")


@query(
    "q34_ivf_topk",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS q_id, embedding AS q_emb,
                   4*CAST(embedding[1] > 0 AS INT) + 2*CAST(embedding[2] > 0 AS INT)
                     + CAST(embedding[3] > 0 AS INT) AS bucket
            FROM embeddings WHERE vec_id < 5
        ),
        c AS (
            SELECT vec_id, embedding,
                   4*CAST(embedding[1] > 0 AS INT) + 2*CAST(embedding[2] > 0 AS INT)
                     + CAST(embedding[3] > 0 AS INT) AS bucket
            FROM embeddings
        ),
        scored AS (
            SELECT q_id, vec_id,
                   {_DOT_DUCK} / ({_NORM_Q} * {_NORM_C}) AS cos
            FROM c JOIN q USING (bucket)
            WHERE vec_id <> q_id
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
    description="IVF-style bucketed ANN: sign-pattern coarse quantizer "
    "turns the probe into a co-partitionable equi-join (the 100 TB path)",
    tags=("llm", "similarity"),
)
def q34_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = similarity.as_queries(emb.filter(F.col("vec_id") < 5))
    return similarity.ivf_topk(emb, queries).orderBy("q_id", "rn")


@query(
    "q70_ivf_multiprobe",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS q_id, embedding AS q_emb,
                   4*CAST(embedding[1] > 0 AS INT) + 2*CAST(embedding[2] > 0 AS INT)
                     + CAST(embedding[3] > 0 AS INT) AS bucket
            FROM embeddings WHERE vec_id < 5
        ),
        c AS (
            SELECT vec_id, embedding,
                   4*CAST(embedding[1] > 0 AS INT) + 2*CAST(embedding[2] > 0 AS INT)
                     + CAST(embedding[3] > 0 AS INT) AS bucket
            FROM embeddings
        ),
        scored AS (
            SELECT q_id, vec_id,
                   {_DOT_DUCK} / ({_NORM_Q} * {_NORM_C}) AS cos
            FROM c JOIN q
              ON c.bucket IN (q.bucket, xor(q.bucket, 4), xor(q.bucket, 2),
                              xor(q.bucket, 1))
            WHERE vec_id <> q_id
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
    description="Multi-probe IVF ANN: each query probes its sign bucket "
    "plus all Hamming-1 neighbors, recovering boundary-straddling "
    "vectors the single probe misses — the recall lever that keeps the "
    "2**n_bits candidate reduction",
    tags=("llm", "similarity"),
)
def q70_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = similarity.as_queries(emb.filter(F.col("vec_id") < 5))
    return similarity.ivf_topk(emb, queries, hamming_probes=1).orderBy(
        "q_id", "rn"
    )


@query(
    "q35_embedding_stats",
    oracle="""
        SELECT label,
               count(*) AS n,
               round(avg(sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 3) AS avg_norm,
               CAST(min(len(embedding)) AS BIGINT) AS dim
        FROM embeddings
        GROUP BY label
        ORDER BY label
    """,
    description="Embedding hygiene stats per label: L2 norms and "
    "dimensionality, computed with array folds (no UDF)",
    tags=("llm", "similarity"),
)
def q35_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(norm2("embedding")), 3).alias("avg_norm"),
            F.min(F.size("embedding")).cast("long").alias("dim"),
        )
        .orderBy("label")
    )


@query(
    "q36_embedding_dedup",
    oracle=f"""
        WITH b AS (
            SELECT vec_id, embedding,
                   4*CAST(embedding[1] > 0 AS INT) + 2*CAST(embedding[2] > 0 AS INT)
                     + CAST(embedding[3] > 0 AS INT) AS bucket
            FROM embeddings
        )
        SELECT vec_a, vec_b, cos_sim FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_sum(list_transform(generate_series(1, len(a.embedding)),
                         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
                   AS cos_sim
            FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        WHERE cos_sim >= 0.45
        ORDER BY vec_a, vec_b
    """,
    description="Embedding-cosine near-dup pairs (>= 0.45) via the sign-"
    "bucket equi-join — no quadratic cross join in the plan",
    tags=("llm", "dedup", "similarity"),
)
def q36_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published threshold is 0.45, NOT the production near-dup 0.95:
    the synthetic embeddings tables (500 random vectors at every SF)
    top out at within-bucket cosine ~0.51, so any >=0.85 gate returns
    the empty set at every tier and the driver's hash row verifies
    nothing. 0.45 yields 3/5/39 pairs at sf0.001/0.01/0.1 — a
    non-vacuous answer set through the same plan; the operator's
    pre-filter gate sits just below it (similarity._NEAR_DUP_COS)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_duplicates(emb)
    return (
        pairs.select("vec_a", "vec_b", F.round("cos_sim", 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.45)
        .orderBy("vec_a", "vec_b")
    )


def jaccard_clusters_cte(rel: str = "documents") -> str:
    """Connected components of the exact-Jaccard(>=0.4) 5-gram pair
    graph as a recursive-CTE fragment over relation ``rel`` — the
    oracle counterpart of `shingle_jaccard_pairs` +
    `duplicate_clusters`, shared by q49 (cluster resolution), q94
    (quality-aware survivor selection), and q95 (the curation
    pipeline, which clusters the exact-dedup survivors rather than raw
    documents). Yields cte `j_clusters` = (doc, cluster_id = min doc
    id reachable)."""
    return _JACCARD_CLUSTERS_CTE_TEMPLATE.replace("{rel}", rel)


_JACCARD_CLUSTERS_CTE_TEMPLATE = """
        toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM {rel}
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(array_slice(tk, i, i + 4), ' ') AS shingle
            FROM toks, UNNEST(generate_series(1, greatest(len(tk) - 4, 0))) AS t(i)
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        pairs AS (
            SELECT doc_a, doc_b FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ) i
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.4
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        j_clusters AS (
            SELECT doc, CAST(least(doc, min(dst)) AS BIGINT) AS cluster_id
            FROM (SELECT src AS doc, dst FROM reach)
            GROUP BY doc
        )"""

_JACCARD_CLUSTERS_CTE = jaccard_clusters_cte()


@query(
    "q49_dedup_clusters",
    oracle=f"""
        WITH RECURSIVE {_JACCARD_CLUSTERS_CTE}
        SELECT doc, cluster_id FROM j_clusters
        ORDER BY doc
    """,
    description="Near-dup cluster resolution: connected components of the "
    "exact-Jaccard(>=0.4) pair graph via iterative min-label propagation "
    "(the distributed union-find substitute) vs a recursive-CTE oracle",
    tags=("llm", "dedup", "iterative"),
)
def q49_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.shingle_jaccard_pairs(docs, threshold=0.4)
    return (
        dedup.duplicate_clusters(pairs)
        .select("doc", F.col("cluster_id").cast("long").alias("cluster_id"))
        .orderBy("doc")
    )


def _q94_oracle() -> str:
    from .quality import QUALITY_SCORED_CTE

    return f"""
        WITH RECURSIVE {_JACCARD_CLUSTERS_CTE},
        {QUALITY_SCORED_CTE},
        members AS (
            SELECT c.cluster_id, c.doc, s.p_u, d.n_chars
            FROM j_clusters c
            JOIN q_scored s ON s.doc_id = c.doc
            JOIN documents d ON d.doc_id = c.doc
        ),
        surv AS (
            SELECT cluster_id, doc AS survivor_doc, p_u AS survivor_score,
                   n_chars AS survivor_chars
            FROM members
            QUALIFY row_number() OVER (PARTITION BY cluster_id
                                       ORDER BY p_u DESC, doc ASC) = 1
        ),
        agg AS (
            SELECT cluster_id,
                   CAST(count(*) AS BIGINT) AS n_members,
                   CAST(count(*) - 1 AS BIGINT) AS n_removed,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM members GROUP BY cluster_id
        )
        SELECT a.cluster_id, s.survivor_doc, s.survivor_score,
               a.n_members, a.n_removed,
               CAST(a.total_chars - s.survivor_chars AS BIGINT) AS removed_n_chars
        FROM agg a JOIN surv s USING (cluster_id)
        ORDER BY cluster_id
    """


@query(
    "q94_dedup_survivors",
    oracle=_q94_oracle(),
    description="Quality-aware dedup survivor selection: resolve near-"
    "dup clusters (exact-Jaccard>=0.4 components, the q49 graph), then "
    "keep each cluster's highest-quality member under the q85 logistic "
    "model (integer micro-unit score, ties -> min doc id) and account "
    "for removed docs/chars — keep-the-best-copy curation, chosen by "
    "one skew-immune max_by hash aggregation instead of a per-cluster "
    "window sort",
    tags=("llm", "dedup", "curation", "iterative"),
)
def q94_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .quality import quality_p_u

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.shingle_jaccard_pairs(docs, threshold=0.4)
    clusters = dedup.duplicate_clusters(pairs).select(
        "doc", F.col("cluster_id").cast("long").alias("cluster_id")
    )
    scored = docs.select(
        F.col("doc_id").alias("doc"),
        quality_p_u().alias("p_u"),
        F.col("n_chars"),
    )
    return dedup.cluster_survivors(clusters, scored).orderBy("cluster_id")


@query(
    "q45_rolling_fingerprint",
    oracle="""
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT), list_transform(
                       string_split(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g'), ''),
                       x -> CAST(unicode(x) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 2147483647) AS fingerprint,
               length(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')) AS ascii_len
        FROM documents
        ORDER BY doc_id
    """,
    description="Polynomial rolling-hash fingerprint over the ASCII "
    "projection of each document (acc*31+c mod 2^31-1) — the only "
    "engine-independent hash in the catalog, verified bit-for-bit",
    tags=("llm", "text", "fingerprint"),
)
def q45_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ascii_text = F.regexp_replace("text", r"[^\x20-\x7e]", "")
    chars = F.filter(F.split(ascii_text, ""), lambda x: x != "")
    fp = F.aggregate(
        F.transform(chars, lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % F.lit(2147483647),
    )
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.length(ascii_text).cast("long").alias("ascii_len"),
    ).orderBy("doc_id")


@query(
    "q37_doc_fingerprint",
    oracle="""
        SELECT doc_id,
               CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS content_hash,
               CAST('0x' || substring(
                   md5(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 15)
                   AS BIGINT) AS normalized_hash
        FROM documents
        ORDER BY doc_id
    """,
    description="Document fingerprinting: engine-portable 60-bit md5 "
    "fingerprints of the raw and whitespace-normalized content (fast "
    "exact-dup key; md5 is bit-identical across engines, so the "
    "fingerprints — unlike xxhash64's seed-dependent output — are "
    "fully hash-oracle-checkable)",
    tags=("llm", "text"),
)
def q37_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit keys: 15 hex chars parse into int64 exactly in BOTH
    engines (16 would overflow the signed cast); collision odds at
    2^60 remain ~1e-5 for a billion docs — the exact-dup-key use.

    NON-ADVERSARIAL-INPUT ASSUMPTION: md5 collisions are trivially
    constructible, so an adversarial corpus can forge two distinct
    documents with equal fingerprints and have one silently deduped.
    The collision math above is for RANDOM content only. This spec is
    the ORACLE-PORTABLE catalog variant (DuckDB computes bit-identical
    md5); a production dedup pipeline facing untrusted input should
    key on sha256 (q58 shows the pattern: `lower(sha256(text))`, also
    DuckDB-portable) or a keyed hash, at the cost of a wider join key."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.hash60(F.col("text")).alias("content_hash"),
        TX.hash60(F.regexp_replace(F.lower("text"), r"\s+", " ")).alias(
            "normalized_hash"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Multimodal plumbing (SURVEY.md §2.11 'Multimodal columns')
# ---------------------------------------------------------------------------

@query(
    "q58_multimodal_features",
    oracle="""
        SELECT doc_id AS media_id,
               'image' AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               lower(sha256(text)) AS content_sha256,
               0.0 AS decode_tag
        FROM documents
        ORDER BY media_id
    """,
    description="Multimodal featurize plumbing: synthesized media "
    "payloads through the Arrow-batched extract_features stage; byte "
    "counts + sha256 content addresses are oracle-checked, and the "
    "decode tag proves the non-media payloads took the digest path",
    tags=("llm", "multimodal"),
)
def q58_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    feats = multimodal.extract_features(multimodal.synthesize_media(docs))
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        "content_sha256",
        F.round(F.element_at("feature", 1), 1).cast("double").alias("decode_tag"),
    ).orderBy("media_id")


@query(
    "q59_frame_sampling",
    oracle="""
        SELECT doc_id AS media_id,
               CAST(n_chars * 10 AS BIGINT) // 1000 + 1 AS n_frames,
               CAST(n_chars * 10 AS BIGINT) - (CAST(n_chars * 10 AS BIGINT) % 1000)
                   AS last_frame_ms
        FROM documents
        ORDER BY media_id
    """,
    description="Video frame-sampling plumbing: sequence+explode frame "
    "expansion (one row per sampled frame timestamp), aggregated back "
    "to per-media frame counts — pure built-ins, no Python",
    tags=("llm", "multimodal", "streaming-adjacent"),
)
def q59_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_media(docs, media_type="video")
    frames = multimodal.sample_frames(media)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("frame_ms").cast("long").alias("last_frame_ms"),
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# Corpus-curation operators (SURVEY.md §2.11 extension: the remaining
# steps a training-data pipeline runs after dedup/quality — splitting,
# redaction, sampling, budget capping). All pure built-ins: whole-stage
# codegen, shuffle only on the final aggregation keys.
# ---------------------------------------------------------------------------

# Knuth multiplicative hash constant (2654435761 = floor(2^32/phi)):
# engine-independent integer arithmetic, reproducible in any SQL engine
# (unlike xxhash64/md5-hex-to-int conversions). ALWAYS reduce doc_id
# mod _SPLIT_MOD BEFORE multiplying (round-13 advisor): the raw
# product overflows int64 once doc_id exceeds ~3.47e9 — Spark
# (non-ANSI) would wrap silently while DuckDB raises, breaking the
# any-engine-reproducible claim exactly at the 100 TB id range. The
# reduced form ((doc_id % P) * M) % P is mathematically identical and
# peaks at (P-1)*M ~ 5.7e18, inside int64 for all non-negative ids.
_SPLIT_MULT = 2654435761
_SPLIT_MOD = 2147483647


@query(
    "q60_hash_split",
    oracle=f"""
        WITH b AS (
            SELECT doc_id,
                   (doc_id % {_SPLIT_MOD}) * {_SPLIT_MULT} % {_SPLIT_MOD} % 100 AS bucket,
                   len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_tok
            FROM documents
        )
        SELECT CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens
        FROM b GROUP BY split ORDER BY split
    """,
    description="Deterministic train/val/test split by multiplicative "
    "hash of doc_id (80/10/10): reproducible across engines and runs, "
    "no shuffle beyond the 3-row aggregate",
    tags=("llm", "curation"),
)
def q60_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") % _SPLIT_MOD) * _SPLIT_MULT % _SPLIT_MOD % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), TX.bpe_token_count("text").alias("n_tok"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("total_tokens"))
        .orderBy("split")
    )


@query(
    "q61_pii_redaction",
    oracle="""
        WITH r AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '[0-9][0-9]+')) AS n_num,
                   regexp_replace(text, '[0-9][0-9]+', '<NUM>', 'g') AS red
            FROM documents
        )
        SELECT doc_id,
               CAST(n_num AS BIGINT) AS n_redactions,
               CAST(length(red) AS BIGINT) AS redacted_len
        FROM r
        WHERE n_num > 0
        ORDER BY doc_id
    """,
    description="PII-style redaction pass: multi-digit runs replaced by "
    "a <NUM> sentinel (the id/phone/account scrub shape); per-doc "
    "redaction counts + redacted lengths are the audit trail",
    tags=("llm", "curation"),
)
def q61_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pat = "[0-9][0-9]+"
    red = F.regexp_replace("text", pat, "<NUM>")
    n = F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0)).cast("long")
    return (
        docs.select(
            "doc_id", n.alias("n_redactions"), F.length(red).cast("long").alias("redacted_len")
        )
        .filter(F.col("n_redactions") > 0)
        .orderBy("doc_id")
    )


@query(
    "q62_stratified_sample",
    oracle=f"""
        SELECT lang,
               count(*) AS n_total,
               CAST(sum(CASE WHEN (doc_id % {_SPLIT_MOD}) * {_SPLIT_MULT} % {_SPLIT_MOD} % 1000 < 100
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        FROM documents
        GROUP BY lang ORDER BY lang
    """,
    description="Deterministic ~10% stratified sample per language "
    "(multiplicative-hash gate, no RNG): reproducible corpus subsets "
    "with per-stratum accounting",
    tags=("llm", "curation"),
)
def q62_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sampled = ((F.col("doc_id") % _SPLIT_MOD) * _SPLIT_MULT % _SPLIT_MOD % 1000 < 100).cast(
        "long"
    )
    return (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_total"), F.sum(sampled).alias("n_sampled"))
        .orderBy("lang")
    )


@query(
    "q63_token_budget",
    oracle="""
        WITH t AS (
            SELECT source, doc_id,
                   len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_tok
            FROM documents
        ),
        c AS (
            SELECT source, doc_id, n_tok,
                   sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM t
        )
        SELECT source,
               count(*) AS n_docs_kept,
               CAST(sum(n_tok) AS BIGINT) AS tokens_kept
        FROM c WHERE cum <= 20000
        GROUP BY source ORDER BY source
    """,
    description="Per-source token budget cap: running-sum window in "
    "doc_id order, keep documents while the cumulative token count "
    "stays within budget — the sampling-to-a-token-target primitive",
    tags=("llm", "curation", "window"),
)
def q63_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("source", "doc_id", TX.bpe_token_count("text").alias("n_tok"))
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        t.withColumn("cum", F.sum("n_tok").over(w))
        .filter(F.col("cum") <= 20000)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs_kept"), F.sum("n_tok").alias("tokens_kept"))
        .orderBy("source")
    )
