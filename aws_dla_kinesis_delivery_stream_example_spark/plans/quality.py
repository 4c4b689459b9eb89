"""Model-based quality scoring for corpus curation (SURVEY.md §2.11
'Text analysis' extended): the three scoring patterns a production
training-data pipeline runs after the rule-based gates —

- q85: a fixed-weight logistic quality classifier evaluated at scan
  speed (the FineWeb/DCLM-style learned filter, with the model as
  literal weights: inference is pure column arithmetic, no UDF),
- q86: corpus-self-trained bigram perplexity (the CCNet/RefinedWeb
  KenLM-filter pattern: rare word sequences => high perplexity =>
  suspect text),
- q87: per-source unigram KL divergence against the corpus
  distribution (mixture drift monitoring).

All three are pure DataFrame plans with DuckDB oracles; every ln()
result is rounded on a 6-dp grid before aggregation so cross-engine
ulp differences cannot move a hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..sources.tables import load_table
from .catalog import query

# The "model": fixed logistic-regression weights over 4 cheap text
# features. Literal constants so both engines evaluate identically.
_W_ALPHA, _W_STOP, _W_LEN, _W_PUNCT, _BIAS = 4.0, 2.0, 0.002, -3.0, -2.0

# Shared oracle fragment: CTEs producing (doc_id, source, p_u) with the
# identical rounding/micro-unit contract as ``quality_p_u`` below.
# Reused by q85 here and by the quality-aware dedup survivor query
# (q94) so both engines score documents with the same model.
QUALITY_SCORED_CTE = f"""
        q_feats AS (
            SELECT doc_id, source,
                   CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                       / nullif(length(text), 0) AS alpha,
                   CAST(len(regexp_extract_all(lower(text),
                        '\\b(the|a|an|of|and|to|is|in|that|it)\\b')) AS DOUBLE)
                       / greatest(len(regexp_extract_all(text, '\\S+')), 1) AS stop_ratio,
                   CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS n_tok,
                   CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                       / nullif(length(text), 0) AS punct_ratio
            FROM documents
        ),
        q_scored AS (
            SELECT doc_id, source,
                   CAST(round(1000000.0 / (1.0 + exp(-round(
                       {_W_ALPHA} * alpha + {_W_STOP} * stop_ratio
                       + {_W_LEN} * n_tok + {_W_PUNCT} * punct_ratio + {_BIAS},
                   6)))) AS BIGINT) AS p_u
            FROM q_feats
        )"""


def quality_p_u():
    """The q85 model score of the ``text`` column as a reusable
    Column: integer micro-unit logistic probability (round(1e6 *
    sigmoid(logit)) with the logit rounded on a 6-dp grid first). Pure codegen column arithmetic —
    the shared currency between the quality gate (q85) and quality-
    aware survivor selection (q94); exact-integer, so cross-engine
    comparisons and argmax ties behave identically."""
    alpha = TX.alpha_ratio("text")
    stop_ratio = TX.stopword_count("text").cast("double") / F.greatest(
        TX.token_count("text"), F.lit(1)
    ).cast("double")
    n_tok = TX.token_count("text").cast("double")
    # nullif guard: ANSI double/0 throws in Spark 4, DuckDB yields
    # NULL — see functions/text.py alpha_ratio (same convention)
    punct_ratio = (
        F.length("text") - F.length(F.regexp_replace("text", "[.,!?;:]", ""))
    ).cast("double") / F.nullif(F.length("text"), F.lit(0)).cast("double")
    logit = F.round(
        _W_ALPHA * alpha + _W_STOP * stop_ratio + _W_LEN * n_tok
        + _W_PUNCT * punct_ratio + F.lit(_BIAS),
        6,
    )
    return F.round(1_000_000.0 / (1.0 + F.exp(-logit)), 0).cast("long")


@query(
    "q85_quality_classifier",
    oracle=f"""
        WITH {QUALITY_SCORED_CTE}
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (p_u >= 500000) AS BIGINT) AS n_kept,
               round(sum(p_u) / (count(*) * 1000000.0), 4) AS avg_p
        FROM q_scored
        GROUP BY source
        ORDER BY source
    """,
    description="Learned quality filter evaluated at scan speed: a "
    "fixed-weight logistic model over 4 text features (alpha ratio, "
    "stopword ratio, token count, punctuation density) — inference is "
    "pure codegen'd column arithmetic, no UDF; per-source keep rates "
    "are the curation audit output",
    tags=("llm", "quality", "classifier"),
)
def q85_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the whole model is a scalar expression inside
    whole-stage codegen — zero shuffles before the tiny per-source
    agg. Swapping in real trained weights (or a quantized MLP as
    nested CASE/dot expressions) changes constants, not the plan."""
    docs = load_table(spark, sf_dir, "documents")
    # probability in integer micro-units: per-source averages then sum
    # EXACT integers, immune to float-sum associativity across engines
    return (
        docs.select("doc_id", "source", quality_p_u().alias("p_u"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("p_u") >= 500_000, 1)).alias("n_kept"),
            F.round(
                F.sum("p_u") / (F.count("*") * 1_000_000.0), 4
            ).alias("avg_p"),
        )
        .orderBy("source")
    )


@query(
    "q86_bigram_perplexity",
    oracle="""
        WITH base AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
            FROM documents
        ),
        bigrams AS (
            SELECT doc_id, w[i] AS w1, w[i+1] AS w2
            FROM base, UNNEST(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)
        ),
        big_counts AS (
            SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12
            FROM bigrams GROUP BY w1, w2
        ),
        uni_counts AS (
            SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM bigrams GROUP BY w1
        ),
        v AS (
            SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vocab
            FROM (SELECT unnest(w) AS tok FROM base)
        ),
        doc_lp AS (
            SELECT b.doc_id,
                   CAST(sum(CAST(round(-ln((bc.c12 + 1) / (uc.c1 + v.vocab))
                                       * 1000000) AS BIGINT)) AS BIGINT) AS nll_u,
                   CAST(count(*) AS BIGINT) AS n_bg
            FROM bigrams b
            JOIN big_counts bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
            JOIN uni_counts uc ON uc.w1 = b.w1, v
            GROUP BY b.doc_id
        )
        SELECT doc_id, round(nll_u / (n_bg * 1000000.0), 4) AS nll
        FROM doc_lp
        ORDER BY nll_u * 1.0 / n_bg DESC, doc_id
        LIMIT 50
    """,
    description="Corpus-self-trained bigram language model perplexity "
    "(add-one smoothing): the CCNet/KenLM-filter pattern — docs whose "
    "word sequences are rare under the corpus LM score high "
    "negative-log-likelihood; top-50 most-perplexing docs surfaced",
    tags=("llm", "quality", "lm"),
)
def q86_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: bigram/unigram count tables are Zipf-bounded
    aggregates (map-side combined); scoring joins stream the bigram
    postings against them on their keys; the per-doc NLL is one more
    keyed agg and the cut is TakeOrdered. The LM 'training' and
    'inference' are the same two scans — no model artifact needed."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", TX.words("text").alias("w"))
    bigrams = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("w") > 1,
                F.zip_with(
                    F.slice("w", 1, F.size("w") - 1),
                    F.slice("w", 2, F.size("w") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array())
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    big_counts = bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("double").alias("c12")
    )
    uni_counts = bigrams.groupBy("w1").agg(F.count("*").cast("double").alias("c1"))
    vocab = base.select(F.explode("w").alias("tok")).agg(
        F.countDistinct("tok").cast("double").alias("vocab")
    )
    # per-bigram NLL in integer micro-units: per-doc sums are exact
    # integers, so ordering and the 4-dp output are engine-identical
    lp_u = F.round(
        -F.log((F.col("c12") + 1) / (F.col("c1") + F.col("vocab"))) * 1_000_000, 0
    ).cast("long")
    return (
        bigrams.join(big_counts, ["w1", "w2"])
        .join(uni_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(F.sum(lp_u).alias("nll_u"), F.count("*").alias("n_bg"))
        .orderBy(F.desc(F.col("nll_u") * 1.0 / F.col("n_bg")), "doc_id")
        .limit(50)
        .select(
            "doc_id",
            F.round(F.col("nll_u") / (F.col("n_bg") * 1_000_000.0), 4).alias("nll"),
        )
    )


@query(
    "q87_source_kl_drift",
    oracle="""
        WITH toks AS (
            SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
            FROM documents
        ),
        src AS (
            SELECT source, tok, CAST(count(*) AS DOUBLE) AS c_s
            FROM toks GROUP BY source, tok
        ),
        src_tot AS (
            SELECT source, sum(c_s) AS t_s FROM src GROUP BY source
        ),
        corpus AS (
            SELECT tok, CAST(count(*) AS DOUBLE) AS c FROM toks GROUP BY tok
        ),
        corpus_tot AS (SELECT sum(c) AS t FROM corpus),
        terms AS (
            SELECT s.source,
                   CAST(round((s.c_s / st.t_s)
                        * ln((s.c_s / st.t_s) / (c.c / ct.t)) * 1000000) AS BIGINT) AS term_u
            FROM src s
            JOIN src_tot st ON st.source = s.source
            JOIN corpus c ON c.tok = s.tok, corpus_tot ct
        )
        SELECT source, round(sum(term_u) / 1000000.0, 4) AS kl
        FROM terms
        GROUP BY source
        ORDER BY source
    """,
    description="Per-source unigram KL divergence vs the corpus "
    "distribution — the mixture-drift monitor a curation pipeline "
    "alarms on when one source's vocabulary shifts",
    tags=("llm", "quality", "mixture"),
)
def q87_source_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: two Zipf-bounded count aggregates (per-source and
    corpus-wide) joined on token; per-source totals broadcast. Every
    KL term is snapped to INTEGER micro-units before the per-source
    sum — integer addition is exact and order-independent, so the
    cross-engine hash cannot drift on float-sum associativity (a
    6-dp-rounded DOUBLE sum was observed landing one 4-dp ulp apart
    between Spark and DuckDB)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(TX.words("text")).alias("tok"))
    src = toks.groupBy("source", "tok").agg(F.count("*").cast("double").alias("c_s"))
    src_tot = src.groupBy("source").agg(F.sum("c_s").alias("t_s"))
    corpus = toks.groupBy("tok").agg(F.count("*").cast("double").alias("c"))
    corpus_tot = corpus.agg(F.sum("c").alias("t"))
    p_s = F.col("c_s") / F.col("t_s")
    p = F.col("c") / F.col("t")
    term_u = F.round(p_s * F.log(p_s / p) * 1_000_000, 0).cast("long")
    return (
        src.join(F.broadcast(src_tot), "source")
        .join(corpus, "tok")
        .crossJoin(F.broadcast(corpus_tot))
        .groupBy("source")
        .agg(F.round(F.sum(term_u) / 1_000_000.0, 4).alias("kl"))
        .orderBy("source")
    )
