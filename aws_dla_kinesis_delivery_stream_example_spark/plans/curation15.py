"""Round-14 third batch: tokenizer-budget and mixture-planning audits
(q147 vocabulary coverage curve, q148 temperature mixture allocator).

Both are |vocab|- / |sources|-sized REPORTS a 100 TB pretraining run
reads before it commits compute: q147 answers "how large a vocabulary
covers X% of token occurrences in each language" (the tokenizer-size
contract — BPE papers quote exactly this curve), q148 answers "how
many epochs of each source does a temperature-remixed budget imply"
(the Gopher / Llama data-mixing table: weight sources by n_tok^alpha,
alpha < 1 upweights small sources, then cap epochs so no source
over-repeats).

Integer-lattice portability notes:

- q147 is pure counting: cumulative token mass and per-mille
  thresholds compare as ``1000 * cum >= thr * total`` in int64 —
  exact while total tokens < ~9.2e15 per language (the established
  milli-lattice bound, ~30 PB of text).
- q148's ONLY non-integer step is alpha = 1/2 via sqrt, chosen
  deliberately: IEEE-754 sqrt is CORRECTLY ROUNDED, so
  floor(1000 * sqrt(n_tok)) is bit-identical in every conforming
  engine (Spark, DuckDB, numpy) for n_tok < 2^53 — a fractional
  alpha like 0.7 would need pow(), which carries no such guarantee
  and WOULD drift across engines (documented deviation: other
  temperatures need a fixed-point pow table). Everything downstream
  is exact int64 via the micro-share split-multiply
  ``(n div 1e6) * share + (n mod 1e6) * share div 1e6`` — the
  round-13 advisor's reduce-before-multiplying rule — which cannot
  overflow for ANY int64 budget because share <= 1e6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..sources.tables import load_table
from .catalog import query

# Coverage thresholds (per-mille of token occurrences) the curve is
# sampled at — the three points tokenizer papers quote.
_COV_THRESHOLDS = (500, 900, 990)

# q148 geometry: one temperature-remixed epoch over the corpus
# (budget = n_all), epochs capped at 4 per source (the Gopher-style
# repetition ceiling).
_Q148_CAP_EPOCHS = 4


@query(
    "q147_vocab_coverage",
    oracle=f"""
        WITH tf AS (
            SELECT lang, t.tok, CAST(count(*) AS BIGINT) AS n
            FROM (
                SELECT lang,
                       regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
                FROM documents
            ), UNNEST(tk) AS t(tok)
            GROUP BY lang, t.tok
        ),
        ranked AS (
            SELECT lang, n,
                   row_number() OVER w AS rank,
                   sum(n) OVER (PARTITION BY lang ORDER BY n DESC, tok
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(n) OVER (PARTITION BY lang) AS total
            FROM tf
            WINDOW w AS (PARTITION BY lang ORDER BY n DESC, tok)
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(max(total) AS BIGINT) AS n_tokens,
               {", ".join(
                   f"CAST(min(CASE WHEN 1000 * cum >= {t} * total THEN rank END) "
                   f"AS BIGINT) AS cov{t}_types"
                   for t in _COV_THRESHOLDS
               )}
        FROM ranked
        GROUP BY lang
        ORDER BY lang
    """,
    description="Vocabulary coverage curve per language: the minimum "
    "number of token types (frequency-ranked, ties by token) covering "
    "500 / 900 / 990 per-mille of token occurrences — the "
    "tokenizer-size contract a BPE training run is sized against "
    "(q77 is the top-k face; this is the cumulative-mass face); pure "
    "integer counting, thresholds compared as 1000*cum >= thr*total",
    tags=("llm", "text", "audit"),
)
def q147_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the explode's count groupBy map-side combines per
    (lang, token) BEFORE its shuffle (Zipf bounds the distinct-vocab
    rows at ~1e5-1e6 per language however big the corpus); the rank +
    cumulative windows and the final agg then run on the |vocab|-sized
    frame, partitioned by lang — the corpus itself crosses exactly one
    exchange. A per-lang vocabulary big enough to break a single
    partition's window would break the tokenizer trainer first."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("lang", F.explode(TX.words("text")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "tok")
    ranked = tf.select(
        "lang",
        "n",
        F.row_number().over(w).alias("rank"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("n").over(Window.partitionBy("lang")).alias("total"),
    )
    return (
        ranked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.max("total").cast("long").alias("n_tokens"),
            *[
                F.min(
                    F.when(
                        F.col("cum") * 1000 >= F.col("total") * t, F.col("rank")
                    )
                )
                .cast("long")
                .alias(f"cov{t}_types")
                for t in _COV_THRESHOLDS
            ],
        )
        .orderBy("lang")
    )


# Shared by q148 and its planted pure-python recompute: the
# split-multiply that keeps budget * share exact WITHOUT overflow for
# any int64 budget (share <= 1e6 by construction).
def _alloc_expr(budget: str, share_micro: str) -> str:
    return (
        f"({budget} div 1000000) * {share_micro}"
        f" + (({budget} % 1000000) * {share_micro}) div 1000000"
    )


@query(
    "q148_temperature_mixture",
    oracle=f"""
        WITH s AS (
            SELECT source,
                   CAST(sum(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')))
                        AS BIGINT) AS n_tok
            FROM documents GROUP BY source
        ),
        w AS (
            SELECT source, n_tok,
                   CAST(floor(1000 * sqrt(n_tok)) AS BIGINT) AS w_milli
            FROM s
        ),
        g AS (
            SELECT sum(w_milli) AS sumw, sum(n_tok) AS n_all FROM w
        ),
        sh AS (
            SELECT source, n_tok, w_milli,
                   CAST(CASE WHEN g.sumw > 0
                             THEN 1000000 * w_milli // g.sumw
                             ELSE 0 END AS BIGINT) AS share_micro,
                   g.n_all
            FROM w, g
        ),
        a AS (
            SELECT source, n_tok, w_milli, share_micro,
                   CAST((n_all // 1000000) * share_micro
                        + ((n_all % 1000000) * share_micro) // 1000000
                        AS BIGINT) AS alloc_tok
            FROM sh
        )
        SELECT source, n_tok, w_milli, share_micro, alloc_tok,
               CAST(CASE WHEN n_tok > 0
                         THEN (alloc_tok // n_tok) * 1000
                              + ((alloc_tok % n_tok) * 1000) // n_tok
                         ELSE 0 END AS BIGINT) AS epochs_milli,
               CAST(CASE WHEN alloc_tok > {_Q148_CAP_EPOCHS} * n_tok
                         THEN 1 ELSE 0 END AS BIGINT) AS capped,
               CAST(least(alloc_tok, {_Q148_CAP_EPOCHS} * n_tok)
                    AS BIGINT) AS realized_tok,
               CAST(alloc_tok - least(alloc_tok, {_Q148_CAP_EPOCHS} * n_tok)
                    AS BIGINT) AS deficit_tok
        FROM a
        ORDER BY source
    """,
    description="Temperature-based mixture allocator (alpha = 1/2): "
    "per-source weights floor(1000*sqrt(n_tok)) — IEEE sqrt is "
    "correctly rounded, so the lattice is engine-portable, which a "
    "pow()-based alpha would not be — micro-lattice shares, a "
    "one-epoch token budget allocated by overflow-free "
    "split-multiply, implied epochs per source, and the 4-epoch "
    "repetition cap with the per-source deficit it leaves unallocated "
    "(the Gopher/Llama data-mixing table; q67 is the "
    "fixed-target-weights face)",
    tags=("llm", "curation", "audit"),
)
def q148_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one token-count agg (map-side combined, corpus
    crosses one exchange), then every derivation runs on the
    |sources|-row frame against a broadcast 1-row totals frame —
    identical to q67's geometry. Integer safety: share_micro <= 1e6
    makes the split-multiply allocation exact and overflow-free for
    ANY int64 budget; epochs_milli's split-multiply holds while
    n_tok < ~9.2e15 per source (~30 PB of text — the documented
    milli-lattice bound); sqrt is exact-by-IEEE below 2^53. A source
    with zero tokens allocates zero and reports zero epochs, and a
    corpus where EVERY source is empty (sumw = 0) degenerates to
    all-zero shares instead of dividing by zero — both conventions
    mirrored in the oracle's CASE (the q140 empty-stratum lesson,
    round-14 review)."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(TX.bpe_token_count("text")).cast("long").alias("n_tok")
    )
    w = s.withColumn(
        "w_milli",
        F.expr("CAST(floor(1000 * sqrt(CAST(n_tok AS DOUBLE))) AS LONG)"),
    )
    g = w.agg(
        F.sum("w_milli").cast("long").alias("sumw"),
        F.sum("n_tok").cast("long").alias("n_all"),
    )
    sh = w.crossJoin(F.broadcast(g)).select(
        "source",
        "n_tok",
        "w_milli",
        F.expr(
            "CASE WHEN sumw > 0 THEN 1000000 * w_milli div sumw ELSE 0 END"
        )
        .cast("long")
        .alias("share_micro"),
        "n_all",
    )
    a = sh.select(
        "source",
        "n_tok",
        "w_milli",
        "share_micro",
        F.expr(_alloc_expr("n_all", "share_micro")).cast("long").alias("alloc_tok"),
    )
    cap = _Q148_CAP_EPOCHS
    return a.select(
        "source",
        "n_tok",
        "w_milli",
        "share_micro",
        "alloc_tok",
        F.expr(
            "CASE WHEN n_tok > 0 THEN (alloc_tok div n_tok) * 1000"
            " + ((alloc_tok % n_tok) * 1000) div n_tok ELSE 0 END"
        )
        .cast("long")
        .alias("epochs_milli"),
        F.expr(f"CASE WHEN alloc_tok > {cap} * n_tok THEN 1 ELSE 0 END")
        .cast("long")
        .alias("capped"),
        F.expr(f"least(alloc_tok, {cap} * n_tok)")
        .cast("long")
        .alias("realized_tok"),
        F.expr(f"alloc_tok - least(alloc_tok, {cap} * n_tok)")
        .cast("long")
        .alias("deficit_tok"),
    ).orderBy("source")

