"""Round-10 batch (q127-q131): Gopher-style repetition filters, the
HyperLogLog distinct sketch (batch face; q129 in streaming_q.py is the
stream face), train/val/test split with a cross-split contamination
audit, and per-doc boilerplate-bigram coverage.

Conventions follow catalog.py: identical column aliases both sides,
total ORDER BY, BIGINT casts, exact integer milli lattices (ratios via
1000 * a div b, never IEEE division), the portable 60-bit md5-prefix
hash for every content key. The one floating-point step in the HLL
estimate is a single divide of two exactly-representable values + a
HALF_UP round — the int8_quantize precedent (FIXTURES.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import sketch as SK
from ..operators.dedup import _shingle_hash_rows
from ..operators.staging import stage
from ..sources.tables import load_table
from .catalog import query

# q127 gates: flag a doc when its top bigram claims >= 6% of bigram
# slots OR >= 1.5% of its trigram slots are repeats. Calibrated on the
# fixture token distribution (top-bigram p50 ~33 milli, p90 ~67; dup-
# trigram p99 ~20) so BOTH flag outcomes are populated at every SF —
# the q120 convention: thresholds are fixture-calibrated, do not "fix"
# them against intuition from natural text.
_Q127_TOP_BG_MILLI = 60
_Q127_DUP_TG_MILLI = 15

_Q130_N = 5  # leakage blocking shingle width (the q64/q119 convention)
_Q131_TOP = 64  # boilerplate set size: top-64 bigrams by document freq


@query(
    "q127_gopher_repetition",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        proj AS (
            SELECT doc_id,
                   CAST(len(tk) AS BIGINT) AS n_tokens,
                   list_transform(generate_series(1, len(tk) - 1),
                                  i -> tk[i] || ' ' || tk[i + 1]) AS bg,
                   list_transform(generate_series(1, len(tk) - 2),
                                  i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]) AS tg
            FROM toks WHERE len(tk) >= 2
        ),
        ex AS (
            SELECT doc_id, n_tokens,
                   CAST(len(bg) AS BIGINT) AS n_bigrams,
                   CAST(len(tg) AS BIGINT) AS n_trigrams,
                   CAST(len(list_distinct(tg)) AS BIGINT) AS n_distinct_trigrams,
                   unnest(bg) AS bigram
            FROM proj
        ),
        cnt AS (
            SELECT doc_id, n_tokens, n_bigrams, n_trigrams,
                   n_distinct_trigrams, bigram, count(*) AS c
            FROM ex GROUP BY ALL
        ),
        per AS (
            SELECT doc_id,
                   max(n_tokens) AS n_tokens,
                   max(n_bigrams) AS n_bigrams,
                   CAST(max(c) AS BIGINT) AS top_bigram_n,
                   max(n_trigrams) AS n_trigrams,
                   max(n_distinct_trigrams) AS n_distinct_trigrams
            FROM cnt GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, n_bigrams, top_bigram_n,
               CAST(1000 * top_bigram_n // n_bigrams AS BIGINT) AS top_bigram_milli,
               CAST(1000 * (n_trigrams - n_distinct_trigrams)
                    // nullif(n_trigrams, 0) AS BIGINT) AS dup_trigram_milli,
               (1000 * top_bigram_n // n_bigrams >= {_Q127_TOP_BG_MILLI}
                OR coalesce(1000 * (n_trigrams - n_distinct_trigrams)
                            // nullif(n_trigrams, 0), 0) >= {_Q127_DUP_TG_MILLI})
                   AS flag_repetitive
        FROM per
        ORDER BY doc_id
    """,
    description="Gopher-style repetition filters per document: top-"
    "bigram occupancy and duplicated-trigram fraction (milli, exact "
    "integer lattices), with the repetition flag — the rule-based "
    "quality gate (Rae et al. 2021 C4/Gopher heuristics) every "
    "pretraining corpus passes before tokenization",
    tags=("llm", "quality", "text"),
)
def q127_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (round-11 rewrite, round-10 verdict Next #7): ALL
    per-document statistics — including ``top_bigram_n`` — are built
    SCAN-SIDE with zero corpus-sized exchanges.  Bigram/trigram arrays
    come from zip_with over slices; the top-bigram count is a
    run-length fold (``aggregate`` with struct(prev, run, best) state)
    over ``sort_array(bg)``, replacing the round-10 explode + (doc,
    bigram) count exchange + per-doc re-fold — that exchange carried
    every bigram occurrence corpus-wide just to find each doc's max
    run, and was the catalog's slowest step (9.3 s at sf0.1).  The
    only exchange left is the final ORDER BY range sort.  State per
    doc is O(doc tokens), never corpus-sized; sort_array is O(n log n)
    per document inside the scan."""
    docs = load_table(spark, sf_dir, "documents")
    tk = TX.words("text")
    n = F.size(F.col("tk"))
    bg = F.zip_with(
        F.slice(F.col("tk"), 1, n - 1),
        F.slice(F.col("tk"), 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    proj = (
        docs.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            n.cast("long").alias("n_tokens"),
            bg.alias("bg"),
        )
    )
    tg = F.zip_with(
        F.slice(F.col("bg"), 1, F.size("bg") - 1),
        F.slice(F.col("bg"), 2, F.size("bg") - 1),
        # trigram i = bigram i + ' ' + last token of bigram i+1
        lambda a, b: F.concat(a, F.lit(" "), F.substring_index(b, " ", -1)),
    )

    def _rl_step(st, x):
        # Run-length max over a sorted array: equal-adjacent extends
        # the run, otherwise the run resets to 1; best tracks the max.
        # Bigrams are "tok tok" (never empty), so the "" seed can
        # never extend a run.
        run = F.when(x == st["prev"], st["run"] + F.lit(1)).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(st["best"], run).alias("best")
        )

    top_bigram_n = F.aggregate(
        F.sort_array(F.col("bg")),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        _rl_step,
        lambda st: st["best"],
    )
    per = proj.select(
        "doc_id",
        "n_tokens",
        F.size("bg").cast("long").alias("n_bigrams"),
        top_bigram_n.cast("long").alias("top_bigram_n"),
        F.size(tg).cast("long").alias("n_trigrams"),
        F.size(F.array_distinct(tg)).cast("long").alias("n_distinct_trigrams"),
    )
    top_milli = F.expr("1000 * top_bigram_n div n_bigrams")
    dup_milli = F.expr(
        "1000 * (n_trigrams - n_distinct_trigrams) div nullif(n_trigrams, 0)"
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_bigrams",
        "top_bigram_n",
        top_milli.cast("long").alias("top_bigram_milli"),
        dup_milli.cast("long").alias("dup_trigram_milli"),
        (
            (top_milli >= _Q127_TOP_BG_MILLI)
            | (F.coalesce(dup_milli, F.lit(0)) >= _Q127_DUP_TG_MILLI)
        ).alias("flag_repetitive"),
    ).orderBy("doc_id")


_HLL_EST_SQL = (
    "CAST(round((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 * "
    "9007199254740992.0 / CAST(hll_sum_scaled AS DOUBLE)) AS BIGINT)"
)

# Shared by q128 (batch) and q129 (streaming): the stream's register
# file must equal the batch one bit-for-bit, so both faces fold to the
# SAME estimate — identical oracle, the q112/q113 convention.
HLL_ORACLE = f"""
    WITH toks AS (
        SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT source,
               CAST('0x' || substring(md5(
                   array_to_string(array_slice(tk, i, i + {_Q130_N - 1}), ' ')
               ), 1, 15) AS BIGINT) AS h
        FROM toks,
             UNNEST(generate_series(1, greatest(len(tk) - {_Q130_N - 1}, 0))) AS t(i)
    ),
    regs AS (
        SELECT source, h % 256 AS register,
               max(CASE WHEN (h >> 8) > 0 THEN 53 - length(bin(h >> 8))
                        ELSE 53 END) AS rho
        FROM sh GROUP BY source, h % 256
    ),
    per AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_registers_hit,
               CAST(sum(CAST(1 AS BIGINT) << (53 - rho))
                    + (256 - count(*)) * (CAST(1 AS BIGINT) << 53)
                    AS BIGINT) AS hll_sum_scaled
        FROM regs GROUP BY source
    ),
    ex AS (
        SELECT source, CAST(count(*) AS BIGINT) AS exact_shingles
        FROM sh GROUP BY source
    ),
    est AS (
        SELECT p.source, e.exact_shingles, p.n_registers_hit,
               p.hll_sum_scaled, {_HLL_EST_SQL} AS hll_est
        FROM per p JOIN ex e USING (source)
    )
    SELECT source, exact_shingles, n_registers_hit, hll_sum_scaled, hll_est,
           CAST(1000 * abs(hll_est - exact_shingles) // exact_shingles
                AS BIGINT) AS err_milli
    FROM est
    ORDER BY source
"""


def _source_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc=source, h) 5-shingle rows — the shared input of
    the register fold and the exact truth column."""
    docs = load_table(spark, sf_dir, "documents")
    return _shingle_hash_rows(
        docs.select("source", "text"), "source", _Q130_N, id_type="string"
    ).distinct()


def _hll_output(
    spark: SparkSession, sf_dir: str, registers: DataFrame, sh: DataFrame | None = None
) -> DataFrame:
    """Fold a (source, register, rho) file into the q128/q129 output:
    estimate columns from the registers, exact distinct-shingle counts
    from ``sh`` (the caller's staged frame, so the batch face costs
    ONE corpus pass) or a fresh batch pass (the streaming face's
    truth column)."""
    if sh is None:
        sh = _source_shingles(spark, sf_dir)
    exact = sh.groupBy(F.col("doc").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("exact_shingles")
    )
    est = SK.hll_estimate(registers, "source")
    return (
        est.join(F.broadcast(exact), "source")
        .select(
            "source",
            "exact_shingles",
            "n_registers_hit",
            "hll_sum_scaled",
            "hll_est",
            F.expr("1000 * abs(hll_est - exact_shingles) div exact_shingles")
            .cast("long")
            .alias("err_milli"),
        )
        .orderBy("source")
    )


@query(
    "q128_hll_distinct",
    oracle=HLL_ORACLE,
    description="HyperLogLog-256 distinct 5-shingle count per source "
    "vs the exact count, with the register file's integer fold "
    "(2^53-scaled sum, exact BIGINT) and the realized error (milli) — "
    "the constant-memory distinct counter (m=256 registers per group "
    "at ANY corpus size) whose deterministic md5 register/rank math "
    "makes the sketch itself hash-checkable cross-engine, not just "
    "'within epsilon'",
    tags=("llm", "sketch", "audit"),
)
def q128_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (operators/sketch.py::hll_registers): shingling is
    one codegen'd scan; the register fold is a max-agg whose
    partial aggregation collapses every task to <= 256 rows per source
    BEFORE the shuffle — the exchange carries registers, never
    shingles. The exact count (the audit's truth column) is the only
    |shingle|-sized agg, and it shares the staged distinct frame. At
    100 TB you run the registers alone (drop the exact join) and the
    plan's state is |sources| x 256 longs."""
    sh = stage(_source_shingles(spark, sf_dir))
    # staged: registers AND the exact count read it once each
    regs = SK.hll_registers(sh.withColumnRenamed("doc", "source"))
    return _hll_output(spark, sf_dir, regs, sh=sh)


@query(
    "q130_split_leakage",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, text, n_chars,
                   CASE WHEN CAST('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
                             AS BIGINT) % 10 < 8 THEN 'train'
                        WHEN CAST('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
                             AS BIGINT) % 10 = 8 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        ),
        sizes AS (
            SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM base GROUP BY split
        ),
        toks AS (
            SELECT doc_id, split, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM base
        ),
        sh AS (
            SELECT DISTINCT doc_id, split,
                   array_to_string(array_slice(tk, i, i + {_Q130_N - 1}), ' ') AS shingle
            FROM toks,
                 UNNEST(generate_series(1, greatest(len(tk) - {_Q130_N - 1}, 0))) AS t(i)
        ),
        train_sh AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train'),
        contaminated AS (
            SELECT s.split, CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_contaminated
            FROM sh s JOIN train_sh t USING (shingle)
            WHERE s.split != 'train'
            GROUP BY s.split
        )
        SELECT z.split, z.n_docs, z.total_chars,
               CASE WHEN z.split = 'train' THEN NULL
                    ELSE coalesce(c.n_contaminated, 0) END AS n_contaminated,
               CASE WHEN z.split = 'train' THEN NULL
                    ELSE CAST(1000 * coalesce(c.n_contaminated, 0) // z.n_docs AS BIGINT)
                    END AS contam_milli
        FROM sizes z LEFT JOIN contaminated c USING (split)
        ORDER BY split
    """,
    description="Deterministic doc-level train/val/test split (80/10/"
    "10 by content-independent id hash) with the leakage audit: how "
    "many val/test docs share a 5-shingle with ANY train doc — the "
    "benchmark-contamination failure mode of naive row-level splits, "
    "quantified before training rather than discovered in eval",
    tags=("llm", "curation", "audit"),
)
def q130_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: split assignment is a scan-time hash projection
    (zero data movement — the q115 discipline); split sizes are one
    hash agg to 3 rows. The leakage check is a LEFT-SEMI join of the
    small side (eval shingles, ~20% of the corpus) against the train
    shingle set, co-partitioned on the 60-bit shingle hash — output
    bounded by eval shingles, never |train| x |eval|. The split hash
    is domain-separated ('split:' tag) from every content hash, so
    assignment and dedup keys stay uncorrelated."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = TX.hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 10
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    base = docs.select("doc_id", "text", "n_chars", split.alias("split"))
    sizes = base.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    sh = stage(
        _shingle_hash_rows(base, "doc_id", _Q130_N)
        .withColumn(
            "split",
            F.when(
                TX.hash60(F.concat(F.lit("split:"), F.col("doc").cast("string"))) % 10
                < 8,
                "train",
            )
            .when(
                TX.hash60(F.concat(F.lit("split:"), F.col("doc").cast("string"))) % 10
                == 8,
                "val",
            )
            .otherwise("test"),
        )
    )  # staged: the train set and the eval probes read it once each
    train_sh = sh.filter(F.col("split") == "train").select("h").distinct()
    contaminated = (
        sh.filter(F.col("split") != "train")
        .join(train_sh, "h", "left_semi")
        .groupBy("split")
        .agg(F.count_distinct("doc").cast("long").alias("n_contaminated"))
    )
    return (
        sizes.join(F.broadcast(contaminated), "split", "left")
        .select(
            "split",
            "n_docs",
            "total_chars",
            F.when(
                F.col("split") == "train", F.lit(None).cast("long")
            )
            .otherwise(F.coalesce(F.col("n_contaminated"), F.lit(0)))
            .alias("n_contaminated"),
            F.when(F.col("split") == "train", F.lit(None).cast("long"))
            .otherwise(
                F.expr("1000 * coalesce(n_contaminated, 0) div n_docs").cast("long")
            )
            .alias("contam_milli"),
        )
        .orderBy("split")
    )


@query(
    "q131_boilerplate_coverage",
    oracle=f"""
        WITH db AS (
            SELECT DISTINCT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(tk) - 1),
                       i -> tk[i] || ' ' || tk[i + 1]))) AS bigram
            FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
                  FROM documents)
            WHERE len(tk) >= 2
        ),
        boiler AS (
            SELECT bigram FROM (
                SELECT bigram, count(*) AS d FROM db GROUP BY bigram
            ) ORDER BY d DESC, bigram LIMIT {_Q131_TOP}
        ),
        per AS (
            SELECT db.doc_id,
                   CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
                   CAST(count(b.bigram) AS BIGINT) AS n_boiler
            FROM db LEFT JOIN boiler b USING (bigram)
            GROUP BY db.doc_id
        )
        SELECT doc_id, n_distinct_bigrams, n_boiler,
               CAST(1000 * n_boiler // n_distinct_bigrams AS BIGINT) AS coverage_milli
        FROM per
        ORDER BY doc_id
    """,
    description="Per-document boilerplate coverage: the share of each "
    "doc's distinct bigrams that belong to the corpus-wide top-64 "
    "document-frequency bigram set (deterministic df-then-name order) "
    "— q66 finds the boilerplate n-grams, this scores every document "
    "against them, the removal-priority signal template farms light up",
    tags=("llm", "text", "curation"),
)
def q131_boilerplate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per-doc bigram DEDUP happens scan-side
    (array_distinct in codegen), so the (doc, bigram) exchange carries
    each doc's distinct bigrams exactly once; the df agg feeds a
    TakeOrdered(64) (never a full sort); the 64-row boilerplate set
    broadcasts back onto the SAME staged frame (one corpus pass
    total). Coverage divides two per-doc counts from one agg."""
    docs = load_table(spark, sf_dir, "documents")
    tk = TX.words("text")
    db = stage(
        docs.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.zip_with(
                        F.slice(F.col("tk"), 1, F.size("tk") - 1),
                        F.slice(F.col("tk"), 2, F.size("tk") - 1),
                        lambda a, b: F.concat(a, F.lit(" "), b),
                    )
                )
            ).alias("bigram"),
        )
    )  # staged: the df ranking and the coverage agg read it once each
    boiler = (
        db.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.desc("d"), F.asc("bigram"))
        .limit(_Q131_TOP)
        .select("bigram", F.lit(1).alias("_hit"))
    )
    per = (
        db.join(F.broadcast(boiler), "bigram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_bigrams"),
            F.count("_hit").cast("long").alias("n_boiler"),
        )
    )
    return per.select(
        "doc_id",
        "n_distinct_bigrams",
        "n_boiler",
        F.expr("1000 * n_boiler div n_distinct_bigrams").cast("long").alias("coverage_milli"),
    ).orderBy("doc_id")
