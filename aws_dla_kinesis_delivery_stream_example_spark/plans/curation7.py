"""Round-9c batch (q119-q120): fuzzy (edit-distance) decontamination
and the filter-threshold ablation grid — the two questions every
curation run answers right before training: "did a REFORMATTED copy of
the eval set slip past exact decontamination" and "how many tokens
does each candidate length threshold actually cost".

Conventions follow catalog.py: identical column aliases both sides,
total ORDER BY, BIGINT casts on integer aggregates, exact integer
milli-unit lattices (the levenshtein gate is integer-only — no IEEE
division anywhere near the decision boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import text as TX
from ..operators import curation
from ..sources.tables import load_table
from .catalog import query
from .curation import _BENCH_MOD

# q120 grid: candidate min-BPE-token thresholds, ascending — gate-tier
# calibrated to the fixture token distribution (p10/p25/p50/p75/p90 of
# doc BPE tokens ~ 21/32/56/76/88) so every grid row carries signal;
# a vacuous all-zero tail would test nothing (the q36 lesson). A real
# corpus re-pins the grid to its own distribution.
_Q120_THRESHOLDS = (0, 20, 35, 55, 75, 90)


@query(
    "q119_fuzzy_decontam",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, text,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        -- the operator blocks on 60-bit shingle hashes; the oracle on
        -- the shingle STRINGS — equivalent up to md5-prefix collisions
        -- (the q99 convention)
        sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(array_slice(tk, i, i + {curation.CONTAM_N - 1}), ' ') AS shingle
            FROM toks,
                 UNNEST(generate_series(1, greatest(len(tk) - {curation.CONTAM_N - 1}, 0))) AS t(i)
        ),
        pairs AS (
            SELECT DISTINCT c.doc_id AS cid, b.doc_id AS bid
            FROM sh c JOIN sh b ON c.shingle = b.shingle
            WHERE c.doc_id % {_BENCH_MOD} != 0 AND b.doc_id % {_BENCH_MOD} = 0
        ),
        scored AS (
            SELECT p.cid, p.bid,
                   levenshtein(cd.text, bd.text) AS lev,
                   greatest(length(cd.text), length(bd.text), 1) AS mlen
            FROM pairs p
            JOIN documents cd ON cd.doc_id = p.cid
            JOIN documents bd ON bd.doc_id = p.bid
        ),
        agg AS (
            SELECT cid,
                   CAST(count(*) AS BIGINT) AS n_blocked,
                   CAST(count(*) FILTER (WHERE 1000 * lev <= {curation.FUZZY_MAX_DIST_MILLI} * mlen)
                        AS BIGINT) AS n_fuzzy,
                   (min(struct_pack(l := 1000 * lev // mlen, b := bid))
                        FILTER (WHERE 1000 * lev <= {curation.FUZZY_MAX_DIST_MILLI} * mlen)) AS best
            FROM scored GROUP BY cid
        )
        SELECT cid AS doc_id, n_blocked, n_fuzzy,
               CAST(best.l AS BIGINT) AS best_lev_milli,
               CAST(best.b AS BIGINT) AS best_bench
        FROM agg WHERE n_fuzzy >= 1
        ORDER BY doc_id
    """,
    description="Fuzzy decontamination: candidate docs within 0.3 "
    "normalized edit distance of any benchmark doc (doc_id % 50 = 0) — "
    "word-4-gram broadcast blocking bounds the pair set, levenshtein "
    "verifies only blocked pairs, and the gate is exact integer "
    "arithmetic (1000*lev <= 300*maxlen). Catches eval items that "
    "re-entered the crawl with light reformatting, which exact n-gram "
    "decontamination (q64) structurally misses",
    tags=("llm", "curation", "decontam"),
)
def q119_fuzzy_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (operators/curation.py::fuzzy_contamination):
    blocking stage is a map-side broadcast join (bench shingle sets
    are KBs against TB corpora); the O(len^2)-per-pair levenshtein
    runs ONLY on blocked pairs. Levenshtein byte-vs-char parity is
    pinned by the ASCII fixture contract (operator docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    bench_pred = F.col("doc_id") % _BENCH_MOD == 0
    bench, cand = docs.filter(bench_pred), docs.filter(~bench_pred)
    return (
        curation.fuzzy_contamination(cand, bench)
        .withColumn("best_bench", F.col("best_bench").cast("long"))
        .orderBy("doc_id")
    )


@query(
    "q120_filter_ablation",
    oracle=f"""
        WITH per_doc AS (
            SELECT coalesce(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')), 0) AS tk
            FROM documents
        ),
        th(threshold) AS (
            VALUES {", ".join(f"({t})" for t in _Q120_THRESHOLDS)}
        )
        SELECT CAST(t.threshold AS BIGINT) AS threshold,
               CAST(count(p.tk) AS BIGINT) AS n_docs,
               CAST(coalesce(sum(p.tk), 0) AS BIGINT) AS n_tokens,
               CAST(1000 * coalesce(sum(p.tk), 0)
                    // nullif((SELECT sum(tk) FROM per_doc), 0) AS BIGINT)
                   AS token_share_milli
        FROM th t LEFT JOIN per_doc p ON p.tk >= t.threshold
        GROUP BY t.threshold
        ORDER BY threshold
    """,
    description="Length-filter ablation grid: for each candidate "
    "min-token threshold (0/20/35/55/75/90 BPE-ish tokens, pinned to "
    "the fixture token distribution), the "
    "docs and tokens that would survive and the surviving share of the "
    "corpus in milli-units — the marginal-cost curve a curation run "
    "reads before committing to a cutoff, as one single-scan query "
    "instead of six",
    tags=("llm", "curation", "audit"),
)
def q120_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the oracle's theta-join (docs x thresholds) is the
    SPEC, not the plan — Spark buckets each doc to the LARGEST
    threshold it passes (one scan, one map-side-combinable hash agg to
    |grid| rows), then a descending running sum over the 6-row grid
    recovers every >=-threshold total. The only window sorts 6 rows;
    corpus size touches one agg. NULL-text docs count as 0 tokens on
    both engines (coalesce)."""
    docs = load_table(spark, sf_dir, "documents")
    tk = F.coalesce(TX.bpe_token_count(F.col("text")), F.lit(0))
    ts = sorted(_Q120_THRESHOLDS, reverse=True)
    bucket = F.when(tk >= ts[0], F.lit(ts[0]))
    for t in ts[1:-1]:
        bucket = bucket.when(tk >= t, F.lit(t))
    bucket = bucket.otherwise(F.lit(ts[-1]))
    per_bucket = (
        docs.select(bucket.cast("long").alias("bucket"), tk.alias("tk"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("b_docs"),
            F.sum("tk").alias("b_tokens"),
        )
    )
    grid = spark.createDataFrame(
        [(t,) for t in _Q120_THRESHOLDS], "threshold long"
    )
    j = grid.join(
        per_bucket, grid["threshold"] == per_bucket["bucket"], "left"
    ).select(
        "threshold",
        F.coalesce(F.col("b_docs"), F.lit(0)).alias("b_docs"),
        F.coalesce(F.col("b_tokens"), F.lit(0)).alias("b_tokens"),
    )
    w_cum = W.orderBy(F.desc("threshold")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_all = W.orderBy(F.desc("threshold")).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return (
        j.select(
            "threshold",
            F.sum("b_docs").over(w_cum).cast("long").alias("n_docs"),
            F.sum("b_tokens").over(w_cum).cast("long").alias("n_tokens"),
            F.sum("b_tokens").over(w_all).cast("long").alias("_total"),
        )
        .select(
            "threshold",
            "n_docs",
            "n_tokens",
            F.expr("1000 * n_tokens div nullif(_total, 0)")
            .cast("long")
            .alias("token_share_milli"),
        )
        .orderBy("threshold")
    )
