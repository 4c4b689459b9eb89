"""Round-13 batch additions (q140 + the q141 streaming twin's batch
pieces): DSIR-style importance reweighting.

Data Selection with Importance Resampling (Xie et al., 2023) selects
pretraining documents that RESEMBLE a target domain by estimating,
for hashed n-gram features, the ratio between the target's feature
distribution and the raw corpus's, then scoring each document by its
features' ratios. This is the mixture-shaping complement to the
filters already in the catalog: q67 reweights by GIVEN per-source
targets, q102 audits composition, q36/q97 gate on intrinsic quality —
q140 derives the weights FROM the data, pointing the corpus at a
target domain (here: the English stratum) without hand-set knobs.

Lattice deviation from the paper (documented): DSIR scores with
log-probability sums; cross-engine log on floats is not
hash-checkable. The score here is the per-bucket probability RATIO on
the integer milli floor lattice — score(b) = 1000 * c_tgt[b] * n_all
// (c_all[b] * n_tgt) — and a doc's importance is the floor-mean of
its token occurrences' scores. Monotone in the same direction as the
paper's per-token likelihood ratio, exactly reproducible in any
engine with 64-bit integers. The raw triple product crosses int64
once ``c_tgt * n_all`` passes ~9.2e15, far above bench counts; the
catalog faces keep the exact-count form and hash-check it.

Conventions: the house md5-60-bit token hash folded mod 256 (the
q128 register fold geometry) computed JVM-side via conv() — the
bucket table is CORPUS-INDEPENDENT state (256 rows), which is the
entire scale story. The distribution is factored so q141 can
maintain the IDENTICAL (bkt, c_all, c_tgt) rows as streaming
aggregation state (the q128->q129 / q133->q134 twin discipline),
and the totals are derived FROM the distribution (sums of bucket
counts), so the 256-row state alone finalizes the whole report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators.dedup import (
    CAL_STRATUM_BUCKET,
    CAL_STRATUM_MOD,
    minhash_calibration_sampled,
)
from ..operators.staging import stage
from ..sources.tables import load_table
from .catalog import query
from .curation5 import calibration_oracle

_DSIR_BUCKETS = 256
_DSIR_TARGET_LANG = "en"
_DSIR_SELECT_MILLI = 1000  # selected = at-or-above corpus-average affinity

# Shared verbatim by q140 and its streaming twin q141 (the
# HIST_ORACLE / BLOOM_ORACLE convention): the stream's distribution
# state must finalize to the identical report row-for-row.
DSIR_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, source, lang,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
        FROM documents
    ),
    b AS (
        SELECT doc_id, source, lang,
               CAST('0x' || substring(md5(t), 1, 15) AS BIGINT)
                   % {_DSIR_BUCKETS} AS bkt
        FROM tok
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_all,
               CAST(count(*) FILTER (WHERE lang = '{_DSIR_TARGET_LANG}')
                    AS BIGINT) AS n_tgt
        FROM b
    ),
    dist AS (
        SELECT bkt,
               CAST(count(*) AS BIGINT) AS c_all,
               CAST(count(*) FILTER (WHERE lang = '{_DSIR_TARGET_LANG}')
                    AS BIGINT) AS c_tgt
        FROM b GROUP BY bkt
    ),
    score AS (
        SELECT d.bkt,
               CAST(CASE WHEN t.n_tgt > 0
                         THEN 1000 * d.c_tgt * t.n_all
                              // (d.c_all * t.n_tgt)
                         ELSE 0 END AS BIGINT) AS s
        FROM dist d, tot t
    ),
    doc AS (
        SELECT b.doc_id, max(b.source) AS source,
               CAST(count(*) AS BIGINT) AS n_tok,
               CAST(sum(s.s) AS BIGINT) AS imp_sum
        FROM b JOIN score s USING (bkt)
        GROUP BY b.doc_id
    ),
    pd AS (
        SELECT doc_id, source,
               CAST(imp_sum // n_tok AS BIGINT) AS imp_milli
        FROM doc
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(imp_milli) // count(*) AS BIGINT) AS mean_imp_milli,
           CAST(count(*) FILTER (WHERE imp_milli >= {_DSIR_SELECT_MILLI})
                AS BIGINT) AS n_selected
    FROM pd GROUP BY source ORDER BY source
"""


def _dsir_bucket_rows(df: DataFrame) -> DataFrame:
    """(doc_id, source, lang, bkt): one row per token OCCURRENCE (DSIR
    uses counts, not presence), bkt = the house md5-60-bit hash folded
    mod 256, computed JVM-side (conv stays inside whole-stage codegen;
    no Python crossing). Works identically on a batch frame and on the
    unbounded streaming frame (q141)."""
    toks = TX.words("text")
    return df.select(
        "doc_id", "source", "lang", F.explode(toks).alias("t")
    ).select(
        "doc_id",
        "source",
        "lang",
        (TX.hash60("t") % _DSIR_BUCKETS).alias("bkt"),
    )


def dsir_distribution(rows: DataFrame) -> DataFrame:
    """(bkt, c_all, c_tgt): the <= 256-row feature distribution. Counts
    are linear (commutative + associative), so the same agg serves the
    batch face and complete-mode streaming state (q141) — any
    micro-batch split or partial-agg merge order lands on identical
    rows, the q133/q134 argument."""
    is_tgt = F.col("lang") == _DSIR_TARGET_LANG
    return rows.groupBy("bkt").agg(
        F.count(F.lit(1)).cast("long").alias("c_all"),
        F.count(F.when(is_tgt, 1)).cast("long").alias("c_tgt"),
    )


def dsir_score_table(dist: DataFrame) -> DataFrame:
    """(bkt, s): the per-bucket milli ratio scores from a (bkt, c_all,
    c_tgt) distribution (q140/q141). The TOTALS are derived from the
    distribution itself (sums of bucket counts), so the 256-row frame
    alone determines the score table.

    Empty convention (round-13 advisor): a corpus with ZERO
    target-language tokens has no measurable affinity — every score
    is 0 (so imp_milli = 0 < the 1000 selection bar: nothing
    selected) instead of Spark NULL-vs-DuckDB-error divergence on the
    0/0 ratio. Every groupBy bucket has c_all >= 1, so n_tgt is the
    only zero divisor. Mirrored verbatim in DSIR_ORACLE's CASE."""
    dist = stage(dist)
    # staged: the totals agg and the score projection read it; for the
    # streaming twin this also freezes the drained state
    tot = dist.agg(
        F.sum("c_all").cast("long").alias("n_all"),
        F.sum("c_tgt").cast("long").alias("n_tgt"),
    )
    return dist.crossJoin(F.broadcast(tot)).select(
        "bkt",
        F.when(
            F.col("n_tgt") > 0,
            F.expr("1000 * c_tgt * n_all div (c_all * n_tgt)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("s"),
    )


def _dsir_output(
    spark: SparkSession,
    sf_dir: str,
    dist: DataFrame,
    rows: DataFrame | None = None,
) -> DataFrame:
    """Finalize the report from a (bkt, c_all, c_tgt) distribution —
    batch-built (q140) or drained from streaming state (q141):
    per-doc scoring joins the broadcast ``dsir_score_table`` onto one
    token pass (``rows``, rebuilt from the batch table when the
    caller — the streaming twin — doesn't already hold a staged
    one)."""
    if rows is None:
        rows = _dsir_bucket_rows(load_table(spark, sf_dir, "documents"))
    score = dsir_score_table(dist)
    doc = (
        rows.join(F.broadcast(score), "bkt")
        .groupBy("doc_id")
        .agg(
            F.max("source").alias("source"),
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum("s").cast("long").alias("imp_sum"),
        )
    )
    pd = doc.select(
        "doc_id",
        "source",
        F.expr("imp_sum div n_tok").cast("long").alias("imp_milli"),
    )
    return (
        pd.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("sum(imp_milli) div count(*)")
            .cast("long")
            .alias("mean_imp_milli"),
            F.count(F.when(F.col("imp_milli") >= _DSIR_SELECT_MILLI, 1))
            .cast("long")
            .alias("n_selected"),
        )
        .orderBy("source")
    )


@query(
    "q140_dsir_reweight",
    oracle=DSIR_ORACLE,
    description="DSIR-style importance reweighting toward the English "
    "target stratum: hashed-unigram bucket distributions (md5-60-bit "
    "mod 256) for target and corpus, per-bucket probability ratio on "
    "the integer milli floor lattice, per-doc importance = floor-mean "
    "of its token occurrences' bucket scores, rolled up per source "
    "with the count selected at >= corpus-average affinity (1000 "
    "milli) — derives mixture weights FROM the data (vs q67's given "
    "targets), the Xie et al. 2023 data-selection shape",
    tags=("llm", "curation"),
)
def q140_dsir_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE corpus-sized token explode (staged — the
    distribution agg and the scoring join read it; the same cost
    class as every shingle pass in the dedup family). Everything
    derived is corpus-INDEPENDENT state: the bucket distribution
    collapses map-side to <= 256 rows before its exchange (staged —
    the totals and score projections read it), the totals are a 1-row
    broadcast derived FROM it (crossJoin of a scalar frame, the house
    exception), and the score table broadcast onto the token frame is
    256 rows at ANY corpus size — so the per-doc scoring pass never
    shuffles the corpus (join side is broadcast), and the per-doc agg
    collapses map-side per doc_id. At 100 TB the bucket table is the
    piece you persist and re-use across selection runs (it is
    mergeable: counts add across shards, measured saturating at
    exactly 256 rows over 500,000 documents, SCALE_REHEARSAL_r17.json),
    exactly like the q128 registers — and q141 maintains the SAME rows
    as streaming aggregation state while the crawl lands. This batch
    face is replay-safe (deterministic re-aggregation over a static
    snapshot); the at-least-once linear-count caveat documented on
    q141 (cf. q51/q83) applies only to the streaming twin."""
    rows = stage(_dsir_bucket_rows(load_table(spark, sf_dir, "documents")))
    # staged: the distribution agg and the per-doc scoring join each
    # read the exploded token frame once
    return _dsir_output(spark, sf_dir, dsir_distribution(rows), rows=rows)


# --------------------------------------------------------------- q142


@query(
    "q142_sampled_calibration",
    # q114's oracle verbatim, restricted to the stratum in the ONE
    # place the corpus enters (the template's first CTE) — the audited
    # face and the sampled mode cannot drift apart. doc_id reduced mod
    # P BEFORE the multiply (the raw product overflows int64 past id
    # ~3.47e9; the reduced form is identical).
    oracle=calibration_oracle(
        "WHERE (doc_id % 2147483647) * 2654435761 % 2147483647 % "
        f"{CAL_STRATUM_MOD} = {CAL_STRATUM_BUCKET}"
    ),
    description="q114's MinHash estimator calibration run the way a "
    "100 TB deployment actually runs it — on a deterministic "
    "multiplicative-hash document stratum (q60 split convention, mod "
    "2 bucket 0): the cap-free exact-Jaccard truth side is the one "
    "corpus-quadratic piece, so at scale you sample documents (not "
    "pairs, keeping both generators' semantics intact within the "
    "stratum) and size bands/hashes from the sampled recall/"
    "precision; identical SQL template as q114 with the stratum "
    "predicate injected at the corpus scan",
    tags=("llm", "dedup", "audit"),
)
def q142_sampled_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the stratum predicate is integer arithmetic on
    doc_id applied AT THE SCAN, before shingling, signatures, or any
    exchange — everything downstream (the two candidate generators
    and their pair-set-sized audit join, q114's plan) runs on
    |corpus| / CAL_STRATUM_MOD rows. Sampling documents keeps the audit
    unbiased under hash-random strata (within-stratum pairs only —
    the standard LSH calibration protocol, the tradeoff
    minhash_calibration_sampled documents)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_calibration_sampled(docs)
