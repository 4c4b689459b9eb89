"""Round-9d batch (q123-q125): embedding-space audit, language-ID
confusion matrix, and the shard mixture audit — the evaluation layer:
"is the embedding space healthy enough for IVF/SemDeDup", "where does
the language classifier actually fail", and "is every training shard
an unbiased sample of the source mixture".

Conventions follow catalog.py: identical column aliases both sides,
total ORDER BY, BIGINT casts, exact integer micro/milli lattices so no
IEEE summation order can split the engines (per-dim variance uses the
n*Q - S^2 BIGINT form over micro-unit values, the q105 discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import sharding
from ..operators.staging import stage
from ..sources.tables import load_table
from .catalog import query


@query(
    "q123_embedding_space_audit",
    oracle="""
        WITH v AS (
            SELECT label, i AS pos,
                   CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
            FROM embeddings,
                 UNNEST(generate_series(1, len(embedding))) AS t(i)
        ),
        per_dim AS (
            SELECT label, pos,
                   count(*) AS n,
                   sum(v) AS s,
                   sum(v * v) AS q
            FROM v GROUP BY label, pos
        ),
        per_label AS (
            SELECT label,
                   CAST(max(n) AS BIGINT) AS n_vecs,
                   CAST(count(*) AS BIGINT) AS dims,
                   CAST(sum(n * q - s * s) AS BIGINT) AS trace_var_num,
                   CAST(max(n * q - s * s) AS BIGINT) AS max_var_num,
                   CAST(sum(s * s) AS BIGINT) AS sumvec_sq_norm
            FROM per_dim GROUP BY label
        )
        SELECT label, n_vecs, trace_var_num, max_var_num,
               CAST(1000 * max_var_num // nullif(trace_var_num // dims, 0)
                    AS BIGINT) AS anisotropy_milli,
               sumvec_sq_norm
        FROM per_label
        ORDER BY label
    """,
    description="Embedding-space health audit per label: per-dimension "
    "exact integer variance (micro-unit lattice, n*Q - S^2 BIGINT form), "
    "total variance (trace), hottest dimension, and the anisotropy ratio "
    "(hottest dim vs mean dim variance, milli) — a collapsed/anisotropic "
    "space breaks IVF cell balance and SemDeDup thresholds, so this runs "
    "BEFORE committing to centroid geometry",
    tags=("llm", "similarity", "audit"),
)
def q123_embedding_space_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: posexplode is narrow (|vecs| x 64 rows, no
    shuffle); stats shuffle on (label, pos) — at most |labels| x dims
    groups with map-side combine, so 100 TB of vectors reduces to a
    KB-sized frame in one pass. All variance arithmetic is exact
    BIGINT (micro-unit values: |v| <= 1e6, v^2 <= 1e12, n*Q <= ~1e16
    at fixture scale — far inside int64), so summation order / AQE /
    engine cannot move a bit. Oracle pos is 1-based, Spark 0-based —
    irrelevant to the aggregates, which re-fold over pos."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000000.0, 0).cast("long"),
            )
        ).alias("pos", "v"),
    )
    per_dim = v.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("q"),
    )
    var_num = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    per_label = per_dim.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.count(F.lit(1)).cast("long").alias("dims"),
        F.sum(var_num).cast("long").alias("trace_var_num"),
        F.max(var_num).cast("long").alias("max_var_num"),
        F.sum(F.col("s") * F.col("s")).cast("long").alias("sumvec_sq_norm"),
    )
    return per_label.select(
        "label",
        "n_vecs",
        "trace_var_num",
        "max_var_num",
        F.expr("1000 * max_var_num div nullif(trace_var_num div dims, 0)")
        .cast("long")
        .alias("anisotropy_milli"),
        "sumvec_sq_norm",
    ).orderBy("label")


@query(
    "q124_lang_confusion",
    oracle="""
        WITH guessed AS (
            SELECT lang,
                   CASE
                     WHEN len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) >= 2 THEN 'en'
                     WHEN len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b')) >= 2 THEN 'de'
                     WHEN len(regexp_extract_all(lower(text), '\\b(el|la|los|es|de)\\b')) >= 2 THEN 'es'
                     WHEN len(regexp_extract_all(lower(text), '\\b(le|les|est|et|une)\\b')) >= 2 THEN 'fr'
                     ELSE 'other'
                   END AS lang_guess
            FROM documents
        ),
        cells AS (
            SELECT lang, lang_guess, count(*) AS n
            FROM guessed GROUP BY lang, lang_guess
        ),
        totals AS (SELECT lang, sum(n) AS lang_total FROM cells GROUP BY lang)
        SELECT c.lang, c.lang_guess,
               CAST(c.n AS BIGINT) AS n_docs,
               CAST(1000 * c.n // t.lang_total AS BIGINT) AS row_share_milli
        FROM cells c JOIN totals t USING (lang)
        ORDER BY lang, lang_guess
    """,
    description="Language-ID confusion matrix: the q32 stopword-voting "
    "classifier's guesses cross-tabulated against the labeled lang "
    "column with per-true-language recall shares (milli) — the "
    "evaluation primitive that turns a per-doc classifier (q32) into "
    "an actionable error profile (which languages leak into 'other', "
    "which pairs confuse)",
    tags=("llm", "text", "audit"),
)
def q124_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: classifier is scan-side codegen (q32's
    functions.text.stopword_lang); one (lang, guess) hash agg to at
    most |langs|^2 cells, row totals regrouped from the cell frame
    (never a second corpus pass), broadcast join of two tiny frames."""
    docs = load_table(spark, sf_dir, "documents")
    cells = stage(
        docs.select("lang", TX.stopword_lang("text").alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )  # staged: totals regroup this tiny frame, not the corpus scan
    totals = cells.groupBy("lang").agg(F.sum("n").alias("lang_total"))
    return (
        cells.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "lang_guess",
            F.col("n").cast("long").alias("n_docs"),
            F.expr("1000 * n div lang_total").cast("long").alias("row_share_milli"),
        )
        .orderBy("lang", "lang_guess")
    )


@query(
    "q125_shard_mixture_audit",
    oracle=f"""
        WITH assigned AS (
            SELECT CAST('0x' || substring(md5('shard:{sharding.SHARD_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % {sharding.N_SHARDS} AS shard,
                   source
            FROM documents
        ),
        cells AS (
            SELECT shard, source, count(*) AS n
            FROM assigned GROUP BY shard, source
        ),
        shard_totals AS (SELECT shard, sum(n) AS shard_total FROM cells GROUP BY shard),
        source_totals AS (SELECT source, sum(n) AS source_total FROM cells GROUP BY source),
        grand AS (SELECT sum(n) AS grand_total FROM cells)
        SELECT c.shard, c.source,
               CAST(c.n AS BIGINT) AS n_docs,
               CAST(1000 * c.n // st.shard_total AS BIGINT) AS share_milli,
               CAST(1000 * so.source_total // g.grand_total AS BIGINT) AS expected_milli,
               CAST(abs(1000 * c.n // st.shard_total
                        - 1000 * so.source_total // g.grand_total) AS BIGINT) AS dev_milli
        FROM cells c
        JOIN shard_totals st USING (shard)
        JOIN source_totals so USING (source)
        CROSS JOIN grand g
        ORDER BY shard, source
    """,
    description="Shard mixture audit: per (shard, source) doc share vs "
    "the corpus-wide source share (milli-units, exact floor lattice) — "
    "proves the q115 hash sharding preserved the source mixture in "
    "every shard, i.e. each shard is an unbiased training sample and "
    "no shard over-trains one source (curriculum skew)",
    tags=("llm", "curation", "sharding", "audit"),
)
def q125_shard_mixture_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: shard assignment is scan-time (operators/
    sharding.py); ONE corpus-sized hash agg to |shards| x |sources|
    cells; shard/source/grand totals all REGROUP the tiny cell frame
    (never a second corpus pass) and broadcast back. dev_milli
    subtracts two already-floored shares, so both engines stay on one
    lattice."""
    docs = load_table(spark, sf_dir, "documents")
    assigned = sharding.assign_shards(docs)
    cells = stage(
        assigned.groupBy("shard", "source").agg(F.count(F.lit(1)).alias("n"))
    )  # staged: three totals regroup this |shards| x |sources| frame
    shard_totals = cells.groupBy("shard").agg(F.sum("n").alias("shard_total"))
    source_totals = cells.groupBy("source").agg(F.sum("n").alias("source_total"))
    grand = cells.agg(F.sum("n").alias("grand_total"))
    share = F.expr("1000 * n div shard_total")
    expected = F.expr("1000 * source_total div grand_total")
    return (
        cells.join(F.broadcast(shard_totals), "shard")
        .join(F.broadcast(source_totals), "source")
        .crossJoin(F.broadcast(grand))
        .select(
            "shard",
            "source",
            F.col("n").cast("long").alias("n_docs"),
            share.cast("long").alias("share_milli"),
            expected.cast("long").alias("expected_milli"),
            F.abs(share - expected).cast("long").alias("dev_milli"),
        )
        .orderBy("shard", "source")
    )


@query(
    "q126_winsorized_stats",
    oracle="""
        WITH m AS (
            SELECT event_type,
                   CAST(round(value * 1000) AS BIGINT) AS v_milli
            FROM events
        ),
        bounds AS (
            SELECT event_type,
                   CAST(round(quantile_cont(v_milli, 0.01)) AS BIGINT) AS lo_milli,
                   CAST(round(quantile_cont(v_milli, 0.99)) AS BIGINT) AS hi_milli
            FROM m GROUP BY event_type
        )
        SELECT m.event_type,
               CAST(count(*) AS BIGINT) AS n,
               b.lo_milli, b.hi_milli,
               CAST(count(*) FILTER (WHERE v_milli < lo_milli) AS BIGINT) AS n_clipped_lo,
               CAST(count(*) FILTER (WHERE v_milli > hi_milli) AS BIGINT) AS n_clipped_hi,
               CAST(sum(least(greatest(v_milli, lo_milli), hi_milli)) // count(*)
                    AS BIGINT) AS win_mean_milli
        FROM m JOIN bounds b USING (event_type)
        GROUP BY m.event_type, b.lo_milli, b.hi_milli
        ORDER BY event_type
    """,
    description="Winsorized robust statistics per event type: p01/p99 "
    "bounds (interpolated percentiles ROUNDED to the integer milli "
    "lattice — so the clip, the clipped sum, and the winsorized mean "
    "are all exact BIGINT arithmetic), clip counts both sides — the "
    "outlier-robust aggregation a feature pipeline runs instead of a "
    "raw mean that one fat-finger event can drag",
    tags=("relational", "aggregate", "percentile", "audit"),
)
def q126_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE percentile agg per event_type (Spark
    `percentile` == DuckDB `quantile_cont`, the q40 parity) broadcast
    back to the corpus — no per-group sort window touches the raw
    events. Milli-unit BIGINT inputs keep the interpolation inputs
    identical; rounding the two bounds to the lattice makes every
    downstream op (clip/sum/floor-div mean) exact integer arithmetic,
    so no engine can drift a clipped sum by summation order."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 1000, 0).cast("long").alias("v_milli"),
    )
    bounds = ev.groupBy("event_type").agg(
        F.round(F.percentile("v_milli", F.lit(0.01)), 0)
        .cast("long")
        .alias("lo_milli"),
        F.round(F.percentile("v_milli", F.lit(0.99)), 0)
        .cast("long")
        .alias("hi_milli"),
    )
    clipped = F.least(F.greatest(F.col("v_milli"), F.col("lo_milli")), F.col("hi_milli"))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "lo_milli", "hi_milli")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("v_milli") < F.col("lo_milli")).cast("long"))
            .cast("long")
            .alias("n_clipped_lo"),
            F.sum((F.col("v_milli") > F.col("hi_milli")).cast("long"))
            .cast("long")
            .alias("n_clipped_hi"),
            F.sum(clipped).alias("_cs"),
        )
        .select(
            "event_type",
            "n",
            "lo_milli",
            "hi_milli",
            "n_clipped_lo",
            "n_clipped_hi",
            F.expr("_cs div n").cast("long").alias("win_mean_milli"),
        )
        .orderBy("event_type")
    )
