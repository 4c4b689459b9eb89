"""Skew-mitigation operators (SURVEY.md §4.2 / project brief: 'skewed
keys -> salting or AQE skew-join').

AQE's skew-join splitting handles join skew automatically; aggregation
skew on a hot key still concentrates one reducer. ``salted_agg``
implements the classic two-phase fix: shard each key into
``_N_SALTS`` sub-keys (phase 1 partial agg over (key, salt)), then
combine partials per key (phase 2). Both phases are hash aggregates
with map-side combine; the hot key's work spreads over _N_SALTS tasks.

The operators read their input's schema by name: ``salted_agg`` the
orders frame's ``o_orderstatus``, ``o_orderkey`` and ``o_totalprice``,
and the skew audit the events frame's ``user_id``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_N_SALTS = 16  # salted_agg's sub-keys per key
SKEW_BUCKETS = 32  # key_skew_audit's simulated reducers

def salted_agg(orders: DataFrame) -> DataFrame:
    """Two-phase salted aggregation of the orders frame per
    ``o_orderstatus``: (o_orderstatus, n, total_raw, min_raw, max_raw)
    = the count of ``o_orderkey`` and the sum, min and max of
    ``o_totalprice``. Result == the plain ``groupBy`` but immune to
    hot-key reducer skew: phase 1 aggregates per (key, salt), phase 2
    merges the partials (counts and sums add, min and max fold).
    """
    salt = (F.rand(seed=42) * _N_SALTS).cast("int").alias("_salt")
    phase1 = (
        orders.withColumn("_salt", salt)
        .groupBy("o_orderstatus", "_salt")
        .agg(
            F.count("o_orderkey").alias("_p_n"),
            F.sum("o_totalprice").alias("_p_total_raw"),
            F.min("o_totalprice").alias("_p_min_raw"),
            F.max("o_totalprice").alias("_p_max_raw"),
        )
    )
    return phase1.groupBy("o_orderstatus").agg(
        F.sum("_p_n").alias("n"),
        F.sum("_p_total_raw").alias("total_raw"),
        F.min("_p_min_raw").alias("min_raw"),
        F.max("_p_max_raw").alias("max_raw"),
    )


def key_skew_audit(df: DataFrame) -> DataFrame:
    """Pre-flight shuffle-skew audit for the ``user_id`` key: simulate
    the ``SKEW_BUCKETS``-way hash partitioning a shuffle on the key
    would produce and report, per bucket, the row volume, key
    cardinality, and hottest key. Run this BEFORE committing a 100 TB job to a shuffle on the
    key — a bucket holding 30% of the rows means that exchange stalls
    one reducer for hours; the report's max_key_rows tells you whether
    the fix is salting (one giant key) or more partitions (many keys
    that merely hash together).

    Buckets use the engine-portable 60-bit hash (functions.text.hash60)
    rather than Spark's Murmur3 so the ORACLE sees identical bucket
    membership; the skew *pattern* is what's audited, and any uniform
    hash exposes the same per-key concentration.

    Columns: bucket, n_rows, n_keys, max_key_rows, hot_key,
    hot_key_rows — hot key ties broken by the larger key value via a
    lexicographic struct max (skew-immune house shape, no window).

    Scale shape: two hash aggregates. Phase 1 groups by the key itself
    (map-side combine collapses hot keys to one partial per task —
    the audit is immune to the very skew it measures); phase 2 groups
    the |keys|-sized count frame by bucket. No join, no window, no
    collect.
    """
    return skew_rollup(key_counts(df))


def key_counts(df: DataFrame) -> DataFrame:
    """Phase 1 of the skew audit: the per-``user_id`` row-count table
    ``(_key, _cnt)``. A phase of its own because this IS the streaming
    twin's state: ``_cnt`` is a linear counter, so the same
    groupBy serves the batch face and a complete-mode streaming
    aggregation whose state merges across shards/micro-batches — the
    q91 per-key state family (state grows with KEY CARDINALITY, never
    with ingest volume). Map-side combine collapses hot keys to one
    partial per task, so the audit is immune to the skew it measures."""
    return df.groupBy(F.col("user_id").alias("_key")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )


def skew_rollup(per_key: DataFrame) -> DataFrame:
    """Phase 2 of the skew audit: roll the |keys|-sized count table up
    to per-bucket (``SKEW_BUCKETS`` of them) volume / cardinality /
    hottest-key rows (lexicographic struct-max tie break — skew-immune,
    no window). Runs identically on a batch-built count table and on
    streaming state drained from ``key_counts`` (q145), so the report
    is fully determined by that state."""
    from ..functions import text as TX

    bucketed = per_key.select(
        (TX.hash60(F.col("_key").cast("string")) % SKEW_BUCKETS).alias("bucket"),
        "_key",
        "_cnt",
    )
    hot = F.max(F.struct(F.col("_cnt"), F.col("_key"))).alias("_hot")
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.sum("_cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("_cnt").cast("long").alias("max_key_rows"),
            hot,
        )
        .select(
            "bucket",
            "n_rows",
            "n_keys",
            "max_key_rows",
            F.col("_hot._key").alias("hot_key"),
            F.col("_hot._cnt").cast("long").alias("hot_key_rows"),
        )
    )
