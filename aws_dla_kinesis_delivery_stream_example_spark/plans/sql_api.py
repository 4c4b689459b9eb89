"""SQL-API queries: subquery forms (correlated scalar, IN, EXISTS-with-
aggregate) that exercise Spark's SQL parser + subquery decorrelation —
the rest of the catalog is DataFrame-API; Catalyst produces the same
plans either way, and these prove the SQL entry point end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table
from .catalog import query


def _sql(spark: SparkSession, sf_dir: str, stmt: str, tables: tuple[str, ...]) -> DataFrame:
    """``stmt`` over the catalog ``tables``, each referenced as ``{name}``.
    Spark registers each frame as a view for the call only, so nothing
    outlives the query or shadows a caller's table of the same name."""
    return spark.sql(stmt, **{t: load_table(spark, sf_dir, t) for t in tables})


@query(
    "q52_correlated_scalar_subquery",
    oracle="""
        SELECT p_brand, p_partkey, round(p_retailprice, 2) AS price
        FROM part
        WHERE p_retailprice = (SELECT min(p2.p_retailprice)
                               FROM part p2
                               WHERE p2.p_brand = part.p_brand)
        ORDER BY p_brand, p_partkey
    """,
    description="Correlated scalar subquery (cheapest part per brand, "
    "TPC-H Q2 pattern) — decorrelated by Catalyst into a join on the "
    "per-brand aggregate",
    tags=("sql", "subquery"),
)
def q52_correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(
        spark,
        sf_dir,
        """
        SELECT p_brand, p_partkey, round(p_retailprice, 2) AS price
        FROM {part} AS part
        WHERE p_retailprice = (SELECT min(p2.p_retailprice)
                               FROM {part} p2
                               WHERE p2.p_brand = part.p_brand)
        ORDER BY p_brand, p_partkey
        """,
        ("part",),
    )


@query(
    "q53_in_subquery",
    oracle="""
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
          AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)
        ORDER BY o_orderkey
    """,
    description="IN / NOT IN subqueries (semi + null-aware anti join "
    "after decorrelation)",
    tags=("sql", "subquery"),
)
def q53_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(
        spark,
        sf_dir,
        """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
        FROM {orders}
        WHERE o_custkey IN (SELECT c_custkey FROM {customer} WHERE c_mktsegment = 'MACHINERY')
          AND o_orderkey NOT IN (SELECT l_orderkey FROM {lineitem} WHERE l_quantity > 49)
        ORDER BY o_orderkey
        """,
        ("orders", "customer", "lineitem"),
    )


@query(
    "q54_exists_aggregate_subquery",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                      GROUP BY o_custkey
                      HAVING count(*) >= 20)
        ORDER BY c_custkey
    """,
    description="EXISTS over a grouped/HAVING subquery (aggregate "
    "decorrelation)",
    tags=("sql", "subquery"),
)
def q54_exists_aggregate_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(
        spark,
        sf_dir,
        """
        SELECT c_custkey, c_name
        FROM {customer}
        WHERE EXISTS (SELECT 1 FROM {orders}
                      WHERE o_custkey = c_custkey
                      GROUP BY o_custkey
                      HAVING count(*) >= 20)
        ORDER BY c_custkey
        """,
        ("customer", "orders"),
    )


@query(
    "q89_grouping_sets",
    oracle="""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
        ORDER BY status, priority
    """,
    description="Explicit GROUPING SETS (the (2.12 'ROLLUP/CUBE/"
    "GROUPING SETS' row's third form): four aggregation granularities "
    "in ONE pass via Spark's Expand operator — at scale, 4x cheaper "
    "than four separate scans unioned",
    tags=("sql", "aggregate", "grouping"),
)
def q89_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: GROUPING SETS compiles to Expand (each input row
    emitted once per grouping set) + ONE partial-agg shuffle — the
    corpus is scanned once no matter how many granularities."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
        ORDER BY status, priority
        """,
        ("orders",),
    )


@query(
    "q90_cdc_merge",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(round(o_totalprice * 1000) AS BIGINT) AS price_m,
                   1 AS version
            FROM orders
        ),
        updates AS (
            SELECT o_orderkey, 'U' AS o_orderstatus,
                   (CAST(round(o_totalprice * 1000) AS BIGINT) // 10) * 11 AS price_m,
                   2 AS version
            FROM orders WHERE o_orderkey % 5 = 0
        ),
        unioned AS (
            SELECT * FROM base UNION ALL SELECT * FROM updates
        ),
        latest AS (
            SELECT o_orderkey, o_orderstatus, price_m
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY o_orderkey ORDER BY version DESC
                ) AS rn
                FROM unioned
            ) WHERE rn = 1
        )
        SELECT o_orderstatus AS status,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(price_m) / 1000.0, 2) AS total
        FROM latest
        GROUP BY o_orderstatus
        ORDER BY status
    """,
    description="CDC latest-wins merge (the lakehouse MERGE INTO / "
    "upsert-compaction shape): base snapshot unioned with an updates "
    "batch, one row_number pass keeps the highest version per key, "
    "audited per final status",
    tags=("sql", "cdc", "window"),
)
def q90_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: union is free (no shuffle); the latest-wins window
    shuffles once on the merge key — exactly what a partitioned
    compaction job does per partition, so the same plan IS the 100 TB
    incremental-merge job. Updates here are synthesized from the base
    table (keys %5==0) so the query is self-contained and
    deterministic. Prices travel as INTEGER milli-dollars (the 2-dp
    source values scale exactly, and the +10%% update is (m DIV 10)*11
    — exact integer arithmetic), because per-row round(x*1.1, 2)
    proved engine-divergent at half boundaries."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from ..sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    price_m = F.round(F.col("o_totalprice") * 1000, 0).cast("long")
    base = orders.select(
        "o_orderkey", "o_orderstatus", price_m.alias("price_m"), F.lit(1).alias("version")
    )
    updates = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.expr("CAST(round(o_totalprice * 1000) AS BIGINT) DIV 10") * 11).alias("price_m"),
        F.lit(2).alias("version"),
    )
    unioned = base.unionByName(updates)
    w = W.partitionBy("o_orderkey").orderBy(F.desc("version"))
    latest = (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "version")
    )
    return (
        latest.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("price_m") / 1000.0, 2).alias("total"),
        )
        .orderBy("status")
    )


@query(
    "q122_scd2_history",
    oracle="""
        WITH obs AS (
            SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
            FROM events
        ),
        flagged AS (
            SELECT *,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                   ) AS prev_type
            FROM obs
        ),
        changes AS (
            SELECT user_id, event_type, ts_us, event_id
            FROM flagged
            WHERE prev_type IS NULL OR event_type != prev_type
        )
        SELECT user_id,
               CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
               ) AS BIGINT) AS version,
               event_type,
               CAST(ts_us AS BIGINT) AS valid_from_us,
               CAST(lead(ts_us) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
               ) AS BIGINT) AS valid_to_us,
               lead(ts_us) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
               ) IS NULL AS is_current
        FROM changes
        ORDER BY user_id, version
    """,
    description="SCD type-2 history build: per-user event_type "
    "observations collapse into validity intervals — consecutive "
    "duplicates suppressed by a lag pass, [valid_from, valid_to) from "
    "lead, open interval = current row. The warehouse history-table "
    "shape (the reference's upsert DDL kept only latest state; this "
    "keeps the full audit trail). Interval bounds as epoch "
    "microseconds (BIGINT), tie-broken by event_id",
    tags=("sql", "cdc", "window", "scd2"),
)
def q122_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: all three window passes (change-detect lag,
    version row_number, interval lead) share ONE user_id partitioning
    — the change filter between them preserves it, so Catalyst plans a
    single exchange and per-key sorts (budget pinned). Per-user
    partitions are bounded by per-entity activity, never the corpus.
    At 100 TB this is the incremental dimension-history compaction
    job; timestamps travel as exact BIGINT micros (DuckDB epoch_us ==
    Spark unix_micros after the nanos->micros truncation both engines
    apply to the NANOS parquet encoding)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from ..sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    wk = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = ev.withColumn("prev_type", F.lag("event_type").over(wk)).filter(
        F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type"))
    )
    return (
        changes.select(
            "user_id",
            F.row_number().over(wk).cast("long").alias("version"),
            "event_type",
            F.col("ts_us").cast("long").alias("valid_from_us"),
            F.lead("ts_us").over(wk).cast("long").alias("valid_to_us"),
        )
        .withColumn("is_current", F.col("valid_to_us").isNull())
        .orderBy("user_id", "version")
    )
