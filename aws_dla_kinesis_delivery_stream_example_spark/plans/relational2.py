"""Second batch of relational coverage: exact percentiles, pivot /
unpivot, approximate aggregates (rows-only: engine-specific sketches),
and the as-of join (DuckDB's native ASOF JOIN is the oracle for our
union-window implementation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..sources.tables import load_table
from .catalog import query


@query(
    "q40_percentiles",
    oracle="""
        SELECT c_mktsegment,
               -- inputs have 2 decimals => interpolated values have <=4;
               -- round(.,4) is identity-on-grid in both engines (see q02)
               round(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4)  AS p90,
               round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
               count(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    description="Exact interpolated percentiles (p50/p90/p99) per segment "
    "— Spark `percentile` == DuckDB `quantile_cont`",
    tags=("aggregate", "percentile"),
)
def q40_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
            F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
            F.count("*").alias("n"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q41_pivot",
    oracle="""
        SELECT l_returnflag,
               round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS qty_open,
               round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS qty_filled,
               count(*) FILTER (WHERE l_linestatus = 'O') AS n_open,
               count(*) FILTER (WHERE l_linestatus = 'F') AS n_filled
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    description="Pivot linestatus into columns (Spark .pivot == SQL "
    "FILTER aggregates)",
    tags=("aggregate", "pivot"),
)
def q41_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2).alias("qty"), F.count(F.lit(1)).alias("n"))
    )
    return p.select(
        "l_returnflag",
        F.col("O_qty").alias("qty_open"),
        F.col("F_qty").alias("qty_filled"),
        F.col("O_n").alias("n_open"),
        F.col("F_n").alias("n_filled"),
    ).orderBy("l_returnflag")


@query(
    "q42_unpivot",
    oracle="""
        SELECT p_partkey, measure, round(val, 2) AS val
        FROM (
            SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS val FROM part
            UNION ALL
            SELECT p_partkey, 'retailprice' AS measure, p_retailprice AS val FROM part
        )
        WHERE p_partkey <= 200
        ORDER BY p_partkey, measure
    """,
    description="Unpivot (wide->long) via stack/UNION ALL",
    tags=("setop", "unpivot"),
)
def q42_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    return (
        part.selectExpr(
            "p_partkey",
            "stack(2, 'size', CAST(p_size AS DOUBLE), 'retailprice', p_retailprice) AS (measure, raw_val)",
        )
        .select("p_partkey", "measure", F.round("raw_val", 2).alias("val"))
        .orderBy("p_partkey", "measure")
    )


@query(
    "q43_approx_aggregates",
    oracle="""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               CAST(count(*) AS BIGINT) AS n,
               TRUE AS hll_within_5pct,
               TRUE AS p50_within_1pct
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    description="Approximate aggregates: approx_count_distinct (HLL) and "
    "percentile_approx — the 100 TB substitutes for exact distinct/"
    "quantile. Sketch OUTPUTS are engine-specific, so the hashed "
    "contract is tolerance VERDICTS: the oracle computes the exact "
    "values and literal TRUE verdicts; the hash matches only if "
    "Spark's sketches actually land within the advertised error bounds",
    tags=("aggregate", "approx"),
)
def q43_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        # rsd=0.015 so the advertised verdict bound is honest: the
        # checked 5% is then ~3.3 sigma (>99.9% confidence) in the
        # asymptotic HLL regime, not the 1-sigma (~68%) bound the
        # default rsd=0.05 would make of it — at larger cardinalities
        # the default could deterministically fail the gate while the
        # sketch operated within spec. Cost: ~1/rsd^2 registers, a few
        # KB per group either way.
        F.approx_count_distinct("l_partkey", rsd=0.015).alias("approx_parts"),
        # accuracy 1000 (~0.1% rank error): accuracy 10000 costs 5x
        # the time for precision the approx use-case doesn't need
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_p50"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
        F.count("*").alias("n"),
    )
    # exact distinct via two-level aggregation, NOT countDistinct in
    # the same agg: a distinct aggregate alongside other aggregates
    # compiles to an Expand that multiplies every input row through
    # all the other aggregate paths (measured 2.7 s -> 1.4 s at sf0.1;
    # strictly better at 100 TB where the expand doubles shuffle
    # volume). Both levels partial-aggregate map-side; the join is
    # |flags| rows.
    exact = (
        li.groupBy("l_returnflag", "l_partkey")
        .agg(F.lit(1))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("exact_parts"))
    )
    ex = F.col("exact_parts").cast("double")
    return (
        agg.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_parts",
            "n",
            (F.abs(F.col("approx_parts") - ex) <= 0.05 * ex).alias("hll_within_5pct"),
            (
                F.abs(F.col("approx_p50") - F.col("exact_p50"))
                <= 0.01 * F.abs(F.col("exact_p50"))
            ).alias("p50_within_1pct"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q44_asof_join",
    oracle="""
        WITH p AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        ),
        s AS (
            SELECT user_id, ts, max(event_id) AS signup_event
            FROM events WHERE event_type = 'signup'
            GROUP BY user_id, ts
        )
        SELECT p.event_id, p.user_id, s.signup_event
        FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
        ORDER BY p.event_id
    """,
    description="As-of join: each purchase matched to the user's most "
    "recent prior signup — union-window implementation (one shuffle, no "
    "range explosion) vs DuckDB's native ASOF JOIN",
    tags=("join", "asof", "events"),
)
def q44_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_event")
    )
    out = asof_join(purchases, signups)
    return out.select("event_id", "user_id", "signup_event").orderBy("event_id")
