"""Third coverage batch: map and array function surfaces (§2.12 scalar
rows) and the salted-aggregation scale path (result-identical to the
plain aggregate, which IS its oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.skew import salted_agg
from ..sources.tables import load_table
from .catalog import query


@query(
    "q46_map_functions",
    oracle="""
        WITH kv AS (
            SELECT event_type,
                   unnest(json_keys(props)) AS k,
                   CAST(json_extract(props, '$.' || unnest(json_keys(props))) AS BIGINT) AS v
            FROM events
        )
        SELECT event_type, k,
               count(*) AS n,
               CAST(sum(v) AS BIGINT) AS sum_v,
               CAST(min(v) AS BIGINT) AS min_v,
               CAST(max(v) AS BIGINT) AS max_v
        FROM kv
        GROUP BY event_type, k
        ORDER BY event_type, k
    """,
    description="Map surface: props JSON parsed to map<string,long>, "
    "exploded to entries (map_keys/map_values/explode), aggregated per key",
    tags=("events", "map", "json"),
)
def q46_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", T.MapType(T.StringType(), T.LongType()))
    exploded = ev.select("event_type", F.explode(m).alias("k", "v"))
    return (
        exploded.groupBy("event_type", "k")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .orderBy("event_type", "k")
    )


@query(
    "q47_array_functions",
    oracle="""
        SELECT vec_id,
               len(embedding) AS dim,
               round(CAST(embedding[1] AS DOUBLE), 4) AS first_dim,
               round(list_sort(list_transform(embedding, x -> round(CAST(x AS DOUBLE), 4)))[len(embedding)], 4) AS max_dim,
               CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_positive,
               CAST(list_contains(list_transform(embedding, x -> x > 0.5), true) AS BOOLEAN) AS any_gt_half
        FROM embeddings
        WHERE vec_id < 100
        ORDER BY vec_id
    """,
    description="Array surface: size / element_at / sort_array / filter "
    "/ array_contains over embedding arrays",
    tags=("array", "scalar"),
)
def q47_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    rounded = F.transform("embedding", lambda x: F.round(x.cast("double"), 4))
    return emb.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 4).alias("first_dim"),
        F.round(F.element_at(F.sort_array(rounded), F.size("embedding")), 4).alias("max_dim"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_positive"),
        F.array_contains(F.transform("embedding", lambda x: x > 0.5), True).alias("any_gt_half"),
    ).orderBy("vec_id")


@query(
    "q48_salted_agg",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total,
               round(min(o_totalprice), 2) AS min_price,
               round(max(o_totalprice), 2) AS max_price
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    description="Salted two-phase aggregation on a 3-value (maximally "
    "hot) key — result-identical to the plain GROUP BY, immune to "
    "reducer skew at scale",
    tags=("aggregate", "skew"),
)
def q48_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return salted_agg(orders).select(
        "o_orderstatus",
        "n",
        F.round("total_raw", 2).alias("total"),
        F.round("min_raw", 2).alias("min_price"),
        F.round("max_raw", 2).alias("max_price"),
    ).orderBy("o_orderstatus")
