"""Salted aggregation: result-identical to plain groupBy on skewed keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_dla_kinesis_delivery_stream_example_spark.operators.skew import (
    salted_agg,
)
from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def test_salted_agg_equals_plain(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    plain = {
        r.o_orderstatus: (r.n, round(r.total_raw, 2), r.min_raw, r.max_raw)
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.count("o_orderkey").alias("n"),
            F.sum("o_totalprice").alias("total_raw"),
            F.min("o_totalprice").alias("min_raw"),
            F.max("o_totalprice").alias("max_raw"),
        )
        .collect()
    }
    salted = {
        r.o_orderstatus: (r.n, round(r.total_raw, 2), r.min_raw, r.max_raw)
        for r in salted_agg(orders).collect()
    }
    assert salted == plain
