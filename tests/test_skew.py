"""Salted aggregation: result-identical to plain groupBy on skewed keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_dla_kinesis_delivery_stream_example_spark.operators.skew import (
    salted_agg,
)
from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def test_salted_agg_equals_plain(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    plain = {
        r.l_returnflag: (r.n, round(r.s, 2), r.mn, r.mx)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").alias("s"),
            F.min("l_quantity").alias("mn"),
            F.max("l_quantity").alias("mx"),
        )
        .collect()
    }
    salted = {
        r.l_returnflag: (r.n, round(r.s, 2), r.mn, r.mx)
        for r in salted_agg(
            li,
            keys=["l_returnflag"],
            measures={
                "n": ("count", "l_orderkey"),
                "s": ("sum", "l_quantity"),
                "mn": ("min", "l_quantity"),
                "mx": ("max", "l_quantity"),
            },
        ).collect()
    }
    assert salted == plain


