"""Admin/inspection surface tests (SURVEY.md §2.8 Q1-Q5 parity)."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError

from aws_dla_kinesis_delivery_stream_example_spark import admin
from aws_dla_kinesis_delivery_stream_example_spark.sources.jsonlines import (
    generate_bank_accounts,
    produce_jsonlines,
)


def test_match_all_count_truncate(spark, tmp_path):
    sink = str(tmp_path / "sink")
    produce_jsonlines(generate_bank_accounts(spark, 500, partitions=4), sink)
    # Q1 match_all + Q2/A1 count + A2 objects
    assert admin.match_all(spark, sink).count() == 500
    assert admin.count_records(spark, sink) == 500
    assert admin.count_objects(sink) >= 4
    # Q3 truncate == delete_by_query(match_all)
    admin.truncate(sink)
    assert admin.count_records(spark, sink) == 0
    assert admin.count_objects(sink) == 0


def test_count_records_raises_on_unreadable_sink(spark, tmp_path):
    """Only a never-written prefix counts 0: a prefix whose objects
    cannot be read raises instead of reconciling as empty."""
    sink = tmp_path / "sink"
    assert admin.count_records(spark, str(sink)) == 0
    part = sink / "batch_id=0"
    part.mkdir(parents=True)
    (part / "part-00000.txt.gz").write_bytes(b"this is not gzip")
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        admin.count_records(spark, str(sink))


def test_sink_table_ddl(spark, tmp_path):
    sink = str(tmp_path / "ddl_sink")
    produce_jsonlines(generate_bank_accounts(spark, 100, partitions=2), sink)
    ddl = "id string, firstname string, lastname string, description string, balance long"
    admin.create_sink_table(spark, "bank_account_t", sink, ddl)
    try:
        assert spark.sql("SELECT count(*) AS n FROM bank_account_t").collect()[0].n == 100
        # create-if-not-exists: second call is a no-op, not an error
        admin.create_sink_table(spark, "bank_account_t", sink, ddl)
    finally:
        admin.drop_sink_table(spark, "bank_account_t")
        admin.drop_sink_table(spark, "bank_account_t")  # ignore-missing


def test_upsert_by_id(spark, tmp_path):
    out = str(tmp_path / "docs")
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "id string, v long"
    )
    admin.upsert_by_id(df, "id", out)
    got = {r.id: r.v for r in spark.read.parquet(out).collect()}
    # one row per id survives; within-batch dups resolve deterministically
    assert got == {"a": 2, "b": 3}


def test_upsert_by_id_merges_not_replaces(spark, tmp_path):
    """A second upsert call must MERGE: incoming ids win, untouched
    existing ids are preserved (OpenSearch doc-upsert semantics), not
    wiped by a whole-directory overwrite."""
    out = str(tmp_path / "docs")
    admin.upsert_by_id(
        spark.createDataFrame([("a", 1), ("b", 3)], "id string, v long"), "id", out
    )
    admin.upsert_by_id(
        spark.createDataFrame([("a", 9), ("c", 5)], "id string, v long"), "id", out
    )
    got = {r.id: r.v for r in spark.read.parquet(out).collect()}
    assert got == {"a": 9, "b": 3, "c": 5}


def test_health_check(spark):
    info = admin.health_check(spark)
    assert info["version"] == spark.version and info["default_parallelism"] > 0