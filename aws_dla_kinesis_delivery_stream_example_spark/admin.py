"""Admin / inspection surface (SURVEY.md §2.8 Q1-Q5, §3.3).

The reference's sink-inspection and index-DDL helpers
(kds_example/oss_utils.py:38-63, debug/s2_inspect_data_in_s3.py)
re-expressed against file sinks and the Spark catalog.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .functions import serde


def match_all(spark: SparkSession, path: str) -> DataFrame:
    """Q1: read everything from a JSON-lines sink directory of bank
    account records (``serde.BANK_ACCOUNT_SCHEMA``)."""
    return spark.read.schema(serde.BANK_ACCOUNT_SCHEMA).json(path)


def count_records(spark: SparkSession, path: str) -> int:
    """Q2/A1: record count of a sink prefix (JSON lines => text lines,
    exactly the reference's newline count, s2_inspect_data_in_s3.py:19-23).
    0 when the prefix directory does not exist; any other read failure
    raises, so an unreadable sink never reconciles as empty."""
    if not os.path.isdir(path):
        return 0
    return spark.read.text(path).count()


def count_objects(path: str) -> int:
    """A2: number of sink objects (files) under a prefix."""
    if not os.path.isdir(path):
        return 0
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )


def truncate(path: str) -> None:
    """Q3: delete_by_query(match_all) parity — empty the sink."""
    if os.path.isdir(path):
        shutil.rmtree(path)


def create_sink_table(spark: SparkSession, name: str, path: str, ddl: str) -> None:
    """Q4: index DDL parity — register the JSON-lines sink as a catalog
    table with an explicit schema (create-if-not-exists)."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({ddl}) USING json LOCATION '{path}'"
    )


def drop_sink_table(spark: SparkSession, name: str) -> None:
    """Q4: delete-if-exists parity (ignore-missing semantics)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def upsert_by_id(df: DataFrame, id_col: str, path: str) -> None:
    """Q4 doc-upsert parity (OpenSearch _id-keyed upsert): MERGE the
    incoming batch into the existing documents at ``path`` — incoming
    rows win per id, untouched existing ids are preserved.

    Within one incoming batch, duplicate ids resolve deterministically
    to the lexicographic-max row over the non-id columns (a DataFrame
    carries no write order to honor)."""
    spark = df.sparkSession
    other_cols = [c for c in df.columns if c != id_col]
    incoming = df.withColumn("_prec", F.lit(1))
    if os.path.isdir(path):
        unioned = (
            spark.read.parquet(path).withColumn("_prec", F.lit(0)).unionByName(incoming)
        )
    else:
        unioned = incoming
    w = W.partitionBy(id_col).orderBy(
        F.desc("_prec"), *[F.desc(c) for c in other_cols]
    )
    winner = (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_prec")
    )
    # Materialize before overwriting the path the plan reads from.
    winner.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)


def health_check(spark: SparkSession) -> dict:
    """Q5: cluster/info parity."""
    sc = spark.sparkContext
    return {
        "version": spark.version,
        "master": sc.master,
        "app_id": sc.applicationId,
        "default_parallelism": sc.defaultParallelism,
    }
