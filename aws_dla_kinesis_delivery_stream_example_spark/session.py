"""SparkSession factory.

Defaults are tuned for the local[32] test host but every setting is the
one you'd want on a real cluster too: AQE on (runtime join re-planning,
skew-join splitting, partition coalescing), Arrow on (vectorized
Python<->JVM transfer for the pandas-UDF operators), UTC session
timezone (deterministic timestamp comparison against the DuckDB
oracle — DuckDB timestamps are UTC-naive).

One read of ``SPARK_GRAFT_CPUS`` sizes the local master, the shuffle
width and the driver's three query-stage pools (broadcast exchange,
shuffle exchange, AQE result stage). Each of those is a cached pool
whose core size equals its maximum, so below that maximum every stage
submission starts a new thread even while older ones sit idle, and an
idle thread lives 60 s: at Spark's defaults (128, 1024, 1024) a
long-lived session adds threads on every query. Capped at the core
count, the three stop at 3 x cpus threads; a lower cap only queues
submissions. The caps are static confs, so they take effect only in
the builder: a session built elsewhere keeps Spark's defaults.

At 100 TB the only knobs that change are ``shuffle.partitions`` (size
for ~128 MB per post-shuffle partition; AQE coalescing makes the
static value a ceiling, not a target) and executor topology, which is
cluster-manager config, not code.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The driver's query-stage pools a session can size, each with the
# largest value Spark accepts.
_STAGE_POOL_MAX = {
    "spark.sql.broadcastExchange.maxThreadThreshold": 128,
    "spark.sql.shuffleExchange.maxThreadThreshold": 1024,
    "spark.sql.resultQueryStage.maxThreadThreshold": 1024,
}


def stage_pool_confs(cpus: int) -> dict[str, str]:
    """The three stage-pool caps for a host of ``cpus`` cores: the core
    count, clamped to what Spark accepts."""
    return {k: str(min(cpus, top)) for k, top in _STAGE_POOL_MAX.items()}


def get_spark(
    app_name: str = "aws_dla_kinesis_delivery_stream_example_spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession used by the engine. One read of
    ``SPARK_GRAFT_CPUS`` sizes the local master, the shuffle width and
    the three driver stage pools (``stage_pool_confs``)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Python workers must be able to import this package (Python UDF
    # closures reference it). Export the repo root BEFORE the JVM forks
    # so workers inherit it. On a real cluster this is --py-files.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        # AQE: runtime re-planning — coalesces tiny post-shuffle partitions,
        # converts sort-merge->broadcast when a side turns out small, and
        # splits skewed partitions. All three matter at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow: vectorized transfer for pandas UDF / mapInPandas operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamps vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # The driver-generated events table stores TIMESTAMP(NANOS),
        # which Spark's parquet reader rejects; read as long and convert
        # (sources.tables truncates ns -> us exactly like DuckDB does).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Oversized heaps (90g) measurably HURT here: G1 defers mixed
        # collections until allocation stalls mid-query. 32g keeps GC
        # pauses short and query times stable; override via env if a
        # workload genuinely needs more.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # Static confs: the stage pools stop at 3 x cpus threads.
        .config(map=stage_pool_confs(int(cpus)))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
