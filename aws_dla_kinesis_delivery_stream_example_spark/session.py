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

The driver JVM runs the parallel collector. In local mode it is the
only JVM: it drives many short micro-batch and query jobs and executes
them too. G1 is the JVM's default only because the host counts as
"server class". With perfbench's pre-touched 2 GB heap, G1's native
bookkeeping (NMT's ``GC`` line) commits 123 MB against the parallel
collector's 91 MB, and a perfbench run's peak resident memory falls by
about 76 MB with no measured cost in pass or start-up time. A heap
that is neither fixed nor pre-touched grows further than under G1: in
``bench.py``'s sf0.1 sweep (32g) the JVM peaked 2.1 GB higher, and the
sweep ran 15% faster. The flag goes in ``spark.driver.defaultJavaOptions``, Spark's slot for default
driver flags, which a caller's ``spark.driver.extraJavaOptions`` is
appended to. A caller that needs another collector passes its own
``spark.driver.defaultJavaOptions`` in ``extra_conf``; a collector flag
in ``extraJavaOptions`` instead selects two collectors and the JVM
refuses to start. Like the stage-pool caps, it is set at JVM launch,
so a session built elsewhere keeps its own collector.

At 100 TB the only knobs that change are ``shuffle.partitions`` (size
for ~128 MB per post-shuffle partition; AQE coalescing makes the
static value a ceiling, not a target) and executor topology, which is
cluster-manager config, not code.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

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


@contextmanager
def scoped_confs(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the block, then restore each
    key's prior value, or unset a key the caller had not set."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


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
        # Oversized heaps (90g) measurably HURT here. 32g keeps GC
        # pauses short and query times stable; override via env if a
        # workload genuinely needs more.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # The parallel collector: its native bookkeeping is smaller than
        # G1's, the JVM's server-class default. A caller's
        # extraJavaOptions is appended to this, so another collector is
        # chosen by overriding this key in extra_conf, never there.
        .config("spark.driver.defaultJavaOptions", "-XX:+UseParallelGC")
        # Static confs: the stage pools stop at 3 x cpus threads.
        .config(map=stage_pool_confs(int(cpus)))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
