"""session.get_spark sizes the driver's query-stage pools and its two
block-manager RPC pools to the host's cores, so a long session stops
adding a thread per query stage or block removal, and starts the driver
JVM on the parallel collector."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from aws_dla_kinesis_delivery_stream_example_spark.session import (
    block_manager_pools,
    get_spark,
    stage_pool_confs,
)

# Thread-name prefixes of the three pools and the conf that caps each.
_POOLS = {
    "broadcast-exchange-": "spark.sql.broadcastExchange.maxThreadThreshold",
    "shuffle-exchange-": "spark.sql.shuffleExchange.maxThreadThreshold",
    "ResultQueryStageExecution-": "spark.sql.resultQueryStage.maxThreadThreshold",
}


def test_stage_pools_stop_at_the_core_count(spark):
    cpus = spark.sparkContext.defaultParallelism  # local[cpus]
    for conf in _POOLS.values():
        assert spark.conf.get(conf) == str(min(cpus, 128 if "broadcast" in conf else 1024))
    # More AQE queries than cores, each with a shuffle and a broadcast
    # join: an uncapped pool starts one thread per stage for 60 s.
    for i in range(cpus + 2):
        joined = spark.range(1000).join(F.broadcast(spark.range(10 + i)), "id")
        joined.groupBy((F.col("id") % 3).alias("k")).count().collect()
    threads = spark._jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
    names = [t.getName() for t in threads]
    for prefix in _POOLS:
        live = sum(n.startswith(prefix) for n in names)
        assert 0 < live <= cpus, (prefix, live, cpus)


# Thread-name prefixes of the two block-manager pools.
_BLOCK_MANAGER_THREADS = (
    "block-manager-ask-thread-pool-",
    "block-manager-storage-async-thread-pool-",
)


def _live_threads(spark, prefix: str) -> int:
    threads = spark._jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
    return sum(t.getName().startswith(prefix) for t in threads)


def test_block_manager_pools_core_at_the_core_count(spark):
    cpus = spark.sparkContext.defaultParallelism  # local[cpus]
    assert [p.getCorePoolSize() for p in block_manager_pools(spark)] == [cpus, cpus]
    assert get_spark() is spark  # a second call fetches the same session ...
    pools = block_manager_pools(spark)
    assert [p.getCorePoolSize() for p in pools] == [cpus, cpus]  # ... still capped
    assert [p.getMaximumPoolSize() for p in pools] == [100, 100]


def test_block_manager_threads_stop_at_the_core_count(spark):
    """Each unpersist submits to both pools; below its core size a pool
    starts a thread per submission, so uncapped each climbs toward 100."""
    cpus = spark.sparkContext.defaultParallelism
    sc = spark.sparkContext
    for _ in range(4 * cpus):
        rdd = sc.parallelize(range(100), 2).persist()
        rdd.count()
        rdd.unpersist()
        sc.broadcast(list(range(10))).destroy()
    for prefix in _BLOCK_MANAGER_THREADS:
        assert _live_threads(spark, prefix) <= cpus, prefix


def test_a_new_context_gets_capped_pools():
    """``spark.stop()`` then ``get_spark`` builds a new SparkContext with
    new pools; they are capped again. In a child process, so the shared
    session stays up."""
    script = textwrap.dedent(
        """
        from aws_dla_kinesis_delivery_stream_example_spark.session import (
            block_manager_pools, get_spark)
        conf = {"spark.driver.memory": "1g"}
        spark = get_spark(master="local[2]", extra_conf=conf)
        spark.stop()
        spark = get_spark(master="local[2]", extra_conf=conf)
        print("CORES", [p.getCorePoolSize() for p in block_manager_pools(spark)])
        spark.stop()
        """
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "PYTHONPATH": repo}
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=300
    )
    assert "CORES [2, 2]" in out.stdout, out.stderr[-2000:]


def test_stage_pool_caps_clamp_to_what_spark_accepts():
    assert stage_pool_confs(4) == {conf: "4" for conf in _POOLS.values()}
    assert stage_pool_confs(512) == {
        "spark.sql.broadcastExchange.maxThreadThreshold": "128",
        "spark.sql.shuffleExchange.maxThreadThreshold": "512",
        "spark.sql.resultQueryStage.maxThreadThreshold": "512",
    }
    assert set(stage_pool_confs(4096).values()) == {"128", "1024"}


def test_driver_runs_the_parallel_collector(spark):
    """G1, the server-class default, would name its beans "G1 Young
    Generation" and "G1 Old Generation"."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    assert sorted(b.getName() for b in beans) == ["PS MarkSweep", "PS Scavenge"]


def test_sql_api_queries_leave_no_temp_view(spark):
    """The SQL-API queries (and their DataFrame neighbours in the same
    module) run on the caller's session and must leave no temporary
    view behind: a view named ``part`` or ``orders`` would shadow the
    caller's table of that name. A fresh session of the same context
    starts with an empty view catalog."""
    from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs

    from .conftest import SF_SMOKE

    caller = spark.newSession()
    specs = all_specs()
    for q in ("q52", "q53", "q54", "q89", "q90", "q122"):
        (name,) = [k for k in specs if k.startswith(q + "_")]
        specs[name].spark(caller, SF_SMOKE).collect()
    assert [t.name for t in caller.catalog.listTables() if t.isTemporary] == []
