"""session.get_spark sizes the driver's query-stage pools to the host's
cores, so a long session stops adding a thread per query stage, and
starts the driver JVM on the parallel collector."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_dla_kinesis_delivery_stream_example_spark.session import stage_pool_confs

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
