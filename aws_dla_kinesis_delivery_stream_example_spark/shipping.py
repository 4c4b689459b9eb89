"""Spark's Python workers: ship this package to them at runtime, and
count the plan nodes that feed them (``python_passes``).

Python UDF / mapInPandas closures pickle references to this package;
workers then need it importable. When the engine builds the session
(`session.get_spark`) PYTHONPATH handles that — but the external
driver builds its OWN session, so every operator that crosses into
Python calls ``ensure_shipped(spark)``: zip the package once and
``addPyFile`` it (the runtime form of ``spark-submit --py-files``,
works identically on a real cluster).
"""

from __future__ import annotations

import os
import shutil
import tempfile

_SHIPPED: set[int] = set()
_ZIP_PATH: str | None = None


def _package_zip() -> str:
    global _ZIP_PATH
    if _ZIP_PATH is None or not os.path.exists(_ZIP_PATH):
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        parent = os.path.dirname(pkg_dir)
        base = os.path.join(tempfile.gettempdir(), "aws_dla_kinesis_delivery_stream_example_spark_pkg")
        _ZIP_PATH = shutil.make_archive(
            base, "zip", root_dir=parent, base_dir=os.path.basename(pkg_dir)
        )
    return _ZIP_PATH


def ensure_shipped(spark) -> None:
    """Idempotent per SparkContext: add the package zip to the workers'
    import path."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    sc.addPyFile(_package_zip())
    _SHIPPED.add(key)


# Spark's Python-evaluation operators live in this package (and its
# ``streaming`` subpackage).
_PYTHON_EXEC_PACKAGE = "org.apache.spark.sql.execution.python."


def python_passes(spark, plan) -> int:
    """Python-evaluation nodes in the executed JVM ``plan`` (a
    ``SparkPlan``): the nodes that ship rows to a Python worker
    (mapInPandas, Arrow and batch UDFs, applyInPandasWithState, ...).
    Spark gives them the ``pythonDataSent`` metric, but every stateful
    streaming writer (``StateStoreSave`` too) carries it as well, so a
    node also has to be one of Spark's Python operators. A staged
    subtree counts once however many scans read it; the walk goes
    through the AQE and query-stage wrappers."""
    identity = spark._jvm.System.identityHashCode
    seen, n, todo = set(), 0, [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if node.metrics().contains("pythonDataSent"):
            n += node.getClass().getName().startswith(_PYTHON_EXEC_PACKAGE)
        if "AdaptiveSparkPlan" in name:
            todo.append(node.executedPlan())
        elif "QueryStage" in name:
            todo.append(node.plan())
        elif "InMemoryTableScan" in name:
            cached = node.relation().cachedPlan()
            key = identity(cached)
            if key not in seen:
                seen.add(key)
                todo.append(cached)
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return n
