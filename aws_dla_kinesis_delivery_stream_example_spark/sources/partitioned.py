"""Date-partitioned storage layout (SCALE.md 'Scans': partition
pruning). At 100 TB the events lake is laid out as
``.../event_date=YYYY-MM-DD/part-*.parquet`` so a date-bounded query
reads only the matching directories — the scan-level win that predicate
pushdown alone cannot give (pushdown skips row groups AFTER listing a
file; partition pruning never lists the file at all).

This module materializes that layout from the flat test table
(idempotently, keyed by source mtime so a regenerated testdata set
invalidates the copy); q88 reads it back with a filter on
``event_date``, and tests/test_plan_shapes.py asserts that the filter
reaches q88's scan as ``PartitionFilters``.
"""

from __future__ import annotations

import glob as _glob
import hashlib
import os
import re
import shutil
import tempfile
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .tables import load_table


def _name_parts(sf_dir: str) -> tuple[str, str]:
    src = os.path.join(sf_dir, "events.parquet")
    sf_name = "".join(
        ch if ch.isalnum() else "_" for ch in os.path.basename(os.path.abspath(sf_dir))
    )
    key = hashlib.md5(
        f"{os.path.abspath(src)}:{os.path.getmtime(src)}".encode()
    ).hexdigest()[:12]
    return sf_name, key


def partitioned_events_path(sf_dir: str) -> str:
    sf_name, key = _name_parts(sf_dir)
    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_events_by_date_{sf_name}_{key}"
    )


def materialize_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Write events once as parquet partitioned by ``event_date``.

    Concurrency-safe: each materializer writes to a private staging
    dir and atomically renames it into place — one rename wins, losers
    discard their copy; no writer ever deletes a directory a reader
    may be scanning. Superseded copies (older source mtimes for the
    same sf) are garbage-collected once the current copy exists.
    """
    path = partitioned_events_path(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        staging = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        ev = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        ev.write.partitionBy("event_date").mode("overwrite").parquet(staging)
        try:
            os.rename(staging, path)
        except OSError:
            # a concurrent materializer won the rename; ours is surplus
            shutil.rmtree(staging, ignore_errors=True)
    # GC copies of THIS sf built from older testdata generations (the
    # mtime key changed); never touches the live path or staging dirs.
    # Candidates are parsed strictly — the sf_name component must equal
    # this sf_name and be followed by exactly a 12-hex mtime key — so a
    # different sf whose sanitized basename shares this one as a prefix
    # (e.g. 'sf0' vs 'sf0_1') can never be matched and deleted while a
    # concurrent query scans it.
    sf_name, key = _name_parts(sf_dir)
    pattern = os.path.join(
        tempfile.gettempdir(), f"spark_graft_events_by_date_{sf_name}_*"
    )
    exact = re.compile(
        f"spark_graft_events_by_date_{re.escape(sf_name)}_[0-9a-f]{{12}}"
    )
    for d in _glob.glob(pattern):
        if exact.fullmatch(os.path.basename(d)) is None:
            continue
        if os.path.abspath(d) != os.path.abspath(path):
            shutil.rmtree(d, ignore_errors=True)
    return path
