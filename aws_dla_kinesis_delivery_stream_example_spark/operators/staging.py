"""Per-thread registry for operator-internal staging caches.

Several operators (shingle/minhash/simhash staging in ``dedup``, the
postings table in ``tfidf``, partition assignments in ``clustering``,
the split-ledger in ``curation``) persist an intermediate frame that
feeds multiple consumers of ONE returned plan.  Because the caller
collects the returned DataFrame *after* the operator function returns,
the operator itself cannot unpersist — doing so before the terminal
action would silently recompute the staging subtree per consumer.

Caller contract (documented on each staging operator): after the
terminal action on the returned DataFrame, call ``release_staging()``
(or ``spark.catalog.clearCache()``) to drop the scratch caches.  Both
``bench.py`` and ``scripts/t2_rehearsal.py`` do this between queries;
a long-lived interactive session that never releases simply accrues
cache entries until LRU eviction — safe, but not free.

Scope: the registry is THREAD-LOCAL.  Sessions that interleave queries
from multiple threads (the standard Spark concurrency model — one
submitting thread per concurrent query) each see a private registry,
so one thread's ``release_staging()`` can never drop a staged subtree
another thread's in-flight query still needs — the hazard a process-
global registry had.  The corollary contract: build and release on the
SAME thread.  A plan staged on thread A and released from thread B is
not reachable from B's registry (it falls back to LRU eviction or a
session-wide ``clearCache()``), which is the safe failure direction —
a leak until eviction, never a premature unpersist.

At 100 TB these frames are staging-table writes, not executor caches;
the registry is the local-mode analog of dropping the staging table.
"""

from __future__ import annotations

import logging
import threading

from pyspark.sql import DataFrame

_LOCAL = threading.local()
_LOG = logging.getLogger(__name__)

# Global (cross-thread) count of outstanding staged frames, so a
# release on the wrong thread is *detectable*: the thread-local design
# makes build-on-A/release-on-B a silent leak-until-LRU-eviction, and
# nothing else observes the mismatch.  Scope: the counter tracks
# stage()/release_staging() pairs only — a session-wide
# spark.catalog.clearCache() drops the caches without decrementing it,
# so after a clearCache the counter may over-report until the owning
# threads call release_staging (which still pops their registries).
# It is an advisory diagnostic, never a correctness input.
_GLOBAL_LOCK = threading.Lock()
_GLOBAL_STAGED = 0


def _registry() -> list[DataFrame]:
    reg = getattr(_LOCAL, "staged", None)
    if reg is None:
        reg = _LOCAL.staged = []
    return reg


def staged_elsewhere() -> int:
    """Staged frames held by OTHER threads' registries (0 in the
    single-threaded bench and test callers)."""
    with _GLOBAL_LOCK:
        return _GLOBAL_STAGED - len(_registry())


def spread_scan(df: DataFrame) -> DataFrame:
    """Parallelism floor for a HEAVYWEIGHT per-row Python pass fed by
    an under-split scan: if the physical input produces fewer
    partitions than the session's default parallelism, round-robin
    repartition up to it; otherwise pass through (and streaming frames
    always pass through). The .rdd.getNumPartitions() probe is
    driver-side physical planning of the narrow scan subtree — no job.

    Scope discipline (round 17, measured): apply ONLY where the Python
    work is milliseconds-per-row and the spread frame is narrow (id
    columns). Blanket use on the cheap tokenize passes was MEASURED
    SLOWER (q26 1.67 -> 2.67 s, q28 3.17 -> 5.41 s): the extra
    exchange + task scheduling outweighs sub-second single-threaded
    work, and a repartition below an unstaged frame hides scan
    statistics from the join planner. For the image-synthesis/decode
    pass (~0.5 ms/row of md5+codec work over a doc_id-only input) the
    trade inverts — see multimodal.synthesize_gray_bmp. At 100 TB the
    input has thousands of splits and the gate makes this a no-op;
    locally the bench tables are one-row-group parquet = one scan task
    (guide §2.5's unsplittable-input remedy, gated)."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def stage(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it (on this thread's registry) for a
    later :func:`release_staging`."""
    global _GLOBAL_STAGED
    df.persist()
    _registry().append(df)
    with _GLOBAL_LOCK:
        _GLOBAL_STAGED += 1
    return df


def release_staging() -> int:
    """Unpersist (non-blocking) every staging frame registered BY THIS
    THREAD; returns how many.

    If this thread has nothing registered while other threads do, the
    caller probably staged on one thread and released on another — the
    frames are NOT dropped (safe direction: leak-until-eviction, never
    a premature unpersist of a plan another thread still needs), and a
    debug log flags the mismatch so it is diagnosable.
    """
    global _GLOBAL_STAGED
    reg = _registry()
    if not reg:
        orphans = staged_elsewhere()
        if orphans:
            _LOG.debug(
                "release_staging(): nothing staged on this thread, but "
                "%d frame(s) staged by other threads remain cached — "
                "build and release on the same thread, or clearCache()",
                orphans,
            )
        return 0
    n = 0
    try:
        while reg:
            df = reg.pop()
            # decrement BEFORE unpersist so the diagnostic counter and
            # the registry move together...
            with _GLOBAL_LOCK:
                _GLOBAL_STAGED -= 1
            try:
                df.unpersist()
            except Exception:
                # ...but on failure (transient gateway error, stopped
                # session) push the frame BACK and re-increment before
                # re-raising: the frame may still be persisted, and
                # dropping it from the registry would leak the cache
                # silently with no retry path — a later
                # release_staging() retry must still see it.
                reg.append(df)
                with _GLOBAL_LOCK:
                    _GLOBAL_STAGED += 1
                raise
            n += 1
    except Exception:
        _LOG.debug(
            "release_staging(): unpersist failed after %d release(s); "
            "%d frame(s) remain registered on this thread", n, len(reg)
        )
        raise
    return n
