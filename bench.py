#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"qNN": sec, ...}, "sf": ..., "delivery_rec_per_s": ...}

The stdout line keys timings by the canonical qNN prefix and uses
compact separators so the WHOLE line fits the driver's ~2 KB stdout
tail capture (its `parsed` field was null in BENCH_r09.json because
the full-name line ran ~5 KB and got truncated). The full-fidelity
result — full query names, untruncated errors — is written to
bench_full.json beside this script on every run.

Also measures end-to-end delivery throughput (produce -> transform ->
dual sink) to compare against BASELINE.md's 2,576 rec/s reference
number (acceptance: >= ~1,250 rec/s).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (  # noqa: E402
    release_staging,
    staged_elsewhere,
)
from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs  # noqa: E402
from aws_dla_kinesis_delivery_stream_example_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Per-query repeat count; the reported number is the MIN across repeats.
# One-shot timings at this scale carry 2x noise from GC/codegen-cache
# luck (q33/q37 doubled round-over-round with zero code change), which
# makes regressions unattributable — min-of-3 is the stable estimator
# of the plan's actual cost.
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

# Every catalog query runs in the bench; this keeps the judge's
# BENCH_r{N}.json aligned with SURVEY §2 coverage.
SKIP: set[str] = set()


def bench_queries(spark) -> dict[str, float]:
    from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import (
        TABLES,
        load_table,
    )

    # Warm-up: touch every table once so the first timed query doesn't
    # pay JVM/codegen/file-listing startup.
    for t in TABLES:
        load_table(spark, SF_DIR, t).count()

    # Per-query fault isolation: one broken query must not zero the
    # whole round's perf evidence (round 3 lost ALL numbers to a single
    # analysis error). Record {"err": ...} for the failure, keep going,
    # and ALWAYS emit the final JSON line.
    timings: dict[str, object] = {}
    for name, spec in sorted(all_specs().items()):
        if name in SKIP:
            continue
        best = None
        try:
            for _ in range(max(1, REPEATS)):
                t0 = time.perf_counter()
                df = spec.spark(spark, SF_DIR)
                df.collect()
                took = time.perf_counter() - t0
                best = took if best is None else min(best, took)
                # Operator-internal persists (staging tables) are per-query
                # scratch: release them, and force a collection so one run's
                # garbage doesn't tax the next one's measurement.
                release_staging()
                # bench is single-threaded: any frame still counted as
                # staged on another thread is a cross-thread staging
                # leak — fail the artifact run loudly, don't let it
                # silently accrue cache across queries. Checked BEFORE
                # clearCache(): the counter is advisory and over-reports
                # after a clearCache drops caches without decrementing
                # it (staging.py), so asserting after would fire only
                # post-remediation and then poison every later query.
                leaked = staged_elsewhere()
                assert leaked == 0, (
                    f"{name}: {leaked} staged frame(s) leaked across "
                    "threads after release_staging()"
                )
                spark.catalog.clearCache()
                spark._jvm.System.gc()
            timings[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001 — isolation is the point
            err = f"{type(exc).__name__}: {exc}"[:500]
            # a failure on a LATER repeat must not discard the valid
            # timing already measured on earlier repeats
            if best is not None:
                timings[name] = round(best, 3)
            else:
                timings[name] = {"err": err}
            release_staging()
            spark.catalog.clearCache()
    return timings


def bench_delivery(spark, n_records: int = 100_000) -> float:
    """End-to-end rec/s through the delivery pipeline (identity
    transform, dual sink: success JSON-lines + document sink)."""
    from aws_dla_kinesis_delivery_stream_example_spark.sources.jsonlines import (
        generate_bank_accounts,
        produce_jsonlines,
    )
    from aws_dla_kinesis_delivery_stream_example_spark.streaming.delivery import (
        DeliveryPipeline,
    )

    base = tempfile.mkdtemp(prefix="bench_delivery_")
    try:
        src = os.path.join(base, "src")
        produce_jsonlines(generate_bank_accounts(spark, n_records, partitions=10), src)
        pipe = DeliveryPipeline(
            spark, src, os.path.join(base, "dest"), document_sink=True
        )
        t0 = time.perf_counter()
        pipe.run()
        elapsed = time.perf_counter() - t0
        assert pipe.result.n_input == n_records, "delivery lost records"
        assert pipe.result.reconciled()
        return round(n_records / elapsed, 1)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _cpu_row() -> list[int]:
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                return [int(x) for x in line.split()[1:]]
    return []


def _host_canary(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal/iowait/busy share of the sweep's wall clock, from the
    /proc/stat ``cpu`` row sampled before and after it: each share is
    that column's tick delta over the total tick delta. A sweep run
    with steal near 0% was not slowed by neighbours on the host."""
    if not before or not after:
        return {}
    d = [y - x for x, y in zip(before, after)]
    tot = sum(d) or 1
    names = ["user", "nice", "sys", "idle", "iowait", "irq", "softirq", "steal"]
    pct = {n: round(100.0 * v / tot, 2) for n, v in zip(names, d)}
    return {
        "steal_pct": pct.get("steal", 0.0),
        "iowait_pct": pct.get("iowait", 0.0),
        "busy_pct": round(100.0 - pct.get("idle", 0.0), 2),
    }


def main() -> None:
    spark = get_spark(app_name="bench")
    cpu0 = _cpu_row()
    t_all0 = time.perf_counter()
    timings = bench_queries(spark)
    wall = round(time.perf_counter() - t_all0, 3)
    canary = _host_canary(cpu0, _cpu_row())
    ok = {k: v for k, v in timings.items() if isinstance(v, (int, float))}
    errs = sorted(k for k in timings if k not in ok)
    total = round(sum(ok.values()), 3)
    # Round-over-round comparability: the catalog grows most rounds,
    # so the headline total is not apples-to-apples with the previous
    # artifact. Emit a subtotal over the PREVIOUS round's catalog
    # (q01..q95 as of round 8) so total drift separates into
    # "shared queries moved" vs "new queries added".
    import re as _re

    def _qnum(name: str) -> int:
        m = _re.match(r"q(\d+)", name)
        return int(m.group(1)) if m else 10**9

    prev_total = round(sum(v for k, v in ok.items() if _qnum(k) <= 95), 3)
    # Same estimator as the queries: best of REPEATS (first run pays
    # streaming-query codegen/startup; observed 22k cold vs 80k warm).
    try:
        tps = max(bench_delivery(spark) for _ in range(max(1, REPEATS)))
    except Exception as exc:  # noqa: BLE001
        tps = {"err": f"{type(exc).__name__}: {exc}"[:500]}
    result = {
        "metric": "catalog_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "delivery_rec_per_s": tps,
        "repeats": REPEATS,
        "agg": "min",
        "sweep_wall_sec": wall,
        "n_queries_ok": len(ok),
        "query_errors": errs,
        "total_prev_catalog_q01_q95": prev_total,
        # Round-17 verdict Next #8: the host canary recorded WITH the
        # sweep, so neighbor-steal noise attribution is checkable from
        # the artifact itself (steal ~0% = trust the numbers).
        "host_canary": canary,
    }
    # Full-fidelity sidecar: the external driver captures only the
    # LAST ~2 KB of stdout, which truncated q100+'s timings out of
    # BENCH_r09.json (round-9 verdict Next #6). The complete result —
    # full query names, untruncated error strings — always lands here.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json")
    with open(full_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    # The ONE stdout JSON line must itself fit the driver's 2141-char
    # tail so its `parsed` field is non-null: key timings by the
    # canonical qNN prefix (unambiguous — catalog names are qNN_slug),
    # truncate error strings, and use compact separators. ~13 B/query
    # keeps 126 queries + metadata under 1.8 KB.
    import re as _re2

    def _short(name: str) -> str:
        m = _re2.match(r"(q\d+)", name)
        return m.group(1) if m else name

    compact: dict[str, object] = {}
    for k, v in timings.items():
        if isinstance(v, dict):
            compact[_short(k)] = {"err": str(v.get("err", ""))[:80]}
        else:
            # 2 decimals ON THE LINE ONLY (10 ms granularity — far
            # below run-to-run noise); bench_full.json keeps 3.
            compact[_short(k)] = round(v, 2)
    # Round-17 verdict Next #2 (the r16 line overflowed the driver's
    # ~2.1 KB tail capture and killed the round-over-round table):
    # keep the one JSON line BOUNDED — contract keys + the per-query
    # map at 2 decimals; everything bulky (repeats/agg/
    # sweep_wall/host_canary/prev-catalog subtotal, 3-decimal
    # timings, full names) lives in bench_full.json.
    line = {
        "metric": result["metric"],
        "value": total,
        "unit": "sec",
        "queries": compact,
        "sf": SF_DIR,
        "delivery_rec_per_s": tps,
        "n_queries_ok": len(ok),
        "query_errors": errs,
        "full_results": "bench_full.json",
    }
    print(json.dumps(line, separators=(",", ":")))


if __name__ == "__main__":
    main()
