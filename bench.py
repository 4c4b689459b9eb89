#!/usr/bin/env python
"""Catalog benchmark and single-query probe.

    python bench.py                                    # the sweep
    python bench.py time    <qNN|name>... [--sf DIR]
    python bench.py profile <qNN|name>... [--sf DIR]
    python bench.py plan    <qNN|name>... [--sf DIR] [--out FILE]
    python bench.py check   <qNN|name>... [--sf DIR]
    python bench.py scale   <qNN|name>...

The sweep times every catalog query at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 test data) on local[$SPARK_GRAFT_CPUS], then the end-to-end
delivery throughput (produce -> transform -> dual sink; BASELINE.md's
reference is 2,576 rec/s), and prints ONE JSON line:

    {"metric":"catalog_queries_total_wall","value":<total_sec>,
     "unit":"sec","queries":{"qNN":sec,...},"sf":...,
     "delivery_rec_per_s":...,"n_queries_ok":...,"query_errors":[...],
     "full_results":"bench_full.json"}

That compact line is the driver contract: timings keyed by the qNN
prefix at 2 decimals, error strings cut to 80 characters, compact
separators. The full result (full query names, 3-decimal timings,
untruncated errors, repeats, sweep wall time, host canary, the driver
JVM's live threads at the end by pool) is written to bench_full.json
beside this script on every sweep.

The probe modes take exact catalog names or qNN prefixes and `--sf`
(default: the sweep's directory). `time` uses the sweep's estimator.
`profile` prints one warm run's job census, a streaming drain's
micro-batch jobs included, its plan's Python passes and its drains'
state-store commit time. `plan`
prints (or writes to `--out`) the formatted physical plan. `check`
compares each query with its DuckDB oracle and exits 1 if any fails.

`scale` takes no flags. It profiles each query on three tiers: sf0.01
and sf0.1 beside the sweep's directory, and a 10x tier built from
sf0.1 in a temporary directory (``synthesize_10x``). Per query and
tier it prints one JSON line with the census's ``input_records``,
``shuffle_write_bytes`` and ``executor_run_ms`` and the output rows;
then one line per query with the log-log growth exponent of shuffle
bytes and of run time against ``input_records`` between the smallest
and the largest tier (1.0 is linear).
"""

from __future__ import annotations

import argparse
import json
import logging
import math
import os
import re
import shutil
import sys
import tempfile
import time
from collections import Counter
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (  # noqa: E402
    release_staging,
    staged_elsewhere,
)
from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs  # noqa: E402
from aws_dla_kinesis_delivery_stream_example_spark.session import get_spark  # noqa: E402
from aws_dla_kinesis_delivery_stream_example_spark.shipping import python_passes  # noqa: E402
from aws_dla_kinesis_delivery_stream_example_spark.streaming import windows  # noqa: E402
from perfbench.census import Census, StatusStore, cpu_row, host_canary  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# A timing is the MIN over this many runs: one-shot timings at this
# scale carry 2x noise from GC and codegen-cache luck, so the minimum
# is the stable estimate of a plan's cost.
REPEATS = 3


def qnn(name: str) -> str:
    """The canonical ``qNN`` prefix of a catalog name (``name`` itself
    if it has none)."""
    m = re.match(r"q\d+", name)
    return m.group() if m else name


def resolve(selectors: list[str], specs: dict) -> list[str]:
    """Catalog names for ``selectors``, each an exact name or a qNN
    prefix: ``q50`` selects ``q50_streaming_tumbling`` and ``q1``
    selects nothing (it is no query's prefix)."""
    out = []
    for sel in selectors:
        hits = [k for k in sorted(specs) if sel in (k, qnn(k))]
        if not hits:
            raise SystemExit(
                f"no catalog query matches {sel!r} (use the exact name or its qNN prefix)"
            )
        out.extend(hits)
    return out


def _warm_tables(spark, sf: str) -> None:
    """Touch every table once so the first timed query does not pay
    JVM, codegen and file-listing start-up."""
    from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import (
        TABLES,
        load_table,
    )

    for t in TABLES:
        load_table(spark, sf, t).count()


def _reset(spark) -> int:
    """Drop one run's per-query scratch (staging frames, caches, then
    garbage) so it does not tax the next measurement. Returns the
    staged frames still held by other threads, read BEFORE
    clearCache(): that drops frames without decrementing the counter,
    which then over-reports."""
    release_staging()
    leaked = staged_elsewhere()
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    return leaked


def _best_of(spark, name: str, spec, sf: str) -> float | dict:
    """Best of REPEATS collects of ``spec`` in seconds, or
    ``{"err": ...}``. One broken query must not cost the other
    timings: a failure is recorded, not raised. A failure after a
    completed run keeps that run's timing, unless it is a staged frame
    leaked across threads: every caller here is single-threaded, so
    that is a harness fault and the entry becomes an error."""
    best = None
    try:
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            spec.spark(spark, sf).collect()
            took = time.perf_counter() - t0
            best = took if best is None else min(best, took)
            leaked = _reset(spark)
            if leaked:
                raise AssertionError(
                    f"{name}: {leaked} staged frame(s) leaked across threads "
                    "after release_staging()"
                )
    except Exception as exc:  # noqa: BLE001 — isolation is the point
        if best is None or _reset(spark):
            return {"err": f"{type(exc).__name__}: {exc}"[:500]}
    return round(best, 3)


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


def thread_census(names: list[str]) -> dict:
    """Live threads by pool: each name with its numbers (and the
    separators before them) stripped, so ``broadcast-exchange-12``
    counts under ``broadcast-exchange``; plus the total."""
    pools = Counter(re.sub(r"[-_ #.]*\d+", "", name) for name in names)
    return {"total": len(names), "by_pool": dict(sorted(pools.items()))}


def stdout_line(result: dict) -> str:
    """The driver's one JSON line, built from the full result."""
    queries = {
        qnn(k): {"err": str(v.get("err", ""))[:80]} if isinstance(v, dict) else round(v, 2)
        for k, v in result["queries"].items()
    }
    line = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "queries": queries,
        "sf": result["sf"],
        "delivery_rec_per_s": result["delivery_rec_per_s"],
        "n_queries_ok": result["n_queries_ok"],
        "query_errors": result["query_errors"],
        "full_results": "bench_full.json",
    }
    return json.dumps(line, separators=(",", ":"))


def sweep() -> None:
    spark = get_spark(app_name="bench")
    cpu0 = cpu_row()
    t_all0 = time.perf_counter()
    _warm_tables(spark, SF_DIR)
    timings = {
        name: _best_of(spark, name, spec, SF_DIR)
        for name, spec in sorted(all_specs().items())
    }
    wall = round(time.perf_counter() - t_all0, 3)
    canary = host_canary(cpu0, cpu_row())
    ok = {k: v for k, v in timings.items() if isinstance(v, (int, float))}
    # Same estimator as the queries: the first drain pays streaming
    # codegen and start-up.
    try:
        tps = max(bench_delivery(spark) for _ in range(REPEATS))
    except Exception as exc:  # noqa: BLE001
        tps = {"err": f"{type(exc).__name__}: {exc}"[:500]}
    threads = spark._jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
    result = {
        "metric": "catalog_queries_total_wall",
        "value": round(sum(ok.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "delivery_rec_per_s": tps,
        "repeats": REPEATS,
        "agg": "min",
        "sweep_wall_sec": wall,
        "n_queries_ok": len(ok),
        "query_errors": sorted(k for k in timings if k not in ok),
        # steal near 0% means neighbours on the host did not slow the sweep
        "host_canary": canary,
        # a pool that grows with the query count shows up here
        "driver_threads": thread_census([t.getName() for t in threads]),
    }
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json")
    with open(full_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(stdout_line(result))


class _DrainRuns(logging.Handler):
    """Collects the ``runId``, the Python passes and the state-store
    commit time of each closed-input drain's final-progress record
    (``windows.run_on_closed_input``)."""

    def __init__(self) -> None:
        super().__init__(logging.INFO)
        self.run_ids: list[str] = []
        self.py_passes = 0
        self.state_commit_ms = 0

    def emit(self, record: logging.LogRecord) -> None:
        progress = record.args.get("progress") if isinstance(record.args, dict) else None
        if progress:
            self.run_ids.append(progress["runId"])
            self.py_passes += record.args["py_passes"]
            self.state_commit_ms += record.args["state_commit_ms"]


class Profile(NamedTuple):
    took: float
    census: Census
    rows: int
    py_passes: int
    state_commit_ms: int


def _profile(spark, name: str, spec, sf: str) -> Profile:
    """One warm run's census: the jobs of its own job group plus the
    micro-batch jobs of every streaming drain it runs, which Spark puts
    under the drain's run id (``jobs_stream``), and the Python passes
    (``py_passes``, see ``shipping.python_passes``) of the executed
    plan plus those of each drain's last micro-batch: a drain's frame
    is its sink's table, so its own plan is gone by the time it
    returns. ``state_commit_ms`` sums the drains' state-store commit
    time over all their micro-batches."""
    spec.spark(spark, sf).collect()  # warm: codegen and caches
    _reset(spark)
    sc = spark.sparkContext
    group = f"bench-profile-{name}"
    log = logging.getLogger(windows.__name__)
    prev_level = log.level
    drains = _DrainRuns()
    log.addHandler(drains)
    log.setLevel(logging.INFO)
    sc.setJobGroup(group, name)
    try:
        t0 = time.perf_counter()
        df = spec.spark(spark, sf)
        rows = len(df.collect())
        took = time.perf_counter() - t0
        py = python_passes(spark, df._jdf.queryExecution().executedPlan())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        log.removeHandler(drains)
        log.setLevel(prev_level)
    c = StatusStore(spark).census(group, drains.run_ids)
    _reset(spark)
    return Profile(took, c, rows, py + drains.py_passes, drains.state_commit_ms)


def _profile_line(name: str, p: Profile) -> str:
    c = p.census
    return (
        f"PROFILE {name} {p.took:.3f}s jobs={c.jobs} jobs_stream={c.jobs_stream} "
        f"stages={c.stages} tasks={c.totals['tasks']} run_ms={c.totals['executor_run_ms']} "
        f"shuffle_write_bytes={c.totals['shuffle_write_bytes']} "
        f"py_passes={p.py_passes} state_commit_ms={p.state_commit_ms}"
    )


# The 10x tier: replica k's ids are offset by k * _REPLICA_ID_STRIDE,
# above every id the generated tables use.
_REPLICAS = 10
_REPLICA_ID_STRIDE = 10_000_000
_SCALE_METRICS = ("shuffle_write_bytes", "executor_run_ms")


def synthesize_10x(src: str, out: str) -> None:
    """Write a tier with ten times ``src``'s documents and embeddings to
    ``out``: the corpus grows with the same duplicate density, not by
    copies. Replica 0 is ``src`` verbatim. Replica k offsets its ids by
    k * ``_REPLICA_ID_STRIDE``, prefixes every token with ``r{k}`` (a
    vocabulary of its own, so no near-duplicate crosses replicas),
    recounts ``n_chars`` from the prefixed text and adds seeded
    N(0, 0.05) noise to its embeddings (the cluster geometry
    persists, exact duplicates stop being exact). The other tables are
    linked from ``src``."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import TABLES

    token = re.compile(r"[A-Za-z0-9]+")
    docs = pq.read_table(os.path.join(src, "documents.parquet")).to_pandas()
    emb = pq.read_table(os.path.join(src, "embeddings.parquet")).to_pandas()
    mat = np.vstack(emb["embedding"].to_numpy())
    doc_parts, emb_parts = [], []
    for k in range(_REPLICAS):
        d = docs.assign(doc_id=docs["doc_id"] + k * _REPLICA_ID_STRIDE)
        e = emb.assign(vec_id=emb["vec_id"] + k * _REPLICA_ID_STRIDE)
        if k:
            d["text"] = d["text"].map(
                lambda s, p=f"r{k}": token.sub(lambda m: p + m.group(0), s)
                if isinstance(s, str)
                else s
            )
            # A null text keeps the source's (null) count.
            d["n_chars"] = d["text"].str.len().fillna(d["n_chars"]).astype(docs["n_chars"].dtype)
            noise = np.random.default_rng(k).normal(0.0, 0.05, mat.shape)
            e["embedding"] = list((mat + noise).astype(mat.dtype))
        doc_parts.append(d)
        emb_parts.append(e)
    for name, parts in (("documents", doc_parts), ("embeddings", emb_parts)):
        table = pa.Table.from_pandas(pd.concat(parts, ignore_index=True), preserve_index=False)
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    for name in TABLES:
        if name not in ("documents", "embeddings"):
            os.symlink(os.path.join(src, f"{name}.parquet"), os.path.join(out, f"{name}.parquet"))


def growth_exponent(x0: float, y0: float, x1: float, y1: float) -> float | None:
    """Slope of log y against log x between two tiers, or None where
    it is undefined: equal sizes, or a zero reading."""
    if x0 == x1 or min(x0, y0, x1, y1) <= 0:
        return None
    return round(math.log(y1 / y0) / math.log(x1 / x0), 2)


def scale(spark, names: list[str], specs: dict) -> None:
    data = os.path.dirname(SF_DIR)
    base = os.path.join(data, "sf0.1")
    synth = tempfile.mkdtemp(prefix="bench_scale_10x_")
    try:
        synthesize_10x(base, synth)
        tiers = (("sf0.01", os.path.join(data, "sf0.01")), ("sf0.1", base), ("10x", synth))
        runs: dict[str, list[dict]] = {name: [] for name in names}
        for tier, sf in tiers:
            _warm_tables(spark, sf)
            for name in names:
                p = _profile(spark, name, specs[name], sf)
                row = {"query": name, "tier": tier, "rows": p.rows}
                row.update(
                    (k, p.census.totals[k]) for k in ("input_records", *_SCALE_METRICS)
                )
                runs[name].append(row)
                print(json.dumps(row), flush=True)
    finally:
        shutil.rmtree(synth, ignore_errors=True)
    for name, (lo, *_, hi) in runs.items():
        exponent = {
            k: growth_exponent(lo["input_records"], lo[k], hi["input_records"], hi[k])
            for k in _SCALE_METRICS
        }
        print(json.dumps({"query": name, "exponent": exponent}), flush=True)


def _plan(spark, spec, sf: str) -> str:
    df = spec.spark(spark, sf)
    txt = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    _reset(spark)
    return txt


def _check(spark, spec, sf: str) -> tuple[bool, str]:
    from tests.oracle_utils import compare

    try:
        df = spec.spark(spark, sf)
        if not spec.oracle:
            return True, f" no_oracle rows={df.count()}"
        ok, msg = compare(df, spec.oracle, sf)
        return ok, "" if ok else msg
    except Exception as exc:  # noqa: BLE001 — a raising query fails its check
        return False, f"{type(exc).__name__}: {exc}"
    finally:
        _reset(spark)


def probe(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="bench.py", description="Probe single catalog queries.")
    p.add_argument("mode", choices=["time", "profile", "plan", "check", "scale"])
    p.add_argument("names", nargs="+", metavar="qNN|name")
    p.add_argument("--sf", help="the tables' directory (default: the sweep's); not for scale")
    p.add_argument("--out", help="plan: write the plan of the one query to this file")
    args = p.parse_args(argv)
    specs = all_specs()
    names = resolve(args.names, specs)
    if args.out and (args.mode != "plan" or len(names) != 1):
        p.error("--out takes plan mode and one query")
    if args.sf and args.mode == "scale":
        p.error("scale runs its own tiers and takes no --sf")
    args.sf = args.sf or SF_DIR
    spark = get_spark(app_name=f"bench_{args.mode}")
    if args.mode == "scale":
        scale(spark, names, specs)
        return 0
    if args.mode in ("time", "profile"):
        _warm_tables(spark, args.sf)
    failed = 0
    for name in names:
        spec = specs[name]
        if args.mode == "time":
            best = _best_of(spark, name, spec, args.sf)
            failed += isinstance(best, dict)
            print(f"TIME {name} {best if isinstance(best, dict) else f'{best:.3f}'}", flush=True)
        elif args.mode == "profile":
            print(_profile_line(name, _profile(spark, name, spec, args.sf)), flush=True)
        elif args.mode == "plan":
            txt = _plan(spark, spec, args.sf)
            if args.out:
                with open(args.out, "w") as f:
                    f.write(txt)
                print(f"PLAN {name} -> {args.out} ({txt.count('Exchange')} Exchange refs)")
            else:
                print(f"===== {name} =====\n{txt}")
        else:
            ok, msg = _check(spark, spec, args.sf)
            print(f"CHECK {name} " + (f"OK{msg}" if ok else f"FAIL {msg[:300]}"), flush=True)
            failed += not ok
    return 1 if failed else 0


if __name__ == "__main__":
    if len(sys.argv) > 1:
        sys.exit(probe(sys.argv[1:]))
    sweep()
