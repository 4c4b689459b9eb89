#!/usr/bin/env python
"""Full-catalog driver-contract rehearsal (the local mirror of the
external driver's t2 correctness gate).

Loads `__spark_entry__.py` exactly the way the driver does (fresh
module, DRIVER-BUILT SparkSession — none of get_spark's configs), runs
`entry()` (t1 smoke) and then EVERY `queries()` entry at sf0.01,
comparing against the DuckDB `oracle_sql()` where one exists. Entries
without an oracle record rows-only. Writes one JSON file compatible
with the driver's CORRECTNESS_r{N}.json shape.

Usage: python scripts/t2_rehearsal.py [out.json] [sf_dir]
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "CORRECTNESS_local.json")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    # t1 smoke: entry() must run and return >= 0 rows on a driver session
    t0 = time.perf_counter()
    n = len(mod.entry(spark).collect())
    print(f"RESULT t1_smoke rows={n} sec={time.perf_counter() - t0:.2f}", flush=True)

    import bench
    from tests.oracle_utils import compare_frames

    qs, osql = mod.queries(), mod.oracle_sql()
    report: dict[str, dict] = {}
    n_pass = n_rows_only = n_fail = 0
    for name, fn in qs.items():
        t0 = time.perf_counter()
        entry: dict = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        try:
            df = fn(spark, sf_dir)
            if name in osql:
                # one execution: the collected frame is both compared
                # and counted
                pdf = df.toPandas()
                ok, msg = compare_frames(pdf, osql[name], sf_dir)
                entry["spark_rows"] = len(pdf)
                entry["rows_match"] = entry["schema_match"] = entry["hash_match"] = ok
                if ok:
                    entry["oracle_rows"] = entry["spark_rows"]
                    n_pass += 1
                else:
                    entry["err"] = msg
                    n_fail += 1
            else:
                entry["spark_rows"] = df.count()
                entry["err"] = "no_oracle"
                n_rows_only += 1
        except Exception:
            entry["err"] = traceback.format_exc(limit=3)
            n_fail += 1
        finally:
            # Per-query scratch (staging tables, caches) must not
            # accumulate across the catalog. In this single-threaded
            # loop a frame still staged on another thread is a
            # cross-thread staging leak: fail the run loudly.
            leaked = bench._reset(spark)
            assert leaked == 0, (
                f"{name}: {leaked} staged frame(s) leaked across threads"
            )
        status = "FAIL" if entry["err"] and entry["err"] != "no_oracle" else (
            "rows-only" if entry["err"] == "no_oracle" else "ok")
        print(
            f"RESULT {name} {status} rows={entry['spark_rows']} "
            f"sec={time.perf_counter() - t0:.2f}",
            flush=True,
        )
        report[name] = entry

    # Provenance: stamp the artifact with the data it ran against
    # (events schema + mtime + run time), so a report made before the
    # test data was regenerated is detectably stale. Provenance must
    # never cost the report itself: if the schema read fails (test data
    # regenerating mid-run — the very case _meta detects), record the
    # error and still write every query result.
    try:
        import pyarrow.parquet as _pq

        ev_path = os.path.join(sf_dir, "events.parquet")
        from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs

        # The driver sees catalog names unaliased: a divergence fails
        # into _meta.err.
        exposed = set(mod.queries())
        assert exposed == set(all_specs()), (
            "exposed names diverge from catalog names: "
            f"{sorted(exposed ^ set(all_specs()))[:5]}"
        )
        # The driver's oracle window is the first 50 exposed names:
        # record it, so the artifact states which queries carry driver
        # rows.
        window_first_50 = list(mod.queries())[:50]
        # The artifact declares the catalog extent it ran against;
        # tests/test_catalog_extent.py pins the newest committed
        # artifact's extent to plans.CATALOG_EXTENT, so a catalog
        # addition fails pytest.
        from aws_dla_kinesis_delivery_stream_example_spark.plans import (
            CATALOG_EXTENT,
        )

        assert len(all_specs()) == CATALOG_EXTENT
        report["_meta"] = {
            "sf_dir": sf_dir,
            "catalog_extent": CATALOG_EXTENT,
            "driver_window_first_50": window_first_50,
            "generated_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "events_mtime": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime(os.path.getmtime(ev_path))
            ),
            "events_schema": {
                f.name: str(f.type) for f in _pq.read_schema(ev_path)
            },
        }
    except Exception as exc:  # noqa: BLE001
        report["_meta"] = {"sf_dir": sf_dir, "err": f"{type(exc).__name__}: {exc}"[:300]}
    with open(out_path, "w") as f:
        json.dump(report, f, indent=2)
    print(
        f"RESULT summary total={len(qs)} pass={n_pass} rows_only={n_rows_only} "
        f"fail={n_fail} -> {out_path}",
        flush=True,
    )
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
