"""Planted-signal tests for the round-4 corpus/analytics queries
(q77-q80) — the oracle rehearsal checks engine parity; these check the
*semantics* on inputs constructed to hit the edges."""

from __future__ import annotations

import pytest

from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def specs():
    return all_specs()


def test_vocab_topk_is_deterministic_and_ranked(spark, specs):
    out = specs["q77_vocabulary_topk"].spark(spark, SF).collect()
    assert 0 < len(out) <= 100
    ns = [r["n"] for r in out]
    assert ns == sorted(ns, reverse=True)  # ranked by frequency
    # ties broken by token => stable across runs
    again = specs["q77_vocabulary_topk"].spark(spark, SF).collect()
    assert out == again


def test_deterministic_sample_reproducible_and_bounded(spark, specs):
    out = specs["q78_deterministic_sample"].spark(spark, SF)
    rows = out.collect()
    per_source = {}
    for r in rows:
        per_source.setdefault(r["source"], []).append(r["rk"])
    for src, rks in per_source.items():
        assert rks == list(range(1, len(rks) + 1)), src  # dense ranks from 1
        assert len(rks) <= 20
    assert rows == out.collect()  # pure function of the data


def _run_funnel(spark, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string"
    ).selectExpr(
        "event_id",
        "CAST(ts_s AS TIMESTAMP) ts",
        "user_id",
        "event_type",
        "CAST(1.0 AS DOUBLE) value",
        "'{}' props",
    )
    df.createOrReplaceTempView("_funnel_events")
    import aws_dla_kinesis_delivery_stream_example_spark.plans.corpus as C

    # Reuse the plan body against the fixture by monkey-loading the
    # table through a temp view substitute.
    orig = C.load_table
    try:
        C.load_table = lambda s, d, n: s.table("_funnel_events")
        return {k: v for k, v in zip(
            ["n_sessions", "n_click_sessions", "n_converted", "conv_rate"],
            C.q80_session_funnel(spark, SF).collect()[0],
        )}
    finally:
        C.load_table = orig


def test_funnel_purchase_before_click_does_not_convert(spark):
    res = _run_funnel(
        spark,
        [
            # session A (user 1): purchase at 10:00, click at 10:05 ->
            # click session, NOT converted (purchase precedes first click)
            (1, "2024-01-01 10:00:00", 1, "purchase"),
            (2, "2024-01-01 10:05:00", 1, "click"),
            # session B (user 2): click 11:00, purchase 11:10 -> converted
            (3, "2024-01-01 11:00:00", 2, "click"),
            (4, "2024-01-01 11:10:00", 2, "purchase"),
            # session C (user 3): click 09:00; purchase lands >30 min
            # later => NEW session -> original session not converted
            (5, "2024-01-01 09:00:00", 3, "click"),
            (6, "2024-01-01 09:40:00", 3, "purchase"),
        ],
    )
    assert res["n_sessions"] == 4  # user 3 splits into two sessions
    assert res["n_click_sessions"] == 3
    assert res["n_converted"] == 1
    assert abs(res["conv_rate"] - round(1 / 3, 4)) < 1e-9


def test_funnel_same_instant_purchase_converts(spark):
    # purchase at EXACTLY the first click's timestamp counts (>=)
    res = _run_funnel(
        spark,
        [
            (1, "2024-01-01 10:00:00", 1, "click"),
            (2, "2024-01-01 10:00:00", 1, "purchase"),
        ],
    )
    assert res["n_sessions"] == 1
    assert res["n_converted"] == 1


def test_retention_cohort_offsets(spark, specs):
    out = specs["q79_retention_cohorts"].spark(spark, SF)
    rows = out.collect()
    assert all(r["day_offset"] >= 0 for r in rows)
    # every cohort has an offset-0 row (its own first day) and the
    # offset-0 user count is the cohort's size ceiling
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_day"], {})[r["day_offset"]] = r["n_users"]
    for day, offs in by_cohort.items():
        assert 0 in offs, day
        assert all(n <= offs[0] for n in offs.values()), day
