"""Property-based tests (hypothesis) for the event-time operators whose
edge cases are easiest to get wrong: the bounded interval join and
gaps-and-islands sessionization. Each is checked against a brute-force
Python reference on randomized small inputs — the same strategy
tests/test_property_serde.py applies to the serde path.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aws_dla_kinesis_delivery_stream_example_spark.streaming import windows as SW

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)

# events: (user in 0..2, offset seconds in 0..7200 at 1s grain, type)
_event = st.tuples(
    st.integers(min_value=0, max_value=2),
    st.integers(min_value=0, max_value=7200),
    st.sampled_from(["click", "purchase", "view"]),
)


def _mk_df(spark, events):
    rows = [
        (i, BASE + dt.timedelta(seconds=off), user, etype, 1.0, "{}")
        for i, (user, off, etype) in enumerate(events)
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_event, min_size=0, max_size=30))
def test_interval_join_matches_bruteforce(spark, events):
    df = _mk_df(spark, events)
    got = {
        (r["user_id"], r["l_ts"], r["r_ts"])
        for r in SW.interval_join_pairs(df).collect()
    }
    expect = set()
    for u1, off1, t1 in events:
        if t1 != "click":
            continue
        for u2, off2, t2 in events:
            if t2 != "purchase" or u2 != u1:
                continue
            if off1 <= off2 <= off1 + 1800:
                expect.add(
                    (
                        u1,
                        BASE + dt.timedelta(seconds=off1),
                        BASE + dt.timedelta(seconds=off2),
                    )
                )
    assert got == expect


def _brute_sessions(events, gap_s=1800):
    """Reference: per user, sort by (ts, event_id); split when the gap
    from the previous event STRICTLY exceeds gap_s (q22 convention)."""
    by_user: dict[int, list[tuple[int, int]]] = {}
    for i, (user, off, _t) in enumerate(events):
        by_user.setdefault(user, []).append((off, i))
    out = {}
    for user, evs in by_user.items():
        evs.sort()
        sessions, cur = [], []
        prev = None
        for off, _i in evs:
            if prev is not None and off - prev > gap_s:
                sessions.append(cur)
                cur = []
            cur.append(off)
            prev = off
        sessions.append(cur)
        out[user] = sorted(len(s) for s in sessions)
    return out


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_event, min_size=1, max_size=30))
def test_session_funnel_session_count_matches_bruteforce(spark, events):
    """q80's session assignment (the ACTUAL production helper,
    plans.corpus.session_assignment) must produce exactly the
    brute-force gaps-and-islands sessions."""
    from aws_dla_kinesis_delivery_stream_example_spark.plans.corpus import (
        session_assignment,
    )

    df = _mk_df(spark, events)
    sessions = session_assignment(df)
    per = (
        sessions.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    got: dict[int, list[int]] = {}
    for r in per:
        got.setdefault(r["user_id"], []).append(r["n"])
    got = {u: sorted(v) for u, v in got.items()}
    assert got == _brute_sessions(events)
