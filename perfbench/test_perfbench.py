"""Tests of the benchmark's own helpers. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys

import pytest

from perfbench.census import (
    attribute_jobs,
    geomean,
    interval_union,
    percentile,
    tree_cpu_s,
)
from perfbench.inputs import (
    FATE_DROP,
    FATE_FAIL,
    make_bank_accounts,
    make_tables,
    write_delivery_source,
)
from perfbench.trace import Tracer


# -- percentile rule ----------------------------------------------------------

def test_percentile_interpolates_like_numpy_linear():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 90) == pytest.approx(3.7)
    assert percentile([7.0], 90) == 7.0


def test_percentile_median_agrees_with_statistics():
    xs = [3.1, 9.4, 1.2, 7.7, 5.0, 2.2]
    assert percentile(xs, 50) == pytest.approx(statistics.median(xs))


def test_percentile_and_geomean_reject_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)


# -- job-interval union -------------------------------------------------------

def test_interval_union_counts_overlap_once():
    assert interval_union([]) == 0.0
    assert interval_union([(0, 2)]) == 2
    assert interval_union([(0, 2), (1, 3)]) == 3  # overlap
    assert interval_union([(0, 10), (2, 3)]) == 10  # nested
    assert interval_union([(5, 6), (0, 1)]) == 2  # disjoint, unsorted
    assert interval_union([(0, 1), (1, 2)]) == 2  # touching
    assert interval_union([(0, 1), (0, 1)]) == 1  # duplicate


def test_interval_union_rejects_reversed_interval():
    with pytest.raises(ValueError):
        interval_union([(2, 1)])


# -- process-tree CPU -----------------------------------------------------------

def test_tree_cpu_counts_a_reaped_child_and_no_jit_outside_a_jvm():
    cpu0, jit0 = tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(range(5_000_000))"], check=True)
    cpu1, jit1 = tree_cpu_s()
    assert cpu1 - cpu0 >= 0.03
    assert jit0 == jit1 == 0.0


# -- two-group job attribution ------------------------------------------------

def test_drain_jobs_sum_caller_group_and_run_id_group():
    # A drain: the caller's group holds the finalize job, the streaming
    # query's runId group holds the micro-batch jobs.
    got = attribute_jobs([7], {"run-1": [4, 5, 6]})
    assert got == {"jobs": [4, 5, 6, 7], "caller": 1, "stream": 3}


def test_attribution_counts_a_job_in_both_groups_once():
    got = attribute_jobs([1, 2], {"run-a": [2, 3], "run-b": [3, 4]})
    assert got["jobs"] == [1, 2, 3, 4]
    assert got["caller"] + got["stream"] == len(got["jobs"])


def test_attribution_without_streams_or_caller():
    assert attribute_jobs([1, 2], {}) == {"jobs": [1, 2], "caller": 2, "stream": 0}
    assert attribute_jobs([], {"r": [9]}) == {"jobs": [9], "caller": 0, "stream": 1}


# -- spans ----------------------------------------------------------------------

def test_self_time_subtracts_covered_part_of_children():
    t = Tracer()
    root = t.add("pass", 0.0, 10.0, None)
    t.add("job", 2.0, 4.0, root)
    t.add("job", 3.0, 6.0, root)  # overlaps the first job
    t.add("job", 9.0, 12.0, root)  # sticks out of the parent
    selves = t.self_times()
    assert selves["pass"] == pytest.approx(10 - 4 - 1)
    assert selves["job"] == pytest.approx(2 + 3 + 3)


def test_adopt_picks_the_tightest_containing_span():
    t = Tracer()
    outer = t.add("stream", 0.0, 10.0, None)
    batch = t.add("batch", 1.0, 5.0, outer)
    sink = t.add("sink", 2.0, 3.0, None)
    stray = t.add("sink", 11.0, 12.0, None)
    t.adopt([sink, stray], [outer, batch])
    assert t.spans[sink].parent == batch
    assert t.spans[stray].parent is None


# -- seeded inputs --------------------------------------------------------------

def test_bank_accounts_are_seeded_and_counts_match_planted_fates():
    recs, exp = make_bank_accounts(5, 4000)
    again, exp2 = make_bank_accounts(5, 4000)
    other, _ = make_bank_accounts(6, 4000)
    assert recs == again and exp == exp2
    assert recs != other
    fates = [r["balance"] % 10 for r in recs]
    assert exp.n_input == 4000
    assert exp.n_dropped == fates.count(FATE_DROP) > 0
    assert exp.n_failed == fates.count(FATE_FAIL) > 0
    assert exp.n_ok == exp.n_input - exp.n_dropped - exp.n_failed
    assert len({r["id"] for r in recs}) == 4000


def test_planted_transform_outcomes_match_expected_counts():
    pytest.importorskip("pyspark")
    from aws_dla_kinesis_delivery_stream_example_spark.streaming.transform import DropIt
    from perfbench.workloads import planted_transform

    recs, exp = make_bank_accounts(11, 3000)
    fn = planted_transform()
    dropped = failed = 0
    for r in recs:
        try:
            fn(r)
        except DropIt:
            dropped += 1
        except ValueError:
            failed += 1
    assert (dropped, failed) == (exp.n_dropped, exp.n_failed)


def test_expected_sink_counts_per_stream():
    _, exp = make_bank_accounts(3, 1000)
    sinks = exp.sinks()
    assert sinks["to-s3"] == {
        "01-backup": 1000,
        "03-success": exp.n_ok,
        "04-failed": exp.n_failed,
        "documents": 0,
    }
    assert sinks["to-oss"] == {
        "01-backup": 1000,
        "03-success": 1000,
        "04-failed": 0,
        "documents": 1000,
    }


def test_delivery_source_has_equal_files(tmp_path):
    exp = write_delivery_source(8, str(tmp_path), n_files=3, records_per_file=50)
    files = sorted(os.listdir(tmp_path))
    assert len(files) == 3
    for f in files:
        with open(tmp_path / f) as fh:
            assert len(fh.readlines()) == 50
    assert exp.n_input == 150


def test_tables_are_seeded_and_keep_fixture_schemas():
    a, b, c = make_tables(1), make_tables(1), make_tables(2)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["documents"].equals(c["documents"])
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    docs = a["documents"].to_pylist()
    assert all(d["n_chars"] == len(d["text"]) and d["text"].isascii() for d in docs)
    assert any(d["text"].endswith(" dup") for d in docs)
