"""Hypothesis property tests for the round-9b/9c/9d operators —
structural invariants that must hold for EVERY input, not just the
planted fixtures (the test_property_windows convention: few examples,
no deadline, Spark calls dominate)."""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aws_dla_kinesis_delivery_stream_example_spark.operators import (
    curation,
    sharding,
    skew,
)


def _hash60_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


_ids = st.lists(
    st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40, unique=True
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(ids=_ids)
def test_shard_manifest_reconciles_for_any_input(spark, ids):
    """For ANY id set: manifests partition the input
    (counts and chars sum to the input's), every shard value is in
    range, and the XOR checksum equals the independent Python fold."""
    df = spark.createDataFrame([(i, i % 97) for i in ids], "doc_id long, n_chars long")
    man = sharding.shard_manifest(df).collect()
    n_shards = sharding.N_SHARDS
    assert sum(r["n_docs"] for r in man) == len(ids)
    assert sum(r["total_chars"] for r in man) == sum(i % 97 for i in ids)
    seed = sharding.SHARD_SEED
    expect_xor: dict[int, int] = {}
    for i in ids:
        sh = _hash60_py(f"shard:{seed}:{i}") % n_shards
        expect_xor[sh] = expect_xor.get(sh, 0) ^ _hash60_py(f"order:{seed}:{i}")
    got = {r["shard"]: r["xor_check"] for r in man}
    assert got == expect_xor
    assert all(0 <= s < n_shards for s in got)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    old=st.dictionaries(st.integers(0, 50), st.integers(0, 3), max_size=30),
    new=st.dictionaries(st.integers(0, 50), st.integers(0, 3), max_size=30),
)
def test_snapshot_diff_is_a_partition_of_the_id_union(spark, old, new):
    """For ANY pair of snapshots: output ids == union of input ids
    (each exactly once), and each status matches the dict definition."""
    if not old and not new:
        return
    schema = "doc_id long, fp long, source string, n_chars long"
    old_df = spark.createDataFrame([(k, v, "s", 1) for k, v in old.items()], schema)
    new_df = spark.createDataFrame([(k, v, "s", 1) for k, v in new.items()], schema)
    got = {
        r["doc_id"]: r["status"]
        for r in curation.snapshot_diff(old_df, new_df).collect()
    }
    assert set(got) == set(old) | set(new)
    for i, status in got.items():
        if i not in new:
            assert status == "removed"
        elif i not in old:
            assert status == "added"
        elif old[i] != new[i]:
            assert status == "changed"
        else:
            assert status == "unchanged"


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(keys=st.lists(st.integers(min_value=-100, max_value=100), min_size=1, max_size=60))
def test_key_skew_audit_conservation_for_any_input(spark, keys):
    """For ANY key multiset (including negatives): row and key counts
    are conserved across buckets, and max_key_rows <= n_rows per
    bucket with the hot key's count equal to max_key_rows."""
    df = spark.createDataFrame([(k,) for k in keys], "user_id long")
    rows = skew.skew_rollup(skew.key_counts(df)).collect()
    assert sum(r["n_rows"] for r in rows) == len(keys)
    assert sum(r["n_keys"] for r in rows) == len(set(keys))
    for r in rows:
        assert 1 <= r["max_key_rows"] <= r["n_rows"]
        assert r["hot_key_rows"] == r["max_key_rows"]
        assert keys.count(r["hot_key"]) == r["hot_key_rows"]
