"""Round-12 planted/equivalence coverage.

Two members:
- q136_streaming_bloom: the streaming face must land on the q132
  hand-asserted planted rows (the q134 stream-equals-batch pattern).
- q137_hll_overlap: planted three-source fixture with hand-counted
  exact intersections AND the HLL estimates recomputed independently
  from raw md5 in pure Python (the test_round10_planted register-
  recompute discipline), so the sketch math cannot drift silently.
"""

from __future__ import annotations

import hashlib

import pytest

from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs

from .test_round11_planted import _write_documents, bloom_sf_dir  # noqa: F401

SPECS = all_specs()


def test_q136_streaming_bloom_equals_batch_on_planted(spark, bloom_sf_dir):  # noqa: F811
    """The streaming face on the planted lake must land on the SAME
    hand-asserted rows as q132 — including the searched false
    positive surviving the stream-static broadcast joins (the
    q133/q134 stream-equals-batch convention)."""
    rows = {
        r["source"]: r.asDict()
        for r in SPECS["q136_streaming_bloom"].spark(spark, bloom_sf_dir).collect()
    }
    assert set(rows) == {"contam", "clean", "fp"}
    assert rows["contam"] == {
        "source": "contam",
        "n_shingles": 1,
        "bloom_pos": 1,
        "exact_pos": 1,
        "false_pos": 0,
        "fpr_milli": None,
    }
    assert rows["fp"] == {
        "source": "fp",
        "n_shingles": 1,
        "bloom_pos": 1,
        "exact_pos": 0,
        "false_pos": 1,
        "fpr_milli": 1000,
    }


# ---------------------------------------------------------------- q137

# Hand-built shingle geometry (5-shingles): sA and sB share EXACTLY
# the shingle "a1 a2 a3 a4 a5"; sC shares nothing with either.
_OV_ROWS = [
    (1, "a1 a2 a3 a4 a5 a6", "en", "sA", None),  # 2 distinct shingles
    (2, "a1 a2 a3 a4 a5 b6", "en", "sB", None),  # 2; shares 1 with sA
    (3, "c1 c2 c3 c4 c5", "en", "sC", None),  # 1; disjoint
]


@pytest.fixture(scope="module")
def overlap_sf_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("hll_overlap_sf")
    return _write_documents(d, _OV_ROWS)


def _hll_est_py(hashes) -> int:
    """Independent pure-python recompute of the q128 register fold +
    estimate from raw 60-bit hashes — NOT the operator's code, so a
    lattice change on either side fails loudly here."""
    regs: dict[int, int] = {}
    for h in hashes:
        w = h >> 8
        rho = 53 - w.bit_length() if w > 0 else 53
        r = h % 256
        regs[r] = max(regs.get(r, 0), rho)
    s = sum(1 << (53 - rho) for rho in regs.values()) + (256 - len(regs)) * (1 << 53)
    alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    import decimal

    est = decimal.Decimal(alpha * 256.0 * 256.0 * 9007199254740992.0 / s)
    return int(est.quantize(decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP))


def _shingle_hashes(text: str, n: int = 5) -> set[int]:
    toks = text.lower().split()
    return {
        int(
            hashlib.md5(" ".join(toks[i : i + n]).encode()).hexdigest()[:15], 16
        )
        for i in range(len(toks) - n + 1)
    }


def test_q137_planted_overlap(spark, overlap_sf_dir):
    hs = {src: _shingle_hashes(text) for (_, text, _, src, _) in _OV_ROWS}
    assert len(hs["sA"] & hs["sB"]) == 1 and not hs["sA"] & hs["sC"]
    rows = {
        (r["src_a"], r["src_b"]): r.asDict()
        for r in SPECS["q137_hll_overlap"].spark(spark, overlap_sf_dir).collect()
    }
    assert set(rows) == {("sA", "sB"), ("sA", "sC"), ("sB", "sC")}
    for (a, b), row in rows.items():
        ea, eb = _hll_est_py(hs[a]), _hll_est_py(hs[b])
        eu = _hll_est_py(hs[a] | hs[b])
        want_inter = max(ea + eb - eu, 0)
        exact = len(hs[a] & hs[b])
        assert row["est_a"] == ea and row["est_b"] == eb, (a, b, row)
        assert row["est_union"] == eu and row["est_inter"] == want_inter
        assert row["exact_inter"] == exact
        if exact == 0:
            assert row["err_milli"] is None
        else:
            assert row["err_milli"] == 1000 * abs(want_inter - exact) // exact


def test_q137_inclusion_exclusion_on_disjoint_sketches(spark, overlap_sf_dir):
    """With tiny disjoint sets the raw HLL estimator is essentially
    exact per source, so the disjoint pairs must estimate ~0 overlap
    (clamped at 0, never negative)."""
    rows = {
        (r["src_a"], r["src_b"]): r["est_inter"]
        for r in SPECS["q137_hll_overlap"].spark(spark, overlap_sf_dir).collect()
    }
    assert rows[("sA", "sC")] >= 0 and rows[("sB", "sC")] >= 0


