"""Round-8 second-batch operator unit tests (q103-q107 family):
hand-computed chunk-dedup rewrites, a brute-force single-stage
equivalence check for the two-stage weighted sampler, the fixed-point
PageRank lattice verified against a by-hand 3-node trace, a planted
anomaly spike, and the cross-source overlap matrix on a crafted
corpus — complementing the oracle-parity gate that checks the catalog
specs against DuckDB."""

from __future__ import annotations

import hashlib
import math
import random
from collections import Counter

from pyspark.sql import functions as F

from aws_dla_kinesis_delivery_stream_example_spark.operators import (
    anomaly,
    curation,
    graph,
    sampling,
)


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


# ---------------------------------------------------------------- q103


def _chunk(tag: str, n: int = curation.DEDUP_CHUNK_TOKENS) -> str:
    return " ".join(f"{tag}{i}" for i in range(n))


def test_chunk_dedup_rewrite_planted(spark):
    """Hand-computed rewrite on 16-token chunks A, B, X: doc 1 (A B)
    owns both its chunks (first occurrence by min doc_id), doc 2 (A X)
    loses its copied head chunk but keeps its own tail, doc 3 is a full
    duplicate of doc 1 and is rewritten to empty, doc 4 is empty input,
    doc 5's head chunk duplicates doc 1's TAIL chunk (cross-position
    dedup) and its one-token tail survives."""
    a, b, x = _chunk("a"), _chunk("b"), _chunk("x")
    df = _docs(
        spark,
        [
            (1, f"{a} {b}", "s"),
            (2, f"{a} {x}", "s"),
            (3, f"{a} {b}", "s"),
            (4, "", "s"),
            (5, f"{b} g", "s"),
        ],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in curation.chunk_dedup_rewrite(df).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1] == {
        "doc_id": 1,
        "n_chunks": 2,
        "n_kept": 2,
        "removed_frac": 0.0,
        "kept_hash": _h60(f"{a} {b}"),
    }
    assert out[2]["n_kept"] == 1 and out[2]["removed_frac"] == 0.5
    assert out[2]["kept_hash"] == _h60(x)
    assert out[3]["n_kept"] == 0 and out[3]["removed_frac"] == 1.0
    assert out[3]["kept_hash"] == _h60("")
    assert out[4] == {
        "doc_id": 4,
        "n_chunks": 0,
        "n_kept": 0,
        "removed_frac": None,
        "kept_hash": _h60(""),
    }
    # doc 5: B duplicates doc 1's SECOND chunk; only "g" survives
    assert out[5]["n_chunks"] == 2 and out[5]["n_kept"] == 1
    assert out[5]["kept_hash"] == _h60("g")


# ---------------------------------------------------------------- q104


def _es_key(doc_id: int, w: int) -> float:
    u = (_h60(str(doc_id)) + 1) / float(2**60)
    return -math.log(u) / w


def test_weighted_sample_matches_single_stage_brute_force(spark):
    """The two-stage (salted) top-k must equal the single-stage
    Efraimidis-Spirakis sample computed brute-force in Python over the
    identical deterministic keys — exactness of the salt cut is the
    union-bound argument the docstring makes; this pins it. Every
    (stratum, salt) cell holds more than WEIGHTED_K rows, so the stage-1
    cut drops rows in every cell."""
    rng = random.Random(8)
    rows = [
        (f"src{r % 3}", r, rng.randint(1, 1000)) for r in range(2000)
    ]
    cells = Counter((src, doc % sampling._N_SALT) for (src, doc, _) in rows)
    assert len(cells) == 3 * sampling._N_SALT
    assert min(cells.values()) > sampling.WEIGHTED_K
    df = spark.createDataFrame(rows, "source string, doc_id long, w long")
    got = [
        (r["source"], r["rnk"], r["doc_id"], r["w"])
        for r in sampling.weighted_sample(df, F.col("w"))
        .orderBy("source", "rnk")
        .collect()
    ]
    expected = []
    for s in ("src0", "src1", "src2"):
        members = [(doc, w) for (src, doc, w) in rows if src == s]
        members.sort(key=lambda t: (_es_key(t[0], t[1]), t[0]))
        expected.extend(
            (s, rnk + 1, doc, w)
            for rnk, (doc, w) in enumerate(members[: sampling.WEIGHTED_K])
        )
    assert got == expected


def test_weighted_sample_prefers_heavy_rows(spark):
    """A row with overwhelming weight is (deterministically) included:
    w=10^9 against 99 rows of w=1 gives it a ~2^-30 chance of missing
    a WEIGHTED_K cut under the ES distribution — if it's absent, the
    operator is ignoring the weight column."""
    rows = [("s", i, 1) for i in range(99)] + [("s", 999, 10**9)]
    df = spark.createDataFrame(rows, "source string, doc_id long, w long")
    got = {
        r["doc_id"]
        for r in sampling.weighted_sample(df, F.col("w")).collect()
    }
    assert 999 in got


# ---------------------------------------------------------------- q105


def test_rolling_zscore_flags_planted_spike(spark):
    """One user, 20 alternating calm values then a spike: only the
    spike row is flagged; calm rows (|z| ~ 1) and the warm-up rows
    (n < min_n) never appear."""
    rows = [(i, 1, i, 1000 if i % 2 == 0 else 1010) for i in range(20)]
    rows.append((20, 1, 20, 100000))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, v_milli long"
    )
    out = anomaly.rolling_zscore(df).collect()
    assert [r["event_id"] for r in out] == [20]
    assert out[0]["z"] > 100  # spike is wildly outside the calm band


def test_rolling_zscore_excludes_zero_variance_windows(spark):
    """Constant history then a spike: the window variance is zero, so
    the row is EXCLUDED (no division blow-up, no NULL row) — the
    documented var_num > 0 guard."""
    rows = [(i, 1, i, 1000) for i in range(15)] + [(15, 1, 15, 99999)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, v_milli long"
    )
    out = anomaly.rolling_zscore(df).collect()
    assert out == []


# ---------------------------------------------------------------- q106


def test_source_overlap_planted_matrix(spark):
    """Three sources on word 5-grams: a == b (Jaccard 1), c shares one
    5-gram with each (Jaccard 1/4, containment 1/2), and the shared
    'w1 .. w5' 5-gram carried by all three exercises the upper-triangle
    explode (sources array [a,b,c] -> pairs ab, ac, bc)."""
    df = _docs(
        spark,
        [
            (1, "w1 w2 w3 w4 w5 w6", "a"),
            (2, "w1 w2 w3 w4 w5 w6", "b"),
            (3, "w1 w2 w3 w4 w5 q9 q8", "c"),
        ],
    )
    out = {
        (r["src_a"], r["src_b"]): r.asDict()
        for r in curation.source_overlap(df).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = out[("a", "b")]
    assert ab["n_shared"] == 2 and ab["n_a"] == 2 and ab["n_b"] == 2
    assert ab["jaccard"] == 1.0 and ab["containment"] == 1.0
    for pair in (("a", "c"), ("b", "c")):
        row = out[pair]
        assert row["n_shared"] == 1 and row["n_b"] == 3
        assert row["jaccard"] == 0.25 and row["containment"] == 0.5


# ---------------------------------------------------------------- q107


def test_pagerank_fixed_point_hand_lattice(spark):
    """3-node path graph 1-2-3, three iterations traced by hand on the
    integer lattice (r//deg contributions, (85*S)//100 damping):
        r1 = (575000, 1850000, 575000)
        r2 = (936250, 1127500, 936250)
        r3 = (629187, 1741625, 629187)
    Any drift from the traced values means the arithmetic left the
    integer lattice (float sums / wrong truncation order)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    out = {
        r["doc"]: r.asDict()
        for r in graph.pagerank_fixed_point(pairs).collect()
    }
    assert out[1] == {"doc": 1, "degree": 1, "rank_u": 629187}
    assert out[2] == {"doc": 2, "degree": 2, "rank_u": 1741625}
    assert out[3] == {"doc": 3, "degree": 1, "rank_u": 629187}


def test_shared_shingle_pairs_equals_threshold0_jaccard(spark):
    """q107's edge derivation: shared_shingle_pairs must return exactly
    shingle_jaccard_pairs(threshold=0) projected to (doc_a, doc_b) —
    same shingling, same max_df valve, minus the dead jaccard
    arithmetic. The corpus exercises the df cap: a boilerplate run
    shared by more docs than the cap (its shingles are dropped, so
    those docs pair only through rare shingles), plus rare-shingle
    near-dups."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators import dedup
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    cap = dedup._SHARED_MAX_DF
    boiler = "the quick brown fox jumps over the lazy dog"
    rows = [(i, boiler + f" unique tail {i} alpha beta gamma delta") for i in range(cap + 2)]
    rows += [(100, "one two three four five six seven"), (101, "one two three four five six eight")]
    # two boilerplate docs that also share a rare tail
    rows += [(102, boiler + " rare tail shared here too"), (103, boiler + " rare tail shared here too")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    try:
        fast = {
            (r.doc_a, r.doc_b)
            for r in dedup.shared_shingle_pairs(docs).collect()
        }
        full = {
            (r.doc_a, r.doc_b)
            for r in dedup.shingle_jaccard_pairs(
                docs, threshold=0.0, max_df=cap
            ).collect()
        }
        assert fast == full == {(100, 101), (102, 103)}, (fast, full)
    finally:
        release_staging()


def test_pagerank_symmetric_mass_and_isolated_pair(spark):
    """A disconnected 2-clique keeps the fixed point: both nodes have
    deg 1 and contribute their full rank to each other, so rank stays
    exactly PR_INIT every iteration (150000 + 850000 == PR_INIT)."""
    pairs = spark.createDataFrame([(7, 8)], "doc_a long, doc_b long")
    out = {
        r["doc"]: r["rank_u"]
        for r in graph.pagerank_fixed_point(pairs).collect()
    }
    assert out == {7: graph.PR_INIT, 8: graph.PR_INIT}
