"""Randomized brute-force equivalence tests for the round-9b/9c
operators: the Spark plans against exhaustive pure-Python
reimplementations on seeded random inputs — a third vote independent
of both Spark and the DuckDB oracle (the q104 convention)."""

from __future__ import annotations

import hashlib
import random
import re

from aws_dla_kinesis_delivery_stream_example_spark.operators import curation, skew


def _hash60_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _lev_py(a: str, b: str) -> int:
    """Textbook Wagner-Fischer edit distance."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def _shingles_py(text: str, n: int) -> set[str]:
    toks = re.findall(r"[a-z0-9]+", text.lower())
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_fuzzy_contamination_matches_exhaustive_python(spark):
    """Random corpus of word-salad docs, some derived from bench docs
    by bounded edits: the operator's full output (membership, counts,
    best struct) must equal the exhaustive all-pairs Python result."""
    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(30)]
    bench = []
    for b in range(4):
        bench.append((b, " ".join(rng.choice(vocab) for _ in range(12))))
    cand = []
    for c in range(10, 30):
        if rng.random() < 0.4:
            # perturb a bench doc: swap a few words
            base = rng.choice(bench)[1].split()
            for _ in range(rng.randrange(0, 4)):
                base[rng.randrange(len(base))] = rng.choice(vocab)
            cand.append((c, " ".join(base)))
        else:
            cand.append((c, " ".join(rng.choice(vocab) for _ in range(12))))

    n, max_milli = curation.CONTAM_N, curation.FUZZY_MAX_DIST_MILLI
    expect: dict[int, tuple] = {}
    for cid, ctext in cand:
        csh = _shingles_py(ctext, n)
        blocked = [
            (bid, btext) for bid, btext in bench if csh & _shingles_py(btext, n)
        ]
        gated = []
        for bid, btext in blocked:
            lev = _lev_py(ctext, btext)
            mlen = max(len(ctext), len(btext), 1)
            if 1000 * lev <= max_milli * mlen:
                gated.append((1000 * lev // mlen, bid))
        if gated:
            best = min(gated)
            expect[cid] = (len(blocked), len(gated), best[0], best[1])

    cand_df = spark.createDataFrame(cand, "doc_id long, text string")
    bench_df = spark.createDataFrame(bench, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_blocked"],
            r["n_fuzzy"],
            r["best_lev_milli"],
            r["best_bench"],
        )
        for r in curation.fuzzy_contamination(cand_df, bench_df).collect()
    }
    assert got == expect
    assert expect, "seed produced no contaminated docs — test is vacuous"


def test_snapshot_diff_matches_exhaustive_python(spark):
    """Random overlapping id sets with random fingerprint agreement:
    classification must match the dict-based Python diff exactly."""
    rng = random.Random(7)
    old = {i: rng.randrange(5) for i in rng.sample(range(60), 35)}
    new = {i: rng.randrange(5) for i in rng.sample(range(60), 35)}
    expect = {}
    for i in set(old) | set(new):
        if i not in new:
            expect[i] = "removed"
        elif i not in old:
            expect[i] = "added"
        elif old[i] != new[i]:
            expect[i] = "changed"
        else:
            expect[i] = "unchanged"
    schema = "doc_id long, fp long, source string, n_chars long"
    old_df = spark.createDataFrame([(k, v, "s", 1) for k, v in old.items()], schema)
    new_df = spark.createDataFrame([(k, v, "s", 1) for k, v in new.items()], schema)
    got = {
        r["doc_id"]: r["status"]
        for r in curation.snapshot_diff(old_df, new_df).collect()
    }
    assert got == expect
    assert len(set(expect.values())) == 4, "seed missed a status class"


def test_key_skew_audit_matches_exhaustive_python(spark):
    """Random zipf-ish keys: per-bucket volumes, cardinalities, and
    struct-max hot keys must equal the Counter-based Python audit."""
    rng = random.Random(3)
    keys = [rng.randrange(1, 40) ** 2 % 37 for _ in range(500)]
    n_buckets = skew.SKEW_BUCKETS
    counts: dict[int, int] = {}
    for k in keys:
        counts[k] = counts.get(k, 0) + 1
    expect: dict[int, dict] = {}
    for k, c in counts.items():
        b = _hash60_py(str(k)) % n_buckets
        e = expect.setdefault(
            b, {"n_rows": 0, "n_keys": 0, "max_key_rows": 0, "hot": (0, 0)}
        )
        e["n_rows"] += c
        e["n_keys"] += 1
        e["max_key_rows"] = max(e["max_key_rows"], c)
        e["hot"] = max(e["hot"], (c, k))
    df = spark.createDataFrame([(k,) for k in keys], "user_id long")
    got = {r["bucket"]: r for r in skew.key_skew_audit(df).collect()}
    assert set(got) == set(expect)
    for b, e in expect.items():
        r = got[b]
        assert (r["n_rows"], r["n_keys"], r["max_key_rows"]) == (
            e["n_rows"],
            e["n_keys"],
            e["max_key_rows"],
        )
        assert (r["hot_key_rows"], r["hot_key"]) == e["hot"]
