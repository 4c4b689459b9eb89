"""Planted-value tests for the round-9b operators (q115-q118): known
tiny inputs with hand-computed outputs, independent of the DuckDB
oracle machinery (which could share a misunderstanding with the Spark
plan)."""

from __future__ import annotations

import hashlib


from aws_dla_kinesis_delivery_stream_example_spark.operators import (
    curation,
    sharding,
    skew,
)


def _hash60_py(s: str) -> int:
    """Python reimplementation of the engine-portable 60-bit hash —
    the third, engine-independent vote for the planted checks."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------- q115


def test_assign_shards_matches_python_hash(spark):
    """Shard and order key are pure functions of (SHARD_SEED, id): the
    Spark values must equal an independent Python md5 computation, and
    the two hash streams must be domain-separated (different tags)."""
    df = spark.createDataFrame([(7,), (8,)], "doc_id long")
    rows = {r["doc_id"]: r for r in sharding.assign_shards(df).collect()}
    n = sharding.N_SHARDS
    for i in (7, 8):
        assert rows[i]["shard"] == _hash60_py(f"shard:17:{i}") % n
        assert rows[i]["order_key"] == _hash60_py(f"order:17:{i}")
        # domain separation: shard hash != order hash for the same id
        assert rows[i]["order_key"] % n != rows[i]["shard"] or _hash60_py(
            f"order:17:{i}"
        ) != _hash60_py(f"shard:17:{i}")


def test_shard_manifest_planted_and_partitioning_invariant(spark):
    """Manifest totals reconcile with the input, the XOR checksum
    equals the Python-side XOR, and re-partitioning the input (a
    different cluster layout) yields an IDENTICAL manifest — the
    reproducibility contract the operator exists for."""
    ids = list(range(20))
    df = spark.createDataFrame([(i, 10 + i) for i in ids], "doc_id long, n_chars long")
    man = {
        r["shard"]: r
        for r in sharding.shard_manifest(df).collect()
    }
    expect: dict[int, list[int]] = {}
    for i in ids:
        expect.setdefault(_hash60_py(f"shard:17:{i}") % sharding.N_SHARDS, []).append(i)
    assert set(man) == set(expect)
    for sh, members in expect.items():
        keys = [_hash60_py(f"order:17:{i}") for i in members]
        xor = 0
        for k in keys:
            xor ^= k
        assert man[sh]["n_docs"] == len(members)
        assert man[sh]["total_chars"] == sum(10 + i for i in members)
        assert man[sh]["xor_check"] == xor
        assert man[sh]["min_key"] == min(keys)
        assert man[sh]["max_key"] == max(keys)
    assert sum(r["n_docs"] for r in man.values()) == len(ids)
    # layout invariance: 7-way round-robin repartition, same manifest
    man2 = {
        r["shard"]: r
        for r in sharding.shard_manifest(df.repartition(7)).collect()
    }
    assert {k: v.asDict() for k, v in man.items()} == {
        k: v.asDict() for k, v in man2.items()
    }


# ---------------------------------------------------------------- q116


def test_snapshot_diff_planted(spark):
    """1 only-old (removed), 2 same fp (unchanged), 3 fp differs
    (changed), 4 only-new (added); source / n_chars prefer the NEW side."""
    old = spark.createDataFrame(
        [(1, 11, "a", 10), (2, 22, "b", 20), (3, 33, "c", 30)],
        "doc_id long, fp long, source string, n_chars long",
    )
    new = spark.createDataFrame(
        [(2, 22, "b", 20), (3, 34, "c2", 31), (4, 44, "d", 40)],
        "doc_id long, fp long, source string, n_chars long",
    )
    got = {
        r["doc_id"]: (r["status"], r["source"], r["n_chars"])
        for r in curation.snapshot_diff(old, new).collect()
    }
    assert got == {
        1: ("removed", "a", 10),
        2: ("unchanged", "b", 20),
        3: ("changed", "c2", 31),  # freshest metadata wins
        4: ("added", "d", 40),
    }


def test_snapshot_diff_null_fingerprints_classify_unchanged(spark):
    """NULL fingerprints (NULL-text docs) on both sides: NULL != NULL
    is NULL, so the CASE falls through to 'unchanged' — identically on
    Spark and DuckDB (documented degenerate rule in q116)."""
    schema = "doc_id long, fp long, source string, n_chars long"
    old = spark.createDataFrame([(1, None, "s", 1)], schema)
    new = spark.createDataFrame([(1, None, "s", 1)], schema)
    [r] = curation.snapshot_diff(old, new).collect()
    assert r["status"] == "unchanged"


# ---------------------------------------------------------------- q118


def test_key_skew_audit_planted_single_bucket(spark):
    """Keys 1, 35 and 71 all hash to bucket 24 of ``SKEW_BUCKETS``, so
    one bucket folds everything: totals and the hottest key are
    hand-checkable."""
    assert {_hash60_py(str(k)) % skew.SKEW_BUCKETS for k in (1, 35, 71)} == {24}
    df = spark.createDataFrame([(k,) for k in [1, 1, 1, 35, 71]], "user_id long")
    [r] = skew.skew_rollup(skew.key_counts(df)).collect()
    assert (r["bucket"], r["n_rows"], r["n_keys"], r["max_key_rows"]) == (24, 5, 3, 3)
    assert (r["hot_key"], r["hot_key_rows"]) == (1, 3)


def test_key_skew_audit_tie_breaks_to_larger_key(spark):
    """Equal counts: the lexicographic struct max picks the LARGER key
    — deterministic across engines and partitionings (no max_by tie
    nondeterminism). Keys 5 and 19 share a bucket."""
    assert _hash60_py("5") % skew.SKEW_BUCKETS == _hash60_py("19") % skew.SKEW_BUCKETS
    df = spark.createDataFrame([(5,), (5,), (19,), (19,)], "user_id long")
    [r] = skew.skew_rollup(skew.key_counts(df)).collect()
    assert (r["hot_key"], r["hot_key_rows"]) == (19, 2)


def test_key_skew_audit_row_conservation(spark):
    """sum(n_rows) over buckets == input rows; every key lands in
    exactly one bucket."""
    df = spark.createDataFrame([(i % 13,) for i in range(100)], "user_id long")
    rows = skew.key_skew_audit(df).collect()
    assert sum(r["n_rows"] for r in rows) == 100
    assert sum(r["n_keys"] for r in rows) == 13
    assert all(0 <= r["bucket"] < skew.SKEW_BUCKETS for r in rows)


# ---------------------------------------------------------------- q119


def test_fuzzy_contamination_planted(spark):
    """cand 10 is a light edit of bench 1 (shares 4-grams, small lev);
    cand 11 shares a 4-gram but is mostly different text (blocked but
    NOT fuzzy-flagged => absent from output); cand 12 shares no 4-gram
    with any bench doc (never blocked, never scored)."""
    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy cat tonight"),
            (11, "the quick brown fox " + "completely unrelated words " * 20),
            (12, "nothing in common with anything at all here"),
        ],
        "doc_id long, text string",
    )
    rows = curation.fuzzy_contamination(cand, bench).collect()
    assert [r["doc_id"] for r in rows] == [10]
    [r] = rows
    assert r["best_bench"] == 1 and r["n_blocked"] == 1 and r["n_fuzzy"] == 1
    # lev('...dog...', '...cat...') = 3 over the 51-char texts
    assert r["best_lev_milli"] == 1000 * 3 // 51


def test_fuzzy_contamination_best_is_min_struct(spark):
    """Two gated bench matches: best = lexicographic (lev_milli,
    bench_id) min — the CLOSER match wins, ties to the smaller id."""
    bench = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
        ],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta iota")],
        "doc_id long, text string",
    )
    [r] = curation.fuzzy_contamination(cand, bench).collect()
    # exact match with bench 2 (lev 0) beats bench 1 (lev 5)
    assert (r["best_lev_milli"], r["best_bench"]) == (0, 2)
    assert r["n_blocked"] == 2 and r["n_fuzzy"] == 2


# ---------------------------------------------------------------- q121


def test_streaming_shard_manifest_multibatch_equals_batch(spark, tmp_path):
    """The manifest is built from linear aggregates, so a 3-micro-batch
    split (maxFilesPerTrigger=1) must land on the IDENTICAL manifest as
    the one-shot batch build — including the XOR checksum, whose merge
    order differs per split."""
    import os

    from pyspark.sql import functions as F

    from aws_dla_kinesis_delivery_stream_example_spark.operators import sharding

    docs = spark.createDataFrame(
        [(i, 100 + i) for i in range(60)], "doc_id long, n_chars long"
    )
    src = str(tmp_path / "src")
    for b, pred in enumerate(
        [F.col("doc_id") < 20, (F.col("doc_id") >= 20) & (F.col("doc_id") < 40), F.col("doc_id") >= 40]
    ):
        docs.filter(pred).write.parquet(os.path.join(src, f"b{b}"))
    stream = (
        spark.readStream.schema("doc_id long, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
    )
    out = sharding.shard_manifest(stream)
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("shard_manifest_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["shard"]: r.asDict()
        for r in spark.sql("SELECT * FROM shard_manifest_out").collect()
    }
    want = {
        r["shard"]: r.asDict()
        for r in sharding.shard_manifest(docs).collect()
    }
    assert got == want
    assert len(want) == sharding.N_SHARDS  # all shards populated -> the check is non-vacuous


# ---------------------------------------------------------------- q122


def test_scd2_intervals_planted(spark):
    """User 1: A@10, A@20 (suppressed dup), B@30, A@40 — three
    versions with chained intervals; user 2: one observation, open
    interval. Hand-checked against the SCD2 definition."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    ev = spark.createDataFrame(
        [
            (1, "A", 10, 100),
            (1, "A", 20, 101),
            (1, "B", 30, 102),
            (1, "A", 40, 103),
            (2, "X", 50, 104),
        ],
        "user_id long, event_type string, ts_us long, event_id long",
    )
    wk = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = ev.withColumn("prev", F.lag("event_type").over(wk)).filter(
        F.col("prev").isNull() | (F.col("event_type") != F.col("prev"))
    )
    out = changes.select(
        "user_id",
        F.row_number().over(wk).alias("version"),
        "event_type",
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(wk).alias("valid_to_us"),
    ).collect()
    got = {(r["user_id"], r["version"]): (r["event_type"], r["valid_from_us"], r["valid_to_us"]) for r in out}
    assert got == {
        (1, 1): ("A", 10, 30),   # the A@20 duplicate is suppressed
        (1, 2): ("B", 30, 40),
        (1, 3): ("A", 40, None),
        (2, 1): ("X", 50, None),
    }


def test_streaming_shard_manifest_checkpoint_exactly_once(spark, tmp_path):
    """Exactly-once for the streaming manifest across checkpoint
    reruns: a rerun with NO new files fires no trigger (emits nothing
    — already-committed files are not re-ingested), and a rerun after
    a NEW file lands must emit the manifest of ALL docs exactly once —
    if the first batch were double-ingested, n_docs would exceed the
    batch truth and the XOR checksum would drift. The q38/q51
    exactly-once discipline extended to the streaming agg family."""
    import os

    from aws_dla_kinesis_delivery_stream_example_spark.operators import sharding

    docs = spark.createDataFrame(
        [(i, 100 + i) for i in range(50)], "doc_id long, n_chars long"
    )
    src = str(tmp_path / "src")
    docs.filter("doc_id < 40").write.parquet(os.path.join(src, "b0"))
    ckpt = str(tmp_path / "ckpt")

    def drain(qname):
        stream = spark.readStream.schema("doc_id long, n_chars long").parquet(
            src + "/b*"
        )
        out = sharding.shard_manifest(stream)
        q = (
            out.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["shard"]: r.asDict()
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    first = drain("shard_rerun_1")
    assert sum(m["n_docs"] for m in first.values()) == 40
    # rerun, no new files: nothing re-ingested, nothing re-emitted
    assert drain("shard_rerun_2") == {}
    # a new file lands; the next drain must see exactly 40 + 10 docs
    docs.filter("doc_id >= 40").write.parquet(os.path.join(src, "b1"))
    third = drain("shard_rerun_3")
    want = {
        r["shard"]: r.asDict()
        for r in sharding.shard_manifest(docs).collect()
    }
    assert third == want
    assert sum(m["n_docs"] for m in third.values()) == 50


# ---------------------------------------------------------------- q123


def test_embedding_space_audit_planted(spark):
    """Label 0: two vectors [1,0] and [0,1] (micro 1e6) — per-dim
    variance num = n*Q - S^2 = 2*1e12 - 1e12 = 1e12 on BOTH dims, so
    trace = 2e12, max = 1e12, anisotropy = 1000*1e12 // (2e12//2)
    = 1000 (perfectly isotropic). Label 1: two copies of [1,0] —
    zero variance everywhere, anisotropy NULL (0/0 lattice rule)."""
    from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs  # noqa: F401
    from pyspark.sql import functions as F

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.0, 1.0], 0),
            (3, [1.0, 0.0], 1),
            (4, [1.0, 0.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    v = emb.select(
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000000.0, 0).cast("long"),
            )
        ).alias("pos", "v"),
    )
    per_dim = v.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("q"),
    )
    var_num = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    got = {
        r["label"]: (r["trace"], r["mx"])
        for r in per_dim.groupBy("label")
        .agg(F.sum(var_num).alias("trace"), F.max(var_num).alias("mx"))
        .collect()
    }
    assert got == {0: (2 * 10**12, 10**12), 1: (0, 0)}


# ---------------------------------------------------------------- q125


def test_shard_mixture_audit_conserves_and_bounds(spark):
    """The audit's cells partition the corpus (sum n_docs == input),
    every share/expected value is a valid milli (0..1000), and a
    balanced synthetic mixture (sources round-robin over ids, shards
    by hash) keeps max deviation well under a degenerate 1000."""
    from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs

    rows = [(i, f"src_{i % 4}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    import aws_dla_kinesis_delivery_stream_example_spark.operators.sharding as sh
    from pyspark.sql import functions as F

    assigned = sh.assign_shards(df)
    cells = assigned.groupBy("shard", "source").agg(F.count(F.lit(1)).alias("n")).collect()
    assert sum(r["n"] for r in cells) == 400
    spec = all_specs()["q125_shard_mixture_audit"]
    # spec runs on the documents fixture: bounds + conservation there
    out = spec.spark(spark, "/root/testdata/sf0.001").collect()
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    release_staging()
    assert sum(r["n_docs"] for r in out) == 500
    for r in out:
        assert 0 <= r["share_milli"] <= 1000
        assert 0 <= r["expected_milli"] <= 1000
        assert r["dev_milli"] == abs(r["share_milli"] - r["expected_milli"])


# ---------------------------------------------------------------- q117/q120


def test_fertility_lattice_hand_computed(spark):
    """The milli-unit fertility arithmetic on a hand-countable doc:
    'ab cd!' = 6 chars, 2 whitespace tokens, 3 BPE-ish tokens
    ('ab','cd','!') -> fert_ws = 6000//2 = 3000, fert_bpe = 6000//3
    = 2000, split = 3000//2 = 1500. NULL text counts zero tokens and
    is excluded from sums (not a crash)."""
    from pyspark.sql import functions as F

    from aws_dla_kinesis_delivery_stream_example_spark.functions import text as TX

    df = spark.createDataFrame(
        [("s", "en", "ab cd!", 6), ("s", "en", None, 0)],
        "source string, lang string, text string, n_chars long",
    )
    g = df.groupBy("source", "lang").agg(
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(TX.token_count(F.col("text"))).cast("long").alias("ws_tokens"),
        F.sum(TX.bpe_token_count(F.col("text"))).cast("long").alias("bpe_tokens"),
    )
    [r] = g.select(
        F.expr("1000 * total_chars div nullif(ws_tokens, 0)").alias("fw"),
        F.expr("1000 * total_chars div nullif(bpe_tokens, 0)").alias("fb"),
        F.expr("1000 * bpe_tokens div nullif(ws_tokens, 0)").alias("sp"),
    ).collect()
    assert (r["fw"], r["fb"], r["sp"]) == (3000, 2000, 1500)


def test_filter_ablation_grid_is_monotone_and_anchored(spark):
    """Structural invariants of the grid on the fixture: threshold 0
    covers the whole corpus (share 1000), n_docs and n_tokens are
    non-increasing in the threshold, and every share is on [0, 1000]."""
    from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs

    rows = all_specs()["q120_filter_ablation"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows[0]["threshold"] == 0 and rows[0]["token_share_milli"] == 1000
    docs = [r["n_docs"] for r in rows]
    toks = [r["n_tokens"] for r in rows]
    assert docs == sorted(docs, reverse=True)
    assert toks == sorted(toks, reverse=True)
    assert all(0 <= r["token_share_milli"] <= 1000 for r in rows)
    # the grid is calibrated non-vacuous: the top threshold still
    # keeps some docs and drops most (the q36 lesson)
    assert 0 < docs[-1] < docs[0]


# ---------------------------------------------------------------- q126


def test_winsorized_stats_planted(spark):
    """Hand-checked clip on [0..100]-milli values with one fat-finger
    outlier: v = [10,20,30,40,1000000] for one type. p01/p99 of the
    5-point set interpolate near the extremes; the outlier must clip
    to hi and the winsorized mean must land between the honest values
    and far below the raw mean."""
    from pyspark.sql import functions as F

    from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs  # noqa: F401

    vals = [10, 20, 30, 40, 1000000]
    ev = spark.createDataFrame(
        [("a", float(v) / 1000) for v in vals], "event_type string, value double"
    )
    m = ev.select(
        "event_type", F.round(F.col("value") * 1000, 0).cast("long").alias("v_milli")
    )
    b = m.groupBy("event_type").agg(
        F.round(F.percentile("v_milli", F.lit(0.01)), 0).cast("long").alias("lo"),
        F.round(F.percentile("v_milli", F.lit(0.99)), 0).cast("long").alias("hi"),
    )
    [rb] = b.collect()
    # numpy-style linear interpolation on sorted [10,20,30,40,1000000]:
    # p01 at rank 0.04 -> 10 + 0.04*10 = 10.4 -> rounds to 10;
    # p99 at rank 3.96 -> 40 + 0.96*999960 = 960001.6 -> 960002
    assert (rb["lo"], rb["hi"]) == (10, 960002)
    clipped = [min(max(v, rb["lo"]), rb["hi"]) for v in vals]
    assert sum(clipped) // 5 == (10 + 20 + 30 + 40 + 960002) // 5
    # and the raw mean is dragged ~200k while the winsorized mean is
    # bounded by hi -- the operator's reason to exist
    assert sum(vals) // 5 > sum(clipped) // 5
