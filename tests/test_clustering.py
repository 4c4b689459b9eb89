"""Operator-level tests for the clustering assignment pass and the
stream-stream interval join: planted geometry / planted event pairs,
plus the float-tie and boundary semantics the oracles can't isolate."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from aws_dla_kinesis_delivery_stream_example_spark.operators import clustering
from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import (
    load_table,
    stream_table,
)
from aws_dla_kinesis_delivery_stream_example_spark.streaming import windows as SW


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _remote_seeds(first_id):
    """Seeds for the ids ``first_id``..7, far from every planted point, so
    only the seeds below ``first_id`` attract anything but themselves."""
    return [(i, [1000.0 * i, -1000.0]) for i in range(first_id, clustering.KMEANS_K)]


def test_kmeans_assign_planted_clusters(spark):
    # Seeds are the 8 smallest ids: id 0 at the origin, id 1 at (10, 10),
    # ids 2..7 remote.
    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0])] + _remote_seeds(2) + [
        (8, [0.5, 0.0]),    # near seed 0
        (9, [9.0, 10.0]),   # near seed 1
        (10, [0.0, 1.0]),   # near seed 0
    ]
    out = clustering.kmeans_assign(_emb(spark, rows)).orderBy("id").collect()
    assigned = {r["id"]: r["cluster"] for r in out}
    assert assigned == {**{i: i for i in range(8)}, 8: 0, 9: 1, 10: 0}
    d2 = {r["id"]: r["d2"] for r in out}
    assert all(d2[i] == 0.0 for i in range(8))  # seeds sit on their own centroid
    assert d2[8] == 0.25 and d2[9] == 1.0


def test_kmeans_assign_tie_breaks_to_lower_cluster(spark):
    # (5, 0) is exactly equidistant from seeds at (0,0) and (10,0):
    # the rounded-distance tie must resolve to the LOWER cluster index
    # on both engines (argmin-first == ORDER BY d2, cluster).
    rows = [(0, [0.0, 0.0]), (1, [10.0, 0.0])] + _remote_seeds(2) + [(8, [5.0, 0.0])]
    out = clustering.kmeans_assign(_emb(spark, rows)).orderBy("id").collect()
    assert {r["id"]: r["cluster"] for r in out}[8] == 0


def test_kmeans_assign_requires_k_rows(spark):
    import pytest

    with pytest.raises(ValueError, match="need >= 8"):
        clustering.kmeans_assign(_emb(spark, [(0, [1.0])]))


def test_semantic_near_duplicates_requires_k_rows(spark):
    import pytest

    rows = [(i, [float(i), 1.0]) for i in range(7)]
    with pytest.raises(ValueError, match="kmeans_seeds: need >= 8 rows"):
        clustering.semantic_near_duplicates(_emb(spark, rows))


def test_cluster_profile_shape(spark):
    # The 8 seeds sit on only two points; ties go to the lower cluster,
    # so every row lands in cluster 0 or 1.
    rows = [(i, [float(i % 2) * 10.0, 0.0]) for i in range(10)]
    prof = clustering.cluster_profile(
        clustering.kmeans_assign(_emb(spark, rows))
    ).collect()
    assert [r["cluster"] for r in prof] == [0, 1]
    assert sum(r["n"] for r in prof) == 10


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, value double"
    )


def test_interval_join_boundary_semantics(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        (1, "click", t0, 1.0),
        (1, "purchase", at(0), 1.0),    # same instant: included (>=)
        (1, "purchase", at(30), 1.0),   # exactly at horizon: included (<=)
        (1, "purchase", at(31), 1.0),   # past horizon: excluded
        (2, "click", t0, 1.0),
        (3, "purchase", at(5), 1.0),    # other user: excluded
        (1, "view", at(5), 1.0),        # other type: excluded
    ]
    out = SW.interval_join_pairs(_events(spark, rows)).collect()
    per_user = {}
    for r in out:
        per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + 1
    assert per_user == {1: 2}


def test_interval_join_streaming_matches_batch(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for u in range(5):
        for m in range(0, 120, 7):
            kind = "click" if m % 14 == 0 else "purchase"
            rows.append((u, kind, t0 + dt.timedelta(minutes=m), 1.0))
    _events(spark, rows).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    sf_dir = str(tmp_path)

    batch = sorted(
        (r["user_id"], str(r["l_ts"]), str(r["r_ts"]))
        for r in SW.interval_join_pairs(load_table(spark, sf_dir, "events")).collect()
    )
    streamed = SW.run_on_closed_input(
        SW.interval_join_pairs(stream_table(spark, sf_dir, "events")), "append"
    )
    got = sorted(
        (r["user_id"], str(r["l_ts"]), str(r["r_ts"])) for r in streamed.collect()
    )
    assert got == batch and len(batch) > 0


def test_oov_vocab_rank_determinism(spark):
    # Equal-frequency words at the vocabulary boundary must rank by
    # word asc — the tie-break that keeps the vocab identical across
    # engines and partitionings.
    from pyspark.sql.window import Window

    wc = spark.createDataFrame(
        [("zeta", 5), ("alpha", 5), ("mid", 9)], "w string, c int"
    )
    ranked = wc.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("w")))
    ).collect()
    by_word = {r["w"]: r["rk"] for r in ranked}
    assert by_word == {"mid": 1, "alpha": 2, "zeta": 3}


def test_updated_centroids_moves_to_cluster_mean(spark):
    import numpy as np

    from aws_dla_kinesis_delivery_stream_example_spark.operators import clustering as CL

    # The KMEANS_K seeds sit 10 apart on the x axis (seed 0 at the
    # origin, seed 1 at (10,0)); extra points pull cluster 0's centroid
    # to the mean of {(0,0),(2,0),(4,0)} = (2,0).
    k = CL.KMEANS_K
    rows = [(i, [10.0 * i, 0.0]) for i in range(k)] + [(k, [2.0, 0.0]), (k + 1, [4.0, 0.0])]

    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = CL.kmeans_seeds(emb)
    new = CL.updated_centroids(emb, seeds)
    assert np.allclose(new[0], [2.0, 0.0])
    assert np.allclose(new[1], [10.0, 0.0])


def test_updated_centroids_empty_cluster_keeps_seed(spark):
    import numpy as np

    # Every point is nearer seed 0 than seed 1 except seed 1 itself;
    # make seed 1's lone member move away is impossible — instead plant
    # a cluster that attracts nothing beyond its seed and check the
    # OTHER cluster when emptied: here cluster 1 keeps exactly its seed.
    from aws_dla_kinesis_delivery_stream_example_spark.operators import clustering as CL

    k = CL.KMEANS_K
    rows = [(i, [100.0 * i, 0.0]) for i in range(k)] + [(k, [1.0, 0.0])]

    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = CL.kmeans_seeds(emb)
    new = CL.updated_centroids(emb, seeds)
    assert np.allclose(new[1], [100.0, 0.0])  # its only member is the seed


def test_semantic_near_duplicates_planted_pair(spark):
    from aws_dla_kinesis_delivery_stream_example_spark.operators import clustering as CL

    # ids 0/1 seed two well-separated clusters (2..7 seed remote ones
    # that attract nothing); 8 is a near-copy of 0 (cos ~ 1), 9 lands in
    # cluster 0 but is near-orthogonal to both members, so exactly one
    # pair survives the threshold.
    rows = (
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 0.0, 9.0])]
        + [(i, [0.0, -1000.0 * i, 0.0]) for i in range(2, 8)]
        + [(8, [0.99, 0.01, 0.0]), (9, [0.0, 8.0, 1.0])]
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = CL.semantic_near_duplicates(emb, threshold=0.95).collect()
    assert [(r["vec_a"], r["vec_b"]) for r in out] == [(0, 8)]
    assert out[0]["cos_sim"] > 0.99


def test_semantic_near_duplicates_sub_block_valve(spark):
    import numpy as np

    from aws_dla_kinesis_delivery_stream_example_spark.operators import clustering as CL

    # One hot cluster: everything lands near seed 0 (seeds 1..7 are
    # remote). Planted exact duplicate (ids 16/17) must survive
    # sub-blocking — identical vectors share the rounded-vector digest —
    # while the candidate pair count drops below the full within-cluster
    # count.
    rng_rows = [(i, [float((i * 7) % 5) / 10.0, float((i * 3) % 5) / 10.0]) for i in range(8, 16)]
    rows = (
        [(0, [0.0, 0.0])]
        + [(i, [100.0 * i, 100.0 * i]) for i in range(1, 8)]
        + rng_rows
        + [(16, [0.31, 0.17]), (17, [0.31, 0.17])]
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    full = CL.semantic_near_duplicates(emb, threshold=-1.1)
    valved = CL.semantic_near_duplicates(emb, threshold=-1.1, sub_blocks=4)
    n_full, n_valved = full.count(), valved.count()
    assert n_valved < n_full  # pair space actually shrank

    dup = valved.filter("vec_a = 16 AND vec_b = 17").collect()
    assert len(dup) == 1 and np.isclose(dup[0]["cos_sim"], 1.0)


def test_semantic_near_duplicates_gemm_budget_guard(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from aws_dla_kinesis_delivery_stream_example_spark.operators import clustering as CL

    # Planted hot cluster of 50,008 rows, over the 50,000-row budget:
    # the 8 seeds coincide at the origin, so every row ties into
    # cluster 0. Past the seeds, rows are distinct at 1 dp, so the
    # rounded-vector digest actually spreads them across sub-blocks.
    n = CL._MAX_CLUSTER_ROWS + CL.KMEANS_K
    vid = F.col("id")
    emb = spark.range(n).select(
        vid.alias("vec_id"),
        F.when(vid < CL.KMEANS_K, F.array(F.lit(0.0), F.lit(0.0)))
        .otherwise(F.array((vid % 997) / 10.0, (vid % 991) / 10.0))
        .alias("embedding"),
    )

    # Budget smaller than the hot cluster -> the group task must fail
    # fast with sizing guidance, not OOM mid-GEMM.
    with pytest.raises((PythonException, Py4JJavaError), match="50000-row GEMM budget"):
        CL.semantic_near_duplicates(emb, threshold=1.1).collect()

    # Salting the hot cluster under the same budget makes it pass (the
    # threshold keeps no pair, so only the sub-block GEMMs run).
    ok = CL.semantic_near_duplicates(emb, threshold=1.1, sub_blocks=64)
    assert ok.count() == 0  # executes without raising


def test_ivf_learned_recall_on_planted_geometry(spark):
    """Learned-centroid IVF at n_probe=2 must recover >= 0.9 of the
    brute-force top-5 on a planted clustered geometry (8 separated
    gaussian blobs, queries perturbed off real members) — the recall
    contract that makes the n_list/n_probe candidate reduction usable."""
    import numpy as np

    from aws_dla_kinesis_delivery_stream_example_spark.operators import similarity

    rng = np.random.default_rng(7)
    dim, per, kblobs = 16, 50, 8
    centers = rng.normal(size=(kblobs, dim)) * 10.0
    vecs = np.concatenate(
        [centers[i] + rng.normal(scale=1.0, size=(per, dim)) for i in range(kblobs)]
    )
    cand = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    q_vecs = vecs[::57][:6] + rng.normal(scale=0.5, size=(6, dim))
    queries = spark.createDataFrame(
        [(int(1000 + i), [float(x) for x in q_vecs[i]]) for i in range(len(q_vecs))],
        "q_id long, q_emb array<double>",
    )
    exact = similarity.brute_force_topk(cand, queries, k=5)
    approx = similarity.ivf_learned_topk(cand, queries)
    want = {(r.q_id, r.vec_id) for r in exact.collect()}
    got = {(r.q_id, r.vec_id) for r in approx.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.9, f"recall@5 = {recall}"


def test_ivf_signbucket_multiprobe_recall(spark):
    """The sign-bucket IVF's recall contract at hamming_probes=1
    (mirrors the learned-IVF test above): >= 0.9 of the brute-force
    top-5 on the planted blob geometry, and the 1-bit-flip probes must
    not lose anything the own-bucket probe found. The floor is
    geometry-dependent — sign buckets key on the SIGNS of the first
    n_bits dims, so a blob center coordinate near zero pushes members
    across a boundary; measured on seeds 7/11/23: probes=0 gives
    1.0/0.93/0.87 (boundary-crossers lost), probes=1 recovers all
    three to 1.0. Seed 23 is pinned as the adversarial one."""
    import numpy as np

    from aws_dla_kinesis_delivery_stream_example_spark.operators import similarity

    rng = np.random.default_rng(23)
    dim, per, kblobs = 16, 50, 8
    centers = rng.normal(size=(kblobs, dim)) * 10.0
    vecs = np.concatenate(
        [centers[i] + rng.normal(scale=1.0, size=(per, dim)) for i in range(kblobs)]
    )
    cand = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    q_vecs = vecs[::57][:6] + rng.normal(scale=0.5, size=(6, dim))
    queries = spark.createDataFrame(
        [(int(1000 + i), [float(x) for x in q_vecs[i]]) for i in range(len(q_vecs))],
        "q_id long, q_emb array<double>",
    )
    want = {
        (r.q_id, r.vec_id)
        for r in similarity.brute_force_topk(cand, queries, k=5).collect()
    }
    own = {
        (r.q_id, r.vec_id)
        for r in similarity.ivf_topk(cand, queries, hamming_probes=0).collect()
    }
    multi = {
        (r.q_id, r.vec_id)
        for r in similarity.ivf_topk(cand, queries, hamming_probes=1).collect()
    }
    recall = len(want & multi) / len(want)
    assert recall >= 0.9, f"multi-probe recall@5 = {recall}"
    assert len(want & multi) >= len(want & own), "multi-probe lost recall"
