"""Embedding clustering for corpus curation (SURVEY.md §2.11
extension): the Lloyd assignment step used by SemDeDup-style semantic
dedup and cluster-balanced sampling.

100 TB design notes
-------------------
- Centroids are k x dim doubles — broadcast-sized by construction
  (k <= a few thousand). They ship in the task closure; the corpus-
  sized embedding table streams through ONE ``mapInPandas`` GEMM pass
  (numpy float64, Arrow-batched) — no shuffle at all for assignment,
  and the per-cluster stats are a map-side-combinable aggregation on
  a small int key.
- Seeding is deterministic (the k smallest ids): reproducible across
  engines and runs, which is what makes the step oracle-checkable.
  Production would swap k-means|| seeding; the assignment pass — the
  scale-critical part — is identical.
- Distances are rounded to 6 dp BEFORE the argmin and ties break on
  the cluster index, so the assignment boundary is float-noise-proof
  against an oracle that sums (x-c)^2 in a different order.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..shipping import ensure_shipped

_ASSIGN_SCHEMA = "id long, cluster int, d2 double"

KMEANS_K = 8  # clusters: the seeds are the embeddings of the 8 smallest ids

# Cosine at or above which two vectors of one cluster are near-duplicates.
SEMDEDUP_THRESHOLD = 0.4

# Per-cluster GEMM budget of semantic_near_duplicates: 50k rows ~= 20 GB
# of pairwise doubles, the ceiling for a 64 GB executor.
_MAX_CLUSTER_ROWS = 50_000


def kmeans_seeds(emb: DataFrame) -> np.ndarray:
    """Deterministic seed centroids: the embeddings of the ``KMEANS_K``
    smallest ``vec_id``s (TakeOrderedAndProject — no full sort), as a
    KMEANS_K x dim float64 matrix in id order."""
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(KMEANS_K).collect()
    if len(rows) < KMEANS_K:
        raise ValueError(f"kmeans_seeds: need >= {KMEANS_K} rows, got {len(rows)}")
    return np.array([[float(x) for x in r[1]] for r in rows], dtype=np.float64)


def _batch_assign(x: np.ndarray, cents: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Rounded-grid nearest-centroid: d2 = |x|^2 - 2 x.C^T + |c|^2 (one
    GEMM), rounded to 6 dp BEFORE argmin (first-min tie-break == the
    oracle's ORDER BY d2, cluster)."""
    c_sq = (cents * cents).sum(axis=1)
    d2 = (x * x).sum(axis=1, keepdims=True) - 2.0 * (x @ cents.T) + c_sq
    d2 = np.round(np.maximum(d2, 0.0), 6)
    best = d2.argmin(axis=1)
    return best, d2[np.arange(len(x)), best]


def assign_with_centroids(
    emb: DataFrame, cents: np.ndarray, include_vector: bool = False
) -> DataFrame:
    """Assignment pass of (vec_id, embedding) rows against an explicit
    centroid matrix (closure-shipped). With ``include_vector`` the
    embedding rides along, so a per-cluster consumer (e.g. SemDeDup
    pair mining) needs NO corpus self-join to get vectors next to
    cluster ids."""
    schema = _ASSIGN_SCHEMA + (", embedding array<double>" if include_vector else "")

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
            best, d2 = _batch_assign(x, cents)
            out = {
                "id": pdf["vec_id"].to_numpy(),
                "cluster": best.astype("int32"),
                "d2": d2,
            }
            if include_vector:
                out["embedding"] = list(x)
            yield pd.DataFrame(out)

    ensure_shipped(emb.sparkSession)
    return emb.select("vec_id", "embedding").mapInPandas(assign, schema=schema)


def kmeans_assign(emb: DataFrame) -> DataFrame:
    """One Lloyd assignment pass: each (vec_id, embedding) vector joins
    its nearest of ``KMEANS_K`` seed centroids by squared euclidean
    distance.

    Returns (id, cluster, d2) with d2 rounded to 6 dp — the rounding
    grid on which the nearest-centroid decision is made.
    """
    cents = kmeans_seeds(emb)  # k x dim, closure-shipped
    return assign_with_centroids(emb, cents)


def updated_centroids(emb: DataFrame, cents: np.ndarray) -> np.ndarray:
    """One Lloyd UPDATE step at scale: per-Arrow-batch partial sums
    (cluster, sum-vector, count) — k x dim doubles per batch, the
    map-side combine — then a tiny global agg; the corpus is scanned
    exactly once and never shuffled. Empty clusters keep their previous
    centroid. New centroids are rounded to 6 dp JVM-side (HALF_UP on
    both engines), the grid the next assignment pass runs on."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
            best, _ = _batch_assign(x, cents)
            rows = []
            for c in np.unique(best):
                m = best == c
                rows.append((int(c), x[m].sum(axis=0).tolist(), int(m.sum())))
            yield pd.DataFrame(rows, columns=["cluster", "s", "cnt"])

    ensure_shipped(emb.sparkSession)
    part = emb.select("vec_id", "embedding").mapInPandas(
        partials, schema="cluster int, s array<double>, cnt long"
    )
    # partials are tiny (clusters x partitions); cache them so the two
    # aggregations below cost ONE corpus scan, not two.
    part = part.persist()
    try:
        cnts = part.groupBy("cluster").agg(F.sum("cnt").alias("n"))
        sums = (
            part.select("cluster", F.posexplode("s").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.sum("v").alias("sv"))
        )
        rows = (
            sums.join(cnts, "cluster")
            .select(
                "cluster", "pos", F.round(F.col("sv") / F.col("n"), 6).alias("cv")
            )
            .collect()
        )
    finally:
        part.unpersist()
    new = cents.copy()
    for r in rows:
        new[r["cluster"], r["pos"]] = r["cv"]
    return new


def semantic_near_duplicates(emb: DataFrame) -> DataFrame:
    """SemDeDup: cosine near-dup (vec_id, embedding) pairs WITHIN
    ``KMEANS_K`` k-means clusters.

    The cluster assignment is the candidate-blocking step — pairs
    across clusters are never formed, so the quadratic pair space
    shrinks from O(n^2) to O(n^2/k) and each cluster's upper-triangle
    GEMM runs bucket-locally in one ``applyInPandas`` group. Vectors
    ride along with the assignment (``include_vector``), so no corpus
    self-join is needed to put embeddings next to cluster ids.
    Cosines are rounded to 6 dp before the ``SEMDEDUP_THRESHOLD``
    compare (the oracle-stable boundary). Returns (cluster, vec_a,
    vec_b, cos_sim).

    Each cluster has a GEMM memory budget of ``_MAX_CLUSTER_ROWS``
    rows: the within-cluster cosine matrix is O(n^2) doubles, so a
    single hot cluster bigger than the budget would OOM one executor
    while the rest of the stage idles. Rather than die opaquely
    mid-GEMM, the group task fails fast with the cluster's size.
    """
    cents = kmeans_seeds(emb)
    assigned = assign_with_centroids(emb, cents, include_vector=True)

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"cluster": [], "vec_a": [], "vec_b": [], "cos_sim": []}
        ).astype(
            {"cluster": "int32", "vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"}
        )
        if len(pdf) < 2:
            return empty
        if len(pdf) > _MAX_CLUSTER_ROWS:
            c = int(pdf["cluster"].iloc[0])
            raise ValueError(
                f"semantic_near_duplicates: cluster {c} has {len(pdf)} rows, "
                f"over the {_MAX_CLUSTER_ROWS}-row GEMM budget "
                f"(~{len(pdf) ** 2 * 8 / 1e9:.1f} GB of pairwise doubles)."
            )
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        x = np.vstack(pdf["embedding"].to_numpy())
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        s = np.round((x / norms) @ (x / norms).T, 6)
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = s[ia, ib] >= SEMDEDUP_THRESHOLD
        if not keep.any():
            return empty
        return pd.DataFrame(
            {
                "cluster": np.full(int(keep.sum()), pdf["cluster"].iloc[0], dtype="int32"),
                "vec_a": ids[ia[keep]],
                "vec_b": ids[ib[keep]],
                "cos_sim": s[ia[keep], ib[keep]],
            }
        )

    ensure_shipped(emb.sparkSession)
    return assigned.groupBy("cluster").applyInPandas(
        pairs, schema="cluster int, vec_a long, vec_b long, cos_sim double"
    )


def cluster_profile(assigned: DataFrame) -> DataFrame:
    """Per-cluster size and dispersion stats over an assignment —
    the inertia/balance report a curation pipeline logs per pass."""
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("d2"), 3).alias("avg_d2"),
            F.round(F.max("d2"), 3).alias("max_d2"),
        )
        .orderBy("cluster")
    )
