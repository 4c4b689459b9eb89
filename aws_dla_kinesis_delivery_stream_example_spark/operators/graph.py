"""Graph operators over document-similarity edge lists.

Companion to dedup.duplicate_clusters (connected components): where
components answer "which docs are the same", centrality answers
"which copy is canonical" — the ranking signal behind keep-the-origin
dedup policies and crawl prioritization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .staging import stage

# Fixed-point rank lattice: micro-unit BIGINT mass, damping 0.85 as
# exact integer ops. Float PageRank sums contributions in engine- and
# partitioning-specific order and is off-grid within one iteration;
# the integer lattice is order-independent, so the result is invariant
# under AQE re-planning, partition count, and engine.
PR_INIT = 1_000_000
PR_TELEPORT = 150_000
PR_ITERS = 3


def pagerank_fixed_point(pairs: DataFrame) -> DataFrame:
    """``PR_ITERS`` iterations of PageRank on an UNDIRECTED (doc_a,
    doc_b) pair list (each pair becomes two directed edges), in
    fixed-point micro-unit integer arithmetic:

        r'(v) = PR_TELEPORT + (85 * sum_{u->v} (r(u) // deg(u))) // 100

    Returns (doc, degree, rank_u). Nodes are pair members only; the
    symmetric graph has in-degree == out-degree >= 1, so there are no
    dangling nodes by construction.

    Scale shape: the symmetric edge list is staged as a NARROW
    (src, dst) frame and per-source degree lives on the NODE-sized
    rank frame, never on the edges — attaching dg to edges costs an
    extra edge-sized join pass before the loop (and doubles what the
    staging job must execute: the edges⋈deg probe re-derives the
    union's two pair branches on top of deg's own two), measured
    9.4 s -> 6.4 s at sf0.1 by carrying dg through the ranks instead.

    Each iteration is ONE shuffle join + ONE hash aggregation, both
    linear in edges: the previous ranks project (src, c = r div dg) —
    node-sized — join the edges on src, and the aggregation by dst
    rebuilds the next rank frame directly, because on a SYMMETRIC edge
    list the in-degree of dst equals its degree: count(*) of the
    received contributions IS dg, so no node-sized rebuild join is
    needed to re-attach it (a third, ranks ⋈ contributions operator
    per iteration).

    The per-iteration rank frame is NOT staged: each rank frame has
    exactly ONE consumer (the next iteration's projection), so the
    lineage chain is linear — caching it would only add a
    materialization barrier and one extra job per iteration. The input
    pair list is NOT staged either: its own expensive prefix (the
    shingle join) is already staged inside the pair operator. The
    logical plan nests one join/agg level per iteration, which at
    ``PR_ITERS`` levels needs no lineage truncation.
    """
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    edges = stage(sym)
    ranks = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("dg"))
        .select(F.col("src").alias("doc"), "dg")
        .withColumn("r", F.lit(PR_INIT).cast("long"))
    )
    for _ in range(PR_ITERS):
        contrib = ranks.select(
            F.col("doc").alias("src"), F.expr("r div dg").alias("c")
        )
        ranks = (
            edges.join(contrib, "src")
            .groupBy(F.col("dst").alias("doc"))
            .agg(
                # symmetric graph: #received contributions == degree
                F.count(F.lit(1)).alias("dg"),
                (F.lit(PR_TELEPORT) + F.expr("85 * sum(c) div 100"))
                .cast("long")
                .alias("r"),
            )
        )
    return ranks.select(
        "doc", F.col("dg").cast("long").alias("degree"), F.col("r").alias("rank_u")
    )
