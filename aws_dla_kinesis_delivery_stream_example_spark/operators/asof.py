"""As-of (point-in-time) join — an operator Spark lacks natively.

Implementation: the union-window technique, NOT a range cross join:
tag both sides, union, sort within each key partition by
(ts, side, id), and propagate the right side's payload forward with
``last(..., ignorenulls=True)``. One shuffle on the key, zero row
multiplication — the shape that survives 100 TB (a naive
``a.ts >= b.ts`` theta join explodes quadratically per key).

Right-side ties on (key, ts) are pre-deduped to ONE actual right row
(row_number over the value columns descending) so the result is
deterministic and never blends columns from different tied rows — and
matches DuckDB's native ASOF JOIN, which the oracle uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right.ts <= left.ts`` within the same ``user_id`` (inclusive).

    Every right column but the key and ``ts`` is carried. Right-side
    (key, ts) ties resolve to one WHOLE row — the lexicographic max
    over those value columns — never a per-column max that could
    synthesize a row that doesn't exist.
    """
    value_cols = [c for c in right.columns if c not in ("user_id", "ts")]
    tie_w = W.partitionBy("user_id", "ts").orderBy(*[F.desc(c) for c in value_cols])
    r = (
        right.select("user_id", "ts", *value_cols)
        .withColumn("_rn", F.row_number().over(tie_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # side: right=0 sorts before left=1 at equal ts => inclusive match.
    l_tagged = left.select(
        F.col("user_id").alias("_k"),
        F.col("ts").alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*left.columns).alias("_left"),
        *[F.lit(None).cast(r.schema[c].dataType).alias(f"_r_{c}") for c in value_cols],
    )
    r_tagged = r.select(
        F.col("user_id").alias("_k"),
        F.col("ts").alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            l_tagged.schema["_left"].dataType
        ).alias("_left"),
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
    )
    w = (
        W.partitionBy("_k")
        .orderBy("_ts", "_side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = l_tagged.unionByName(r_tagged).select(
        "_side",
        "_left",
        *[F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"_r_{c}") for c in value_cols],
    )
    out = filled.filter(F.col("_side") == 1).select(
        "_left.*", *[F.col(f"_r_{c}").alias(c) for c in value_cols]
    )
    return out
