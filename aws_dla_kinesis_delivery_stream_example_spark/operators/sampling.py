"""Deterministic distributed sampling operators.

Reproducibility contract: all "randomness" derives from the portable
60-bit md5 hash of the row's own id (functions.text.hash60), so every
engine, every cluster size, and every re-run draws the identical
sample — the property that makes a 100 TB curation run auditable and
resumable. No rand()/seed state anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import text as TX

# 2^60 as an exact double (power of two => exact): hash60 -> (0, 1].
_HASH60_SPAN = float(2**60)


def hash_uniform(id_col: str) -> Column:
    """Deterministic uniform(0, 1] from a row id: (hash60(id)+1)/2^60.

    +1 keeps the value strictly positive so ln() is finite; the cast
    of the 60-bit integer to double loses bits below 2^-53 relative —
    identically in every IEEE engine, so cross-engine ordering is
    stable.
    """
    return (TX.hash60(F.col(id_col).cast("string")) + 1).cast("double") / F.lit(_HASH60_SPAN)


_N_SALT = 16  # weighted_sample's salted sub-partitions per stratum
WEIGHTED_K = 5  # weighted_sample's rows per stratum


def weighted_sample(df: DataFrame, weight: Column) -> DataFrame:
    """Weighted sampling WITHOUT replacement of documents,
    ``WEIGHTED_K`` rows per ``source`` stratum (Efraimidis-Spirakis
    2006): draw u ~ uniform(0,1] per ``doc_id``, rank by the
    exponential key -ln(u)/w ascending, keep the WEIGHTED_K smallest
    per stratum. Inclusion probability is proportional to ``weight``
    within each stratum; the key is deterministic (hash_uniform), so
    the sample is reproducible bit-for-bit.

    Returns (source, rnk, doc_id, w) with rnk in 1..WEIGHTED_K.

    Scale shape: TWO-STAGE top-k — stage 1 ranks inside
    (stratum, id % _N_SALT) salted sub-partitions and keeps k each,
    stage 2 re-ranks the <= WEIGHTED_K*_N_SALT survivors per stratum. Exact by
    the union bound (every true top-k row survives its salt cut), and
    no window partition ever sorts more than ~1/_N_SALT of a stratum —
    a single-stage per-stratum window would sort a whole stratum's
    rows on one partition at 100 TB.

    Contract: ``doc_id`` must be NUMERIC — the salt is ``id % _N_SALT``
    and under non-ANSI Spark a string id makes the modulo NULL,
    silently collapsing every row into one salt partition (correct
    output, but the two-stage scale shape is defeated). And weights
    must be STRICTLY POSITIVE: w=0 divides by zero in the key (throws
    under ANSI Spark, aborting the job on one bad row) and w<0 inverts
    the Efraimidis-Spirakis ordering — both raise at runtime via a
    guarded key expression rather than producing a wrong sample.
    """
    _NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")
    id_type = dict(df.dtypes).get("doc_id")
    if id_type is None or not (
        id_type in _NUMERIC or id_type.startswith("decimal")
    ):
        raise TypeError(
            "weighted_sample: doc_id must be numeric for the "
            f"id % {_N_SALT} two-stage salt, got {id_type!r} — hash or zip "
            "string ids to a numeric surrogate first (e.g. xxhash64(id))"
        )
    w_expr = weight.cast("long")
    # Fail fast on non-positive weights (mirrors the id validation
    # above): raise_error is codegen'd and only fires
    # on the bad row, so the hot path cost is one comparison.
    w_checked = F.when(
        w_expr <= 0,
        F.raise_error(
            F.concat(
                F.lit("weighted_sample: non-positive weight for id "),
                F.col("doc_id").cast("string"),
            )
        ).cast("long"),
    ).otherwise(w_expr)
    key = -F.log(hash_uniform("doc_id")) / w_checked.cast("double")
    keyed = df.select(
        "source",
        "doc_id",
        w_expr.alias("w"),
        key.alias("k"),
        (F.col("doc_id") % _N_SALT).alias("salt"),
    )
    s1 = W.partitionBy("source", "salt").orderBy("k", "doc_id")
    survivors = (
        keyed.withColumn("rn1", F.row_number().over(s1))
        .filter(F.col("rn1") <= WEIGHTED_K)
        .drop("rn1", "salt")
    )
    s2 = W.partitionBy("source").orderBy("k", "doc_id")
    return (
        survivors.withColumn("rnk", F.row_number().over(s2).cast("long"))
        .filter(F.col("rnk") <= WEIGHTED_K)
        .select("source", "rnk", "doc_id", "w")
    )
