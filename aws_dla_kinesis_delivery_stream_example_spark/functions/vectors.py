"""Vector column expressions over ``array<float>`` embeddings.

All pure JVM built-ins (`zip_with`/`aggregate`/`transform`) — no
Python UDF in the hot path. The fold order is the array order, so the
double accumulation is bit-deterministic and reproducible by the
DuckDB oracle (which folds in the same order).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a, b) -> Column:
    """Σ a_i·b_i accumulated in double, in array order."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a) -> Column:
    """L2 norm: sqrt(Σ a_i²)."""
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a, b) -> Column:
    """Cosine similarity in double precision.

    NULL when either vector has zero norm: ANSI Spark throws on the
    0/0 double division (one all-zero embedding would abort the whole
    query) while DuckDB yields NULL — nullif makes both engines emit
    NULL, which every consumer's avg/min/filter then skips
    identically (the FIXTURES.md zero-denominator rule; the numpy
    paths guard the same case with norms[norms == 0] = 1)."""
    return dot(a, b) / F.nullif(norm2(a) * norm2(b), F.lit(0.0))


# Sign-pattern buckets key on the signs of the first 3 dims: 8 buckets.
SIGN_BITS = 3


def sign_bucket(a) -> Column:
    """Coarse IVF-style bucket id from the sign pattern of the first
    ``SIGN_BITS`` dimensions (2**SIGN_BITS buckets). A deterministic
    stand-in for a trained coarse quantizer: at 100 TB the candidate
    set shrinks by ~2**SIGN_BITS and the join key becomes the bucket
    id, so the ANN probe is a co-partitioned equi-join instead of a
    full cross join.
    """
    a = F.col(a) if isinstance(a, str) else a
    bucket = F.lit(0)
    for i in range(1, SIGN_BITS + 1):
        bit = F.lit(2 ** (SIGN_BITS - i))
        bucket = bucket + F.when(F.element_at(a, i) > 0, bit).otherwise(F.lit(0))
    return bucket


def int8_quantize(a) -> Column:
    """Symmetric per-vector int8 quantization: q_i = round(a_i * 127 /
    max|a|) — array<int> in [-127, 127]. NULL for the zero vector
    (nullif on the scale denominator: ANSI Spark would throw on the
    division, DuckDB yields NULL; the FIXTURES.md zero-denominator
    rule, same as ``cosine``).

    Both engines compute the identical double expression then round
    half-away-from-zero (Spark HALF_UP == DuckDB round for doubles),
    so quantized vectors are bit-equal cross-engine — which makes the
    INTEGER dot products downstream exactly comparable, the property
    float cosines only approximate. 4x memory cut per vector is the
    100 TB point: an int8 corpus matrix holds 4x more vectors per
    executor page, and the scoring hot loop is integer multiply-add.
    """
    a = F.col(a) if isinstance(a, str) else a
    maxabs = F.array_max(F.transform(a, lambda x: F.abs(x.cast("double"))))
    scale = F.lit(127.0) / F.nullif(maxabs, F.lit(0.0))
    return F.transform(a, lambda x: F.round(x.cast("double") * scale, 0).cast("int"))
