"""Deterministic training-shard shuffle.

A 100 TB pretraining corpus must be (a) split into a fixed number of
shards, (b) shuffled within and across shards, and (c) reproducible —
re-running the job on the same snapshot must yield byte-identical
shard contents so data order (which affects the loss curve) is an
experiment variable, not an accident. Random-number generators don't
survive re-partitioning or speculative re-execution; content hashes
do. All "randomness" here derives from the engine-portable 60-bit
md5-prefix hash (functions.text.hash60, the q37/q104 convention), so
shard assignment and intra-shard order are pure functions of
(``SHARD_SEED``, doc_id) on ANY engine.

Scale shape: `assign_shards` is a pure projection (zero shuffles —
the hash is computed at scan); `shard_manifest` adds ONE map-side-
combinable hash aggregate over ``N_SHARDS`` groups. This module does not
write shards: a writer would `repartition(N_SHARDS, "shard")` and
sort each partition by order_key, one exchange whose partitioning is
the output layout. The XOR checksum is order- and partitioning-
independent (XOR is commutative), so two runs on different cluster
layouts can be compared shard-by-shard without re-reading payloads.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX

SHARD_SEED = 17  # any seed works; a fixed one makes reruns byte-identical
N_SHARDS = 8  # the catalog's shard count (q115, q121, q125 and their oracles)


def _tagged_hash(tag: str, id_col: Column) -> Column:
    """hash60 over 'tag:SHARD_SEED:id' — independent streams per tag, the
    domain-separation trick that keeps shard choice and intra-shard
    order uncorrelated (a single hash reused for both would sort each
    shard by its own bucket value: ordered buckets, not a shuffle)."""
    return TX.hash60(F.concat(F.lit(f"{tag}:{SHARD_SEED}:"), id_col.cast("string")))


def assign_shards(df: DataFrame) -> DataFrame:
    """Add ``shard`` (int64 in [0, N_SHARDS)) and ``order_key`` (int64)
    columns, both hashed from ``doc_id``. Sorting by (shard, order_key)
    IS the deterministic global shuffle; ties on the 60-bit order_key
    are broken downstream by the unique id, though a collision needs
    ~2^30 docs per shard to show up at even 50% odds."""
    idc = F.col("doc_id")
    return df.select(
        "*",
        (_tagged_hash("shard", idc) % N_SHARDS).alias("shard"),
        _tagged_hash("order", idc).alias("order_key"),
    )


def shard_manifest(df: DataFrame) -> DataFrame:
    """Per-shard manifest: doc count, payload volume (the sum of the
    ``n_chars`` column), XOR checksum of the order keys, and the key
    span. The checksum verifies shard CONTENT equality across
    runs/engines without comparing payloads; the span is what a
    downstream reader uses to merge-sort shards back into one
    deterministic stream.

    Columns: shard, n_docs, total_chars, xor_check, min_key, max_key.
    """
    assigned = assign_shards(df)
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.expr("bit_xor(order_key)").cast("long").alias("xor_check"),
        F.min("order_key").cast("long").alias("min_key"),
        F.max("order_key").cast("long").alias("max_key"),
    )

