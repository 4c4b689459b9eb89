"""Round-9b batch (q115-q118): deterministic training-shard shuffle,
recrawl snapshot diff, tokenizer fertility audit, and the pre-shuffle
key-skew audit — the operational layer around a 100 TB corpus: "shuffle
it reproducibly", "don't reprocess the 90% that didn't change",
"which tokenizer buys the shortest sequences", and "will this key
melt a reducer".

Conventions follow catalog.py: identical column aliases both sides,
total ORDER BY, BIGINT casts on integer aggregates, integer milli-unit
lattices where a double would be off-grid between engines, and the
engine-portable 60-bit md5-prefix hash (functions/text.py::hash60 ==
``CAST('0x' || substring(md5(x),1,15) AS BIGINT)``) wherever both
engines must agree on a hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import curation, sharding, skew
from ..sources.tables import load_table
from .catalog import query

# Shared by q115 (batch) and q121 (streaming): the stream's manifests
# must equal the batch ones bit-for-bit.
SHARD_ORACLE = f"""
        WITH assigned AS (
            SELECT CAST('0x' || substring(md5('shard:{sharding.SHARD_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % {sharding.N_SHARDS} AS shard,
                   CAST('0x' || substring(md5('order:{sharding.SHARD_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       AS order_key,
                   n_chars
            FROM documents
        )
        SELECT shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(bit_xor(order_key) AS BIGINT) AS xor_check,
               CAST(min(order_key) AS BIGINT) AS min_key,
               CAST(max(order_key) AS BIGINT) AS max_key
        FROM assigned
        GROUP BY shard
        ORDER BY shard
    """


@query(
    "q115_shard_shuffle",
    oracle=SHARD_ORACLE,
    description="Deterministic training-shard shuffle manifests: hash-"
    "assign every doc to one of 8 shards with an independent intra-shard "
    "order key (domain-separated 60-bit hashes of (seed, doc_id)), then "
    "emit per-shard manifests — doc count, char volume, order-independent "
    "XOR content checksum, key span. Reruns on any cluster layout (or "
    "engine) produce byte-identical shards; the checksum proves it "
    "without re-reading payloads",
    tags=("llm", "curation", "sharding"),
)
def q115_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (operators/sharding.py): shard+order assignment is
    a pure scan-time projection (zero exchanges); the manifest is ONE
    map-side-combinable hash agg over n_shards groups. Writing real
    shards adds exactly one repartition("shard") — the output layout
    itself. XOR checksum is commutative, hence partitioning-invariant."""
    docs = load_table(spark, sf_dir, "documents")
    return sharding.shard_manifest(docs).orderBy("shard")


@query(
    "q116_snapshot_diff",
    oracle="""
        WITH snap_old AS (
            SELECT doc_id, source, n_chars,
                   CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS fp
            FROM documents WHERE doc_id % 10 != 9
        ),
        snap_new AS (
            SELECT doc_id, source, n_chars,
                   CAST('0x' || substring(md5(
                       CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END
                   ), 1, 15) AS BIGINT) AS fp
            FROM documents WHERE doc_id % 10 != 0
        ),
        diff AS (
            SELECT coalesce(n.source, o.source) AS source,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        WHEN o.fp != n.fp THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   coalesce(n.n_chars, o.n_chars) AS n_chars
            FROM snap_old o FULL OUTER JOIN snap_new n ON o.doc_id = n.doc_id
        )
        SELECT source, status,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM diff
        GROUP BY source, status
        ORDER BY source, status
    """,
    description="Recrawl snapshot diff: two simulated crawl snapshots of "
    "the documents table (one decile dropped on each side; every 7th doc "
    "content-revised) full-outer-joined on doc id and classified "
    "added/removed/changed/unchanged by 60-bit content fingerprint, "
    "rolled up per source — the gate that keeps a monthly recrawl from "
    "re-processing the ~90% of the corpus that didn't change",
    tags=("llm", "curation", "incremental"),
)
def q116_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (operators/curation.py::snapshot_diff): ONE
    co-partitioned full-outer shuffle join on the unique doc id, pure
    codegen CASE, then a tiny (sources × 4) hash agg. NULL-text docs
    fingerprint to NULL on both engines; NULL != NULL is NULL, so they
    classify 'unchanged' identically (documented degenerate case)."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    old = docs.filter(did % 10 != 9).select(
        "doc_id", "source", "n_chars", TX.hash60(F.col("text")).alias("fp")
    )
    revised = F.when(
        did % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
    ).otherwise(F.col("text"))
    new = docs.filter(did % 10 != 0).select(
        "doc_id", "source", "n_chars", TX.hash60(revised).alias("fp")
    )
    diff = curation.snapshot_diff(old, new)
    return (
        diff.groupBy("source", "status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("source", "status")
    )


@query(
    "q117_tokenizer_fertility",
    oracle=r"""
        WITH per_doc AS (
            SELECT source, lang, n_chars,
                   len(regexp_extract_all(text, '\S+')) AS ws_tk,
                   len(regexp_extract_all(text, '\w+|[^\w\s]')) AS bpe_tk,
                   len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word_tk
            FROM documents
        )
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(ws_tk) AS BIGINT) AS ws_tokens,
               CAST(sum(bpe_tk) AS BIGINT) AS bpe_tokens,
               CAST(sum(word_tk) AS BIGINT) AS word_tokens,
               CAST(1000 * sum(n_chars) // nullif(sum(ws_tk), 0) AS BIGINT) AS fert_ws_milli,
               CAST(1000 * sum(n_chars) // nullif(sum(bpe_tk), 0) AS BIGINT) AS fert_bpe_milli,
               CAST(1000 * sum(bpe_tk) // nullif(sum(ws_tk), 0) AS BIGINT) AS split_milli
        FROM per_doc
        GROUP BY source, lang
        ORDER BY source, lang
    """,
    description="Tokenizer fertility audit per (source, lang): chars-per-"
    "token for whitespace vs BPE-ish pre-tokenization (milli-unit integer "
    "lattice) plus the BPE/whitespace split factor — the numbers that "
    "decide which tokenizer buys the shortest sequences per byte of "
    "corpus, per language (fertility is THE cross-lingual tokenizer "
    "selection metric)",
    tags=("llm", "text", "audit"),
)
def q117_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: single scan, three codegen'd regexp counts per row
    (functions/text.py — ASCII classes, identical in Java regex and
    RE2), one map-side-combinable hash agg over (source, lang). The
    fertility ratios are exact integer milli-units: `div` (Spark) and
    `//` (DuckDB) both floor on the non-negative lattice, so no IEEE
    rounding can split the engines."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(TX.token_count(F.col("text"))).cast("long").alias("ws_tokens"),
        F.sum(TX.bpe_token_count(F.col("text"))).cast("long").alias("bpe_tokens"),
        F.sum(F.size(TX.words(F.col("text"))).cast("long"))
        .cast("long")
        .alias("word_tokens"),
    )
    return g.select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        "ws_tokens",
        "bpe_tokens",
        "word_tokens",
        F.expr("1000 * total_chars div nullif(ws_tokens, 0)")
        .cast("long")
        .alias("fert_ws_milli"),
        F.expr("1000 * total_chars div nullif(bpe_tokens, 0)")
        .cast("long")
        .alias("fert_bpe_milli"),
        F.expr("1000 * bpe_tokens div nullif(ws_tokens, 0)")
        .cast("long")
        .alias("split_milli"),
    ).orderBy("source", "lang")


# Shared verbatim by q118 and its streaming twin q145 (the PII_ORACLE /
# HIST_ORACLE convention): the stream's per-key counter state must roll
# up to the identical report row-for-row.
SKEW_ORACLE = f"""
        WITH per_key AS (
            SELECT user_id AS k, count(*) AS cnt
            FROM events GROUP BY user_id
        ),
        bucketed AS (
            SELECT CAST('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
                       % {skew.SKEW_BUCKETS} AS bucket,
                   k, cnt
            FROM per_key
        )
        SELECT bucket,
               CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(max(cnt) AS BIGINT) AS max_key_rows,
               (max(struct_pack(c := cnt, k := k))).k AS hot_key,
               CAST((max(struct_pack(c := cnt, k := k))).c AS BIGINT) AS hot_key_rows
        FROM bucketed
        GROUP BY bucket
        ORDER BY bucket
    """


@query(
    "q118_key_skew_audit",
    oracle=SKEW_ORACLE,
    description="Pre-shuffle key-skew audit on events.user_id: simulate "
    "a 32-reducer hash partitioning and report per-bucket row volume, "
    "key cardinality, and the hottest key (lexicographic struct-max tie "
    "break) — run before committing a 100 TB job to a shuffle so 'one "
    "reducer gets 30% of the rows' is a report line, not a 3 AM page; "
    "max_key_rows tells you whether the fix is salting or partitions",
    tags=("relational", "skew", "audit"),
)
def q118_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (operators/skew.py::key_skew_audit): two hash aggs,
    no join/window/collect. Phase 1 groups by the key itself — map-side
    combine collapses hot keys to one partial per task, so the audit is
    immune to the skew it measures; phase 2 groups the |keys|-sized
    frame by bucket. Buckets use hash60 (not Murmur3) so the oracle
    sees identical membership; the per-key concentration pattern is
    hash-agnostic."""
    events = load_table(spark, sf_dir, "events")
    return skew.key_skew_audit(events).orderBy("bucket")
