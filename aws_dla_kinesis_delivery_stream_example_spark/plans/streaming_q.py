"""Streaming queries as first-class catalog entries: each runs the REAL
Structured Streaming path (readStream -> windowed agg / dedup -> memory
sink, availableNow) over the closed events table, so the t2 gate
hash-checks actual streaming execution against the batch-SQL oracle —
not just the batch twin (FIXTURES.md: 'streaming queries are verified
on closed inputs against the equivalent batch query'). Every drain goes
through the one closed-input harness, ``streaming.windows.run_on_closed_input``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sketch as _SK
from ..streaming import windows as SW
from .catalog import query
from .curation6 import SHARD_ORACLE as _SHARD_ORACLE
from .curation6 import SKEW_ORACLE as _SKEW_ORACLE
from .curation9 import HLL_ORACLE as _HLL_ORACLE
from .curation10 import BLOOM_ORACLE as _BLOOM_ORACLE
from .curation10 import HIST_ORACLE as _HIST_ORACLE
from .curation12 import DSIR_ORACLE as _DSIR_ORACLE
from .curation13 import PII_ORACLE as _PII_ORACLE
from .curation16 import ATTRITION_ORACLE as _ATTRITION_ORACLE
from .curation17 import BLOCKLIST_ORACLE as _BLOCKLIST_ORACLE
from .curation18 import MOJIBAKE_ORACLE as _MOJIBAKE_ORACLE
from .curation19 import LINEDEDUP_COUNTER_ORACLE as _LINEDEDUP_COUNTER_ORACLE
from .curation20 import PPL_ORACLE as _PPL_ORACLE
from .curation21 import BIGRAM_ORACLE as _BIGRAM_ORACLE
from .curation22 import LLR_ORACLE as _LLR_ORACLE


def _stream_events_closed(spark: SparkSession, sf_dir: str, op, output_mode: str) -> DataFrame:
    return SW.run_on_closed_input(
        spark, os.path.join(sf_dir, "events.parquet"), op, output_mode, normalize_ts=True
    )


@query(
    "q50_streaming_tumbling",
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY window_start, event_type
        ORDER BY window_start, event_type
    """,
    description="ACTUAL Structured Streaming execution (readStream -> "
    "watermark -> tumbling window -> memory sink, availableNow) on the "
    "closed events table, hash-checked against the batch oracle",
    tags=("streaming", "window"),
)
def q50_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _stream_events_closed(spark, sf_dir, SW.tumbling_counts, "complete")
    return out.orderBy("window_start", "event_type")


@query(
    "q56_streaming_sliding",
    oracle="""
        WITH b AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS b30, value FROM events),
             w AS (SELECT b30 AS wstart, value FROM b
                   UNION ALL
                   SELECT b30 - INTERVAL '30 minutes' AS wstart, value FROM b)
        SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
               count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM w
        GROUP BY wstart
        ORDER BY window_start
    """,
    description="ACTUAL Structured Streaming sliding window (1 h size, "
    "30 min slide) on the closed events table, hash-checked against the "
    "batch oracle (every event lands in exactly two windows)",
    tags=("streaming", "window"),
)
def q56_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _stream_events_closed(spark, sf_dir, SW.sliding_counts, "complete")
    return out.orderBy("window_start")


@query(
    "q57_streaming_session",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             >= INTERVAL '30 minutes'
                        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        sessions AS (
            SELECT user_id,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM flagged
        ),
        per_session AS (
            SELECT user_id, count(*) AS session_len
            FROM sessions GROUP BY user_id, session_id
        )
        SELECT user_id,
               count(*) AS n_sessions,
               CAST(max(session_len) AS BIGINT) AS longest_session,
               CAST(sum(session_len) AS BIGINT) AS total_events
        FROM per_session
        GROUP BY user_id
        ORDER BY user_id
    """,
    description="ACTUAL Structured Streaming session_window (30 min gap) on "
    "the closed events table. Oracle splits on gap >= 30 min (session_window "
    "ends are EXCLUSIVE: [start, last_ts + gap)), unlike q22's batch twin "
    "which uses the strict-> convention on both sides",
    tags=("streaming", "window", "session"),
)
def q57_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _stream_events_closed(spark, sf_dir, SW.session_counts, "complete")
    return (
        out.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("session_len").alias("longest_session"),
            F.sum("session_len").alias("total_events"),
        )
        .orderBy("user_id")
    )


@query(
    "q51_streaming_dedup",
    oracle="""
        SELECT user_id, event_type, count(*) AS n
        FROM (SELECT DISTINCT user_id, event_type FROM events)
        GROUP BY user_id, event_type
        ORDER BY user_id, event_type
    """,
    description="Streaming dropDuplicatesWithinWatermark on the closed "
    "events table == batch DISTINCT (per-key exactly-one check)",
    tags=("streaming", "dedup"),
)
def q51_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _stream_events_closed(
        spark,
        sf_dir,
        lambda df: SW.streaming_dedup(df).select(
            "user_id", "event_type"
        ),
        "append",
    )
    return (
        out.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("user_id", "event_type")
    )


@query(
    "q73_streaming_interval_join",
    oracle="""
        SELECT c.user_id,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM events c JOIN events p
          ON p.user_id = c.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
        GROUP BY c.user_id
        ORDER BY c.user_id
    """,
    description="ACTUAL stream-stream interval join on the closed events "
    "table: clicks joined to the same user's purchases within 30 min "
    "(watermarks + bounded event-time range => bounded join state), "
    "counted per user and hash-checked against the batch range-join oracle",
    tags=("streaming", "join"),
)
def q73_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _stream_events_closed(spark, sf_dir, SW.interval_join_pairs, "append")
    return (
        out.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("user_id")
    )


def _stream_documents_closed(
    spark: SparkSession,
    sf_dir: str,
    op,
    output_mode: str,
    partitions: str | None = None,
) -> DataFrame:
    return SW.run_on_closed_input(
        spark, os.path.join(sf_dir, "documents.parquet"), op, output_mode, partitions=partitions
    )


@query(
    "q83_streaming_curation",
    oracle="""
        SELECT source, CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_kept
        FROM documents
        WHERE lang = 'en'
          AND n_chars BETWEEN 100 AND 5000
          AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
              / length(text) >= 0.6
        GROUP BY source
        ORDER BY source
    """,
    description="The curation pipeline as ONE streaming job: documents "
    "stream through the q30 quality gate, then stateful content-digest "
    "dedup (dropDuplicates on (source, md5)), counted per source — "
    "hash-checked against the batch DISTINCT oracle. Closed-input mode "
    "uses unwatermarked dropDuplicates (state = one digest set, exact); "
    "production ingestion would swap dropDuplicatesWithinWatermark for "
    "bounded state, as q51 demonstrates on events",
    tags=("streaming", "llm", "dedup"),
)
def q83_streaming_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the quality filter is a narrow scan-side predicate
    (runs BEFORE dedup state, shrinking it); dedup state is keyed on
    16-byte digests, never document bodies; per-source counts are a
    tiny final agg. The per-(source, digest) dedup key makes the count
    survivor-independent, so the streaming answer is deterministic."""
    from pyspark.sql import functions as FF

    def op(df):
        ar = FF.length(FF.regexp_replace("text", "[^A-Za-z]", "")).cast("double") / FF.length(
            "text"
        ).cast("double")
        return (
            df.filter(
                (FF.col("lang") == "en")
                & FF.col("n_chars").between(100, 5000)
                & (ar >= 0.6)
            )
            .select("source", FF.md5("text").alias("digest"))
            .dropDuplicates(["source", "digest"])
        )

    out = _stream_documents_closed(spark, sf_dir, op, "append")
    return (
        out.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
        .orderBy("source")
    )


@query(
    "q91_streaming_stateful_totals",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    description="CUSTOM stateful operator under the oracle gate: "
    "applyInPandasWithState per-user running (count, sum) state driven "
    "through the real streaming path on the closed events table; the "
    "final per-user state row must equal the batch GROUP BY. State is "
    "one fixed-width tuple per user — scales with |users|, not "
    "|events|",
    tags=("streaming", "stateful"),
)
def q91_streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memory sink in update mode appends one row per user per
    micro-batch; the FINAL state row per user is the one with the
    highest n_events (monotonic), selected with a per-user window —
    robust to however many micro-batches the file source chooses."""
    from pyspark.sql.window import Window as W

    from ..streaming.stateful import running_user_totals

    out = _stream_events_closed(spark, sf_dir, running_user_totals, "update")
    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id")
    )


@query(
    "q108_streaming_zscore",
    oracle="""
        WITH b AS (
            SELECT event_id, user_id, ts,
                   CAST(round(value * 1000) AS BIGINT) AS v_milli
            FROM events
        ),
        st AS (
            SELECT event_id, user_id, v_milli,
                   count(v_milli) OVER w AS n,
                   sum(v_milli) OVER w AS s,
                   sum(v_milli * v_milli) OVER w AS ss
            FROM b
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        ),
        z AS (
            SELECT event_id, user_id, v_milli,
                   (CAST(v_milli AS DOUBLE) - CAST(s AS DOUBLE) / n)
                     / sqrt(CAST(n * ss - s * s AS DOUBLE) / (n * (n - 1))) AS z
            FROM st
            WHERE n >= 10 AND n * ss - s * s > 0
        )
        SELECT event_id, user_id, v_milli, round(z, 3) AS z
        FROM z
        WHERE abs(z) >= 3.0
        ORDER BY event_id
    """,
    description="STREAMING rolling z-score anomaly detection: "
    "applyInPandasWithState holds a bounded ring of the last 20 "
    "milli-unit values per user and APPENDS flagged events (|z| >= 3) "
    "as they arrive, driven through the real streaming path on the "
    "closed events table — the live face of q105, hash-equal to the "
    "batch window plan because both walk the identical exact-integer "
    "state (same IEEE op sequence for z)",
    tags=("streaming", "stateful", "anomaly"),
)
def q108_streaming_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State scales with |users| x 20 BIGINTs, never |events|; the
    in-order-per-key delivery contract (Kinesis per-shard ordering)
    and the multi-micro-batch state carryover are asserted separately
    in tests/test_stateful.py — the catalog drain closes the input in
    one availableNow pass."""
    from ..streaming.stateful import streaming_rolling_zscore

    def op(stream):
        base = stream.select(
            "event_id",
            "user_id",
            "ts",
            F.round(F.col("value") * 1000, 0).cast("long").alias("v_milli"),
        )
        return streaming_rolling_zscore(base)

    out = _stream_events_closed(spark, sf_dir, op, "append")
    return (
        out.select("event_id", "user_id", "v_milli", F.round("z", 3).alias("z"))
        .orderBy("event_id")
    )


@query(
    "q113_streaming_countmin",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
            FROM documents
        ),
        keyed AS (
            SELECT r.r,
                   CAST('0x' || substring(md5(r.r || ':' || token), 1, 15) AS BIGINT)
                       % {_SK.CMS_WIDTH} AS bucket
            FROM tok CROSS JOIN (SELECT unnest(generate_series(0, {_SK.CMS_DEPTH - 1})) AS r) r
        ),
        counters AS (
            SELECT r, bucket, count(*) AS cnt FROM keyed GROUP BY r, bucket
        ),
        top AS (
            SELECT token, CAST(count(*) AS BIGINT) AS exact_n
            FROM tok GROUP BY token
            ORDER BY exact_n DESC, token LIMIT 20
        ),
        probes AS (
            SELECT token, exact_n, r.r,
                   CAST('0x' || substring(md5(r.r || ':' || token), 1, 15) AS BIGINT)
                       % {_SK.CMS_WIDTH} AS bucket
            FROM top CROSS JOIN (SELECT unnest(generate_series(0, {_SK.CMS_DEPTH - 1})) AS r) r
        )
        SELECT p.token, p.exact_n,
               CAST(min(c.cnt) AS BIGINT) AS cms_est,
               min(c.cnt) >= p.exact_n AS overestimate_ok
        FROM probes p JOIN counters c USING (r, bucket)
        GROUP BY p.token, p.exact_n
        ORDER BY p.exact_n DESC, p.token
    """,
    description="STREAMING count-min sketch: the 4x1024 counter grid "
    "maintained as streaming aggregation state over the documents "
    "stream (complete mode, availableNow drain) — the grid the stream "
    "leaves behind must equal the batch-built sketch bit-for-bit, "
    "checked by probing it for the exact top-20 tokens through the "
    "SAME probe path as q112 (identical oracle)",
    tags=("streaming", "sketch", "llm"),
)
def q113_streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-sketch claim made executable: CMS is a linear
    (mergeable) summary, so streaming partial aggregation over any
    micro-batch split must land on the identical grid — state is
    <= d*w counter rows (CONSTANT at any corpus size, the smallest
    state of any stateful query in the catalog; compare q51's
    per-event-id dedup set). At 100 TB of ingest the sketch answers
    frequency queries while exact token counts would hold |vocabulary|
    state. Probing happens post-drain against the STREAM-built grid
    (sketch.countmin_probe, shared with q112) — a drift anywhere in
    the streaming build (hash plumbing, partial-agg merge, complete-
    mode re-emission) lands in the hash gate, not just a row count."""
    from ..operators import sketch as _sketch
    from ..sources.tables import load_table as _load

    def op(df):
        return _sketch.countmin_counters(df)

    grid = _stream_documents_closed(spark, sf_dir, op, "complete", partitions="2")
    top = _sketch.exact_top_tokens(_load(spark, sf_dir, "documents"))
    return _sketch.countmin_probe(grid, top)


@query(
    "q121_streaming_shard_manifest",
    oracle=_SHARD_ORACLE,
    description="STREAMING training-shard manifests: the q115 shard "
    "assignment and manifest aggregation maintained as streaming state "
    "over the documents stream (complete mode, availableNow drain) — "
    "the manifests the stream leaves behind must equal the batch-built "
    "manifests bit-for-bit (identical oracle to q115), because every "
    "manifest statistic (count, sum, XOR, min, max) is a mergeable "
    "aggregate, so micro-batch partial aggregation cannot drift",
    tags=("streaming", "sharding", "llm"),
)
def q121_streaming_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An ingest pipeline doesn't re-shard the corpus after landing —
    it maintains shard manifests AS the crawl streams in, then writes
    shards straight from the running state. Correct exactly because
    the manifest is built from linear (commutative + associative)
    aggregates over a pure per-row hash projection: any micro-batch
    split or partial-agg merge order lands on the same state. State is
    n_shards rows of 5 BIGINTs — constant at any ingest volume (the
    q113 constant-state family). Shard/order keys are content hashes,
    so a replayed batch (at-least-once ingestion) re-derives identical
    keys; idempotent manifest maintenance then only needs upstream
    dedup (q51/q83), not key coordination."""
    from ..operators import sharding as _sharding

    def op(df):
        return _sharding.shard_manifest(df)

    return _stream_documents_closed(spark, sf_dir, op, "complete").orderBy("shard")



@query(
    "q129_streaming_hll",
    # identical oracle to q128: the stream's register file must equal
    # the batch one bit-for-bit, so the folds agree column-for-column
    oracle=_HLL_ORACLE,
    description="STREAMING HyperLogLog-256: the per-source distinct-"
    "shingle register file maintained as streaming aggregation state "
    "(complete mode, availableNow drain) — max() is commutative, "
    "associative AND idempotent, so any micro-batch split, partial-agg "
    "merge order, or at-least-once replay lands on the identical "
    "registers, which then fold to the same estimate as the batch face "
    "(q128, identical oracle — the q112/q113 convention)",
    tags=("streaming", "sketch", "llm"),
)
def q129_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State is |sources| x 256 (register, rho) rows — CONSTANT at any
    ingest volume (the q113/q121 constant-state family) and the
    smallest possible distinct-counting state: the exact streaming
    alternative (q83's digest dedup) holds one key per distinct value.
    Shingling runs INSIDE the stream (column expressions on the
    unbounded frame); the register max-agg collapses each micro-batch
    map-side. The exact truth column joins from one batch pass after
    the drain — at 100 TB you drop that join and trust the +-6.5%."""
    from ..operators.dedup import _shingle_hash_rows as _shr
    from .curation9 import _Q130_N, _hll_output

    def op(df):
        rows = _shr(df.select("source", "text"), "source", _Q130_N, id_type="string")
        return _SK.hll_registers(rows.withColumnRenamed("doc", "source"))

    regs = _stream_documents_closed(spark, sf_dir, op, "complete", partitions="2")
    return _hll_output(spark, sf_dir, regs)



@query(
    "q134_streaming_hist",
    # identical oracle to q133: the stream's histogram state must
    # equal the batch one row-for-row, so both folds agree
    oracle=_HIST_ORACLE,
    description="STREAMING log-binned histogram quantiles: the per-"
    "source (bin, count) histogram maintained as streaming aggregation "
    "state (complete mode, availableNow drain) — counts are linear "
    "(commutative + associative), so any micro-batch split or partial-"
    "agg merge order lands on the identical histogram, which then "
    "folds to the same p25/p50/p75 estimates as the batch face (q133, "
    "identical oracle — the q128/q129 convention)",
    tags=("streaming", "sketch", "llm"),
)
def q134_streaming_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State is |sources| x ~60 (bin, count) rows — CONSTANT at any
    ingest volume (the q113/q121/q129 constant-state family); the
    binning projection runs scan-side inside the stream and each
    micro-batch collapses map-side before touching state. Linear
    counts are NOT idempotent, so at-least-once ingestion needs
    upstream dedup (q51/q83) — same caveat as q113's grid, documented
    rather than hidden. The exact-median truth column joins from one
    batch pass after the drain; at 100 TB you drop it and keep only
    histogram-sized state."""
    from .curation10 import _hist_output, hist_documents

    hist = _stream_documents_closed(spark, sf_dir, hist_documents, "complete", partitions="2")
    return _hist_output(spark, sf_dir, hist)



@query(
    "q136_streaming_bloom",
    # identical oracle to q132: the stream's per-source counters must
    # equal the batch ones row-for-row, so both finalize identically
    oracle=_BLOOM_ORACLE,
    description="STREAMING bloom-filter decontamination: probe "
    "documents stream through the q132 bloom gate (three fixed 2^16-"
    "bit sets, STATIC broadcast sides of stream-static joins) and the "
    "per-source hit counters are maintained as streaming aggregation "
    "state (complete mode, availableNow drain) — the counters the "
    "stream leaves behind must equal the batch face's row-for-row "
    "(q132, identical oracle — the q133/q134 convention), because all "
    "three are linear aggregates over a per-shingle projection",
    tags=("streaming", "sketch", "llm"),
)
def q136_streaming_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination gate an INGESTING crawl actually runs: flag
    contaminated shingles as documents arrive, not in a nightly batch.
    State is |sources| x 3 counters — CONSTANT at any ingest volume
    (the q113/q121/q129/q134 constant-state family) and the smallest
    member yet; the bloom bit sets ride the micro-batches as static
    broadcast joins (8 KiB x 3 regardless of bench size), so the
    stream side never shuffles before its one counter agg. Shingling
    runs INSIDE the stream (the q129 pattern). Linear
    counts are NOT idempotent, so at-least-once ingestion needs
    upstream dedup (q51/q83) — q134's documented caveat. The exact
    truth column (bench_h broadcast) is part of the audit face and is
    its one bench-sized broadcast."""
    from .curation10 import (
        _bloom_probe,
        bloom_bits,
        bloom_counters,
        bloom_finalize,
        bloom_flag_probes,
    )

    bench_h, bits = bloom_bits(spark, sf_dir)

    def op(df):
        return bloom_counters(
            bloom_flag_probes(_bloom_probe(df), bench_h, bits)
        )

    agg = _stream_documents_closed(spark, sf_dir, op, "complete", partitions="2")
    return bloom_finalize(agg)



@query(
    "q141_streaming_dsir",
    # identical oracle to q140: the stream's (bkt, c_all, c_tgt) state
    # must equal the batch distribution row-for-row, and the totals
    # are derived FROM that state, so both faces finalize identically
    oracle=_DSIR_ORACLE,
    description="STREAMING DSIR feature distribution: the q140 hashed-"
    "unigram bucket table (<= 256 rows x two counters) maintained as "
    "streaming aggregation state (complete mode, availableNow drain) "
    "— counts are linear (commutative + associative), so any micro-"
    "batch split or partial-agg merge order lands on the identical "
    "distribution, which then finalizes to the same importance report "
    "as the batch face (q140, identical oracle — the q133/q134 "
    "convention)",
    tags=("streaming", "sketch", "llm", "curation"),
)
def q141_streaming_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection state an INGESTING crawl actually maintains:
    accumulate the target-vs-corpus feature distribution as documents
    arrive, then score any candidate set against the frozen state at
    selection time. State is <= 256 (bkt, c_all, c_tgt) rows —
    CONSTANT at any ingest volume (the q113/q121/q129/q134/q136
    constant-state family), and mergeable across shards/streams
    (counts add). The token explode + bucket hash run scan-side
    INSIDE the stream (JVM conv(), no Python crossing); each
    micro-batch collapses map-side before touching state. Linear
    counts are NOT idempotent, so at-least-once ingestion needs
    upstream dedup (q51/q83) — q134's documented caveat. The per-doc
    scoring pass joins the drained state's broadcast score table from
    one batch pass after the drain (the audit face); at 100 TB that
    pass runs at selection time over whatever slice is being drawn,
    against the same frozen state."""
    from .curation12 import _dsir_bucket_rows, _dsir_output, dsir_distribution

    def op(df):
        return dsir_distribution(_dsir_bucket_rows(df))

    dist = _stream_documents_closed(spark, sf_dir, op, "complete", partitions="2")
    return _dsir_output(spark, sf_dir, dist)



@query(
    "q144_streaming_pii",
    # identical oracle to q143: the stream's |sources| x 6 counter
    # state must equal the batch counters row-for-row, and the rate is
    # derived FROM that state, so both faces finalize identically
    oracle=_PII_ORACLE,
    description="STREAMING PII audit: q143's per-source counter table "
    "(n_docs / docs_with_pii / per-detector matches / post-redaction "
    "residual — six LINEAR counters) maintained as complete-mode "
    "streaming aggregation state while documents arrive, finalized to "
    "the identical report from the drained state alone (identical "
    "oracle — the q133/q134 / q140/q141 twin convention); this is the "
    "scrub-at-ingestion shape: the reference pipeline's transform "
    "stage is exactly where a production PII rewrite runs in flight",
    tags=("streaming", "llm", "curation"),
)
def q144_streaming_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: detectors + redaction + residual re-scan run
    scan-side INSIDE the stream (JVM regexp, zero Python crossings);
    each micro-batch collapses map-side to |sources| rows before
    touching state, so state is |sources| x 6 BIGINTs — CONSTANT at
    any ingest volume (the q113/q121/q129/q134/q136/q141
    constant-state family), mergeable across shards (all counters
    linear). Linear counts are NOT idempotent, so at-least-once
    ingestion needs upstream dedup (q51/q83) — q134's documented
    caveat. The planted-PII stratum is applied inside the stream the
    same way q143 plants it at the scan, so stream == batch is
    checkable row-for-row."""
    from .curation13 import _pii_augment, pii_counters, pii_finalize

    def op(df):
        return pii_counters(_pii_augment(df))

    state = _stream_documents_closed(
        spark, sf_dir, op, "complete", partitions="2"
    )
    return pii_finalize(state)



@query(
    "q145_streaming_skew",
    # identical oracle to q118: the stream's per-key count state must
    # equal the batch phase-1 table row-for-row, and the bucket rollup
    # is derived FROM that state, so both faces finalize identically
    oracle=_SKEW_ORACLE,
    description="STREAMING key-skew audit: q118's per-key row counts "
    "(operators/skew.py::key_counts) maintained as complete-mode "
    "streaming aggregation state while events arrive, then rolled up "
    "to the identical 32-bucket skew report from the drained state "
    "alone (identical oracle — the q133/q134, q140/q141, q143/q144 "
    "twin convention); this is the shape that watches a LIVE ingest "
    "for the hot key BEFORE the nightly 100 TB shuffle job hits it",
    tags=("streaming", "skew", "audit"),
)
def q145_streaming_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: each micro-batch collapses map-side to one partial
    per key before touching state (the audit is immune to the skew it
    measures — q118's property, inherited because the SAME groupBy
    serves both faces), so state is |keys| x 1 BIGINT counters — the
    q91 per-key state family: state grows with KEY CARDINALITY only,
    never with ingest volume, and merges across shards (counts add).
    NOT the constant-state family (q113/q121/q129/q134/q136/q141/q144)
    — an honest skew audit needs the hottest key exactly, so the
    per-key table IS the minimal state; a constant-state variant would
    have to sketch the hot key (q112/q113's count-min) and lose the
    exact max_key_rows the report exists for. Linear counts are NOT
    idempotent, so at-least-once ingestion needs upstream dedup
    (q51/q83) — q134's documented caveat. The rollup to 32 buckets
    runs once on the drained |keys|-row state."""
    from ..operators import skew as _skew

    def op(df):
        return _skew.key_counts(df)

    state = _stream_events_closed(spark, sf_dir, op, "complete")
    return _skew.skew_rollup(state).orderBy("bucket")



@query(
    "q150_streaming_attrition",
    # identical oracle to q149: the stream's per-(source, reason)
    # counter state must equal the batch counters row-for-row, and the
    # shares derive FROM that state, so both faces finalize identically
    oracle=_ATTRITION_ORACLE,
    description="STREAMING attrition ledger: q149's per-(source, "
    "reason) doc/token counters maintained as complete-mode streaming "
    "aggregation state while documents arrive, finalized to the "
    "identical table from the drained state alone (identical oracle — "
    "the q143/q144, q118/q145 twin convention); this is the live "
    "ingest-quality monitor: the attrition table updating AS the "
    "crawl lands, so a gate suddenly eating a source pages before "
    "the nightly batch report",
    tags=("streaming", "llm", "curation"),
)
def q150_streaming_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the gate labels and token counts run scan-side
    INSIDE the stream (whole-stage codegen, zero Python crossings);
    each micro-batch collapses map-side to <= 5 rows per source before
    touching state, so state is |sources| x |reasons| BIGINT-pair rows
    — CONSTANT at any ingest volume (the q113/q121/q129/q134/q136/
    q141/q144 constant-state family), mergeable across shards (all
    counters linear). Linear counts are NOT idempotent, so
    at-least-once ingestion needs upstream dedup (q51/q83) — q134's
    documented caveat. The share projection runs once on the drained
    ledger."""
    from .curation16 import attrition_counters, attrition_finalize

    state = _stream_documents_closed(
        spark, sf_dir, attrition_counters, "complete", partitions="2"
    )
    return attrition_finalize(state)


@query(
    "q152_streaming_blocklist",
    # identical oracle to q151: the stream's per-(source, domain)
    # counter state must equal the batch counters row-for-row, and the
    # whole report derives FROM that state, so both faces finalize
    # identically
    oracle=_BLOCKLIST_ORACLE,
    description="STREAMING domain blocklist audit: q151's per-(source, "
    "domain) doc/token counters maintained as complete-mode streaming "
    "aggregation state while documents arrive, finalized to the "
    "identical blocklist + domain-concentration report from the "
    "drained state alone (identical oracle — the q143/q144, q149/q150 "
    "twin convention); this is the gate watched LIVE: a blocklisted "
    "domain suddenly dominating a source's ingest pages before the "
    "nightly batch audit",
    tags=("streaming", "llm", "curation"),
)
def q152_streaming_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the domain plant and token count run scan-side
    INSIDE the stream (whole-stage codegen, zero Python crossings);
    each micro-batch collapses map-side to one partial per (source,
    domain) before touching state, so state is |sources| x |domains|
    BIGINT-pair rows — the q145/q91 per-key family (grows with DOMAIN
    cardinality only, never ingest volume; the web's domain count
    bounds it at any corpus size), mergeable across shards (all
    counters linear). Linear counts are NOT idempotent, so
    at-least-once ingestion needs upstream dedup (q51/q83) — q134's
    documented caveat. The blocklist flag, rollup, and top-domain
    window run once on the drained counter table."""
    from .curation17 import _domain_augment, domain_counters, domain_finalize

    def op(df):
        return domain_counters(_domain_augment(df))

    state = _stream_documents_closed(
        spark, sf_dir, op, "complete", partitions="2"
    )
    return domain_finalize(state)


@query(
    "q154_streaming_mojibake",
    # identical oracle to q153: the stream's per-source counter state
    # must equal the batch counters row-for-row, and the rate derives
    # FROM that state, so both faces finalize identically
    oracle=_MOJIBAKE_ORACLE,
    description="STREAMING mojibake audit: q153's five LINEAR "
    "per-source counters maintained as complete-mode streaming "
    "aggregation state while documents arrive — the repair-at-"
    "ingestion shape (the reference transform stage's other "
    "production role next to q144's PII scrub); state = |sources| x "
    "5 BIGINTs, constant at any ingest volume, mergeable across "
    "shards; the drained state alone finalizes the identical report "
    "(identical oracle — the q143/q144, q151/q152 twin convention)",
    tags=("streaming", "llm", "curation"),
)
def q154_streaming_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the mojibake plant, detection arithmetic, repair,
    and residual re-scan run scan-side INSIDE the stream (whole-stage
    codegen, zero Python crossings); each micro-batch collapses
    map-side to one partial per source before touching state, so
    state is |sources| x 5 BIGINTs — CONSTANT at any ingest volume
    (the q113/q121/q129/q134/q136/q141/q144/q150 constant-state
    family), mergeable across shards (all counters linear). Linear
    counts are NOT idempotent, so at-least-once ingestion needs
    upstream dedup (q51/q83) — q134's documented caveat. The rate
    projection runs once on the drained counter table."""
    from .curation18 import _mojibake_augment, mojibake_counters, mojibake_finalize

    def op(df):
        return mojibake_counters(_mojibake_augment(df))

    state = _stream_documents_closed(
        spark, sf_dir, op, "complete", partitions="2"
    )
    return mojibake_finalize(state)


@query(
    "q156_streaming_line_dedup",
    # the q155 oracle template MINUS its rewrite_xor column: the
    # stream's per-(line, doc) counter state fully determines the
    # removal audit but deliberately holds no line text, so the
    # reassembly-hash face is batch-only (the honest twin boundary —
    # everything the state CAN determine is finalized identically).
    # PARITY PIN (round-16 advisor): this oracle counts every document
    # in n_docs, but line_finalize sees only docs with >=1 counter row
    # — q156's parity therefore DEPENDS on _line_augment emitting at
    # least one non-empty line per document (the unconditional
    # 'related article' line). tests/test_round16_planted.py::
    # test_line_plant_guarantees_nonempty_line pins the plant-side
    # guarantee so a future plant edit cannot silently desync the twin.
    oracle=_LINEDEDUP_COUNTER_ORACLE,
    description="STREAMING line-dedup audit: q155's per-(line-hash, "
    "doc) occurrence/first-index/token counters maintained as "
    "complete-mode streaming aggregation state while documents "
    "arrive, finalized to q155's per-source removal report (minus "
    "the batch-only rewrite_xor reassembly column) from the drained "
    "state alone — the live boilerplate monitor: a navigation line "
    "suddenly flooding a source's ingest pages before the nightly "
    "batch rewrite",
    tags=("streaming", "llm", "curation", "dedup"),
)
def q156_streaming_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the line plant, split, hash, and token count run
    scan-side INSIDE the stream (whole-stage codegen, zero Python
    crossings); each micro-batch collapses map-side to one partial
    per (lhash, doc_id) before touching state.  HONEST state-size
    note: unlike the constant-state family (q150/q154) and the
    domain-bounded q152, this state is keyed by (line content,
    document) — the q145/q91 per-KEY family whose cardinality grows
    with the corpus's deduplicated line volume; production runs it
    as the live monitor over a bounded ingest window and leaves the
    full-corpus pass to the batch face (q155), exactly q91's
    documented caveat.  All counters are count/min — mergeable across
    shards; linear counts are NOT idempotent, so at-least-once
    ingestion needs upstream dedup (q51/q83, q134's caveat).  The
    global df/first agg, keep rule, and per-source rollup run once
    on the drained counter table (line_finalize, renamed join keys —
    the q152 drained-memory-table discipline)."""
    from .curation19 import _line_augment, line_counters, line_finalize

    def op(df):
        return line_counters(_line_augment(df))

    state = _stream_documents_closed(
        spark, sf_dir, op, "complete", partitions="2"
    )
    return line_finalize(state)



@query(
    "q158_streaming_perplexity",
    # identical oracle to q157: the drained per-doc counter state plus
    # the static model constants determine EVERY output column, so the
    # twins are identical-output twins (the q151/q152 discipline,
    # stronger than q156's minus-one-column boundary)
    oracle=_PPL_ORACLE,
    description="STREAMING perplexity-bucket audit: q157's per-doc "
    "surprisal accumulators maintained as complete-mode streaming "
    "aggregation state while documents arrive, each micro-batch "
    "scored against the STATIC pre-trained surprisal model via a "
    "stream-static LEFT join (the model is the dim the blocklist was "
    "in q152 — fixed at training time, exactly CCNet's deployment "
    "shape); the drained state plus the model constants finalize the "
    "identical report — the live quality monitor: a source's ingest "
    "drifting into the tail bucket pages before the nightly batch "
    "audit",
    tags=("streaming", "llm", "curation", "quality"),
)
def q158_streaming_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the plant, tokenize, and surprisal lookup run
    INSIDE the stream — tokenize is scan-side narrow, the vocab
    lookup is a stream-static LEFT join against the Zipf-bounded
    model frame (broadcast-sized at any corpus scale), and the single
    groupBy(doc_id) agg collapses each micro-batch map-side before
    touching state.  HONEST state note: state is per-DOCUMENT (2
    BIGINTs + source) — the q145/q91/q156 per-key family, growing
    with ingested documents; production scopes the live monitor to a
    bounded ingest window and leaves full-corpus scoring to the batch
    face (q157).  Counters are count/sum/min — mergeable across
    shards; linear counts are NOT idempotent, so at-least-once
    ingestion needs upstream dedup (q51/q83, q134's caveat).  The
    bucket labels and rollup run once on the drained counter table
    (ppl_finalize, shared verbatim with q157).  MODEL-PROVENANCE note
    (round-16 advisor): the catalog face trains (vocab, n_ref, g) via
    a batch pass over the SAME closed documents table it then streams
    — required ONLY because the oracle gate needs a deterministic
    model over a closed input.  Production passes an INDEPENDENTLY
    trained model (CCNet trains on Wikipedia, not the live crawl);
    a library caller should hand surprisal_model() a separate
    reference frame, never the stream's own source."""
    from ..sources.tables import load_table
    from .curation20 import (
        PPL_REF_SOURCE,
        _ppl_augment,
        ppl_counters,
        ppl_finalize,
        surprisal_model,
    )

    ref = _ppl_augment(load_table(spark, sf_dir, "documents")).filter(
        F.col("source") == PPL_REF_SOURCE
    )
    vocab, n_ref, g = surprisal_model(ref)

    def op(df):
        return ppl_counters(_ppl_augment(df), vocab, n_ref)

    state = _stream_documents_closed(
        spark, sf_dir, op, "complete", partitions="2"
    )
    return ppl_finalize(state, g)


@query(
    "q160_streaming_bigram_ppl",
    # identical oracle to q159: the drained per-doc counter state plus
    # the static model constants determine EVERY output column —
    # identical-output twins, the q157/q158 discipline
    oracle=_BIGRAM_ORACLE,
    description="STREAMING bigram-surprisal audit: q159's per-doc "
    "accumulators maintained as complete-mode streaming aggregation "
    "state while documents arrive, each micro-batch scored against "
    "the STATIC pre-trained bigram-backoff model via TWO "
    "stream-static LEFT joins (pair⋈context dim, backoff "
    "unigrams — q158's one static dim grown to the full KenLM-shaped "
    "model, all fixed at training time); the drained state plus the "
    "model constants finalize the identical report — the live "
    "quality monitor with one order of context: a source whose "
    "ingest drifts into unseen-bigram territory pages before the "
    "nightly batch audit",
    tags=("streaming", "llm", "curation", "quality"),
)
def q160_streaming_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the plant, pair construction, and both model
    lookups run INSIDE the stream — pair construction is scan-side
    narrow, the lookups are stream-static LEFT joins against
    Zipf-bounded model frames (broadcast-sized at any corpus scale;
    the context counts ride pre-joined on the pair dim since round
    18), and the single groupBy(doc_id) agg collapses each
    micro-batch map-side before touching state.  HONEST state note: per-DOCUMENT accumulators (2
    BIGINTs + source) — the q145/q91/q158 per-key family, growing
    with ingested documents; production scopes the live monitor to a
    bounded ingest window and leaves full-corpus scoring to the batch
    face (q159).  Counters are count/sum/min — mergeable across
    shards; linear counts are NOT idempotent, so at-least-once
    ingestion needs upstream dedup (q51/q83, q134's caveat).  The
    bucket labels and rollup run once on the drained counter table
    (ppl_finalize, shared verbatim with q157/q158/q159).
    MODEL-PROVENANCE note (q158's, inherited): the catalog face
    trains on the same closed table it streams ONLY because the
    oracle gate needs a deterministic model — production hands
    bigram_model an independently trained reference."""
    from ..sources.tables import load_table
    from .curation20 import PPL_REF_SOURCE, _ppl_augment, ppl_finalize
    from .curation21 import bigram_counters, bigram_model

    ref = _ppl_augment(load_table(spark, sf_dir, "documents")).filter(
        F.col("source") == PPL_REF_SOURCE
    )
    pairs, ctx, vocab, n_ref, g2 = bigram_model(ref)

    def op(df):
        return bigram_counters(_ppl_augment(df), pairs, ctx, vocab, n_ref)

    state = _stream_documents_closed(
        spark, sf_dir, op, "complete", partitions="2"
    )
    return ppl_finalize(state, g2)


@query(
    "q162_streaming_llr_filter",
    # identical oracle to q161: the drained per-doc counter state plus
    # the trained threshold determine EVERY output column —
    # identical-output twins, the q157/q158/q159/q160 discipline
    oracle=_LLR_ORACLE,
    description="STREAMING NB-LLR quality-filter audit: q161's "
    "per-doc weight accumulators maintained as complete-mode "
    "streaming aggregation state while documents arrive, each "
    "micro-batch scored via ONE stream-static LEFT join against the "
    "trained weight dim (the Zipf-bounded union-vocabulary table — "
    "q158's static-dim pattern with the classifier in place of the "
    "LM); the drained state plus the trained threshold finalize the "
    "identical report — the live keep/drop monitor: a source whose "
    "ingest drifts toward background-characteristic vocabulary pages "
    "before the nightly batch audit",
    tags=("streaming", "llm", "curation", "quality"),
)
def q162_streaming_llr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the plant, tokenize, and the weight lookup run
    INSIDE the stream — the lookup is a stream-static LEFT join
    against the Zipf-bounded trained weight dim (broadcast-sized at
    any corpus scale), and the single groupBy(doc_id) agg collapses
    each micro-batch map-side before touching state.  HONEST state
    note: per-DOCUMENT accumulators (2 BIGINTs + source) — the
    q145/q91/q158/q160 per-key family, growing with ingested
    documents; production scopes the live monitor to a bounded
    ingest window and leaves full-corpus labeling to the batch face
    (q161).  Counters are count/sum/min — mergeable across shards;
    linear counts are NOT idempotent, so at-least-once ingestion
    needs upstream dedup (q51/q83, q134's caveat).  The keep/drop
    labels and rollup run once on the drained counter table
    (llr_finalize, shared verbatim with q161).  MODEL-PROVENANCE
    note (q158/q160's, inherited): the catalog face trains on the
    same closed table it streams ONLY because the oracle gate needs
    a deterministic model — production hands llr_classifier
    independently curated classes."""
    from ..sources.tables import load_table
    from .curation22 import _llr_augment, llr_classifier, llr_counters, llr_finalize
    from .curation20 import PPL_REF_SOURCE

    aug = _llr_augment(load_table(spark, sf_dir, "documents"))
    pos = aug.filter(F.col("source") == PPL_REF_SOURCE)
    neg = aug.filter(F.col("source") != PPL_REF_SOURCE)
    weights, w_oov, theta2, _shift = llr_classifier(pos, neg)

    def op(df):
        return llr_counters(_llr_augment(df), weights, w_oov)

    state = _stream_documents_closed(
        spark, sf_dir, op, "complete", partitions="2"
    )
    return llr_finalize(state, theta2)
