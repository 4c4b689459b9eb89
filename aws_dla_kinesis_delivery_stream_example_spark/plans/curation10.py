"""Round-11 batch (q132-q133; q134 in streaming_q.py is q133's stream
face): Bloom-filter decontamination with a measured false-positive
rate, and the mergeable log-binned histogram quantile sketch.

Both are constant-memory scale paths for operators the catalog already
carries exactly: q132 is how q64/q96's benchmark-shingle decontam ships
at 100 TB (broadcast a fixed 2^16-bit set membership instead of the
full bench shingle list), q133 is how q97/q126's exact percentiles
ship (a ~60-row mergeable histogram per group instead of a per-group
sort). Both keep the exact computation as an in-plan truth column so
the approximation error is MEASURED, not assumed — the q128 discipline.

Conventions follow catalog.py: identical column aliases both sides,
total ORDER BY, BIGINT casts, exact integer milli lattices, the house
60-bit md5-prefix hash (FIXTURES.md). The bloom bit positions are
three disjoint 16-bit windows of the 60-bit hash (bits 0-15, 22-37,
44-59) — md5 bits are independent, so no re-hashing pass is needed and
DuckDB reproduces the positions with plain shifts.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import CDC_MASK, CDC_WINDOW, _shingle_hash_rows
from ..operators.staging import stage
from ..sources.tables import load_table
from .catalog import query
from .curation import _BENCH_MOD

# q132 geometry: m = 2^16 bits, k = 3 probes. At the fixture bench
# density (~2% of corpus shingles) the load factor stays well under
# 10%, so the realized FPR sits in single-digit milli — both flag
# outcomes populated at every SF. 4-shingles: the q64 convention
# (this IS q64's scale path, so it probes the same universe).
_BLOOM_BITS = 1 << 16
_BLOOM_N = 4


def _bloom_pos(h, shift: int):
    col = F.col(h) if isinstance(h, str) else h
    w = F.shiftright(col, shift) if shift else col
    return (w % _BLOOM_BITS).cast("long")


def bloom_bits(spark: SparkSession, sf_dir: str):
    """(bench_h staged frame, [bits1, bits2, bits3] broadcast frames)
    — the static side of the decontamination gate, shared by the
    batch (q132) and streaming (q136) faces. Each bits frame is at
    most 2^16 rows regardless of bench size."""
    docs = load_table(spark, sf_dir, "documents")
    bench_h = stage(
        _shingle_hash_rows(
            docs.filter(F.col("doc_id") % _BENCH_MOD == 0).select("doc_id", "text"),
            "doc_id",
            _BLOOM_N,
        )
        .select("h")
        .distinct()
    )  # staged: three bit projections + the exact marker read it
    bits = [
        F.broadcast(
            bench_h.select(_bloom_pos("h", s).alias(f"p{i}"))
            .distinct()
            .withColumn(f"_b{i}", F.lit(1))
        )
        for i, s in ((1, 0), (2, 22), (3, 44))
    ]
    return bench_h, bits


def bloom_flag_probes(probe: DataFrame, bench_h: DataFrame, bits) -> DataFrame:
    """(source, bloom_hit, exact_hit) rows from (source, h) probe
    shingles: three broadcast LEFT joins against the bit sets, plus
    the exact-marker broadcast truth column. The probe stream never
    shuffles here."""
    withpos = probe.select(
        "source",
        "h",
        _bloom_pos("h", 0).alias("p1"),
        _bloom_pos("h", 22).alias("p2"),
        _bloom_pos("h", 44).alias("p3"),
    )
    flagged = (
        withpos.join(bits[0], "p1", "left")
        .join(bits[1], "p2", "left")
        .join(bits[2], "p3", "left")
    )
    bloom_hit = (
        F.col("_b1").isNotNull()
        & F.col("_b2").isNotNull()
        & F.col("_b3").isNotNull()
    ).alias("bloom_hit")
    return flagged.join(
        F.broadcast(bench_h.withColumn("_ex", F.lit(1))), "h", "left"
    ).select("source", bloom_hit, F.col("_ex").isNotNull().alias("exact_hit"))


def bloom_counters(flagged: DataFrame) -> DataFrame:
    """(source, n_shingles, bloom_pos, exact_pos) counters from the
    flagged probe rows — the shared batch/stream state builder. All
    three counters are linear, so partial aggregation collapses every
    task (or micro-batch) to one row per source before the exchange,
    and shard/stream folds land on the identical counters."""
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0))
        .cast("long")
        .alias("bloom_pos"),
        F.sum(F.when(F.col("exact_hit"), 1).otherwise(0))
        .cast("long")
        .alias("exact_pos"),
    )


def bloom_finalize(agg: DataFrame) -> DataFrame:
    """(source, n_shingles, bloom_pos, exact_pos) -> the q132/q136
    output columns (false positives + realized FPR in milli)."""
    return agg.select(
        "source",
        "n_shingles",
        "bloom_pos",
        "exact_pos",
        (F.col("bloom_pos") - F.col("exact_pos")).alias("false_pos"),
        F.expr(
            "1000 * (bloom_pos - exact_pos) div nullif(n_shingles - exact_pos, 0)"
        )
        .cast("long")
        .alias("fpr_milli"),
    ).orderBy("source")


# Shared by q132 (batch) and q136 (streaming): the stream's per-source
# (n_shingles, bloom_pos, exact_pos) counters must equal the batch ones
# row-for-row, so both faces finalize to the same FPR columns —
# identical oracle, the q133/q134 convention.
BLOOM_ORACLE = f"""
        WITH toks AS (
            SELECT doc_id, source,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id, source,
                   CAST('0x' || substring(md5(
                       array_to_string(array_slice(tk, i, i + {_BLOOM_N - 1}), ' ')
                   ), 1, 15) AS BIGINT) AS h
            FROM toks,
                 UNNEST(generate_series(1, greatest(len(tk) - {_BLOOM_N - 1}, 0))) AS t(i)
        ),
        bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % {_BENCH_MOD} = 0),
        bits1 AS (SELECT DISTINCT h % {_BLOOM_BITS} AS p FROM bench),
        bits2 AS (SELECT DISTINCT (h >> 22) % {_BLOOM_BITS} AS p FROM bench),
        bits3 AS (SELECT DISTINCT (h >> 44) % {_BLOOM_BITS} AS p FROM bench),
        probe AS (
            SELECT source,
                   ((h % {_BLOOM_BITS}) IN (SELECT p FROM bits1)
                    AND ((h >> 22) % {_BLOOM_BITS}) IN (SELECT p FROM bits2)
                    AND ((h >> 44) % {_BLOOM_BITS}) IN (SELECT p FROM bits3))
                       AS bloom_hit,
                   h IN (SELECT h FROM bench) AS exact_hit
            FROM sh WHERE doc_id % {_BENCH_MOD} <> 0
        ),
        agg AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_shingles,
                   CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS bloom_pos,
                   CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS exact_pos
            FROM probe GROUP BY source
        )
        SELECT source, n_shingles, bloom_pos, exact_pos,
               bloom_pos - exact_pos AS false_pos,
               CAST(1000 * (bloom_pos - exact_pos)
                    // nullif(n_shingles - exact_pos, 0) AS BIGINT) AS fpr_milli
        FROM agg
        ORDER BY source
"""


@query(
    "q132_bloom_decontam",
    oracle=BLOOM_ORACLE,
    description="Bloom-filter benchmark decontamination (m=2^16 bits, "
    "k=3 probes from disjoint windows of the house 60-bit hash) with "
    "the exact semi-join as an in-plan truth column: per source, how "
    "many probe 4-shingles the filter flags vs truly contaminated, and "
    "the REALIZED false-positive rate (milli) — the broadcast-constant "
    "scale path for q64/q96 when the bench shingle list itself is too "
    "big to ship to every task",
    tags=("llm", "sketch", "curation"),
)
def q132_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the THREE bit sets are distinct-aggs of the bench
    shingle frame (staged — built once, read three times), each at
    most 2^16 rows REGARDLESS of bench size, and every membership
    check is a broadcast LEFT join onto the probe stream — the corpus
    never shuffles for the bloom test. The exact truth column is the
    one bench-sized broadcast (drop it at 100 TB and only the fixed
    8 KiB x 3 bit sets ship). One (source) agg + the catalog sort are
    the only probe-sized exchanges.

    exact_pos <= bloom_pos structurally (a present shingle sets its
    own bits), so false_pos is non-negative by construction and the
    fpr denominator (true negatives + false positives) is exact."""
    docs = load_table(spark, sf_dir, "documents")
    bench_h, bits = bloom_bits(spark, sf_dir)
    flagged = bloom_flag_probes(_bloom_probe(docs), bench_h, bits)
    return bloom_finalize(bloom_counters(flagged))


def _bloom_probe(docs: DataFrame) -> DataFrame:
    """(source, h) probe shingles: every non-bench doc's distinct
    4-shingle hashes, keyed by source — shared by q132 and its
    streaming face q136 so the two probe exactly the same universe."""
    return _shingle_hash_rows(
        docs.filter(F.col("doc_id") % _BENCH_MOD != 0).select("source", "text"),
        "source",
        _BLOOM_N,
        id_type="string",
    ).withColumnRenamed("doc", "source")


# --------------------------------------------------------------- q133

# Shared by q133 (batch) and q134 (streaming): the stream's histogram
# state must equal the batch one row-for-row, so both faces fold to
# the same quantile estimates — identical oracle, the q128/q129
# convention.
HIST_ORACLE = """
    WITH base AS (
        SELECT source, doc_id, CAST(n_chars AS BIGINT) AS v
        FROM documents WHERE n_chars >= 1
    ),
    binned AS (
        SELECT source, v,
               4 * (length(bin(v)) - 1)
                 + (4 * v // (CAST(1 AS BIGINT) << (length(bin(v)) - 1)) - 4)
                   AS bin
        FROM base
    ),
    hist AS (
        SELECT source, bin, CAST(count(*) AS BIGINT) AS c
        FROM binned GROUP BY source, bin
    ),
    cum AS (
        SELECT source, bin, c,
               sum(c) OVER (PARTITION BY source ORDER BY bin) AS cum,
               sum(c) OVER (PARTITION BY source) AS n
        FROM hist
    ),
    lo AS (
        SELECT source, bin, cum, n,
               ((4 + bin % 4) * (CAST(1 AS BIGINT) << (bin // 4))) // 4 AS lo
        FROM cum
    ),
    est AS (
        SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
               CAST(min(CASE WHEN cum >= (n + 3) // 4 THEN lo END) AS BIGINT) AS est_p25,
               CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN lo END) AS BIGINT) AS est_p50,
               CAST(min(CASE WHEN cum >= (3 * n + 3) // 4 THEN lo END) AS BIGINT) AS est_p75
        FROM lo GROUP BY source
    ),
    exact AS (
        SELECT source, v AS exact_p50 FROM (
            SELECT source, v,
                   row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS rn,
                   count(*) OVER (PARTITION BY source) AS n
            FROM base
        ) WHERE rn = (n + 1) // 2
    )
    SELECT e.source, e.n_docs, e.est_p25, e.est_p50, e.est_p75,
           CAST(x.exact_p50 AS BIGINT) AS exact_p50,
           CAST(1000 * abs(e.est_p50 - x.exact_p50) // x.exact_p50 AS BIGINT)
               AS err_p50_milli
    FROM est e JOIN exact x USING (source)
    ORDER BY source
"""


def _hist_bin(v: str) -> F.Column:
    """Log-binned histogram bin id: 4 sub-bins per octave, exact
    integer math in BOTH engines (floor(log2 v) = length(bin(v)) - 1;
    neither engine zero-pads bin() — the q128 precedent).

    ``v`` must be a simple column NAME (it is interpolated into the
    SQL sub-bin expression — ``div``/variable-shift have no Column-API
    spelling, so a Column object cannot be threaded through; the old
    signature silently binned on the literal column 'v' whatever was
    passed — round-11 ADVICE finding #2)."""
    if not isinstance(v, str) or not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", v):
        raise TypeError(f"_hist_bin needs a simple column name, got {v!r}")
    e = (F.length(F.bin(F.col(v))) - 1).cast("int")
    sub = F.expr(
        f"4 * {v} div shiftleft(cast(1 as bigint),"
        f" cast(length(bin({v})) - 1 as int))"
    ) - F.lit(4)
    return (F.lit(4) * e.cast("long") + sub.cast("long")).alias("bin")


# Bin lower bound, as a SQL fragment over a frame that MUST expose the
# histogram bin id as a column literally named `bin` (hist_documents'
# output alias — same no-Column-API-spelling constraint as _hist_bin).
_HIST_LO = (
    "(4 + bin % 4) * shiftleft(cast(1 as bigint), cast(bin div 4 as int)) div 4"
)


def hist_documents(df: DataFrame) -> DataFrame:
    """(source, bin, c) histogram rows over n_chars — the shared
    batch/stream state builder. Partial aggregation collapses every
    task to <= ~60 rows per source map-side, so the exchange carries
    histogram rows, never documents (q128's register discipline)."""
    return (
        df.filter(F.col("n_chars") >= 1)
        .select("source", F.col("n_chars").cast("long").alias("v"))
        .select("source", _hist_bin("v"))
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def _hist_output(spark: SparkSession, sf_dir: str, hist: DataFrame) -> DataFrame:
    """Fold a (source, bin, c) histogram into the q133/q134 output:
    quantile estimates from the cumulative bin walk, the exact median
    as the truth column (a per-source doc sort — the one piece you
    drop at 100 TB, leaving only histogram-sized state)."""
    from pyspark.sql import Window

    w_cum = Window.partitionBy("source").orderBy("bin")
    w_all = Window.partitionBy("source")
    lo = F.expr(_HIST_LO)
    cum = (
        hist.withColumn("cum", F.sum("c").over(w_cum))
        .withColumn("n", F.sum("c").over(w_all))
        .withColumn("lo", lo)
    )
    est = cum.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.min(F.when(F.col("cum") >= F.expr("(n + 3) div 4"), F.col("lo")))
        .cast("long")
        .alias("est_p25"),
        F.min(F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("lo")))
        .cast("long")
        .alias("est_p50"),
        F.min(F.when(F.col("cum") >= F.expr("(3 * n + 3) div 4"), F.col("lo")))
        .cast("long")
        .alias("est_p75"),
    )
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("n_chars") >= 1).select(
        "source", "doc_id", F.col("n_chars").cast("long").alias("v")
    )
    w_rn = Window.partitionBy("source").orderBy("v", "doc_id")
    exact = (
        base.withColumn("rn", F.row_number().over(w_rn))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
        .filter(F.expr("rn = (n + 1) div 2"))
        .select("source", F.col("v").alias("exact_p50"))
    )
    return (
        est.join(F.broadcast(exact), "source")
        .select(
            "source",
            "n_docs",
            "est_p25",
            "est_p50",
            "est_p75",
            F.col("exact_p50").cast("long").alias("exact_p50"),
            F.expr("1000 * abs(est_p50 - exact_p50) div exact_p50")
            .cast("long")
            .alias("err_p50_milli"),
        )
        .orderBy("source")
    )


@query(
    "q133_hist_quantiles",
    oracle=HIST_ORACLE,
    description="Mergeable log-binned histogram quantiles per source "
    "(4 sub-bins per octave over n_chars, <= ~60 bins per group at any "
    "corpus size): p25/p50/p75 estimated from the cumulative bin walk, "
    "against the exact median truth column with the realized error "
    "(milli) — the constant-memory distributed-quantile path that "
    "replaces q97/q126's exact per-group percentile sort at 100 TB",
    tags=("llm", "sketch", "audit"),
)
def q133_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (hist_documents): binning is a scan-side integer
    projection; the histogram agg collapses map-side to <= ~60 rows
    per source before its exchange; the quantile fold then windows
    over HISTOGRAM rows (tiny), never documents. The exact-median
    truth column is the only per-document window — documented as the
    piece that drops at scale. Histograms merge by adding counts, so
    daily shards / stream micro-batches fold to the identical state
    (q134 proves it bit-for-bit)."""
    docs = load_table(spark, sf_dir, "documents")
    return _hist_output(spark, sf_dir, hist_documents(docs))


# q135 CDC geometry: operators/dedup.py's CDC_WINDOW / CDC_MASK.
# Cross-doc duplicate = chunk shared by >= 2 DISTINCT docs (intra-doc
# repeats are q72/q127's axis, not this one).


@query(
    "q135_cdc_chunk_dedup",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        pos AS (
            SELECT doc_id, tk, len(tk) AS L, p, tk[p] AS tok
            FROM toks, UNNEST(generate_series(1, len(tk))) AS t(p)
            WHERE len(tk) >= 1
        ),
        flagged AS (
            SELECT doc_id, p, tok,
                   CASE WHEN p >= {CDC_WINDOW} AND p < L
                             AND CAST('0x' || substring(md5(array_to_string(
                                     array_slice(tk, p - {CDC_WINDOW - 1}, p), ' ')
                                 ), 1, 15) AS BIGINT) % {CDC_MASK} = 0
                        THEN 1 ELSE 0 END AS cut
            FROM pos
        ),
        assigned AS (
            SELECT doc_id, p, tok,
                   1 + coalesce(sum(cut) OVER (
                       PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS chunk
            FROM flagged
        ),
        chunks AS (
            SELECT doc_id, chunk,
                   CAST('0x' || substring(md5(string_agg(tok, ' ' ORDER BY p)),
                                          1, 15) AS BIGINT) AS chunk_hash,
                   CAST(count(*) AS BIGINT) AS chunk_len
            FROM assigned GROUP BY doc_id, chunk
        ),
        cdf AS (
            SELECT chunk_hash, count(DISTINCT doc_id) AS df
            FROM chunks GROUP BY chunk_hash
        ),
        per AS (
            SELECT c.doc_id,
                   CAST(sum(c.chunk_len) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS dup_chunks,
                   CAST(sum(CASE WHEN f.df >= 2 THEN c.chunk_len ELSE 0 END)
                        AS BIGINT) AS dup_tokens
            FROM chunks c JOIN cdf f USING (chunk_hash)
            GROUP BY c.doc_id
        )
        SELECT doc_id, n_tokens, n_chunks, dup_chunks, dup_tokens,
               CAST(1000 * dup_tokens // n_tokens AS BIGINT) AS dup_milli
        FROM per
        ORDER BY doc_id
    """,
    description="Content-defined chunking dedup audit: gear/Rabin-"
    "style variable chunk boundaries (4-token rolling window, cut at "
    "hash = 0 mod 32, ~32-token chunks) so an inserted token only "
    "re-chunks its neighborhood — the insertion-robust complement to "
    "q103's fixed-stride chunks, whose every downstream boundary "
    "shifts; per doc: chunks shared with >= 2 docs and the duplicated "
    "token share (milli)",
    tags=("llm", "dedup", "text"),
)
def q135_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: chunking is one Arrow-batched scan pass
    (operators/dedup.py::cdc_chunk_rows — tokenize, window-hash,
    segment, chunk-hash per batch); the chunk-hash df agg and the
    join-back are co-partitioned on the SAME 60-bit key, so the
    corpus crosses one key exchange (+ the reused sides), then one
    doc agg + the catalog sort. The join-back (not collect_list
    re-explode) keeps a viral boilerplate chunk with df in the
    millions from materializing as one task's list blob — the q103
    skew discipline. State per chunk is O(1)."""
    from ..operators.dedup import cdc_chunk_rows

    docs = load_table(spark, sf_dir, "documents")
    chunks = stage(cdc_chunk_rows(docs))  # staged: the df agg and the join-back probe read it once each
    cdf = chunks.groupBy("chunk_hash").agg(
        F.count_distinct("doc").cast("long").alias("df")
    )
    per = (
        chunks.join(cdf, "chunk_hash")
        .groupBy("doc")
        .agg(
            F.sum("chunk_len").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("dup_chunks"),
            F.sum(F.when(F.col("df") >= 2, F.col("chunk_len")).otherwise(0))
            .cast("long")
            .alias("dup_tokens"),
        )
    )
    return per.select(
        F.col("doc").alias("doc_id"),
        "n_tokens",
        "n_chunks",
        "dup_chunks",
        "dup_tokens",
        F.expr("1000 * dup_tokens div n_tokens").cast("long").alias("dup_milli"),
    ).orderBy("doc_id")
