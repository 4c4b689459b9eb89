"""Fixed-size sketch operators (count-min heavy hitters).

The reference engine has no sketch surface; this extends SURVEY.md
§2.11 with the streaming-adjacent shape every 100 TB token-frequency
job needs: a COUNT-MIN sketch whose memory is a d x w counter grid —
constant regardless of corpus size — versus the exact token-count agg
whose state is |vocabulary|.

Everything here is DETERMINISTIC (the d hash rows derive from the
portable 60-bit md5 prefix, functions.text.hash60), so a SQL oracle
reproduces the sketch bit-for-bit: estimates are exactly checkable,
not just "within epsilon" — and the classic CMS guarantee
(estimate >= true count, overshoot bounded by the row collisions)
becomes an assertable column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX

CMS_DEPTH = 4
CMS_WIDTH = 1024


def _bucket(tok_col, r: int):
    """Row-r bucket of a token: hash60('r:'||token) % CMS_WIDTH. The salt
    prefix makes the d rows independent hash functions while staying
    one md5 away from the house 60-bit convention (engine-portable)."""
    return TX.hash60(F.concat(F.lit(f"{r}:"), tok_col)) % CMS_WIDTH


def countmin_counters(docs: DataFrame) -> DataFrame:
    """Build the d x w counter grid over the ``text`` token stream.
    Returns (r, bucket, cnt) — at most CMS_DEPTH*CMS_WIDTH rows TOTAL.

    Scale shape: tokens explode once, each token row fans out to its
    ``CMS_DEPTH`` (r, bucket) keys, and ONE hash agg folds them — partial
    aggregation collapses each task's contribution to <= d*w counters
    before the shuffle, so the exchange carries a few thousand rows per
    task no matter how many tokens the corpus holds. This is the
    mergeable-summary property that lets daily corpus shards sketch
    independently and union-fold their grids (sum per (r, bucket))."""
    tok = docs.select(F.explode(TX.words("text")).alias("tok"))
    keyed = tok.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), _bucket(F.col("tok"), r).alias("bucket")
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("kb")
    ).select("kb.r", "kb.bucket")
    return keyed.groupBy("r", "bucket").agg(F.count("*").cast("long").alias("cnt"))


def exact_top_tokens(docs: DataFrame) -> DataFrame:
    """Exact top-``HEAVY_K`` ``text`` tokens by count — (token, exact_n),
    total order (count desc, token asc). A TakeOrdered(HEAVY_K), never a
    full sort."""
    tok = docs.select(F.explode(TX.words("text")).alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.count("*").cast("long").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("token"))
        .limit(HEAVY_K)
    )


def countmin_probe(counters: DataFrame, candidates: DataFrame) -> DataFrame:
    """Score candidate tokens against a counter grid: each candidate
    explodes to its ``CMS_DEPTH`` (r, bucket) probes, joins the BROADCAST
    grid, and takes the min — (token, exact_n, cms_est,
    overestimate_ok). Shared by the batch (q112) and streaming (q113)
    faces, so 'stream state == batch sketch' is checked through the
    identical probe path."""
    probes = candidates.select(
        "token",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _bucket(F.col("token"), r).alias("bucket"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("kb"),
    ).select("token", "exact_n", "kb.r", "kb.bucket")
    est = (
        probes.join(F.broadcast(counters), ["r", "bucket"])
        .groupBy("token", "exact_n")
        .agg(F.min("cnt").cast("long").alias("cms_est"))
    )
    return est.select(
        "token",
        "exact_n",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_n")).alias("overestimate_ok"),
    ).orderBy(F.desc("exact_n"), F.asc("token"))


HEAVY_K = 20  # countmin_heavy_hitters' candidate tokens


def countmin_heavy_hitters(docs: DataFrame) -> DataFrame:
    """Top-``HEAVY_K`` tokens by exact count, each carrying its count-min
    ESTIMATE (min over the d rows of the token's counters) and the
    CMS soundness verdict. Returns (token, exact_n, cms_est,
    overestimate_ok) ordered by (exact_n desc, token).

    exact_n is computed alongside to *audit* the sketch at test scale;
    at 100 TB one keeps only the sketch (constant memory) plus a
    candidate stream, and this operator's estimate join is how
    candidates are scored: the candidate tokens explode to d
    (r, bucket) probes which join the BROADCAST counter grid (d*w
    rows) — no corpus-sized side is ever re-touched.

    ``overestimate_ok`` asserts the one-sided CMS error bound
    (est >= exact, always true by construction — a FALSE row means the
    hash plumbing diverged between build and probe).
    """
    counters = countmin_counters(docs)
    top = exact_top_tokens(docs)
    return countmin_probe(counters, top)


# ---------------------------------------------------------------- HLL

# HyperLogLog geometry (q128/q129): p=8 -> m=256 registers; the house
# 60-bit hash splits into register = h % m and a 52-bit rank window
# w = h div m. Standard error ~ 1.04/sqrt(256) = 6.5%.
HLL_P = 8
HLL_M = 1 << HLL_P
# rho(w) = leading zeros of the 52-bit window + 1, in [1, 53]:
# w > 0 -> 53 - bitlength(w) (bitlength == length(bin(w)) in BOTH
# Spark and DuckDB — neither pads); w == 0 -> 53.
_HLL_RHO_MAX = 53


def hll_registers(rows: DataFrame) -> DataFrame:
    """Per-``source`` HLL register file from pre-hashed values ``h``:
    returns (source, register, rho) with rho = max over the source's
    values landing in that register — at most ``HLL_M`` rows per
    source, TOTAL state HLL_M x |sources| regardless of value volume.

    Why this is the 100 TB distinct counter: max() is commutative,
    associative, and idempotent, so partial aggregation collapses each
    task to <= HLL_M rows per group before the shuffle, replays/dups
    cannot move the answer (same value -> same register/rho -> max
    absorbs it), and daily shards union-fold by the same max. The
    exact count(DISTINCT x) alternative shuffles every distinct value.
    The same property makes it the streaming state (q129): complete-
    mode max-agg over any micro-batch split lands on the identical
    register file bit-for-bit."""
    h = F.col("h")
    # h >> p, NOT h/m: Spark's / is DOUBLE division, which silently
    # rounds away low bits of a 60-bit hash (int64 > 2^53); the shift
    # is exact and mirrors the oracle's (h >> p)
    w = F.shiftright(h, HLL_P)  # the 52-bit rank window
    rho = F.when(w > 0, F.lit(_HLL_RHO_MAX) - F.length(F.bin(w))).otherwise(
        F.lit(_HLL_RHO_MAX)
    )
    return (
        rows.select(
            F.col("source"),
            (h % HLL_M).cast("long").alias("register"),
            rho.cast("long").alias("rho"),
        )
        .groupBy("source", "register")
        .agg(F.max("rho").cast("long").alias("rho"))
    )


def hll_estimate(registers: DataFrame, group_col: str) -> DataFrame:
    """Fold a register file into the raw HLL estimate per group:
    (group_col, n_registers_hit, hll_sum_scaled, hll_est).

    EXACT integer register fold: each register contributes
    2^(53-rho) (a BIGINT; empty registers 2^53), so ``hll_sum_scaled``
    = 2^53 * sum(2^-rho) is exact — max 256 * 2^53 = 2^61 < int64.
    The only floating-point step is the single final division
    alpha_256 * m^2 * 2^53 / S (one IEEE divide of two exactly-
    representable values + HALF_UP round — bit-identical on Spark and
    DuckDB, the int8_quantize precedent), so the estimate carries a
    full hash oracle despite being a 'floating' formula. Raw
    estimator only (no small-range linear counting): the q128 shingle
    streams sit above the 2.5m crossover at every SF, and ln() parity
    across engines is NOT pinned — documented deviation."""
    alpha_num = "0.7213 / (1.0 + 1.079 / 256.0)"  # alpha_256, both engines fold identically
    # SQL expr: pyspark F.shiftleft only takes a Python-int bit count
    term = F.expr(f"shiftleft(cast(1 as bigint), {_HLL_RHO_MAX} - rho)")
    per = registers.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_registers_hit"),
        F.sum(term).cast("long").alias("_s_hit"),
    )
    s = (
        F.col("_s_hit")
        + (F.lit(HLL_M).cast("long") - F.col("n_registers_hit"))
        * F.shiftleft(F.lit(1).cast("long"), _HLL_RHO_MAX)
    )
    est = F.expr(
        f"CAST(round(({alpha_num}) * {HLL_M}.0 * {HLL_M}.0 * 9007199254740992.0"
        " / CAST(hll_sum_scaled AS DOUBLE)) AS BIGINT)"
    )
    return per.withColumn("hll_sum_scaled", s.cast("long")).select(
        group_col,
        "n_registers_hit",
        "hll_sum_scaled",
        est.alias("hll_est"),
    )
