"""Round-12/13 batch additions (q137-q139): sketch-based cross-source
overlap and sorted-neighborhood dedup (single- and multi-pass).

q137 estimates every source pair's distinct-5-shingle intersection by
inclusion-exclusion over HyperLogLog-256 register files — |A ∩ B| ≈
est(A) + est(B) - est(A ∪ B), where the union estimate comes from a
pairwise register MAX-merge (HLLs are mergeable: max per register IS
the union sketch, exactly). q106 answers the same "which sources copy
from which" question exactly, but its per-shingle source-set fold
walks every corpus shingle; q137 is its 100 TB path — after the one
shingling pass that q128 already pays, everything downstream is
sketch-sized (|sources| x 256 registers, then |pairs| x 256 merged
rows), so the pairwise audit costs the same whether the corpus is
60k docs or 100 TB. The exact intersection rides along as the truth
column (the q128/q132/q133 discipline: approximation error is
MEASURED in milli, not assumed) and is the one corpus-sized join you
drop at scale.

q138 adds the ORDER-based blocking family member the dedup surface
lacked: Hernandez/Stolfo sorted-neighborhood (SNM). Every existing
candidate generator is a HASH blocker (LSH bands q27, simhash bands
q28, sign buckets q76, n-gram blocks q26, IVF cells q34); SNM instead
sorts the corpus by a normalized blocking key and compares only rows
within a fixed window w of the sort order — linear candidates with a
tunable, key-locality-shaped recall profile, the classic complement
when near-dups share prefixes but not rare shingles. The global rank
is built WITHOUT a single-partition corpus window (see q138's
docstring), which is the piece naive SNM ports get wrong at scale.

q139 is the classic multi-pass remedy for q138's documented miss:
near-dups whose PREFIXES differ never sort adjacent under one key, so
run P passes with ROTATED blocking keys (pass p sorts on the 4-token
window at offset 4p), union the candidate pairs, and verify once.
Recall strictly contains q138's (pass 0 IS q138's sort order) at P x
the linear candidate cost.

Conventions follow catalog.py: identical column aliases both sides,
total ORDER BY, BIGINT casts, the house 60-bit md5-prefix hash and
the q128 register/rank lattice (FIXTURES.md), so the sketch itself is
hash-checkable cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import sketch as SK
from ..operators.dedup import _shingle_hash_rows
from ..operators.staging import stage
from ..sources.tables import load_table
from .catalog import query
from .curation9 import _HLL_EST_SQL, _Q130_N, _source_shingles

# The union register fold re-states q128's exact integer fold (each
# register contributes 2^(53-rho), empty registers 2^53) over the
# pair-merged file; shared here so uper/per cannot drift apart.
_HLL_FOLD_SQL = """
    count(*) AS n_hit,
    CAST(sum(CAST(1 AS BIGINT) << (53 - rho))
         + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS BIGINT)
        AS hll_sum_scaled
"""


@query(
    "q137_hll_overlap",
    oracle=f"""
        WITH toks AS (
            SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT source,
                   CAST('0x' || substring(md5(
                       array_to_string(array_slice(tk, i, i + {_Q130_N - 1}), ' ')
                   ), 1, 15) AS BIGINT) AS h
            FROM toks,
                 UNNEST(generate_series(1, greatest(len(tk) - {_Q130_N - 1}, 0))) AS t(i)
        ),
        regs AS (
            SELECT source, h % 256 AS register,
                   max(CASE WHEN (h >> 8) > 0 THEN 53 - length(bin(h >> 8))
                            ELSE 53 END) AS rho
            FROM sh GROUP BY source, h % 256
        ),
        per AS (
            SELECT source, {_HLL_FOLD_SQL}
            FROM regs GROUP BY source
        ),
        est AS (SELECT source, {_HLL_EST_SQL} AS hll_est FROM per),
        srcs AS (SELECT DISTINCT source FROM sh),
        pairs AS (
            SELECT a.source AS src_a, b.source AS src_b
            FROM srcs a JOIN srcs b ON a.source < b.source
        ),
        uregs AS (
            SELECT p.src_a, p.src_b, r.register, max(r.rho) AS rho
            FROM pairs p JOIN regs r
              ON r.source = p.src_a OR r.source = p.src_b
            GROUP BY 1, 2, 3
        ),
        uper AS (
            SELECT src_a, src_b, {_HLL_FOLD_SQL}
            FROM uregs GROUP BY src_a, src_b
        ),
        uest AS (SELECT src_a, src_b, {_HLL_EST_SQL} AS est_union FROM uper),
        ex AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(count(*) AS BIGINT) AS exact_inter
            FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
            GROUP BY 1, 2
        ),
        j AS (
            SELECT u.src_a, u.src_b,
                   ea.hll_est AS est_a, eb.hll_est AS est_b, u.est_union,
                   greatest(ea.hll_est + eb.hll_est - u.est_union,
                            CAST(0 AS BIGINT)) AS est_inter,
                   coalesce(x.exact_inter, CAST(0 AS BIGINT)) AS exact_inter
            FROM uest u
            JOIN est ea ON ea.source = u.src_a
            JOIN est eb ON eb.source = u.src_b
            LEFT JOIN ex x ON x.src_a = u.src_a AND x.src_b = u.src_b
        )
        SELECT src_a, src_b,
               CAST(est_a AS BIGINT) AS est_a,
               CAST(est_b AS BIGINT) AS est_b,
               CAST(est_union AS BIGINT) AS est_union,
               CAST(est_inter AS BIGINT) AS est_inter,
               exact_inter,
               CAST(1000 * abs(est_inter - exact_inter)
                    // nullif(exact_inter, 0) AS BIGINT) AS err_milli
        FROM j
        ORDER BY src_a, src_b
    """,
    description="HLL inclusion-exclusion cross-source overlap: every "
    "source pair's distinct-5-shingle intersection estimated as "
    "est(A) + est(B) - est(A union B), the union sketch being the "
    "pairwise register MAX-merge (HLLs merge exactly under max), "
    "against the exact intersection truth column with the realized "
    "error (milli) — q106's exact duplication matrix re-costed so the "
    "pairwise audit is sketch-sized (|sources| x 256 registers) at "
    "any corpus size",
    tags=("llm", "sketch", "dedup", "audit"),
)
def q137_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE shingling scan pass (staged — the
    register fold and the exact truth column read it once each); the
    register max-agg collapses map-side to <= 256 rows per source
    before its exchange (q128's discipline), and EVERYTHING pairwise
    is sketch-sized: the register file joins a broadcast pair list
    (|sources|^2/2 rows — a schema constant, not data) and re-folds
    at |pairs| x 256. No corpus-sized self-join anywhere except the
    exact truth column (sh JOIN sh ON h, co-partitioned on the 60-bit
    key) — the one piece you drop at 100 TB, leaving register-only
    cost. The registers are the SAME file q128 maintains (and q129
    streams), so in production this is a free rider on existing
    sketch state: union-merge is max per register, which is also why
    daily shards fold without rescanning."""
    sh = stage(_source_shingles(spark, sf_dir))
    # staged: the register fold and the exact intersection read it
    # once each (sh is distinct (source, h) — doc carries the source)
    regs = stage(
        SK.hll_registers(sh.withColumnRenamed("doc", "source"))
    )  # staged: the per-source estimate and the pair merge read it
    est = SK.hll_estimate(regs, "source").select("source", "hll_est")

    srcs = regs.select("source").distinct()
    pairs = srcs.select(F.col("source").alias("src_a")).join(
        F.broadcast(srcs.select(F.col("source").alias("src_b"))),
        F.col("src_a") < F.col("src_b"),
    )
    # pair-merged union registers: max per register IS the union HLL
    merged = (
        F.broadcast(pairs)
        .join(
            regs,
            (regs["source"] == F.col("src_a"))
            | (regs["source"] == F.col("src_b")),
        )
        .groupBy(
            F.struct("src_a", "src_b").alias("pg"), F.col("register")
        )
        .agg(F.max("rho").cast("long").alias("rho"))
    )
    uest = SK.hll_estimate(merged, "pg").select(
        F.col("pg.src_a").alias("src_a"),
        F.col("pg.src_b").alias("src_b"),
        F.col("hll_est").alias("est_union"),
    )

    sa = sh.select(F.col("doc").alias("src_a"), "h")
    sb = sh.select(F.col("doc").alias("src_b"), "h")
    exact = (
        sa.join(sb, "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )

    ea = est.select(F.col("source").alias("src_a"), F.col("hll_est").alias("est_a"))
    eb = est.select(F.col("source").alias("src_b"), F.col("hll_est").alias("est_b"))
    return (
        uest.join(F.broadcast(ea), "src_a")
        .join(F.broadcast(eb), "src_b")
        .join(F.broadcast(exact), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.col("est_a").cast("long").alias("est_a"),
            F.col("est_b").cast("long").alias("est_b"),
            F.col("est_union").cast("long").alias("est_union"),
            F.greatest(
                F.expr("est_a + est_b - est_union"), F.lit(0)
            )
            .cast("long")
            .alias("est_inter"),
            F.coalesce(F.col("exact_inter"), F.lit(0))
            .cast("long")
            .alias("exact_inter"),
        )
        .withColumn(
            "err_milli",
            F.expr(
                "1000 * abs(est_inter - exact_inter)"
                " div nullif(exact_inter, 0)"
            ).cast("long"),
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------- q138

# SNM geometry: blocking key = first 4 normalized tokens, window w=3
# sort neighbors, candidates verified by exact 5-shingle jaccard
# (q26/q106's shingle convention), flagged at >= 500 milli.
_SNM_KEY_N = 4
_SNM_W = 3
_SNM_SH_N = 5
_SNM_THRESH = 500
# Range-partition width for the distributed rank. 8 is a BENCH-HOST
# constant (local[32], sf<=0.1); at cluster scale this knob should
# track cluster width (~2-3x executor cores, like
# spark.sql.shuffle.partitions) so each range holds a memory-sized
# slice — the offset frame stays |partitions| rows either way.
_SNM_PARTS = 8


def _snm_key():
    """SNM blocking key: the first _SNM_KEY_N normalized tokens. Shorter
    docs yield whatever tokens remain (possibly ''), matching DuckDB
    array_slice semantics exactly."""
    return F.array_join(F.slice(TX.words("text"), 1, _SNM_KEY_N), " ")


def snm_global_rank(docs: DataFrame, key=None) -> DataFrame:
    """(doc_id, grank): each doc's 1-based position in the TOTAL order
    by (blocking key, doc_id) — built distributed:

    1. `repartitionByRange(key, doc_id)` segments the total order into
       contiguous ranges in partition-id order (the RangePartitioner
       contract AQE's contiguous-coalesce preserves);
    2. per-partition `row_number()` (a window over each range, never
       one partition holding the corpus);
    3. per-partition counts (a |partitions|-row frame) running-sum to
       range offsets, broadcast back: grank = offset[pid] + local.

    The partition ids are staged: the local ranks and the counts are
    two consumers of one range exchange, and each re-execution samples
    its own range bounds, so unstaged they can disagree on which rows
    a pid holds (q139 failed its oracle in 4 of 6 runs at sf0.1). The
    caller releases via ``staging.release_staging()``.

    This is the piece a naive SNM port gets wrong at 100 TB — a bare
    `row_number() OVER (ORDER BY key)` funnels the corpus through ONE
    task. Here the only global structure is the |partitions|-row
    offset frame."""
    if key is None:
        key = _snm_key()
    from pyspark.sql import Window

    base = docs.select("doc_id", key.alias("k"))
    rp = stage(
        base.repartitionByRange(_SNM_PARTS, "k", "doc_id").withColumn(
            "pid", F.spark_partition_id()
        )
    )
    w_loc = Window.partitionBy("pid").orderBy("k", "doc_id")
    loc = rp.withColumn("lrank", F.row_number().over(w_loc))
    cnts = loc.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    # Unpartitioned Window.orderBy is intentional and BOUNDED: the
    # frame is the per-partition count table (exactly _SNM_PARTS rows,
    # a schema constant), never corpus-sized — the WindowExec
    # single-partition warning does not indicate a scale bug here.
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = cnts.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
    ).select("pid", "off")
    return loc.join(F.broadcast(offs), "pid").select(
        "doc_id", (F.col("lrank") + F.col("off")).cast("long").alias("grank")
    )


@query(
    "q138_sorted_neighborhood",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        ranked AS (
            SELECT doc_id,
                   row_number() OVER (
                       ORDER BY array_to_string(array_slice(tk, 1, {_SNM_KEY_N}), ' '),
                                doc_id
                   ) AS grank
            FROM toks
        ),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   b.grank - a.grank AS gap
            FROM ranked a JOIN ranked b
              ON b.grank - a.grank BETWEEN 1 AND {_SNM_W}
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   CAST('0x' || substring(md5(
                       array_to_string(array_slice(tk, i, i + {_SNM_SH_N - 1}), ' ')
                   ), 1, 15) AS BIGINT) AS h
            FROM toks,
                 UNNEST(generate_series(1, greatest(len(tk) - {_SNM_SH_N - 1}, 0))) AS t(i)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(min(c.gap) AS BIGINT) AS gap,
                   CAST(count(*) AS BIGINT) AS inter_sh
            FROM cand c
            JOIN sh x ON x.doc_id = c.doc_a
            JOIN sh y ON y.doc_id = c.doc_b AND y.h = x.h
            GROUP BY c.doc_a, c.doc_b
        ),
        scored AS (
            SELECT i.doc_a, i.doc_b, i.gap, i.inter_sh,
                   CAST(sa.n + sb.n - i.inter_sh AS BIGINT) AS union_sh,
                   CAST(1000 * i.inter_sh
                        // (sa.n + sb.n - i.inter_sh) AS BIGINT) AS jaccard_milli
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
        )
        SELECT doc_a, doc_b, gap, inter_sh, union_sh, jaccard_milli
        FROM scored
        WHERE jaccard_milli >= {_SNM_THRESH}
        ORDER BY doc_a, doc_b
    """,
    description="Sorted-neighborhood dedup (Hernandez/Stolfo SNM): "
    "sort the corpus by a 4-token normalized blocking prefix, take "
    "ONLY pairs within w=3 positions of the total order as candidates "
    "(linear in corpus size, no hash tables), verify each by exact "
    "5-shingle jaccard and flag >= 500 milli — the ORDER-based "
    "blocking complement to the hash blockers (LSH q27, simhash q28, "
    "n-gram q26); its documented miss (near-dups whose PREFIXES "
    "differ) is exactly what multi-pass SNM with rotated keys fixes",
    tags=("llm", "dedup", "text"),
)
def q138_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the global rank is distributed (snm_global_rank —
    range exchange + per-range window + |partitions|-row broadcast,
    never a one-task corpus sort). Candidates come from a BAND
    equi-join on grank div w: the probe side carries each row under
    bands {b, b-1} (2x a tiny 2-column frame), so a pair within w
    positions meets exactly once and the join is co-partitioned hash,
    not theta. Verification joins candidates to the staged shingle
    frame on doc then (doc, h) — per-pair cost bounded by shingle
    counts, the same class as q26's LSH verification; the per-doc
    size join is deliberately UNHINTED (`sizes` is one row per
    document, corpus-sized at 100 TB): AQE broadcasts it at bench SF
    and shuffle-joins the pair-bounded frame at scale. Total: linear
    candidates, zero corpus-sized broadcast, zero single-partition
    stages."""
    docs = load_table(spark, sf_dir, "documents")
    # Round 18 (the q139 discipline): stage the tiny (doc_id, key)
    # frame so the range-partition SAMPLING pass and the real range
    # exchange inside snm_global_rank read the cache instead of each
    # re-tokenizing the corpus — one corpus text pass instead of two.
    keyed = stage(docs.select("doc_id", _snm_key().alias("k0")))
    ranked = stage(snm_global_rank(keyed, F.col("k0")))
    # staged: the band join reads it twice (build + probe)
    band = (F.col("grank") / _SNM_W).cast("long")  # floor for positive ranks
    left = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("grank").alias("ga"),
        band.alias("b"),
    )
    right = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("grank").alias("gb"),
        F.explode(F.array(band, band - 1)).alias("b"),
    )
    cand = (
        left.join(right, "b")
        .filter((F.col("gb") - F.col("ga")).between(1, _SNM_W))
        .select("doc_a", "doc_b", (F.col("gb") - F.col("ga")).alias("gap"))
    )

    sh = stage(
        _shingle_hash_rows(docs.select("doc_id", "text"), "doc_id", _SNM_SH_N)
    )  # staged: sizes agg + both verification probes read it
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        cand.join(sh.select(F.col("doc").alias("doc_a"), "h"), "doc_a")
        .join(sh.select(F.col("doc").alias("doc_b"), "h"), ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min("gap").cast("long").alias("gap"),
            F.count(F.lit(1)).cast("long").alias("inter_sh"),
        )
    )
    # NO broadcast hint on the size joins: `sizes` is one row per
    # DOCUMENT — corpus-sized at 100 TB, where a forced broadcast is a
    # driver OOM. Unhinted, AQE picks broadcast at bench SF (tiny) and
    # a shuffle join on the pair-bounded `inter` frame at scale
    # (round-13 advisor finding).
    scored = (
        inter.join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "gap",
            "inter_sh",
            (F.col("na") + F.col("nb") - F.col("inter_sh"))
            .cast("long")
            .alias("union_sh"),
            F.expr("1000 * inter_sh div (na + nb - inter_sh)")
            .cast("long")
            .alias("jaccard_milli"),
        )
    )
    return scored.filter(F.col("jaccard_milli") >= _SNM_THRESH).orderBy(
        "doc_a", "doc_b"
    )


# --------------------------------------------------------------- q139

# Multi-pass SNM: P sort passes, pass p blocking on the 4-token window
# at offset 4p. Same window w and verify threshold as q138.
_SNM_PASSES = 2


@query(
    "q139_snm_multipass",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        ranked AS (
            SELECT p.pass_id, doc_id,
                   row_number() OVER (
                       PARTITION BY p.pass_id
                       ORDER BY array_to_string(array_slice(
                                    tk,
                                    1 + {_SNM_KEY_N} * p.pass_id,
                                    {_SNM_KEY_N} + {_SNM_KEY_N} * p.pass_id
                                ), ' '),
                                doc_id
                   ) AS grank
            FROM toks,
                 UNNEST(generate_series(0, {_SNM_PASSES - 1})) AS p(pass_id)
        ),
        cand AS (
            SELECT least(a.doc_id, b.doc_id) AS doc_a,
                   greatest(a.doc_id, b.doc_id) AS doc_b,
                   a.pass_id
            FROM ranked a JOIN ranked b
              ON a.pass_id = b.pass_id
             AND b.grank - a.grank BETWEEN 1 AND {_SNM_W}
        ),
        cpair AS (
            SELECT doc_a, doc_b,
                   CAST(count(DISTINCT pass_id) AS BIGINT) AS passes
            FROM cand GROUP BY doc_a, doc_b
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   CAST('0x' || substring(md5(
                       array_to_string(array_slice(tk, i, i + {_SNM_SH_N - 1}), ' ')
                   ), 1, 15) AS BIGINT) AS h
            FROM toks,
                 UNNEST(generate_series(1, greatest(len(tk) - {_SNM_SH_N - 1}, 0))) AS t(i)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(min(c.passes) AS BIGINT) AS passes,
                   CAST(count(*) AS BIGINT) AS inter_sh
            FROM cpair c
            JOIN sh x ON x.doc_id = c.doc_a
            JOIN sh y ON y.doc_id = c.doc_b AND y.h = x.h
            GROUP BY c.doc_a, c.doc_b
        ),
        scored AS (
            SELECT i.doc_a, i.doc_b, i.passes, i.inter_sh,
                   CAST(sa.n + sb.n - i.inter_sh AS BIGINT) AS union_sh,
                   CAST(1000 * i.inter_sh
                        // (sa.n + sb.n - i.inter_sh) AS BIGINT) AS jaccard_milli
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
        )
        SELECT doc_a, doc_b, passes, inter_sh, union_sh, jaccard_milli
        FROM scored
        WHERE jaccard_milli >= {_SNM_THRESH}
        ORDER BY doc_a, doc_b
    """,
    description="Multi-pass sorted-neighborhood dedup: TWO SNM sort "
    "passes with ROTATED 4-token blocking keys (pass p blocks on the "
    "token window at offset 4p), candidate pairs unioned across "
    "passes (normalized least/greatest), verified ONCE by exact "
    "5-shingle jaccard at >= 500 milli, reporting how many passes "
    "generated each surviving pair — fixes q138's documented miss "
    "(near-dups whose PREFIXES differ but whose later token windows "
    "agree), the classic Hernandez/Stolfo multi-pass remedy",
    tags=("llm", "dedup", "text"),
)
def q139_snm_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: P (=2) independent rank builds, each the q138
    distributed shape (range exchange + per-range window +
    |partitions|-row broadcast — never a one-task corpus sort) on its
    own rotated key, P band equi-joins (each co-partitioned hash, the
    probe side carrying bands {b, b-1}), and candidates unioned then
    collapsed by ONE pair groupBy before the single verification join
    — so a pair found by both passes is verified once, not twice.
    Total cost is P x the single-pass linear candidate bill plus one
    dedup exchange; recall strictly contains q138's (pass 0 IS q138's
    sort). The per-doc size join is unhinted, as in q138 (AQE:
    broadcast at bench SF, shuffle at scale). Nothing corpus-sized is
    broadcast and no stage is single-partition."""
    docs = load_table(spark, sf_dir, "documents")
    # Round 18: ONE tokenize pass computes every pass's blocking key.
    # snm_global_rank(docs, key) pays TWO corpus tokenize passes per
    # call (repartitionByRange SAMPLES its child, then the real
    # exchange recomputes it), so the two rank builds re-tokenized the
    # corpus four times. Staging a (doc_id, k0, k1) key frame makes
    # that ONE tokenize pass; the range samplings and exchanges read
    # the cache (guide §1.2 step 1 — at 100 TB each removed pass is a
    # full corpus text read, and the staged frame is two short key
    # strings per doc, not the text).
    toks = TX.words("text")
    keyed = stage(
        docs.select("doc_id", toks.alias("_tk")).select(
            "doc_id",
            *[
                F.array_join(
                    F.slice(F.col("_tk"), 1 + _SNM_KEY_N * p, _SNM_KEY_N), " "
                ).alias(f"k{p}")
                for p in range(_SNM_PASSES)
            ],
        )
    )
    per_pass = []
    for p in range(_SNM_PASSES):
        ranked = stage(snm_global_rank(keyed, F.col(f"k{p}")))
        # staged: the band join reads each pass's rank twice
        band = (F.col("grank") / _SNM_W).cast("long")
        left = ranked.select(
            F.col("doc_id").alias("ida"),
            F.col("grank").alias("ga"),
            band.alias("b"),
        )
        right = ranked.select(
            F.col("doc_id").alias("idb"),
            F.col("grank").alias("gb"),
            F.explode(F.array(band, band - 1)).alias("b"),
        )
        per_pass.append(
            left.join(right, "b")
            .filter((F.col("gb") - F.col("ga")).between(1, _SNM_W))
            .select(
                F.least("ida", "idb").alias("doc_a"),
                F.greatest("ida", "idb").alias("doc_b"),
                F.lit(p).alias("pass_id"),
            )
        )
    cand = per_pass[0]
    for c in per_pass[1:]:
        cand = cand.unionByName(c)
    cpair = cand.groupBy("doc_a", "doc_b").agg(
        F.count_distinct("pass_id").cast("long").alias("passes")
    )

    sh = stage(
        _shingle_hash_rows(docs.select("doc_id", "text"), "doc_id", _SNM_SH_N)
    )  # staged: sizes agg + both verification probes read it
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        cpair.join(sh.select(F.col("doc").alias("doc_a"), "h"), "doc_a")
        .join(sh.select(F.col("doc").alias("doc_b"), "h"), ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min("passes").cast("long").alias("passes"),
            F.count(F.lit(1)).cast("long").alias("inter_sh"),
        )
    )
    # Unhinted size joins, same as q138: `sizes` is corpus-sized at
    # 100 TB — AQE picks broadcast at bench SF, shuffle join at scale.
    scored = (
        inter.join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "passes",
            "inter_sh",
            (F.col("na") + F.col("nb") - F.col("inter_sh"))
            .cast("long")
            .alias("union_sh"),
            F.expr("1000 * inter_sh div (na + nb - inter_sh)")
            .cast("long")
            .alias("jaccard_milli"),
        )
    )
    return scored.filter(F.col("jaccard_milli") >= _SNM_THRESH).orderBy(
        "doc_a", "doc_b"
    )
