"""Round-8 second batch (q103-q107): the remaining pillars of a
training-data curation + event-analytics engine — C4-style duplicate-
chunk REMOVAL with document rewrite (not just detection), distributed
weighted sampling without replacement (Efraimidis-Spirakis), rolling
z-score anomaly detection over the event stream, the cross-source
duplication matrix (which sources copy from which), and fixed-point
PageRank over the similar-document graph (the centrality signal behind
"keep the canonical copy" dedup policies).

Conventions follow catalog.py: identical column aliases both sides,
total ORDER BY, BIGINT casts on integer aggregates, integer
micro/milli-unit arithmetic wherever a double would otherwise be
off-grid between engines. 100 TB notes per query live in the
docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import anomaly, curation, dedup, graph, sampling
from ..sources.tables import load_table
from .catalog import query


@query(
    "q103_chunk_dedup_rewrite",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        ch AS (
            SELECT doc_id,
                   CAST((i - 1) // {curation.DEDUP_CHUNK_TOKENS} + 1 AS BIGINT) AS chunk_idx,
                   array_to_string(array_slice(tk, i, i + {curation.DEDUP_CHUNK_TOKENS} - 1), ' ') AS ctext
            FROM toks, UNNEST(generate_series(1, coalesce(len(tk), 0), {curation.DEDUP_CHUNK_TOKENS})) AS t(i)
        ),
        -- first occurrence = min (doc_id, chunk_idx) per chunk content;
        -- the oracle ranks with a window, the operator uses a min-struct
        -- hash agg — same kept set (see the Spark docstring for why)
        ranked AS (
            SELECT doc_id, chunk_idx, ctext,
                   row_number() OVER (PARTITION BY md5(ctext)
                                      ORDER BY doc_id, chunk_idx) AS rn
            FROM ch
        ),
        kept AS (SELECT doc_id, chunk_idx, ctext FROM ranked WHERE rn = 1),
        agg AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   CAST('0x' || substring(md5(string_agg(ctext, ' ' ORDER BY chunk_idx)), 1, 15)
                        AS BIGINT) AS kept_hash
            FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST((coalesce(len(t.tk), 0) + {curation.DEDUP_CHUNK_TOKENS} - 1) // {curation.DEDUP_CHUNK_TOKENS} AS BIGINT) AS n_chunks,
               coalesce(a.n_kept, 0) AS n_kept,
               round(CAST((coalesce(len(t.tk), 0) + {curation.DEDUP_CHUNK_TOKENS} - 1) // {curation.DEDUP_CHUNK_TOKENS}
                          - coalesce(a.n_kept, 0) AS DOUBLE)
                     / nullif((coalesce(len(t.tk), 0) + {curation.DEDUP_CHUNK_TOKENS} - 1) // {curation.DEDUP_CHUNK_TOKENS}, 0),
                     4) AS removed_frac,
               coalesce(a.kept_hash,
                        CAST('0x' || substring(md5(''), 1, 15) AS BIGINT)) AS kept_hash
        FROM documents d
        JOIN toks t USING (doc_id)
        LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id
    """,
    description=f"C4/RefinedWeb-style duplicate-chunk REMOVAL with "
    f"document rewrite: non-overlapping {curation.DEDUP_CHUNK_TOKENS}-token chunks, keep "
    "only each chunk content's global first occurrence (min doc_id, "
    "chunk_idx), reassemble the surviving text per doc — the "
    "remediation counterpart of q93's span *detection*",
    tags=("llm", "curation", "dedup", "rewrite"),
)
def q103_chunk_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: (1) chunking is q98's narrow map (token array
    projected BEFORE the HOF — inline words(text) in the lambda would
    re-tokenize per chunk, the measured ~90x q98 trap); (2) first
    occurrence per content hash is ONE min-struct hash agg — the q94
    skew-immune shape: a boilerplate chunk shared by millions of docs
    partial-aggregates map-side, where the oracle's row_number window
    would sort that crowd on a single partition; (3) the kept set joins
    back on the 60-bit hash (shuffle linear in chunks); (4) document
    reassembly is a per-doc collect_list bounded by the DOCUMENT's own
    chunk count, never the corpus. The chunk frame feeds the agg and
    the join-back, so it is staged once (q99 discipline). Output ships
    a 60-bit hash of the rewritten text, not the text — at 100 TB the
    rewrite lands in a sink; the audit row stays narrow. Logic lives
    in operators/curation.py::chunk_dedup_rewrite (planted tests in
    tests/test_round8b_ops.py).
    """
    docs = load_table(spark, sf_dir, "documents")
    return curation.chunk_dedup_rewrite(docs).orderBy("doc_id")


@query(
    "q104_weighted_sample",
    oracle="""
        WITH keyed AS (
            SELECT source, doc_id,
                   CAST(greatest(n_chars, 1) AS BIGINT) AS w,
                   -ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                             AS BIGINT) + 1)
                       / CAST(1152921504606846976 AS DOUBLE))
                     / CAST(greatest(n_chars, 1) AS DOUBLE) AS k
            FROM documents
        )
        SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, w
        FROM (
            SELECT source, doc_id, w,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY k, doc_id) AS rnk
            FROM keyed
        )
        WHERE rnk <= 5
        ORDER BY source, rnk
    """,
    description="Deterministic weighted sampling WITHOUT replacement "
    "(Efraimidis-Spirakis exponential keys): 5 docs per source with "
    "inclusion probability proportional to n_chars, randomness derived "
    "from the portable 60-bit doc_id hash so both engines (and every "
    "re-run) draw the identical sample — the reproducible "
    "mixture-sampling primitive behind q67's reweighting",
    tags=("llm", "sampling", "topk"),
)
def q104_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the sampling key is a narrow map (hash + ln per
    row, no data movement); top-k per source runs TWO-STAGE — stage 1
    takes the top-5 within (source, doc_id%16) salted sub-partitions,
    stage 2 re-ranks the <=80 survivors per source. Exact by the
    union bound (the true per-source top-5 survives every salt cut),
    and no window partition ever sorts more than 1/16th of a source —
    at 100 TB a single-stage per-source window would sort a whole
    source's docs on one partition; here stage 2 sees <=80 rows per
    source. The emitted columns are rank and weight only: the
    exponential key itself is ordering-stable across engines (distinct
    hashes spread keys ~2^-60 apart, astronomically wider than the
    <=1-ulp libm-vs-JVM ln() divergence) but not bit-pinned, so it is
    compared BY its ordering, never by value. Logic lives in
    operators/sampling.py::weighted_sample (brute-force single-stage
    equivalence test in tests/test_round8b_ops.py).
    """
    docs = load_table(spark, sf_dir, "documents")
    weight = F.greatest(F.col("n_chars"), F.lit(1))
    return sampling.weighted_sample(docs, weight).orderBy("source", "rnk")


@query(
    "q105_rolling_zscore",
    oracle="""
        WITH b AS (
            SELECT event_id, user_id, ts,
                   CAST(round(value * 1000) AS BIGINT) AS v_milli
            FROM events
        ),
        st AS (
            SELECT event_id, user_id, ts, v_milli,
                   count(v_milli) OVER w AS n,
                   sum(v_milli) OVER w AS s,
                   sum(v_milli * v_milli) OVER w AS ss
            FROM b
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        ),
        z AS (
            SELECT event_id, user_id, ts, v_milli,
                   (CAST(v_milli AS DOUBLE) - CAST(s AS DOUBLE) / n)
                     / sqrt(CAST(n * ss - s * s AS DOUBLE) / (n * (n - 1))) AS z
            FROM st
            WHERE n >= 10 AND n * ss - s * s > 0
        )
        SELECT event_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
               v_milli, round(z, 3) AS z
        FROM z
        WHERE abs(z) >= 3.0
        ORDER BY event_id
    """,
    description="Rolling z-score anomaly detection: per user, each "
    "event's value against the mean/stddev of its previous <=20 events "
    "(>=10 required); |z| >= 3 flags the spike — the batch face of a "
    "streaming monitoring rule, in exact integer milli-units so the "
    "variance is engine-bit-stable",
    tags=("events", "window", "anomaly"),
)
def q105_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one window partitioned by user_id — partitions are
    a single user's history (bounded by per-entity activity, never the
    corpus; the same contract as q11/q79). All three frame aggregates
    (count/sum/sum-of-squares) share ONE WindowExec pass. The z
    arithmetic is exact-integer until the last four IEEE ops
    (div/sub/div/sqrt on identical inputs -> bit-identical across
    engines): milli-unit values keep sum(v^2) <= ~5e12, far inside
    BIGINT. A welford-style streaming variant reuses the identical
    milli-unit state in applyInPandasWithState; this is the
    batch-verifiable face. Logic lives in
    operators/anomaly.py::rolling_zscore (planted spike test in
    tests/test_round8b_ops.py).
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 1000, 0).cast("long").alias("v_milli"),
    )
    out = anomaly.rolling_zscore(base)
    return (
        out.select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
            "v_milli",
            F.round("z", 3).alias("z"),
        )
        .orderBy("event_id")
    )


@query(
    "q106_source_overlap",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        -- the operator joins on the 60-bit shingle hash; the oracle on
        -- the shingle STRING — equivalent up to md5-prefix collisions
        -- (the q99 convention)
        sh AS (
            SELECT DISTINCT source,
                   array_to_string(array_slice(tk, i, i + 4), ' ') AS shingle
            FROM toks, UNNEST(generate_series(1, greatest(len(tk) - 4, 0))) AS t(i)
        ),
        sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
        p AS (
            SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT src_a, src_b,
               CAST(n_shared AS BIGINT) AS n_shared,
               CAST(sa.n AS BIGINT) AS n_a,
               CAST(sb.n AS BIGINT) AS n_b,
               round(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4) AS jaccard,
               round(CAST(n_shared AS DOUBLE) / least(sa.n, sb.n), 4) AS containment
        FROM p
        JOIN sizes sa ON sa.source = src_a
        JOIN sizes sb ON sb.source = src_b
        ORDER BY src_a, src_b
    """,
    description="Cross-source duplication matrix: for every source "
    "pair, how many distinct word-5-gram shingles they share, with "
    "Jaccard and containment — the 'which sources copy from which' "
    "audit that decides mixture weights and dedup ORDER (dedup the "
    "copier against the origin, not vice versa)",
    tags=("llm", "curation", "dedup", "audit"),
)
def q106_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the oracle's shingle self-join fans out df^2 rows
    per shingle; the operator instead folds each shingle's source SET
    in one hash agg (collect_set bounded by the SOURCE COUNT — a
    schema-level constant ~10-100, not data) and explodes the
    upper-triangle pairs per shingle: O(shingles x n_sources^2) worst
    case with a tiny constant, no self-join of a corpus-sized table.
    Source sizes (n_sources rows) broadcast back onto the pair counts.
    The distinct (source, shingle-hash) frame feeds the sizes agg and
    the per-shingle fold, so it is staged once. Logic lives in
    operators/curation.py::source_overlap (planted matrix test in
    tests/test_round8b_ops.py).
    """
    docs = load_table(spark, sf_dir, "documents")
    return curation.source_overlap(docs).orderBy("src_a", "src_b")


# q107 fixed-point PageRank: micro-unit rank mass, damping 0.85 as
# exact integer ops (85*S)//100 so both engines walk the identical
# lattice — float PageRank sums contributions in engine-specific order
# and drifts off-grid within one iteration. Constants are the
# operator's own so oracle and plan cannot drift.
_PR_ITERS = graph.PR_ITERS
_PR_INIT = graph.PR_INIT
_PR_TELEPORT = graph.PR_TELEPORT


def _pr_oracle() -> str:
    """Unrolled fixed-point PageRank oracle (same edge derivation as
    q99's valve-capped shingle join, threshold 0)."""
    head = """
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(array_slice(tk, i, i + 4), ' ') AS shingle
            FROM toks, UNNEST(generate_series(1, greatest(len(tk) - 4, 0))) AS t(i)
        ),
        rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 10),
        sh2 AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM inter
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM inter
        ),
        deg AS (SELECT src, count(*) AS dg FROM sym GROUP BY src),
        r0 AS (SELECT src AS doc, dg, CAST(%(init)d AS BIGINT) AS r FROM deg)
    """ % {"init": _PR_INIT}
    body = ""
    for it in range(1, _PR_ITERS + 1):
        body += """,
        c%(it)d AS (
            SELECT e.dst AS doc, sum(p.r // p.dg) AS contrib
            FROM sym e JOIN r%(prev)d p ON p.doc = e.src
            GROUP BY e.dst
        ),
        r%(it)d AS (
            SELECT p.doc, p.dg,
                   CAST(%(tp)d + (85 * c.contrib) // 100 AS BIGINT) AS r
            FROM r%(prev)d p JOIN c%(it)d c ON c.doc = p.doc
        )
        """ % {"it": it, "prev": it - 1, "tp": _PR_TELEPORT}
    tail = """
        SELECT doc, CAST(dg AS BIGINT) AS degree, r AS rank_u
        FROM r%(last)d
        ORDER BY doc
    """ % {"last": _PR_ITERS}
    return head + body + tail


@query(
    "q107_doc_pagerank",
    oracle=_pr_oracle(),
    description=f"Fixed-point PageRank ({_PR_ITERS} iterations, damping "
    "0.85, micro-unit integer arithmetic) over the q99 similar-document "
    "graph — the centrality signal behind 'keep the canonical copy' "
    "dedup policies and crawl prioritization; integer contributions "
    "(r // deg) make the result bit-identical across engines where "
    "float PageRank would drift with summation order",
    tags=("llm", "graph", "similarity", "iterative"),
)
def q107_doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: edges come from the df-capped shingle co-occurrence
    join (q55's max_df=10 valve bounds candidate fan-out; the graph is
    near-dup pairs, not all pairs) via shared_shingle_pairs — the
    threshold here is 0, so the jaccard arithmetic of the q55 form
    (per-doc sizes aggregation + two size joins) is dead weight and is
    skipped; the oracle's `inter` CTE derives edges the same way. Per
    iteration: one shuffle join (edges x rank projection on src) + one
    hash agg by dst that rebuilds the rank frame directly — on the
    symmetric edge list count(*) of received contributions IS the
    degree, so no node-sized rebuild join (see
    operators/graph.py::pagerank_fixed_point). Ranks live in BIGINT
    micro-units with truncating integer division, so contribution sums
    are order-independent — the property that lets AQE re-plan each
    iteration freely without touching the result. The symmetric graph
    has in-degree == out-degree >= 1, so there are no dangling nodes
    by construction. Iteration count is a compile-time constant
    (catalog spec); the operator loop is plain Python over DataFrames,
    each round a new Catalyst plan on the staged edge frame (the q49
    component-loop discipline). Budget pinned in
    tests/test_plan_shapes.py. Logic lives in
    operators/graph.py::pagerank_fixed_point (hand-computed lattice
    test in tests/test_round8b_ops.py).
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.shared_shingle_pairs(docs)
    return graph.pagerank_fixed_point(pairs).orderBy("doc")
