"""Round-15 batch additions: domain/URL blocklist gate + domain-share
audit (q151).

C4's cleanup (Raffel et al. 2020, §2.2) drops every page whose domain
appears on a curated blocklist — the one canonical curation stage the
catalog still lacked (round-14 verdict Next #4a). RefinedWeb and Dolma
run the same gate with bigger lists, and both pair it with a
domain-CONCENTRATION check: a source whose kept docs are dominated by
one domain is a crawl artifact, not a corpus. q151 is both faces in
one report: per-source blocked-doc counts/rates (the gate's audit) and
the top kept domain with its share (the concentration audit).

Bench fixture: the synthetic corpus carries no URLs, so the catalog
face plants a deterministic domain stratum AT THE SCAN (the q143
planted-PII convention) — ``'site' || (doc_id % 97) || '.example'``,
integer arithmetic + string concat, identical in Spark and DuckDB;
every 10th site index is blocklisted, so ~10/97 of any slice is
blocked and the audit is non-vacuous at every SF. ``domain_counters``
and ``domain_finalize`` take ANY (source, domain, text) frame, so real
URL columns drop in unchanged; the planted test drives them on
handmade rows.

Scale notes: the blocklist is a BROADCAST dim by nature — production
lists run 1e4..1e6 domains (C4's is ~4e5), megabytes against a 100 TB
corpus — so the audit's flag is a broadcast left join; the corpus
itself crosses exactly ONE exchange (the map-side-combined
(source, domain) agg). The counter table is the q145 per-key state
family: it grows with DOMAIN cardinality (the web's registered-domain
count, ~1e8 worst case — a few GB of BIGINT counters,
shuffle-partitioned), never with corpus volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..sources.tables import load_table
from .catalog import query

# The planted domain universe (doc_id % _DOMAIN_MOD) and the
# blocklist: every 10th site index — 10 of 97 domains, so every
# source at every SF carries both blocked and kept docs.
_DOMAIN_MOD = 97
BLOCKLIST: tuple[str, ...] = tuple(
    f"site{i}.example" for i in range(0, _DOMAIN_MOD, 10)
)


def _domain_augment(docs: DataFrame) -> DataFrame:
    """The deterministic planted domain stratum (module docstring):
    integer arithmetic on doc_id + string concat, identical in Spark
    and DuckDB. Applied AT THE SCAN — a projection, no exchange."""
    return docs.select(
        "source",
        F.concat(
            F.lit("site"),
            (F.col("doc_id") % _DOMAIN_MOD).cast("string"),
            F.lit(".example"),
        ).alias("domain"),
        "text",
    )


def domain_counters(df: DataFrame) -> DataFrame:
    """Per-(source, domain) LINEAR counters over any (source, domain,
    text) frame: (source, domain, n_docs, n_tok). Both are sums —
    commutative, associative, mergeable across shards and
    micro-batches — so the SAME agg serves the batch face (q151) and
    complete-mode streaming state (q152, the q143/q144 twin
    discipline). State is the q145 per-key family: |sources| x
    |domains| rows, growing with domain cardinality only, never with
    ingest volume. The token count is a scan-side projection; the agg
    collapses map-side before its one exchange."""
    return (
        df.select(
            "source",
            "domain",
            F.coalesce(TX.bpe_token_count(F.col("text")), F.lit(0)).alias("tk"),
        )
        .groupBy("source", "domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tk").cast("long").alias("n_tok"),
        )
    )


def domain_finalize(counters: DataFrame) -> DataFrame:
    """Finalize the audit from the counter table ALONE (batch-built or
    drained from streaming state): flag each domain against the
    broadcast blocklist, roll up per-source blocked counts/rates
    (milli), and surface the top KEPT domain with its share of kept
    docs (ties broken by lexicographically smallest domain — the
    deterministic-tie-break house rule). A source whose every domain
    is blocked reports kept_docs = 0, top_domain = '' and share 0
    instead of dividing by zero (the q140/q148 empty-stratum lesson,
    guarded on both faces). The blocklist is ``BLOCKLIST`` as a tiny
    broadcast dim frame. Every step runs on the counter frame —
    |sources| x |domains| rows, never the corpus."""
    from ..operators.staging import stage

    bl = counters.sparkSession.createDataFrame(
        [(d,) for d in BLOCKLIST], "domain string"
    ).withColumn("_blocked", F.lit(1))
    f = stage(
        counters.join(F.broadcast(bl), "domain", "left").select(
            "source",
            "domain",
            "n_docs",
            "n_tok",
            F.coalesce(F.col("_blocked"), F.lit(0)).cast("long").alias("blocked"),
        )
    )  # staged: the rollup AND the top-domain window both read it —
    # without the stage each join arm re-derives the counters from the
    # corpus scan, doubling the corpus passes
    r = f.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_domains"),
        F.sum(F.when(F.col("blocked") == 1, F.col("n_docs")).otherwise(0))
        .cast("long")
        .alias("blocked_docs"),
        F.sum(F.when(F.col("blocked") == 1, F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("blocked_tok"),
        F.sum(F.when(F.col("blocked") == 0, F.col("n_docs")).otherwise(0))
        .cast("long")
        .alias("kept_docs"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("n_docs"), "domain")
    top = (
        f.filter(F.col("blocked") == 0)
        .select(
            "source", "domain", "n_docs", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") == 1)
        .select(
            # renamed join key: r and top both descend from f, and a
            # same-name self-join off a drained memory-sink table trips
            # Spark's attribute disambiguation (q152) — distinct names
            # sidestep it with identical semantics
            F.col("source").alias("_top_src"),
            F.col("domain").alias("top_domain"),
            F.col("n_docs").alias("top_docs"),
        )
    )
    return (
        r.join(top, r["source"] == top["_top_src"], "left")
        .select(
            "source",
            "n_docs",
            "n_domains",
            "blocked_docs",
            "blocked_tok",
            F.expr("1000 * blocked_docs div n_docs")
            .cast("long")
            .alias("blocked_rate_milli"),
            "kept_docs",
            F.coalesce(F.col("top_domain"), F.lit("")).alias("top_domain"),
            F.expr(
                "CASE WHEN kept_docs > 0 THEN 1000 * top_docs div kept_docs"
                " ELSE 0 END"
            )
            .cast("long")
            .alias("top_share_milli"),
        )
        .orderBy("source")
    )


def domain_audit_report(df: DataFrame) -> DataFrame:
    """Per-source blocklist + domain-concentration audit of any
    (source, domain, text) frame against ``BLOCKLIST``: one corpus
    pass into the tiny counter agg, then every derivation on the
    counter table."""
    return domain_finalize(domain_counters(df))


_BL_SQL = ", ".join(f"'{d}'" for d in BLOCKLIST)

# Shared verbatim by q151 and its streaming twin q152 (the PII_ORACLE /
# ATTRITION_ORACLE convention): the stream's counter state must
# finalize to the identical report row-for-row.
BLOCKLIST_ORACLE = f"""
        WITH aug AS (
            SELECT source,
                   'site' || (doc_id % {_DOMAIN_MOD}) || '.example' AS domain,
                   coalesce(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')), 0) AS tk
            FROM documents
        ),
        c AS (
            SELECT source, domain,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(tk) AS BIGINT) AS n_tok
            FROM aug GROUP BY source, domain
        ),
        f AS (
            SELECT source, domain, n_docs, n_tok,
                   CASE WHEN domain IN ({_BL_SQL}) THEN 1 ELSE 0 END AS blocked
            FROM c
        ),
        r AS (
            SELECT source,
                   CAST(sum(n_docs) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_domains,
                   CAST(sum(CASE WHEN blocked = 1 THEN n_docs ELSE 0 END)
                        AS BIGINT) AS blocked_docs,
                   CAST(sum(CASE WHEN blocked = 1 THEN n_tok ELSE 0 END)
                        AS BIGINT) AS blocked_tok,
                   CAST(sum(CASE WHEN blocked = 0 THEN n_docs ELSE 0 END)
                        AS BIGINT) AS kept_docs
            FROM f GROUP BY source
        ),
        t AS (
            SELECT source, domain AS top_domain, n_docs AS top_docs
            FROM (
                SELECT source, domain, n_docs,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY n_docs DESC, domain) AS rk
                FROM f WHERE blocked = 0
            ) WHERE rk = 1
        )
        SELECT r.source, r.n_docs, r.n_domains, r.blocked_docs, r.blocked_tok,
               CAST(1000 * r.blocked_docs // r.n_docs AS BIGINT)
                   AS blocked_rate_milli,
               r.kept_docs,
               coalesce(t.top_domain, '') AS top_domain,
               CAST(CASE WHEN r.kept_docs > 0
                         THEN 1000 * t.top_docs // r.kept_docs
                         ELSE 0 END AS BIGINT) AS top_share_milli
        FROM r LEFT JOIN t ON r.source = t.source
        ORDER BY r.source
    """


@query(
    "q151_domain_blocklist",
    oracle=BLOCKLIST_ORACLE,
    description="Domain blocklist gate + domain-share audit: C4's "
    "blocklist cleanup as a first-class report — per-source blocked "
    "doc/token counts and rates (milli) against a broadcast blocklist "
    "dim, plus the domain-concentration face (top kept domain and its "
    "share of kept docs, deterministic tie-break) that flags "
    "single-domain crawl artifacts; bench corpus carries no URLs, so a "
    "deterministic doc_id-keyed domain stratum is planted at the "
    "scan, identically in both faces (the q143 convention)",
    tags=("llm", "curation", "audit"),
)
def q151_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: plant (a projection) + token count are scan-side;
    the (source, domain) agg map-side combines before the corpus's ONE
    exchange; the blocklist flag is a broadcast join and every rollup/
    window/sort runs on the |sources| x |domains| counter frame. The
    blocklist stays broadcast-sized at ANY corpus size (real lists are
    ~1e5 domains); the counter frame is the q145 per-key family —
    bounded by the web's domain count, not corpus volume. Budget
    pinned (tests/test_plan_shapes.py::test_round15_exchange_budgets).
    """
    docs = load_table(spark, sf_dir, "documents")
    return domain_audit_report(_domain_augment(docs))
