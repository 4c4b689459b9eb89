"""Round-16: line-level dedup with document rewrite (q155) + its
streaming counter twin (q156).

RefinedWeb/C4's line-granularity pass — the one canonical curation
granularity the catalog lacked: q103 rewrites at fixed 16-token
chunks and q135 at CDC chunks, but boilerplate LINES repeated across
documents (navigation, cookie banners, footers — the dominant
web-crawl artifact) had no removal+rewrite face.  Semantics, both
faces exercised on the bench corpus:

- Per line content (keyed by the portable 60-bit hash, q37
  convention): ``df_docs`` = how many DISTINCT documents contain the
  line, and the global first occurrence = min (doc_id, line_idx).
- ``df_docs > LINE_DF_MAX``: corpus boilerplate — the line is dropped
  from EVERY document, first occurrence included (RefinedWeb's
  boilerplate removal; a navigation line has no canonical home).
- ``df_docs <= LINE_DF_MAX``: only the global first occurrence
  survives (C4's keep-first discipline) — this also removes a line
  repeated WITHIN one document (df_docs = 1, two occurrences: the
  lower line_idx wins, the line_idx tie-break).
- Surviving lines reassemble per document in original order; the
  audit reports per-source removed-line/token rates on the milli
  lattice plus ``rewrite_xor`` — the bit_xor fold of each document's
  rewritten-text 60-bit hash (order-independent, so the fold is one
  mergeable aggregate, and ANY reassembly error anywhere flips it).

Bench fixture: the synthetic corpus is single-line word salad, so the
catalog face plants a deterministic LINED form at the scan (the
q143/q151/q153 planted-stratum convention), doc_id arithmetic
identical in both engines:

- every doc: ``related article <doc_id div 7>`` above its content —
  groups of <= 7 consecutive doc_ids share the line (df_docs <= 7 <=
  LINE_DF_MAX), so exactly the min-doc_id member keeps it;
- doc_id % 3 == 0: a shared header line (df_docs ~ n/3 >> LINE_DF_MAX
  at every SF — dropped everywhere);
- doc_id % 4 == 0: a shared footer line (likewise dropped);
- doc_id % 10 == 0: ``ref <doc_id>`` TWICE (before the related line
  and after the content) — df_docs = 1 with two occurrences, pinning
  the within-doc line_idx tie-break;
- the content line itself stays unique per doc and survives.

The library pieces take ANY (doc_id, source, text) frame with real
newlines — ``line_dedup_rewrite`` (per-doc rewrite frame),
``line_dedup_report`` (the per-source audit),
``line_counters``/``line_finalize`` (the streamable counter face) —
so real crawl text drops in unchanged.

Reference anchor: the same first-occurrence discipline as
operators/curation.py::chunk_dedup_rewrite (q103), re-expressed at
line granularity with the df-threshold boilerplate face on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators.staging import stage
from ..sources.tables import load_table
from .catalog import query

# A line held by MORE than this many distinct documents is corpus
# boilerplate (dropped everywhere); at or below it, keep-first. The
# planted related-article groups sit at df_docs <= 7 (kept-first) and
# the planted header/footer at ~n/3 / ~n/4 (>= 16 at the smallest SF,
# always boilerplate) — both faces non-vacuous at every test SF.
LINE_DF_MAX = 9

_HEADER = "subscribe to our newsletter for daily updates"
_FOOTER = "all rights reserved contact us for reprints"
_EMPTY_HASH_SQL = "CAST('0x' || substring(md5(''), 1, 15) AS BIGINT)"


def _line_augment(docs: DataFrame) -> DataFrame:
    """The deterministic planted LINED form (module docstring):
    doc_id arithmetic + string concat, identical in Spark and DuckDB.
    Applied AT THE SCAN — a projection, no exchange."""
    did = F.col("doc_id")
    ref = F.concat(F.lit("ref "), did.cast("string"))
    head = F.when(did % 3 == 0, F.lit(_HEADER + "\n")).otherwise(F.lit(""))
    ref1 = F.when(did % 10 == 0, F.concat(ref, F.lit("\n"))).otherwise(F.lit(""))
    rel = F.concat(F.lit("related article "), F.expr("doc_id div 7").cast("string"))
    ref2 = F.when(did % 10 == 0, F.concat(F.lit("\n"), ref)).otherwise(F.lit(""))
    foot = F.when(did % 4 == 0, F.lit("\n" + _FOOTER)).otherwise(F.lit(""))
    return docs.select(
        "doc_id",
        "source",
        F.concat(head, ref1, rel, F.lit("\n"), F.col("text"), ref2, foot).alias(
            "text"
        ),
    )


def line_occurrences(df: DataFrame) -> DataFrame:
    """One row per non-empty line of any (doc_id, source, text) frame:
    (doc_id, source, line_idx, ltext, lhash, n_tok).  line_idx is the
    1-based position among ALL split elements (empty lines keep their
    slot so the first-occurrence tie-break is stable under blank-line
    noise, then drop out).  Scan-side narrow — split + posexplode +
    hash + token count in one whole-stage-codegen pass, zero Python
    crossings, no exchange."""
    return (
        df.select(
            "doc_id",
            "source",
            F.posexplode(F.split(F.col("text"), "\n", -1)).alias("pos", "ltext"),
        )
        .filter(F.length("ltext") > 0)
        .select(
            "doc_id",
            "source",
            (F.col("pos") + 1).cast("long").alias("line_idx"),
            "ltext",
            TX.hash60("ltext").alias("lhash"),
            F.size(TX.words("ltext")).cast("long").alias("n_tok"),
        )
    )


def _report_projection(agg: DataFrame, with_xor: bool) -> DataFrame:
    """The shared per-source report projection (mirrors the oracle's
    ``_linededup_oracle(with_xor=...)`` parameterization, so the milli
    lattice and column order live in ONE place on each side).  Milli
    denominators go through nullif: a source whose every document has
    zero non-empty lines yields NULL rates instead of an ANSI
    DIVIDE_BY_ZERO abort (the alpha_ratio convention) — unreachable on
    the catalog faces (the plant guarantees lines), reachable through
    the library entry points."""
    cols = [
        "source",
        "n_docs",
        "n_lines",
        "kept_lines",
        (F.col("n_lines") - F.col("kept_lines")).cast("long").alias("removed_lines"),
        F.expr("1000 * (n_lines - kept_lines) div nullif(n_lines, 0)")
        .cast("long")
        .alias("removed_line_milli"),
        "n_tokens",
        "kept_tokens",
        F.expr("1000 * (n_tokens - kept_tokens) div nullif(n_tokens, 0)")
        .cast("long")
        .alias("removed_token_milli"),
    ]
    if with_xor:
        cols.append("rewrite_xor")
    return agg.select(*cols).orderBy("source")


def line_counters(df: DataFrame) -> DataFrame:
    """Per-(lhash, doc_id) counters over any (doc_id, source, text)
    frame: (lhash, doc_id, source, n_occ, first_idx, tok_line).  Every
    aggregate is streamable (count/min — associative, mergeable across
    shards and micro-batches), so the SAME agg serves the batch face
    and complete-mode streaming state (q156).  Honest state-size note:
    this is the q145/q91 per-KEY family, and the key here is (line
    content, document) — state grows with the corpus's deduplicated
    line volume, NOT |sources|; at 100 TB this face runs as the
    batch-backfill shape (q155) and the streaming twin is the
    bounded-window live monitor, exactly like q91's caveat.  tok_line
    and source are constants of the key (same line text => same token
    count; one doc => one source); min() picks them deterministically.
    Each micro-batch collapses map-side to one partial per key before
    touching state."""
    return line_occurrences(df).groupBy("lhash", "doc_id").agg(
        F.min("source").alias("source"),
        F.count(F.lit(1)).cast("long").alias("n_occ"),
        F.min("line_idx").cast("long").alias("first_idx"),
        F.min("n_tok").cast("long").alias("tok_line"),
    )


def line_finalize(counters: DataFrame) -> DataFrame:
    """The per-source removal audit from the counter table ALONE
    (batch-built or drained from streaming state): global df/first
    per line, the keep rule, and the per-source rollup all derive
    from the (lhash, doc_id) counters, so the state fully determines
    the report — every column of q155 EXCEPT ``rewrite_xor``, which
    needs line text the counter state deliberately does not hold
    (the honest twin boundary, documented on q156).  The keep rule
    is the batch faces' ``LINE_DF_MAX`` threshold.  One documented
    divergence from line_dedup_report: a document with ZERO non-empty
    lines leaves no counter row, so it is invisible to this face's
    n_docs (the batch face counts it off the scan) — impossible on
    the catalog faces, stated here for library callers.

    Join keys are RENAMED on the derived side (f_*) — the q152
    drained-memory-table self-join disambiguation trap.  Only the
    first DOC matters here (per-(lhash, doc) granularity — the
    line_idx tie-break is intra-doc and already folded into the
    counters), and doc_id is distinct within an lhash group, so the
    global first is a plain min."""
    c = stage(counters)  # feeds the global agg AND the join-back
    firsts = c.groupBy("lhash").agg(
        F.count(F.lit(1)).cast("long").alias("df_docs"),
        F.min("doc_id").alias("f_doc"),
    )
    j = c.join(
        firsts.select(
            F.col("lhash").alias("f_lhash"), "df_docs", "f_doc"
        ),
        F.col("lhash") == F.col("f_lhash"),
    )
    kept = (
        F.when(F.col("df_docs") > LINE_DF_MAX, F.lit(0))
        .when(F.col("doc_id") == F.col("f_doc"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    per = j.select(
        "source",
        "doc_id",
        F.col("n_occ").alias("pair_lines"),
        kept.alias("pair_kept"),
        (F.col("n_occ") * F.col("tok_line")).alias("pair_tok"),
        (kept * F.col("tok_line")).alias("pair_kept_tok"),
    )
    agg = per.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum("pair_lines").cast("long").alias("n_lines"),
        F.sum("pair_kept").cast("long").alias("kept_lines"),
        F.sum("pair_tok").cast("long").alias("n_tokens"),
        F.sum("pair_kept_tok").cast("long").alias("kept_tokens"),
    )
    return _report_projection(agg, with_xor=False)


def line_dedup_rewrite(df: DataFrame) -> DataFrame:
    """Per-document line dedup WITH rewrite over any (doc_id, source,
    text) frame: (doc_id, source, n_lines, n_kept, n_tokens,
    kept_tokens, kept_hash) — kept_hash is the 60-bit hash of the
    surviving lines rejoined by newline in original order (hash60("")
    when nothing survives).  The rewrite itself ships as a hash, not
    text: at 100 TB the rewritten corpus lands in a sink and the
    audit row stays narrow (the q103 convention).

    HASH-WIDTH caveat: line identity is the 60-bit
    md5-prefix hash (the q37 convention).  In the AUDIT faces a
    collision only perturbs a count, but here a collision DELETES a
    non-duplicate line from every document — destructive — and
    birthday collisions become likely around ~1.3e9 distinct lines,
    below a real 100 TB deduplicated-line volume.  At that scale
    widen the key (the full 128-bit md5 as a 2-BIGINT struct — same
    plan shape, one more column through the min-agg) or verify
    candidate drops by text compare before deleting; bench-scale
    parity (<=1e6 distinct lines per SF here) is unaffected.

    Scale shape: (1) line splitting/hashing is scan-side narrow
    (line_occurrences); (2) global df + first occurrence is the
    skew-immune TWO-LEVEL min-agg — level 1 groups by (lhash, doc_id)
    so a boilerplate line in millions of docs spreads over doc_id
    before level 2's per-lhash count/min, which partial-aggregates
    map-side on one-row-per-doc input (the q94/q103 shape; a
    row_number window would sort the boilerplate crowd on one
    partition); (3) the keep decision joins back to occurrences on
    lhash, linear in lines, UNHINTED (both sides corpus-sized — AQE
    picks); (4) reassembly is a per-doc collect_list bounded by the
    DOCUMENT's own line count, never the corpus; (5) per-doc totals
    come straight off the scan (no explode — token counts over the
    whole text equal the per-line sum because newlines can never sit
    inside a [a-z0-9]+ token), so zero-line documents keep their
    audit row.  The occurrence frame feeds level 1, the join-back,
    nothing else — staged once (caller releases via
    staging.release_staging())."""
    occ = stage(line_occurrences(df))
    lvl1 = occ.groupBy("lhash", "doc_id").agg(
        F.min("line_idx").alias("first_idx"),
    )
    firsts = lvl1.groupBy("lhash").agg(
        F.count(F.lit(1)).cast("long").alias("df_docs"),
        F.min(F.struct("doc_id", "first_idx")).alias("first"),
    )
    kept = occ.join(
        firsts.select(
            F.col("lhash").alias("f_lhash"),
            "df_docs",
            F.col("first.doc_id").alias("f_doc"),
            F.col("first.first_idx").alias("f_idx"),
        ),
        F.col("lhash") == F.col("f_lhash"),
    ).where(
        (F.col("df_docs") <= LINE_DF_MAX)
        & (F.col("doc_id") == F.col("f_doc"))
        & (F.col("line_idx") == F.col("f_idx"))
    )
    kept_agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_tok").cast("long").alias("kept_tokens"),
        TX.hash60(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_idx", "ltext"))),
                    lambda s: s["ltext"],
                ),
                "\n",
            )
        ).alias("kept_hash"),
    )
    nonempty = F.filter(
        F.split(F.col("text"), "\n", -1), lambda x: F.length(x) > 0
    )
    base = df.select(
        "doc_id",
        "source",
        F.size(nonempty).cast("long").alias("n_lines"),
        F.size(TX.words("text")).cast("long").alias("n_tokens"),
    )
    return base.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        "source",
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        "n_tokens",
        F.coalesce(F.col("kept_tokens"), F.lit(0)).cast("long").alias("kept_tokens"),
        F.coalesce(F.col("kept_hash"), TX.hash60(F.lit(""))).alias("kept_hash"),
    )


def line_dedup_report(df: DataFrame) -> DataFrame:
    """The per-source audit over any (doc_id, source, text) frame:
    line_finalize's counter columns PLUS ``rewrite_xor`` — the
    bit_xor fold of the per-doc rewritten-text hashes (one mergeable
    BIGINT per source; any reassembly drift anywhere flips it)."""
    d = line_dedup_rewrite(df)
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_lines").cast("long").alias("n_lines"),
        F.sum("n_kept").cast("long").alias("kept_lines"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("kept_tokens").cast("long").alias("kept_tokens"),
        F.expr("bit_xor(kept_hash)").cast("long").alias("rewrite_xor"),
    )
    return _report_projection(agg, with_xor=True)


# --- DuckDB oracle, generated from the SAME constants (template
# shared by q155 and q156: the twin's report is the batch report
# minus the rewrite_xor column, because counter state holds no line
# text — the honest twin boundary).

_AUG_SQL = f"""
            SELECT doc_id, source,
                   CASE WHEN doc_id % 3 = 0
                        THEN '{_HEADER}' || chr(10) ELSE '' END
                   || CASE WHEN doc_id % 10 = 0
                           THEN 'ref ' || CAST(doc_id AS VARCHAR) || chr(10)
                           ELSE '' END
                   || 'related article ' || CAST(doc_id // 7 AS VARCHAR)
                   || chr(10) || text
                   || CASE WHEN doc_id % 10 = 0
                           THEN chr(10) || 'ref ' || CAST(doc_id AS VARCHAR)
                           ELSE '' END
                   || CASE WHEN doc_id % 4 = 0
                           THEN chr(10) || '{_FOOTER}' ELSE '' END AS text
            FROM documents
"""


def _linededup_oracle(with_xor: bool) -> str:
    xor_col = (
        ",\n               CAST(bit_xor(kept_hash) AS BIGINT) AS rewrite_xor"
        if with_xor
        else ""
    )
    return f"""
        WITH aug AS ({_AUG_SQL}),
        split AS (
            SELECT doc_id, source, string_split(text, chr(10)) AS ln
            FROM aug
        ),
        occ AS (
            SELECT doc_id, source, CAST(i AS BIGINT) AS line_idx,
                   ln[i] AS ltext,
                   CAST('0x' || substring(md5(ln[i]), 1, 15) AS BIGINT)
                       AS lhash,
                   CAST(len(regexp_extract_all(lower(ln[i]), '[a-z0-9]+'))
                        AS BIGINT) AS n_tok
            FROM split, UNNEST(generate_series(1, len(ln))) AS t(i)
            WHERE length(ln[i]) > 0
        ),
        lvl1 AS (
            SELECT lhash, doc_id, min(line_idx) AS first_idx
            FROM occ GROUP BY lhash, doc_id
        ),
        firsts AS (
            SELECT lhash, CAST(count(*) AS BIGINT) AS df_docs,
                   min(doc_id) AS f_doc,
                   arg_min(first_idx, doc_id) AS f_idx
            FROM lvl1 GROUP BY lhash
        ),
        kept AS (
            SELECT o.doc_id, o.line_idx, o.ltext, o.n_tok
            FROM occ o JOIN firsts f ON o.lhash = f.lhash
            WHERE f.df_docs <= {LINE_DF_MAX}
              AND o.doc_id = f.f_doc AND o.line_idx = f.f_idx
        ),
        kept_doc AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(sum(n_tok) AS BIGINT) AS kept_tokens,
                   CAST('0x' || substring(md5(string_agg(ltext, chr(10)
                            ORDER BY line_idx)), 1, 15) AS BIGINT)
                       AS kept_hash
            FROM kept GROUP BY doc_id
        ),
        perdoc AS (
            SELECT a.doc_id, a.source,
                   CAST(len(list_filter(string_split(a.text, chr(10)),
                                        x -> length(x) > 0)) AS BIGINT)
                       AS n_lines,
                   coalesce(k.n_kept, 0) AS n_kept,
                   CAST(len(regexp_extract_all(lower(a.text), '[a-z0-9]+'))
                        AS BIGINT) AS n_tokens,
                   coalesce(k.kept_tokens, 0) AS kept_tokens,
                   coalesce(k.kept_hash, {_EMPTY_HASH_SQL}) AS kept_hash
            FROM aug a LEFT JOIN kept_doc k USING (doc_id)
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_lines) AS BIGINT) AS n_lines,
               CAST(sum(n_kept) AS BIGINT) AS kept_lines,
               CAST(sum(n_lines) - sum(n_kept) AS BIGINT) AS removed_lines,
               CAST(1000 * (sum(n_lines) - sum(n_kept))
                    // nullif(sum(n_lines), 0)
                    AS BIGINT) AS removed_line_milli,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(sum(kept_tokens) AS BIGINT) AS kept_tokens,
               CAST(1000 * (sum(n_tokens) - sum(kept_tokens))
                    // nullif(sum(n_tokens), 0)
                    AS BIGINT) AS removed_token_milli{xor_col}
        FROM perdoc GROUP BY source ORDER BY source
    """


LINEDEDUP_ORACLE = _linededup_oracle(with_xor=True)
LINEDEDUP_COUNTER_ORACLE = _linededup_oracle(with_xor=False)


@query(
    "q155_line_dedup_rewrite",
    oracle=LINEDEDUP_ORACLE,
    description="Line-level dedup with document rewrite "
    "(RefinedWeb/C4's line-granularity pass): global document "
    "frequency + first occurrence per 60-bit line hash via the "
    "skew-immune two-level min-agg, boilerplate lines (df > "
    f"{LINE_DF_MAX} docs) dropped everywhere, duplicated lines kept "
    "only at their global first occurrence (min doc_id, line_idx — "
    "within-doc repeats covered by the line_idx tie-break), per-doc "
    "ordered reassembly, per-source removed-line/token rates on the "
    "milli lattice plus the bit_xor fold of the rewritten-doc hashes; "
    "bench corpus is single-line word salad, so a deterministic "
    "doc_id-keyed LINED form (shared header/footer, <=7-doc "
    "related-article groups, within-doc ref repeats) is planted at "
    "the scan, identically in both faces",
    tags=("llm", "curation", "dedup", "rewrite"),
)
def q155_line_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: see line_dedup_rewrite (the plan is plant ->
    rewrite -> per-source rollup; the rollup's bit_xor/sums all
    partial-aggregate map-side to |sources| rows).  Budget pinned
    (tests/test_plan_shapes.py::test_round16_exchange_budgets)."""
    docs = load_table(spark, sf_dir, "documents")
    return line_dedup_report(_line_augment(docs))
