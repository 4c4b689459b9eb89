"""Round-9 batch (q109-q112, q114): corpus novelty auditing,
int8-quantized ANN, audio frame analysis, count-min heavy hitters,
and the MinHash estimator-calibration report — the remaining pillars
of the 100 TB curation surface: "is new crawl data actually new",
"score embeddings at 4x density", "window binary audio without
shipping bytes", "token frequencies in constant memory", and "audit
the estimator before trusting it" (q113, the streaming sketch twin,
lives with the streaming family in streaming_q.py).

Conventions follow catalog.py: identical column aliases both sides,
total ORDER BY, BIGINT casts on integer aggregates, integer lattices
wherever a double would be off-grid between engines. 100 TB notes per
query live in the docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import curation, multimodal, similarity, sketch
from ..sources.tables import load_table
from .catalog import query


@query(
    "q109_shingle_novelty",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents
        ),
        -- the operator aggregates 60-bit shingle hashes; the oracle the
        -- shingle STRINGS — equivalent up to md5-prefix collisions (the
        -- q99 convention)
        sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(array_slice(tk, i, i + 4), ' ') AS shingle
            FROM toks, UNNEST(generate_series(1, greatest(len(tk) - 4, 0))) AS t(i)
        ),
        per_doc AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        novel_per_doc AS (
            SELECT doc_id, count(*) AS n_novel FROM (
                SELECT min(doc_id) AS doc_id FROM sh GROUP BY shingle
            ) GROUP BY doc_id
        )
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(coalesce(p.n_sh, 0)) AS BIGINT) AS n_shingles,
               CAST(sum(coalesce(v.n_novel, 0)) AS BIGINT) AS n_novel,
               round(CAST(sum(coalesce(v.n_novel, 0)) AS DOUBLE)
                     / nullif(sum(coalesce(p.n_sh, 0)), 0), 4) AS novelty_ratio
        FROM documents d
        LEFT JOIN per_doc p USING (doc_id)
        LEFT JOIN novel_per_doc v USING (doc_id)
        GROUP BY d.source
        ORDER BY d.source
    """,
    description="Per-source shingle novelty audit: treating doc_id as "
    "crawl order, which share of each source's word-5-gram shingles is "
    "globally NEW (first occurrence) — the diminishing-returns curve "
    "that decides when more crawling stops buying training data",
    tags=("llm", "curation", "dedup", "audit"),
)
def q109_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (operators/curation.py::shingle_novelty): two hash
    aggs and zero shingle-table joins — first-occurrence is a
    skew-immune min-agg per hash, and novel-per-doc regroups the
    firsts frame by its own min column instead of joining the corpus-
    sized shingle table back; only |docs|-sized frames are ever
    joined. The oracle's window-free formulation mirrors the same
    two-level grouping."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.shingle_novelty(docs).orderBy(
        "source"
    )


@query(
    "q110_quantized_ann",
    oracle=f"""
        WITH q AS (
            SELECT vec_id,
                   4*CAST(embedding[1] > 0 AS INT) + 2*CAST(embedding[2] > 0 AS INT)
                     + CAST(embedding[3] > 0 AS INT) AS bucket,
                   list_transform(embedding, x ->
                       CAST(round(CAST(x AS DOUBLE) * 127 /
                            nullif(list_max(list_transform(embedding,
                                y -> abs(CAST(y AS DOUBLE)))), 0)) AS BIGINT)
                   ) AS qv
            FROM embeddings
        ),
        scored AS (
            SELECT n.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   CAST(list_sum(list_transform(generate_series(1, len(n.qv)),
                        i -> n.qv[i] * c.qv[i])) AS BIGINT) AS qdot
            FROM q n JOIN q c ON n.bucket = c.bucket
            WHERE n.vec_id % 2 = 1 AND c.vec_id % 2 = 0
        ),
        ranked AS (
            SELECT probe_id, neighbor_id, qdot,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY qdot DESC, neighbor_id) AS rnk
            FROM scored
        )
        SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, qdot
        FROM ranked WHERE rnk <= {similarity.QUANTIZED_K}
        ORDER BY probe_id, rnk
    """,
    description="Int8-quantized ANN: symmetric per-vector int8 "
    "quantization (round(x*127/max|x|)), EXACT BIGINT dot products, "
    "sign-bucket blocking, top-3 neighbors per probe (odd ids) from "
    "the corpus (even ids) — the 4x-denser scoring path whose integer "
    "arithmetic is bit-equal across engines, unlike float cosine",
    tags=("llm", "similarity", "quantization"),
)
def q110_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (operators/similarity.py::quantized_topk):
    quantization is a narrow JVM-side transform (the int8 corpus is
    what a 100 TB deployment PERSISTS — 4x more vectors per executor
    page); each probe's candidates live entirely in its ONE sign
    bucket (q100's blocking — never a cross join), so the top-3 is
    computed inside a bucket-wise int64 numpy GEMM and only k rows
    per probe cross the shuffle. The original declarative variant
    (bucket equi-join + per-pair zip_with fold + window) was measured
    98x slower on 20,000 embeddings (77 s over 12.5M bucket pairs) —
    the per-pair interpreted HOF was the cost, not the blocking; the
    GEMM keeps the identical exact-integer scores, so the oracle is
    untouched. Zero-norm vectors quantize to NULL and drop out
    identically on both engines (FIXTURES.md rule)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.quantized_topk(
        emb,
        probe_pred=F.col("vec_id") % 2 == 1,
        corpus_pred=F.col("vec_id") % 2 == 0,
    ).orderBy("probe_id", "rnk")


@query(
    "q111_audio_frame_energy",
    oracle=f"""
        WITH samples AS (
            SELECT doc_id, i // {multimodal.AUDIO_FRAME} AS frame,
                   (doc_id * 31 + i * 7) % 201 - 100 AS v
            FROM documents, UNNEST(generate_series(0, n_chars - 1)) AS t(i)
            WHERE n_chars > 0
        ),
        frames AS (
            SELECT doc_id, frame, sum(v * v) AS energy, count(*) AS flen
            FROM samples GROUP BY doc_id, frame
        ),
        agg AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_frames,
                   CAST(sum(energy) AS BIGINT) AS total_energy,
                   CAST(max(energy) AS BIGINT) AS peak_frame_energy,
                   CAST(sum(CAST(energy < {multimodal.SILENCE_ENERGY_PER_SAMPLE} * flen AS INT)) AS BIGINT)
                       AS n_silent
            FROM frames GROUP BY doc_id
        )
        SELECT d.doc_id AS media_id,
               CAST(d.n_chars AS BIGINT) AS n_samples,
               coalesce(a.n_frames, 0) AS n_frames,
               coalesce(a.total_energy, 0) AS total_energy,
               coalesce(a.peak_frame_energy, 0) AS peak_frame_energy,
               coalesce(a.n_silent, 0) AS n_silent
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY media_id
    """,
    description="Audio frame analysis over REAL PCM-16 WAV payloads "
    "(synthesized closed-form waveform, genuine RIFF encode->decode "
    "round-trip): 256-sample frames, exact integer energies, silence "
    "detection — per clip (n_samples, n_frames, total/peak energy, "
    "n_silent); the oracle recomputes from the closed form without "
    "touching bytes, pinning the whole binary path",
    tags=("llm", "multimodal", "audio"),
)
def q111_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE Arrow-batched mapInPandas pass — each worker
    decodes its batch with numpy (frombuffer/reshape, no per-sample
    Python), emits 6 longs per clip; audio bytes never cross a
    shuffle. Integer energies (not float RMS) keep stream/batch/
    oracle on the same lattice (the q105 argument). The synthesized
    payloads are real RIFF/WAVE files, so codecs.decode_wav's chunk
    walk runs for every row — the oracle's closed-form recomputation
    means any byte-level encode/decode drift fails the hash gate."""
    docs = load_table(spark, sf_dir, "documents")
    audio = multimodal.synthesize_audio(docs)
    return multimodal.audio_frame_energy(audio).orderBy("media_id")


@query(
    "q112_countmin_heavy_hitters",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
            FROM documents
        ),
        keyed AS (
            SELECT r.r,
                   CAST('0x' || substring(md5(r.r || ':' || token), 1, 15) AS BIGINT)
                       % {sketch.CMS_WIDTH} AS bucket
            FROM tok CROSS JOIN (SELECT unnest(generate_series(0, {sketch.CMS_DEPTH - 1})) AS r) r
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
                       % {sketch.CMS_WIDTH} AS bucket
            FROM top CROSS JOIN (SELECT unnest(generate_series(0, {sketch.CMS_DEPTH - 1})) AS r) r
        )
        SELECT p.token, p.exact_n,
               CAST(min(c.cnt) AS BIGINT) AS cms_est,
               min(c.cnt) >= p.exact_n AS overestimate_ok
        FROM probes p JOIN counters c USING (r, bucket)
        GROUP BY p.token, p.exact_n
        ORDER BY p.exact_n DESC, p.token
    """,
    description="Count-min-sketch heavy hitters: a 4x1024 counter grid "
    "(constant memory at any corpus size) built from the portable "
    "60-bit hash, probed for the exact top-20 tokens — estimate, exact "
    "count, and the one-sided CMS soundness verdict per token; fully "
    "deterministic, so the sketch itself is hash-oracle-checked, not "
    "just epsilon-bounded",
    tags=("llm", "sketch", "text"),
)
def q112_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (operators/sketch.py): the grid build partial-
    aggregates to <= d*w counters per task BEFORE the shuffle (the
    mergeable-summary property — daily shards sketch independently
    and union-fold), and the probe side joins k*d rows against the
    BROADCAST 4096-row grid. The exact top-20 exists to audit the
    sketch at test scale; its global sort is a TakeOrdered(20), never
    a full sort."""
    docs = load_table(spark, sf_dir, "documents")
    return sketch.countmin_heavy_hitters(docs)


def calibration_oracle(doc_where: str = "") -> str:
    """q114's DuckDB oracle as a template: ``doc_where`` restricts the
    documents frame (the q142 sampled-stratum variant injects the
    multiplicative-hash predicate there; empty = the full corpus,
    byte-for-byte q114's original semantics). One template, two
    catalog queries — the audited face and its 100 TB sampled mode
    cannot drift apart."""
    return _CAL_SQL.replace("{doc_where}", doc_where)


_CAL_SQL = """
        WITH w AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
            FROM documents {doc_where}
        ),
        -- exact-Jaccard truth over DISTINCT word-5-gram shingles (the
        -- cap-free q26 semantics; strings vs 60-bit hashes, the q99
        -- collision convention)
        tsh AS (
            SELECT DISTINCT doc_id AS doc, array_to_string(tk[i:i+4], ' ') AS s
            FROM w, UNNEST(generate_series(1, len(tk) - 4)) AS t(i)
            WHERE len(tk) >= 5
        ),
        sizes AS (SELECT doc, count(*) AS n FROM tsh GROUP BY doc),
        inter AS (
            SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
            FROM tsh a JOIN tsh b ON a.s = b.s AND a.doc < b.doc
            GROUP BY 1, 2
        ),
        truth AS (
            SELECT doc_a, doc_b,
                   CAST(round(1000.0 * i / (sa.n + sb.n - i)) AS BIGINT)
                       AS ej_exact_milli
            FROM inter
            JOIN sizes sa ON sa.doc = doc_a
            JOIN sizes sb ON sb.doc = doc_b
            WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
        ),
        -- the q27 MinHash(64)+LSH(16) candidate pipeline, verbatim
        sh AS (
            SELECT DISTINCT doc_id AS doc,
                   CAST('0x' || substring(md5(array_to_string(tk[i:i+4], ' ')), 1, 15)
                        AS BIGINT) % 2147483647 AS h
            FROM w, UNNEST(generate_series(1, len(tk) - 4)) AS t(i)
            WHERE len(tk) >= 5
        ),
        mh AS (
            SELECT doc, k,
                   min(((2*k + 1) * h + 1000003 * (k + 1)) % 2147483647) AS v
            FROM sh, UNNEST(generate_series(0, 63)) AS tt(k)
            GROUP BY doc, k
        ),
        sig AS (SELECT doc, list(v ORDER BY k) AS s FROM mh GROUP BY doc),
        bands AS (
            SELECT doc, b, s[b*4 + 1 : b*4 + 4] AS bv
            FROM sig, UNNEST(generate_series(0, 15)) AS bb(b)
        ),
        bcand AS (
            SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
            FROM bands a JOIN bands b
              ON a.b = b.b AND a.bv = b.bv AND a.doc < b.doc
        ),
        cand AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(round(1000.0 * list_sum(list_transform(generate_series(1, 64),
                       i -> CAST(sa.s[i] = sb.s[i] AS INT))) / 64.0) AS BIGINT)
                       AS ej_est_milli
            FROM bcand c
            JOIN sig sa ON sa.doc = c.doc_a
            JOIN sig sb ON sb.doc = c.doc_b
            WHERE list_sum(list_transform(generate_series(1, 64),
                       i -> CAST(sa.s[i] = sb.s[i] AS INT))) / 64.0 >= 0.5
        ),
        j AS (
            SELECT coalesce(t.doc_a, c.doc_a) AS doc_a,
                   t.ej_exact_milli, c.ej_est_milli
            FROM truth t FULL OUTER JOIN cand c
              ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
        )
        SELECT CAST(count(ej_exact_milli) AS BIGINT) AS n_truth,
               CAST(count(ej_est_milli) AS BIGINT) AS n_candidates,
               CAST(count(*) FILTER (ej_exact_milli IS NOT NULL
                                     AND ej_est_milli IS NOT NULL) AS BIGINT) AS n_hit,
               CAST(round(1000.0 * count(*) FILTER (ej_exact_milli IS NOT NULL
                                                    AND ej_est_milli IS NOT NULL)
                    / nullif(count(ej_exact_milli), 0)) AS BIGINT) AS recall_milli,
               CAST(round(1000.0 * count(*) FILTER (ej_exact_milli IS NOT NULL
                                                    AND ej_est_milli IS NOT NULL)
                    / nullif(count(ej_est_milli), 0)) AS BIGINT) AS precision_milli,
               round(CAST(sum(abs(ej_est_milli - ej_exact_milli))
                              FILTER (ej_exact_milli IS NOT NULL
                                      AND ej_est_milli IS NOT NULL) AS DOUBLE)
                    / nullif(count(*) FILTER (ej_exact_milli IS NOT NULL
                                              AND ej_est_milli IS NOT NULL), 0), 2)
                   AS mean_est_err_milli,
               CAST(coalesce(max(abs(ej_est_milli - ej_exact_milli))
                                 FILTER (ej_exact_milli IS NOT NULL
                                         AND ej_est_milli IS NOT NULL), 0) AS BIGINT)
                   AS max_est_err_milli
        FROM j
    """


@query(
    "q114_minhash_calibration",
    oracle=calibration_oracle(),
    description="MinHash estimator calibration report: the q27 LSH "
    "candidate set audited against the cap-free exact-Jaccard truth "
    "(q26 semantics) in ONE summary row — recall, precision, and the "
    "signature-estimate error in integer milli-units; the 'measure, "
    "don't guess' loop as a first-class catalog operator",
    tags=("llm", "dedup", "audit"),
)
def q114_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: cost = the two candidate generators being audited
    (each already 100 TB-shaped: banded LSH join, df-capped truth is
    cap-FREE here but threshold-filtered); their outputs join pair-set
    sized, and all seven stats fold in ONE conditional-aggregate pass
    (no second derivation of either generator, no crossJoin). At
    100 TB this runs on a sampled stratum to pick bands/hashes before
    committing the full dedup job — sampling changes the input frame,
    not this plan. Per-pair milli-unit rounding BEFORE the mean keeps
    the error aggregate off float summation order (the q105 rule)."""
    from ..operators import dedup as _dedup

    docs = load_table(spark, sf_dir, "documents")
    return _dedup.minhash_calibration_report(docs)
