"""Round-14 planted coverage:

1. The DSIR empty-target convention (round-13 advisor): a corpus with
   zero target-language tokens scores 0 everywhere (nothing selected)
   on BOTH faces — no Spark-NULL-vs-DuckDB-error divergence.
2. q143 (PII detection/redaction audit): hand-written PII fixture with
   doc_ids outside every planted stratum (the augmentation is the
   identity there), expectations re-derived with Python ``re`` on the
   same Java/RE2 common-subset patterns, negative cases (UK phone,
   bare digit runs, 3-octet and word-glued IPs) pinned to zero, the
   DuckDB oracle hash-compared on the fixture, and redaction pinned
   idempotent.
3. The common-subset claim as a hypothesis PROPERTY (counts, redacted
   text, and residual equal the python-re model for ANY text over a
   boundary-dense alphabet), plus the two pii_redact design
   properties on adversarial fixtures: in-pass capture of rewrite-
   created ``\\b`` boundaries (the \\b-sensitive detector is last)
   and sentinel-absorption blocked by the bracket delimiters (q144
   inherits everything verbatim — same pii_counters).
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs
from aws_dla_kinesis_delivery_stream_example_spark.plans.curation13 import (
    PII_KINDS,
    pii_redact,
)

from .conftest import SF_SMOKE
from .test_round11_planted import _write_documents

SPECS = all_specs()


def _duck_on_documents(sf_dir: str, sql: str) -> list[tuple]:
    """Run an oracle on a documents-only fixture dir (the full
    comparator registers every bench table; planted dirs carry just
    documents.parquet)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"parquet_scan('{sf_dir}/documents.parquet')"
    )
    return [tuple(r) for r in con.execute(sql).fetchall()]


# -------------------------------------------------- DSIR empty target

_NO_TGT_ROWS = [
    (1, "alpha bravo charlie delta", "de", "s1", None),
    (2, "echo foxtrot golf hotel india", "fr", "s1", None),
    (3, "juliet kilo lima mike", "zh", "s2", None),
]


@pytest.fixture(scope="module")
def no_target_sf_dir(tmp_path_factory) -> str:
    return _write_documents(tmp_path_factory.mktemp("dsir_notgt"), _NO_TGT_ROWS)


def test_dsir_empty_target_convention(spark, no_target_sf_dir):
    """Zero 'en' tokens: every score is 0 by convention, so imp_milli
    is 0 and nothing clears the 1000-milli selection bar — on BOTH
    faces (the oracle's CASE mirrors the Spark guard; round-13
    advisor's divergence is structurally closed)."""
    spec = SPECS["q140_dsir_reweight"]
    df = spec.spark(spark, no_target_sf_dir)
    rows = {r["source"]: r for r in df.collect()}
    assert set(rows) == {"s1", "s2"}
    for r in rows.values():
        assert r["mean_imp_milli"] == 0 and r["n_selected"] == 0
    got = [tuple(r) for r in spec.spark(spark, no_target_sf_dir).collect()]
    assert got == _duck_on_documents(no_target_sf_dir, spec.oracle)


# ------------------------------------------------------------- q143

# Hand-written PII fixture. Every doc_id is coprime to the planted
# strata (no multiple of 7/11/13), so q143's scan-side augmentation is
# the IDENTITY and the detectors see exactly this text.
_PII_ROWS = [
    (1, "contact alice.smith+spam@mail-host.co.uk and bob@ex.io today", "en", "s1", None),
    (2, "call (555) 867-5309 or (020) 7946-0958 maybe", "en", "s1", None),
    (3, "server at 192.168.0.1 and 10.255.255.254 rebooted v1.2.3.4", "en", "s2", None),
    (4, "mixed: eve@corp.net, (555) 123-4567, 8.8.8.8", "en", "s2", None),
    (5, "no pii here just words", "en", "s3", None),
    (6, "email-ish @@ not@tld phone 555-1234 ip 1.2.3 only", "en", "s3", None),
]


@pytest.fixture(scope="module")
def pii_sf_dir(tmp_path_factory) -> str:
    return _write_documents(tmp_path_factory.mktemp("pii_sf"), _PII_ROWS)


def _py_counts(text: str) -> dict[str, int]:
    """Python-re recompute on the same patterns — the common-subset
    claim means re/Java/RE2 agree on these constructs."""
    return {kind: len(re.findall(pat, text)) for kind, pat, _ in PII_KINDS}


def test_pii_fixture_geometry_self_check():
    """The planted claims, re-derived with python re."""
    c = {r[0]: _py_counts(r[1]) for r in _PII_ROWS}
    assert c[1] == {"email": 2, "phone": 0, "ip": 0}
    # UK phone shape is NOT NANP: detector stays quiet
    assert c[2] == {"email": 0, "phone": 1, "ip": 0}
    # 'v1.2.3.4' is word-glued (no \b before the 1) and '1.2.3' has
    # three octets: neither counts
    assert c[3] == {"email": 0, "phone": 0, "ip": 2}
    assert c[4] == {"email": 1, "phone": 1, "ip": 1}
    assert c[5] == {"email": 0, "phone": 0, "ip": 0}
    assert c[6] == {"email": 0, "phone": 0, "ip": 0}


def test_q143_on_planted_fixture(spark, pii_sf_dir):
    spec = SPECS["q143_pii_audit"]
    got = {tuple(r) for r in spec.spark(spark, pii_sf_dir).collect()}
    assert got == {
        # source, n_docs, docs_with_pii, n_email, n_phone, n_ip,
        # pii_doc_rate_milli, n_residual
        ("s1", 2, 2, 2, 1, 0, 1000, 0),
        ("s2", 2, 2, 1, 1, 3, 1000, 0),
        ("s3", 2, 0, 0, 0, 0, 0, 0),
    }


def test_q143_oracle_parity_on_fixture(spark, pii_sf_dir):
    spec = SPECS["q143_pii_audit"]
    got = [tuple(r) for r in spec.spark(spark, pii_sf_dir).collect()]
    assert got == _duck_on_documents(pii_sf_dir, spec.oracle)


def test_q143_redaction_idempotent(spark):
    """redact(redact(x)) == redact(x): sentinels are digit-free, so no
    rewrite can manufacture a new match (module-docstring claim)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(r[1],) for r in _PII_ROWS], "text string")
    out = df.select(
        pii_redact(F.col("text")).alias("once"),
        pii_redact(pii_redact(F.col("text"))).alias("twice"),
    ).collect()
    assert all(r["once"] == r["twice"] for r in out)
    # and the python-re model agrees on what redaction produces
    for r, row in zip(out, _PII_ROWS):
        exp = row[1]
        for _, pat, repl in PII_KINDS:
            exp = re.sub(pat, repl.replace("\\", "\\\\"), exp)
        assert r["once"] == exp


def test_q144_stream_equals_batch(spark):
    """The twin discipline (q133/q134, q140/q141): q144's drained
    complete-mode counter state must finalize to q143's report
    row-for-row — both faces share one oracle, so a drift between
    them cannot hide behind separate SQL."""
    batch = [tuple(r) for r in SPECS["q143_pii_audit"].spark(spark, SF_SMOKE).collect()]
    stream = [tuple(r) for r in SPECS["q144_streaming_pii"].spark(spark, SF_SMOKE).collect()]
    assert stream == batch and len(batch) > 0


_pii_text = st.text(
    # PII-adjacent alphabet: detector metacharacters, digits, letters
    # from the sentinels, separators — dense in boundary edge cases
    alphabet="ab1290.@-()[]%+_ coEMAILPHN",
    min_size=0,
    max_size=80,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(text=_pii_text)
def test_pii_pipeline_matches_python_re_for_any_text(spark, text):
    """For ANY text: Spark's detector counts, chained redaction
    output, and residual equal the python-re model of the same
    patterns — the Java/RE2/python common-subset claim as a property,
    not an assertion (the test_property_round9 convention). This is
    what licenses the planted fixtures' python-re recomputes AND the
    DuckDB oracle sharing one pattern string."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(text,)], "text string")
    row = df.select(
        *[
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(p), F.lit(0))
            ).alias(k)
            for k, p, _ in PII_KINDS
        ],
        pii_redact(F.col("text")).alias("red"),
    ).collect()[0]
    exp = {k: len(re.findall(p, text)) for k, p, _ in PII_KINDS}
    red = text
    for _, p, rep in PII_KINDS:
        red = re.sub(p, rep, red)
    assert {k: row[k] for k, _, _ in PII_KINDS} == exp
    assert row["red"] == red
    residual = sum(len(re.findall(p, red)) for _, p, _ in PII_KINDS)
    got_residual = (
        df.select(pii_redact(F.col("text")).alias("red"))
        .select(
            sum(
                F.size(F.regexp_extract_all(F.col("red"), F.lit(p), F.lit(0)))
                for _, p, _ in PII_KINDS
            ).alias("n")
        )
        .collect()[0]["n"]
    )
    assert got_residual == residual


_UNMASK_ROWS = [
    # The two pii_redact robustness properties (its docstring), as
    # adversarial fixtures. ids 1/2 are outside every planted stratum.
    # doc 1: boundary-unmask caught IN-PASS — detection sees 0 IPs
    # ('o' glues the '1', no \b), but the email rewrite's ']' exposes
    # the IP to the LATER redaction stage: one pass fully redacts.
    (1, "x@y.co1.2.3.4", "en", "s1", None),
    # doc 2: sentinel-absorption blocked — '[EMAIL]@x.co' would
    # re-match as 'EMAIL@x.co' if the sentinel weren't bracket-
    # delimited; the ']' against the '@' stops it, residual 0.
    (2, "a@b.co@x.co", "en", "s2", None),
]


@pytest.fixture(scope="module")
def unmask_sf_dir(tmp_path_factory) -> str:
    return _write_documents(tmp_path_factory.mktemp("pii_unmask"), _UNMASK_ROWS)


def test_q143_one_pass_convergence_on_adversarial_text(spark, unmask_sf_dir):
    """The pii_redact design properties, end-to-end on both faces:
    boundary-glued and sentinel-abutting adversarial texts converge
    in ONE pass (residual 0) even where detection and rewrite
    legitimately disagree (doc 1 detects 0 IPs yet its IP is
    redacted by the later in-pass stage)."""
    spec = SPECS["q143_pii_audit"]
    got = [tuple(r) for r in spec.spark(spark, unmask_sf_dir).collect()]
    assert got == [
        ("s1", 1, 1, 1, 0, 0, 1000, 0),
        ("s2", 1, 1, 1, 0, 0, 1000, 0),
    ]
    assert got == _duck_on_documents(unmask_sf_dir, spec.oracle)
    # python-re model of the two mechanics
    def chain(t):
        for _, pat, repl in PII_KINDS:
            t = re.sub(pat, repl, t)
        return t

    assert chain(_UNMASK_ROWS[0][1]) == "[EMAIL][IP]"
    assert chain(_UNMASK_ROWS[1][1]) == "[EMAIL]@x.co"
    for t in (_UNMASK_ROWS[0][1], _UNMASK_ROWS[1][1]):
        assert not any(re.search(p, chain(t)) for _, p, _ in PII_KINDS)


def test_q143_nonvacuous_at_smoke_sf(spark):
    """The planted doc_id strata fire at every SF: ~1/7 of docs carry
    an email, ~1/11 a phone, ~1/13 an IP — the audit is live, not a
    vacuous all-zeros hash match."""
    rows = SPECS["q143_pii_audit"].spark(spark, SF_SMOKE).collect()
    tot = {
        c: sum(r[c] for r in rows)
        for c in ("n_docs", "docs_with_pii", "n_email", "n_phone", "n_ip", "n_residual")
    }
    assert tot["n_docs"] == 500
    assert tot["n_email"] == len([i for i in range(500) if i % 7 == 0])
    assert tot["n_phone"] == len([i for i in range(500) if i % 11 == 0])
    assert tot["n_ip"] == len([i for i in range(500) if i % 13 == 0])
    assert tot["docs_with_pii"] > 0 and tot["n_residual"] == 0


# ------------------------------------------------------------- q145


def test_q145_stream_equals_batch(spark):
    """The twin discipline (q133/q134, q140/q141, q143/q144): q145's
    drained complete-mode per-key count state must roll up to q118's
    skew report row-for-row — both faces share key_counts/skew_rollup,
    so any drift is a streaming-execution bug, not a plan fork."""
    batch = [tuple(r) for r in SPECS["q118_key_skew_audit"].spark(spark, SF_SMOKE).collect()]
    stream = [tuple(r) for r in SPECS["q145_streaming_skew"].spark(spark, SF_SMOKE).collect()]
    assert batch == stream and len(batch) > 0


def test_q145_skew_report_is_nonvacuous(spark):
    """Every bucket the report emits carries a real hottest key: the
    hot key's count is positive, bounded by the bucket's max, and the
    bucket totals reconcile with the raw event count — the audit is
    live accounting, not a vacuous hash match."""
    from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table

    rows = SPECS["q145_streaming_skew"].spark(spark, SF_SMOKE).collect()
    assert rows, "no buckets reported"
    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert sum(r["n_rows"] for r in rows) == n_events
    for r in rows:
        assert 0 < r["hot_key_rows"] == r["max_key_rows"] <= r["n_rows"]
        assert r["n_keys"] >= 1


# ------------------------------------------------------------- q146


def _bmp_df(spark, items):
    """(media_id, pixel-array) pairs -> a real BMP payload DataFrame."""
    import numpy as np

    from aws_dla_kinesis_delivery_stream_example_spark.operators import codecs

    rows = [
        (int(mid), bytearray(codecs.encode_bmp(np.repeat(np.asarray(a, dtype="uint8")[:, :, None], 3, axis=2))))
        for mid, a in items
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_q146_dhash_on_handmade_images(spark):
    """Hand-made BMPs through the REAL decode -> downsample -> hash ->
    band-block -> verify chain: a one-pixel +128 flip at a GRID-SAMPLED
    cell is a near-dup at Hamming <= 1; an independent image is not a
    pair. Fixture ids sit outside every synthesis stratum — no
    synthesize_gray_bmp involvement, the operator chain alone."""
    import numpy as np

    from aws_dla_kinesis_delivery_stream_example_spark.operators.multimodal import (
        dhash_bands,
        dhash_near_duplicates,
    )
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    rng = np.random.RandomState(7)
    base = rng.randint(0, 256, size=(16, 18)).astype("uint8")
    near = base.copy()
    near[0, 0] = (int(near[0, 0]) + 128) % 256  # grid cell (0, 0)
    other = rng.randint(0, 256, size=(16, 18)).astype("uint8")
    media = _bmp_df(spark, [(1001, base), (1002, near), (1003, other)])
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dhash_near_duplicates(dhash_bands(media)).collect()
    }
    release_staging()
    assert (1001, 1002) in pairs and pairs[(1001, 1002)] <= 1
    assert all(1003 not in p for p in pairs)


def test_q146_dhash_ignores_subgrid_noise(spark):
    """The perceptual property that makes dHash a near-dup detector
    and not a checksum: flipping a full-res pixel NO grid cell samples
    (odd coordinates — resize_nearest takes src = 2*i for 18x16 ->
    9x8) changes the bytes but not one hash bit, so the byte-different
    pair verifies at Hamming 0."""
    import numpy as np

    from aws_dla_kinesis_delivery_stream_example_spark.operators.multimodal import (
        dhash_bands,
        dhash_near_duplicates,
    )
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    rng = np.random.RandomState(11)
    base = rng.randint(0, 256, size=(16, 18)).astype("uint8")
    noisy = base.copy()
    noisy[1, 1] = (int(noisy[1, 1]) + 128) % 256  # sampled by no grid cell
    media = _bmp_df(spark, [(2001, base), (2002, noisy)])
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dhash_near_duplicates(dhash_bands(media)).collect()
    }
    release_staging()
    assert pairs == {(2001, 2002): 0}


def test_q146_bands_match_pure_python_recompute(spark):
    """The whole encode -> BMP-parse -> nearest-neighbor downsample ->
    bit-pack chain pinned against an independent closed-form recompute
    of the oracle's arithmetic (md5 formula at grid cells (2x, 2y),
    bit j = y*8+x, band j//16, offset j%16) — any drift in the
    decoder, the resize index math, or the packing fails here without
    DuckDB in the loop."""
    import hashlib as _hl

    from aws_dla_kinesis_delivery_stream_example_spark.operators.multimodal import (
        dhash_bands,
        synthesize_gray_bmp,
    )
    from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").filter("doc_id < 30")
    got = {
        r.media_id: (r.b0, r.b1, r.b2, r.b3)
        for r in dhash_bands(synthesize_gray_bmp(docs)).collect()
    }

    def px(seed, x, y):
        return int(_hl.md5(f"{seed}_{x}_{y}".encode()).hexdigest()[:15], 16) % 256

    for did in range(30):
        seed = did // 9 * 9 if did % 9 <= 1 else did
        grid = [[px(seed, 2 * x, 2 * y) for x in range(9)] for y in range(8)]
        if did % 9 == 1:
            grid[0][0] = (grid[0][0] + 128) % 256
        bands = [0, 0, 0, 0]
        for y in range(8):
            for x in range(8):
                j = y * 8 + x
                if grid[y][x + 1] > grid[y][x]:
                    bands[j // 16] |= 1 << (j % 16)
        assert got[did] == tuple(bands), f"doc {did}"


def test_q146_banding_recall_guarantee():
    """Pigeonhole, exhaustively at the property level: ANY two 64-bit
    signatures within Hamming 3 share at least one intact 16-bit band
    — the claim that makes the band equi-join a lossless candidate
    generator for the <= 3 spec. Pure python, no SparkSession."""
    import random

    rnd = random.Random(146)
    for _ in range(200):
        sig = rnd.getrandbits(64)
        n_flip = rnd.randint(0, 3)
        flipped = sig
        for pos in rnd.sample(range(64), n_flip):
            flipped ^= 1 << pos
        shared = any(
            (sig >> (16 * b)) & 0xFFFF == (flipped >> (16 * b)) & 0xFFFF
            for b in range(4)
        )
        assert shared, f"hamming {n_flip} pair with no shared band"
    # and the worst case exactly at the boundary: 4 flips CAN damage
    # all 4 bands (the reason the search radius stops at 3)
    sig = 0
    worst = sig ^ (1 | 1 << 16 | 1 << 32 | 1 << 48)
    assert not any(
        (sig >> (16 * b)) & 0xFFFF == (worst >> (16 * b)) & 0xFFFF for b in range(4)
    )


def test_q146_nonvacuous_at_smoke_sf(spark):
    """The planted 9-block stratum fires at every SF: the catalog face
    returns exactly the (9k, 9k+1) pairs, every one at Hamming <= 1 —
    near-dups the blocking MUST catch and independent images it must
    reject (any surviving false candidate would add a row and fail the
    count)."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    rows = SPECS["q146_image_dhash_dedup"].spark(spark, SF_SMOKE).collect()
    release_staging()
    got = {(r.doc_a, r.doc_b): r.hamming for r in rows}
    want_pairs = {(9 * k, 9 * k + 1) for k in range(56)}  # 500 docs
    assert set(got) == want_pairs
    assert all(h <= 1 for h in got.values())


# ------------------------------------------------------------- q147


def test_q147_coverage_on_handmade_corpus(spark, tmp_path):
    """Hand-computable Zipf toy: tokens 'a a a a b b c d' -> ranked
    a(4) b(2) c(1) d(1), cumulative 4/6/7/8 of total 8. cov500 needs
    1000*cum >= 500*8 -> rank 1; cov900 needs >= 7200 -> rank 4 (cum 7
    at rank 3 falls short — the floor comparison, not rounding);
    cov990 -> rank 4. Tie-break c before d is the (n DESC, tok)
    order."""
    d = _write_documents(
        tmp_path, [(1, "a a a a b b c d", "xx", "s0", None)]
    )
    rows = SPECS["q147_vocab_coverage"].spark(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.lang, r.n_types, r.n_tokens) == ("xx", 4, 8)
    assert (r.cov500_types, r.cov900_types, r.cov990_types) == (1, 4, 4)


def test_q147_curve_is_monotone_and_nonvacuous(spark):
    """At the bench corpus every language's curve is live and sane:
    0 < cov500 <= cov900 <= cov990 <= n_types, and covering 99% needs
    strictly more types than covering 50% (word salad is not THAT
    degenerate)."""
    rows = SPECS["q147_vocab_coverage"].spark(spark, SF_SMOKE).collect()
    assert len(rows) == 5  # five languages
    for r in rows:
        assert 0 < r.cov500_types <= r.cov900_types <= r.cov990_types <= r.n_types
        assert r.cov500_types < r.cov990_types
        assert r.n_tokens > r.n_types


# ------------------------------------------------------------- q148


def test_q148_matches_pure_python_model(spark):
    """The whole allocator recomputed from RAW TEXT by a third
    implementation (python re + math.sqrt + the split-multiply in
    python ints): any drift in the token regex, the sqrt lattice, the
    micro shares, or the overflow-safe allocation fails row-for-row."""
    import math
    import re as _re

    from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("source", "text").collect()
    n_tok: dict[str, int] = {}
    pat = _re.compile(r"\w+|[^\w\s]")
    for r in docs:
        n_tok[r.source] = n_tok.get(r.source, 0) + len(pat.findall(r.text))
    w = {s: math.floor(1000 * math.sqrt(n)) for s, n in n_tok.items()}
    sumw, n_all = sum(w.values()), sum(n_tok.values())
    want = {}
    for s in n_tok:
        share = 1000000 * w[s] // sumw
        alloc = (n_all // 1000000) * share + ((n_all % 1000000) * share) // 1000000
        n = n_tok[s]
        epochs = (alloc // n) * 1000 + ((alloc % n) * 1000) // n if n else 0
        realized = min(alloc, 4 * n)
        want[s] = (n, w[s], share, alloc, epochs, int(alloc > 4 * n), realized, alloc - realized)
    got = {
        r.source: (r.n_tok, r.w_milli, r.share_micro, r.alloc_tok,
                   r.epochs_milli, r.capped, r.realized_tok, r.deficit_tok)
        for r in SPECS["q148_temperature_mixture"].spark(spark, SF_SMOKE).collect()
    }
    assert got == want and len(want) == 20


def test_q148_budget_reconciles(spark):
    """Allocation invariants that hold at ANY corpus: shares floor
    down so the allocated total never exceeds the budget; realized <=
    allocated; deficit is exactly the capped overhang; a capped source
    implies >= 4 implied epochs; temperature alpha=1/2 upweights small
    sources (every source's share_micro sits between uniform and
    proportional on the correct side)."""
    from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table

    rows = SPECS["q148_temperature_mixture"].spark(spark, SF_SMOKE).collect()
    n_all = sum(r.n_tok for r in rows)
    assert sum(r.alloc_tok for r in rows) <= n_all
    for r in rows:
        assert 0 <= r.realized_tok <= r.alloc_tok
        assert r.deficit_tok == r.alloc_tok - r.realized_tok
        if r.capped:
            assert r.epochs_milli >= 4000
        # alpha = 1/2 compresses the mixture toward uniform: sources
        # below the mean token count gain share vs proportional,
        # sources above lose (floor slack: compare on the micro lattice
        # with 1-quantum tolerance)
        prop_micro = 1000000 * r.n_tok // n_all
        if r.n_tok * len(rows) < n_all:
            assert r.share_micro >= prop_micro - 1
        elif r.n_tok * len(rows) > n_all:
            assert r.share_micro <= prop_micro + 1


def test_q148_zero_token_source_convention(spark, tmp_path):
    """The q140 empty-stratum lesson, planted: a source whose docs
    carry no tokens allocates zero, reports zero epochs, and cannot
    divide-by-zero on EITHER face — pinned by running spark vs duckdb
    on the fixture."""
    d = _write_documents(
        tmp_path,
        [
            (1, "alpha beta gamma delta", "en", "live", None),
            (2, "  ", "en", "empty", None),
        ],
    )
    spec = SPECS["q148_temperature_mixture"]
    rows = {r.source: r for r in spec.spark(spark, d).collect()}
    assert rows["empty"].n_tok == 0
    assert rows["empty"].w_milli == 0
    assert rows["empty"].alloc_tok == 0
    assert rows["empty"].epochs_milli == 0
    assert rows["live"].alloc_tok > 0
    got = [tuple(r) for r in spec.spark(spark, d).collect()]
    assert got == _duck_on_documents(d, spec.oracle)


@settings(deadline=None, max_examples=60, suppress_health_check=[HealthCheck.too_slow])
@given(st.integers(min_value=0, max_value=2**53 - 1))
def test_q148_sqrt_lattice_is_cross_dialect(n):
    """The portability claim behind alpha = 1/2: floor(1000 * sqrt(n))
    is bit-identical between python (IEEE math.sqrt) and DuckDB for
    every n below 2^53 — the property a pow()-based temperature would
    NOT have. Hypothesis drives the full int range incl. the 2^53
    boundary."""
    import math

    import duckdb

    want = math.floor(1000 * math.sqrt(n))
    got = duckdb.sql(
        f"SELECT CAST(floor(1000 * sqrt(CAST({n} AS BIGINT))) AS BIGINT)"
    ).fetchone()[0]
    assert got == want


# ------------------------------------------------------------- q149


def test_q149_first_failure_attribution_on_handmade_corpus(spark, tmp_path):
    """Hand corpus exercising every reason ONCE plus the attribution
    tie-break: doc 5 fails lang AND length AND alpha but counts
    against 'lang' alone — first-failure makes the reasons a partition
    of the corpus, not overlapping per-filter counts."""
    alpha_ok = "alpha bravo charlie delta echo foxtrot golf hotel " * 3  # ~100+ chars, all letters+spaces
    rows = [
        (1, alpha_ok, "en", "s0", None),                  # kept
        (2, alpha_ok, "de", "s0", None),                  # lang
        (3, "short words here", "en", "s0", None),        # len_short (n_chars < 100)
        (4, alpha_ok * 120, "en", "s0", None),            # len_long (> 5000)
        (5, "123 456 789" * 30, "de", "s0", None),        # lang wins over len+alpha
        (6, "1234567890 " * 12, "en", "s0", None),        # alpha (digits, len in range)
    ]
    d = _write_documents(tmp_path, rows)
    ledger = SPECS["q149_attrition_ledger"].spark(spark, d).collect()
    got = {(r.source, r.reason): (r.n_docs, r.share_milli) for r in ledger}
    assert got == {
        ("s0", "kept"): (1, 166),
        ("s0", "lang"): (2, 333),
        ("s0", "len_short"): (1, 166),
        ("s0", "len_long"): (1, 166),
        ("s0", "alpha"): (1, 166),
    }
    # and the oracle agrees on the fixture (same collected rows — one
    # plan execution serves both assertions)
    got_rows = [tuple(r) for r in ledger]
    assert got_rows == _duck_on_documents(d, SPECS["q149_attrition_ledger"].oracle)


def test_q149_explains_q30_keep_set(spark):
    """The single-source-of-truth pin: the ledger shares q30's gate
    constants, so sum of 'kept' docs across sources must equal the
    gate's own result cardinality — the two specs cannot drift."""
    ledger = SPECS["q149_attrition_ledger"].spark(spark, SF_SMOKE).collect()
    kept = sum(r.n_docs for r in ledger if r.reason == "kept")
    assert kept == SPECS["q30_quality_filter"].spark(spark, SF_SMOKE).count() > 0


def test_q149_reasons_partition_the_corpus(spark):
    """Partition invariants at the bench corpus: per-source doc counts
    reconcile with the raw table; shares floor-sum to within
    |reasons|-1 of 1000; every reason label is from the closed set."""
    from pyspark.sql import functions as F

    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation16 import (
        ATTRITION_REASONS,
    )
    from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table

    rows = SPECS["q149_attrition_ledger"].spark(spark, SF_SMOKE).collect()
    per_src_docs: dict[str, int] = {}
    per_src_share: dict[str, int] = {}
    for r in rows:
        assert r.reason in ATTRITION_REASONS
        per_src_docs[r.source] = per_src_docs.get(r.source, 0) + r.n_docs
        per_src_share[r.source] = per_src_share.get(r.source, 0) + r.share_milli
    raw = {
        r.source: r.n
        for r in load_table(spark, SF_SMOKE, "documents")
        .groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_src_docs == raw
    for src, share in per_src_share.items():
        assert 1000 - len(ATTRITION_REASONS) + 1 <= share <= 1000


def test_q150_stream_equals_batch(spark):
    """The twin discipline: q150's drained complete-mode counter state
    must finalize to q149's ledger row-for-row."""
    batch = [tuple(r) for r in SPECS["q149_attrition_ledger"].spark(spark, SF_SMOKE).collect()]
    stream = [tuple(r) for r in SPECS["q150_streaming_attrition"].spark(spark, SF_SMOKE).collect()]
    assert batch == stream and len(batch) > 0


# ------------------------------------------- round-14 review fixes


def test_q148_all_empty_corpus_degenerates_to_zero_shares(spark, tmp_path):
    """sumw = 0 (every source token-free): all-zero shares and
    allocations instead of a divide-by-zero, on BOTH faces."""
    d = _write_documents(
        tmp_path,
        [(1, "  ", "en", "e1", None), (2, "", "en", "e2", None)],
    )
    spec = SPECS["q148_temperature_mixture"]
    rows = {r.source: r for r in spec.spark(spark, d).collect()}
    assert set(rows) == {"e1", "e2"}
    for r in rows.values():
        assert (r.n_tok, r.w_milli, r.share_micro, r.alloc_tok, r.epochs_milli) == (0, 0, 0, 0, 0)
    got = [tuple(r) for r in spec.spark(spark, d).collect()]
    assert got == _duck_on_documents(d, spec.oracle)
