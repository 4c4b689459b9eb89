"""Round-16 planted coverage: q155 line-level dedup with document
rewrite and its streaming counter twin q156 (round-15 verdict Next
#4).

1. Library-mode fixtures on frames with REAL newlines (no plant):
   hand-computed per-doc rewrite rows (counts, tokens, kept_hash by
   pure-python recompute) and the per-source report incl. the
   rewrite_xor fold; the df threshold edges (df == LINE_DF_MAX keeps
   first, df == LINE_DF_MAX + 1 drops everywhere, first included); the
   within-doc line_idx tie-break; and identity on a duplicate-free
   corpus (rewrite == original text, removed == 0).
2. The catalog face q155 on a written fixture dir, tuple-equal to the
   DuckDB oracle on that fixture (the q151/q153 convention).
3. A full pure-python MODEL of the semantics (plant + split + df +
   first-occurrence + keep rule + reassembly + xor fold) recomputed
   over the entire smoke corpus and compared to q155 row-for-row —
   the mojibake python-model convention at corpus scale.
4. The twin discipline: q156's drained counter state finalizes to
   q155's report minus the batch-only rewrite_xor column, and the
   batch-built counter face (line_finalize(line_counters(...)))
   agrees with both (crash-resume lives in tests/test_stateful.py).
"""

from __future__ import annotations

import hashlib

from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs
from aws_dla_kinesis_delivery_stream_example_spark.plans.curation19 import (
    _FOOTER,
    _HEADER,
    LINE_DF_MAX,
    _line_augment,
    line_counters,
    line_dedup_report,
    line_dedup_rewrite,
    line_finalize,
)
from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table

from .conftest import SF_SMOKE
from .test_round11_planted import _write_documents
from .test_round14_planted import _duck_on_documents

SPECS = all_specs()

_DOC_SCHEMA = "doc_id long, source string, text string"


def _h60(s: str) -> int:
    """Pure-python recompute of the portable 60-bit hash (q37)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _model_rewrite(docs: list[tuple[int, str, str]], df_max: int):
    """Pure-python model of the q155 semantics over (doc_id, source,
    text) rows: returns {doc_id: (source, n_lines, n_kept, n_tokens,
    kept_tokens, kept_text)}."""
    import re

    occ = []  # (doc_id, line_idx, ltext)
    for did, _, text in docs:
        for i, ln in enumerate(text.split("\n"), start=1):
            if ln:
                occ.append((did, i, ln))
    df_docs: dict[str, set[int]] = {}
    first: dict[str, tuple[int, int]] = {}
    for did, idx, ln in occ:
        df_docs.setdefault(ln, set()).add(did)
        if ln not in first or (did, idx) < first[ln]:
            first[ln] = (did, idx)
    out = {}
    for did, src, text in docs:
        lines = [ln for ln in text.split("\n") if ln]
        kept = [
            ln
            for i, ln in enumerate(text.split("\n"), start=1)
            if ln
            and len(df_docs[ln]) <= df_max
            and first[ln] == (did, i)
        ]
        ntok = lambda s: len(re.findall(r"[a-z0-9]+", s.lower()))  # noqa: E731
        out[did] = (
            src,
            len(lines),
            len(kept),
            sum(ntok(x) for x in lines),
            sum(ntok(x) for x in kept),
            "\n".join(kept),
        )
    return out


def _model_report(docs, df_max):
    """Per-source rollup of _model_rewrite, in q155's column order."""
    per = _model_rewrite(docs, df_max)
    srcs = sorted({s for _, s, _ in docs})
    rows = []
    for s in srcs:
        ds = [d for d in per.values() if d[0] == s]
        nl, kl = sum(d[1] for d in ds), sum(d[2] for d in ds)
        nt, kt = sum(d[3] for d in ds), sum(d[4] for d in ds)
        xor = 0
        for d in ds:
            xor ^= _h60(d[5])
        rows.append(
            (s, len(ds), nl, kl, nl - kl, 1000 * (nl - kl) // nl,
             nt, kt, 1000 * (nt - kt) // nt, xor)
        )
    return rows


_FIXTURE = [
    # (doc_id, source, text) — 'boil' sits in LINE_DF_MAX + 1 docs
    # (boilerplate, dropped everywhere; source-c docs only pad its df);
    # 'repeat me' twice in d1 (df 1, the line_idx tie-break); 'shared
    # tail' in d3/d4 (df 2: global first (d3, idx 3) beats (d4, idx 2)
    # on doc_id).
    (1, "a", "boil\nalpha one\nrepeat me\nrepeat me"),
    (2, "a", "boil\nbeta two"),
    (3, "b", "boil\ngamma three\nshared tail"),
    (4, "b", "boil\nshared tail\ndelta four"),
] + [(i, "c", f"boil\npad {i}") for i in range(5, LINE_DF_MAX + 2)]


def test_line_dedup_rewrite_planted_fixture(spark):
    """Hand-computed per-doc rewrite rows at LINE_DF_MAX, kept_hash by
    pure-python recompute — every face: boilerplate drop, within-doc
    tie-break, cross-doc keep-first, unique-line survival."""
    df = spark.createDataFrame(
        [(d, s, t) for d, s, t in _FIXTURE], _DOC_SCHEMA
    )
    got = {r.doc_id: r for r in line_dedup_rewrite(df).collect()}
    want = {
        1: ("a", 4, 2, 7, 4, "alpha one\nrepeat me"),
        2: ("a", 2, 1, 3, 2, "beta two"),
        3: ("b", 3, 2, 5, 4, "gamma three\nshared tail"),
        4: ("b", 3, 1, 5, 2, "delta four"),
    }
    want.update({i: ("c", 2, 1, 3, 2, f"pad {i}") for i, _, _ in _FIXTURE[4:]})
    assert set(got) == set(want)
    for did, (src, nl, nk, nt, kt, ktext) in want.items():
        r = got[did]
        assert (r.source, r.n_lines, r.n_kept, r.n_tokens, r.kept_tokens) == (
            src, nl, nk, nt, kt,
        ), did
        assert r.kept_hash == _h60(ktext), did
    # the model agrees with the hand computation (guards the model
    # itself before the corpus-scale test leans on it)
    assert _model_rewrite(_FIXTURE, LINE_DF_MAX) == {
        d: (s, nl, nk, nt, kt, kt_text)
        for d, (s, nl, nk, nt, kt, kt_text) in want.items()
    }


def test_line_dedup_report_planted_fixture(spark):
    """The per-source audit on the same fixture: counts, milli rates,
    and the xor fold of the two rewritten docs per source."""
    df = spark.createDataFrame(_FIXTURE, _DOC_SCHEMA)
    got = [tuple(r) for r in line_dedup_report(df).collect()]
    assert got == _model_report(_FIXTURE, LINE_DF_MAX)
    # spelled out for source a: 6 lines, 3 kept, 500 milli; 10 tokens,
    # 6 kept, 400 milli; xor of the two kept texts
    assert got[0] == (
        "a", 2, 6, 3, 3, 500, 10, 6, 400,
        _h60("alpha one\nrepeat me") ^ _h60("beta two"),
    )


def test_line_dedup_threshold_edges(spark):
    """df == LINE_DF_MAX keeps the global first occurrence; df ==
    LINE_DF_MAX + 1 drops every occurrence, first included."""
    # 'at max' in docs 1..LINE_DF_MAX, 'over max' in docs 2..LINE_DF_MAX+2
    n = LINE_DF_MAX
    rows = [
        (i, "s", "\n".join(
            (["at max"] if i <= n else []) + (["over max"] if i >= 2 else []) + [f"filler {i}"]
        ))
        for i in range(1, n + 3)
    ]
    df = spark.createDataFrame(rows, _DOC_SCHEMA)
    got = {r.doc_id: r for r in line_dedup_rewrite(df).collect()}
    # 'at max' df == LINE_DF_MAX: doc 1 (global first) keeps it
    assert got[1].kept_hash == _h60("at max\nfiller 1")
    assert got[2].kept_hash == _h60("filler 2")
    # 'over max' df == LINE_DF_MAX + 1: dropped even at its first home
    assert got[2].n_kept == 1 and got[3].n_kept == 1
    assert got[n + 2].kept_hash == _h60(f"filler {n + 2}")
    assert [tuple(r) for r in line_dedup_report(df).collect()] == (
        _model_report(rows, LINE_DF_MAX)
    )


def test_line_dedup_identity_on_duplicate_free_corpus(spark):
    """No line repeats anywhere: the rewrite is the identity (kept ==
    all, kept_hash == hash of the original text), removed rates 0,
    and rewrite_xor folds the untouched doc hashes."""
    rows = [
        (1, "s", "only one\nhere two"),
        (2, "s", "three x\nfour y"),
    ]
    df = spark.createDataFrame(rows, _DOC_SCHEMA)
    for r in line_dedup_rewrite(df).collect():
        txt = dict((d, t) for d, _, t in rows)[r.doc_id]
        assert r.n_kept == r.n_lines and r.kept_tokens == r.n_tokens
        assert r.kept_hash == _h60(txt)
    rep = line_dedup_report(df).collect()[0]
    assert rep.removed_lines == 0 and rep.removed_line_milli == 0
    assert rep.removed_token_milli == 0
    assert rep.rewrite_xor == _h60(rows[0][2]) ^ _h60(rows[1][2])


def test_q155_oracle_agrees_on_fixture(spark, tmp_path):
    """The catalog face (plant included) tuple-equals the DuckDB
    oracle on a written fixture dir — doc_ids chosen to hit every
    plant stratum (header %3, footer %4, ref-twice %10, a full
    related-article group 7..13 plus the ragged group at 0..6)."""
    rows = [
        (i, f"word salad {i} unique content", "en", f"s{i % 3}", None)
        for i in (0, 3, 4, 6, 7, 9, 10, 11, 12, 13, 20, 30)
    ]
    d = _write_documents(tmp_path, rows)
    got = [tuple(r) for r in SPECS["q155_line_dedup_rewrite"].spark(spark, d).collect()]
    assert got == _duck_on_documents(d, SPECS["q155_line_dedup_rewrite"].oracle)
    # non-vacuity on the fixture: something was removed in every source
    assert all(r[4] > 0 for r in got)


def test_q155_matches_python_model_on_smoke_corpus(spark):
    """The full semantics (plant + dedup + reassembly + xor) recomputed
    in pure python over the ENTIRE smoke corpus and compared
    row-for-row — the q153 python-model convention at corpus scale."""
    docs = [
        (r.doc_id, r.source, r.text)
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "source", "text")
        .collect()
    ]
    planted = []
    for did, src, text in docs:
        t = ""
        if did % 3 == 0:
            t += _HEADER + "\n"
        if did % 10 == 0:
            t += f"ref {did}\n"
        t += f"related article {did // 7}\n{text}"
        if did % 10 == 0:
            t += f"\nref {did}"
        if did % 4 == 0:
            t += "\n" + _FOOTER
        planted.append((did, src, t))
    want = _model_report(planted, LINE_DF_MAX)
    got = [
        tuple(r)
        for r in SPECS["q155_line_dedup_rewrite"].spark(spark, SF_SMOKE).collect()
    ]
    assert got == want
    # the planted faces are non-vacuous corpus-wide: every source
    # removed lines (header/footer df >> LINE_DF_MAX) yet kept most
    # of its token mass (content lines are unique)
    for row in got:
        assert row[4] > 0 and row[5] > 0
        assert row[8] < 500


def test_q156_stream_equals_batch_minus_xor(spark):
    """The twin discipline: q156's drained complete-mode counter state
    finalizes to q155's report minus the batch-only rewrite_xor
    column, and the batch-built counter face agrees with both."""
    batch = [
        tuple(r)[:-1]
        for r in SPECS["q155_line_dedup_rewrite"].spark(spark, SF_SMOKE).collect()
    ]
    stream = [
        tuple(r)
        for r in SPECS["q156_streaming_line_dedup"].spark(spark, SF_SMOKE).collect()
    ]
    assert stream == batch and len(batch) > 0
    counter_face = [
        tuple(r)
        for r in line_finalize(
            line_counters(
                _line_augment(load_table(spark, SF_SMOKE, "documents"))
            )
        ).collect()
    ]
    assert counter_face == batch


def test_line_plant_guarantees_nonempty_line(spark):
    """Round-16 advisor pin: q156's oracle counts EVERY document in
    n_docs, but the counter face only sees docs with >=1 non-empty
    line — so the twins' parity depends on _line_augment emitting at
    least one non-empty line per document (the unconditional 'related
    article' line).  Pin that guarantee against adversarial inputs
    (empty text, whitespace-only, newline-only) across doc_ids that
    hit every plant branch (% 3 / % 4 / % 10), so a future plant edit
    that makes the related-article line conditional fails HERE, not
    as a silent q156 driver-hash mismatch."""
    rows = [(i, f"s{i % 2}", t) for i, t in enumerate(["", " ", "\n\n", "x"] * 4)]
    df = spark.createDataFrame(rows, _DOC_SCHEMA)
    n_docs_with_line = (
        line_counters(_line_augment(df)).select("doc_id").distinct().count()
    )
    assert n_docs_with_line == len(rows)


def test_line_dedup_library_zero_line_source(spark):
    """Library edge (round-16 review): a source whose only document
    has no non-empty lines must yield NULL milli rates (the nullif /
    alpha_ratio convention), not an ANSI divide-by-zero abort; the
    batch face still carries the doc's audit row off the scan
    (n_lines = 0, kept_hash of '')."""
    rows = [(1, "z", "\n\n"), (2, "y", "real line\nmore stuff")]
    df = spark.createDataFrame(rows, _DOC_SCHEMA)
    rep = {r.source: r for r in line_dedup_report(df).collect()}
    assert rep["z"].n_docs == 1 and rep["z"].n_lines == 0
    assert rep["z"].removed_line_milli is None
    assert rep["z"].removed_token_milli is None
    assert rep["z"].rewrite_xor == _h60("")
    assert rep["y"].removed_line_milli == 0
    # the counter face cannot see the zero-line doc (no counter row) —
    # the documented library divergence; the lined source agrees
    cf = {
        r.source: r for r in line_finalize(line_counters(df)).collect()
    }
    assert "z" not in cf
    assert tuple(cf["y"]) == tuple(rep["y"])[:-1]


def test_line_counters_finalize_df_max_parameter(spark):
    """The counter face applies the batch faces' df_max threshold
    (LINE_DF_MAX): on the planted fixture it must agree with the
    rewrite report, column-for-column minus the batch-only
    rewrite_xor."""
    df = spark.createDataFrame(_FIXTURE, _DOC_SCHEMA)
    got = [tuple(r) for r in line_finalize(line_counters(df)).collect()]
    assert got == [r[:-1] for r in _model_report(_FIXTURE, LINE_DF_MAX)]


# ----------------------------------------- round-16 second batch: q157/q158

from aws_dla_kinesis_delivery_stream_example_spark.plans.curation20 import (  # noqa: E402
    _HEAD_COPIES,
    PPL_REF_SOURCE,
    perplexity_bucket_report,
    surprisal_model,
)


def _model_ppl_report(docs: list[tuple[int, str, str]], ref_source: str):
    """Pure-python model of the q157 semantics (NO plant — callers
    pass already-augmented text): unigram model on ref_source, integer
    surprisal via int.bit_length(), milli mean, cross-multiplied
    buckets, per-(source, bucket) rollup in q157's column order."""
    import re

    tok = lambda t: re.findall(r"[a-z0-9]+", t.lower())  # noqa: E731
    ref: dict[str, int] = {}
    for _, src, text in docs:
        if src == ref_source:
            for w in tok(text):
                ref[w] = ref.get(w, 0) + 1
    n_ref = sum(ref.values())
    bl_n = n_ref.bit_length()
    g = 1000 * sum(c * (bl_n - c.bit_length()) for c in ref.values()) // n_ref
    per = {}
    for did, src, text in docs:
        ts = tok(text)
        if not ts:
            continue
        sm = sum(
            (bl_n - ref[w].bit_length()) if w in ref else bl_n + 1 for w in ts
        )
        m = 1000 * sm // len(ts)
        b = "head" if 20 * m <= 19 * g else ("tail" if 10 * m >= 11 * g else "middle")
        per[did] = (src, len(ts), b)
    rows = []
    srcs = sorted({v[0] for v in per.values()})
    for s in srcs:
        ds = [v for v in per.values() if v[0] == s]
        for b in ("head", "middle", "tail"):
            bs = [v for v in ds if v[2] == b]
            if bs:
                rows.append(
                    (s, b, len(bs), sum(v[1] for v in bs),
                     1000 * len(bs) // len(ds))
                )
    return rows


def test_ppl_model_hand_computed(spark):
    """Library mode on a hand-built model: ref vocab {aa:4, bb:4,
    cc:8} -> N=16 (bitlen 5), s(aa)=s(bb)=2, s(cc)=1, g=1500; head
    threshold 20m <= 28500 checked INCLUSIVE at the exact boundary
    m=1425 (17 aa + 23 cc), tail at an OOV-heavy doc, middle between."""
    ref_text = " ".join(["aa"] * 4 + ["bb"] * 4 + ["cc"] * 8)
    rows = [
        (1, "r", ref_text),
        (2, "d", " ".join(["cc"] * 8)),               # m=1000 head
        (3, "d", " ".join(["aa"] * 17 + ["cc"] * 23)),  # m=1425 boundary head
        (4, "d", "aa cc"),                              # m=1500 middle
        (5, "d", "xx xx"),                              # OOV s=6, m=6000 tail
    ]
    df = spark.createDataFrame(rows, _DOC_SCHEMA)
    vocab, n_ref, g = surprisal_model(df.filter("source = 'r'"))
    assert n_ref == 16 and g == 1500
    assert {r.tok: r.cnt for r in vocab.collect()} == {"aa": 4, "bb": 4, "cc": 8}
    got = [
        tuple(r)
        for r in perplexity_bucket_report(df, df.filter("source = 'r'")).collect()
    ]
    want = _model_ppl_report(rows, "r")
    assert got == want
    asd = {(r[0], r[1]): r[2] for r in got}
    assert asd[("d", "head")] == 2      # m=1000 and the m=1425 boundary
    assert asd[("d", "middle")] == 1
    assert asd[("d", "tail")] == 1
    assert ("r", "middle") in asd       # the reference's own docs score


def test_ppl_empty_reference_raises(spark):
    """An empty reference frame is a loud error, not a silent
    divide-by-zero or an all-OOV model."""
    import pytest as _pytest

    df = spark.createDataFrame([(1, "d", "aa bb")], _DOC_SCHEMA)
    with _pytest.raises(ValueError, match="empty reference"):
        surprisal_model(df.filter("source = 'nope'"))


def test_q157_oracle_agrees_on_fixture(spark, tmp_path):
    """The catalog face (plants included) tuple-equals the DuckDB
    oracle on a written fixture dir — sources include the literal
    reference stratum 'src0', and doc_ids hit the head (%11), tail
    (%9), overlap (%99) and no-plant strata."""
    rows = []
    for i in (0, 1, 9, 11, 18, 22, 33, 45, 99, 100, 101, 198):
        rows.append(
            (i, f"tok{i % 4} common words here {i}", "en",
             "src0" if i % 3 == 0 else f"s{i % 2}", None)
        )
    d = _write_documents(tmp_path, rows)
    got = [
        tuple(r)
        for r in SPECS["q157_perplexity_buckets"].spark(spark, d).collect()
    ]
    assert got == _duck_on_documents(d, SPECS["q157_perplexity_buckets"].oracle)
    assert len(got) > 0


def test_q157_matches_python_model_on_smoke_corpus(spark):
    """The full semantics (plant + model + buckets + rollup)
    recomputed in pure python over the ENTIRE smoke corpus and
    compared row-for-row (the q153/q155 python-model convention),
    plus every-bucket non-vacuity corpus-wide."""
    docs = [
        (r.doc_id, r.source, r.text)
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "source", "text")
        .collect()
    ]
    planted = []
    for did, src, text in docs:
        t = text
        if did % 11 == 0:
            t += " " + "hd " * _HEAD_COPIES
        if did % 9 == 0:
            t += "".join(f" zq{did}{c}" for c in "abcdefgh")
        planted.append((did, src, t))
    want = _model_ppl_report(planted, PPL_REF_SOURCE)
    got = [
        tuple(r)
        for r in SPECS["q157_perplexity_buckets"].spark(spark, SF_SMOKE).collect()
    ]
    assert got == want
    buckets = {r[1] for r in got}
    assert buckets == {"head", "middle", "tail"}


def test_q158_stream_equals_batch(spark):
    """The twin discipline at its strongest (the q151/q152 class):
    q158's drained per-doc counter state plus the static model
    constants finalize to q157's report row-for-row — every column,
    identical oracle."""
    batch = [
        tuple(r)
        for r in SPECS["q157_perplexity_buckets"].spark(spark, SF_SMOKE).collect()
    ]
    stream = [
        tuple(r)
        for r in SPECS["q158_streaming_perplexity"].spark(spark, SF_SMOKE).collect()
    ]
    assert stream == batch and len(batch) > 0
