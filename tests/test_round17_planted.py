"""Round-17 planted coverage: q159 bigram-backoff surprisal bucketing
(the KenLM-direction upgrade of q157 — round-16 verdict Next #3) and
its streaming twin q160.

1. Library-mode fixtures on a hand-built bigram model: exact pair /
   context / backoff-unigram counts, the model constants (n_ref, g2),
   and per-doc buckets exercising EVERY scoring path — seen pair,
   unseen pair with in-vocabulary backoff, unseen-pair OOV (the
   model's strict maximum), and the BOS first-position pair.
2. The empty-reference guard raises loudly.
3. The catalog face q159 on a written fixture dir, tuple-equal to the
   DuckDB oracle on that fixture (the q151/q153/q157 convention).
4. A full pure-python MODEL of the semantics (plant + pairing + model
   + backoff + buckets + rollup) recomputed over the entire smoke
   corpus and compared to q159 row-for-row, plus every-bucket
   non-vacuity corpus-wide.
5. The twin discipline: q160's drained per-doc counter state plus the
   static model constants finalize to q159's report row-for-row —
   identical-output twins (crash-resume lives in tests/test_stateful.py).
"""

from __future__ import annotations

import re

from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs
from aws_dla_kinesis_delivery_stream_example_spark.plans.curation20 import (
    _HEAD_COPIES,
    PPL_REF_SOURCE,
)
from aws_dla_kinesis_delivery_stream_example_spark.plans.curation21 import (
    BOS,
    bigram_bucket_report,
    bigram_model,
    bigram_pairs,
)
from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table

from .conftest import SF_SMOKE
from .test_round11_planted import _write_documents
from .test_round14_planted import _duck_on_documents

SPECS = all_specs()

_DOC_SCHEMA = "doc_id long, source string, text string"

_TOK = re.compile(r"[a-z0-9]+")


def _pairs_of(text: str) -> list[tuple[str, str]]:
    ts = _TOK.findall(text.lower())
    return list(zip([BOS] + ts[:-1], ts))


def _model_bigram_report(docs: list[tuple[int, str, str]], ref_source: str):
    """Pure-python model of the q159 semantics (NO plant — callers
    pass already-augmented text): bigram-backoff model on ref_source,
    integer surprisal via int.bit_length(), milli mean,
    cross-multiplied buckets vs the pair mean g2, per-(source, bucket)
    rollup in q159's column order."""
    cnt2: dict[tuple[str, str], int] = {}
    for _, src, text in docs:
        if src == ref_source:
            for p in _pairs_of(text):
                cnt2[p] = cnt2.get(p, 0) + 1
    n_ref = sum(cnt2.values())
    ctx: dict[str, int] = {}
    voc: dict[str, int] = {}
    for (p, t), c in cnt2.items():
        ctx[p] = ctx.get(p, 0) + c
        voc[t] = voc.get(t, 0) + c
    g2 = (
        1000
        * sum(
            c * (ctx[p].bit_length() - c.bit_length())
            for (p, _), c in cnt2.items()
        )
        // n_ref
    )
    bl_n = n_ref.bit_length()
    per = {}
    for did, src, text in docs:
        ps = _pairs_of(text)
        if not ps:
            continue
        sm = 0
        for p, t in ps:
            if (p, t) in cnt2:
                sm += ctx[p].bit_length() - cnt2[(p, t)].bit_length()
            else:
                s1 = (bl_n - voc[t].bit_length()) if t in voc else bl_n + 1
                sm += 1 + s1
        m = 1000 * sm // len(ps)
        b = (
            "head"
            if 20 * m <= 19 * g2
            else ("tail" if 10 * m >= 11 * g2 else "middle")
        )
        per[did] = (src, len(ps), b)
    rows = []
    for s in sorted({v[0] for v in per.values()}):
        ds = [v for v in per.values() if v[0] == s]
        for b in ("head", "middle", "tail"):
            bs = [v for v in ds if v[2] == b]
            if bs:
                rows.append(
                    (s, b, len(bs), sum(v[1] for v in bs),
                     1000 * len(bs) // len(ds))
                )
    return rows


# Hand fixture: ref 'aa bb aa bb aa bb aa cc' ->
#   pairs (^,aa):1 (aa,bb):3 (bb,aa):3 (aa,cc):1, n_ref = 8
#   ctx ^:1 aa:4 bb:3;  vocab aa:4 bb:3 cc:1
#   seen surprisals: (^,aa) 0, (aa,bb) bl(4)-bl(3)=1, (bb,aa) 0,
#   (aa,cc) bl(4)-bl(1)=2  ->  g2 = 1000*(0+3+0+2)//8 = 625
#   backoff (bl_n = 4): s1 aa 1, bb 2, cc 3 -> backed-off 2 / 3 / 4;
#   OOV s1 = 5 -> backed-off 6 (the model's strict maximum).
_REF_TEXT = "aa bb aa bb aa bb aa cc"


def test_bigram_model_hand_computed(spark):
    """Exact pair/context/vocab counts and the (n_ref, g2) constants
    on the hand-built reference."""
    df = spark.createDataFrame([(1, "r", _REF_TEXT)], _DOC_SCHEMA)
    pairs, ctx, vocab, n_ref, g2 = bigram_model(df)
    assert n_ref == 8 and g2 == 625
    assert {(r.prev, r.tok): r.cnt2 for r in pairs.collect()} == {
        (BOS, "aa"): 1, ("aa", "bb"): 3, ("bb", "aa"): 3, ("aa", "cc"): 1,
    }
    assert {r.prev: r.ctxn for r in ctx.collect()} == {BOS: 1, "aa": 4, "bb": 3}
    assert {r.tok: r.cnt for r in vocab.collect()} == {"aa": 4, "bb": 3, "cc": 1}


def test_bigram_buckets_every_scoring_path(spark):
    """One doc per scoring path, hand-computed: all-seen low-surprisal
    (head), the ref text itself (m = 625 = g2, middle), unseen pairs
    with in-vocab backoff (tail), and unseen-pair OOV at the model
    maximum (tail); the python model agrees with the hand computation
    (guarding the model before the corpus-scale test leans on it)."""
    rows = [
        (1, "r", _REF_TEXT),
        # (^,aa) 0 + (aa,bb) 1 + (bb,aa) 0 + (aa,bb) 1 -> m = 500 head
        (2, "d", "aa bb aa bb"),
        # (^,bb) unseen: 1+s1(bb)=3; (bb,cc) unseen: 1+s1(cc)=4
        #   -> m = 3500 tail
        (3, "d", "bb cc"),
        # ref text verbatim: m = 625 = g2 exactly -> middle
        #   (20*625 > 19*625, 10*625 < 11*625)
        (4, "d", _REF_TEXT),
        # OOV pairs: (^,xx) and (xx,yy) both 1 + (bl_n + 1) = 6
        #   -> m = 6000 tail, the model's strict maximum
        (5, "d", "xx yy"),
    ]
    df = spark.createDataFrame(rows, _DOC_SCHEMA)
    got = [
        tuple(r)
        for r in bigram_bucket_report(
            df, df.filter("source = 'r'")
        ).collect()
    ]
    assert got == _model_bigram_report(rows, "r")
    asd = {(r[0], r[1]): (r[2], r[3]) for r in got}
    assert asd[("d", "head")] == (1, 4)
    assert asd[("d", "middle")] == (1, 8)
    assert asd[("d", "tail")] == (2, 4)      # docs 3 and 5, 2 tokens each
    assert asd[("r", "middle")] == (1, 8)    # the reference's own doc


def test_bigram_guards_raise(spark):
    """An empty reference is a loud error (no silent divide-by-zero,
    no all-OOV model)."""
    import pytest as _pytest

    df = spark.createDataFrame([(1, "d", "aa bb")], _DOC_SCHEMA)
    with _pytest.raises(ValueError, match="empty reference"):
        bigram_model(df.filter("source = 'nope'"))


def test_bigram_pairs_position_count_and_bos(spark):
    """Every token position yields exactly ONE pair (n_tok equals
    q157's), the first position pairs with BOS, and a zero-token doc
    contributes no rows."""
    df = spark.createDataFrame(
        [(1, "s", "one"), (2, "s", "two three"), (3, "s", "...")],
        _DOC_SCHEMA,
    )
    got = sorted(
        (r.doc_id, r.prev, r.tok) for r in bigram_pairs(df).collect()
    )
    assert got == [
        (1, BOS, "one"), (2, BOS, "two"), (2, "two", "three"),
    ]


def test_q159_oracle_agrees_on_fixture(spark, tmp_path):
    """The catalog face (plants included) tuple-equals the DuckDB
    oracle on a written fixture dir — sources include the literal
    reference stratum 'src0', and doc_ids hit the head (%11), tail
    (%9), overlap (%99) and no-plant strata (q157's fixture shape,
    deliberately reused: the twins share the plant)."""
    rows = []
    for i in (0, 1, 9, 11, 18, 22, 33, 45, 99, 100, 101, 198):
        rows.append(
            (i, f"tok{i % 4} common words here {i}", "en",
             "src0" if i % 3 == 0 else f"s{i % 2}", None)
        )
    d = _write_documents(tmp_path, rows)
    got = [
        tuple(r)
        for r in SPECS["q159_bigram_ppl_buckets"].spark(spark, d).collect()
    ]
    assert got == _duck_on_documents(d, SPECS["q159_bigram_ppl_buckets"].oracle)
    assert len(got) > 0


def test_q159_matches_python_model_on_smoke_corpus(spark):
    """The full semantics (plant + pairing + model + backoff + buckets
    + rollup) recomputed in pure python over the ENTIRE smoke corpus
    and compared row-for-row (the q153/q155/q157 python-model
    convention), plus every-bucket non-vacuity corpus-wide."""
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
    want = _model_bigram_report(planted, PPL_REF_SOURCE)
    got = [
        tuple(r)
        for r in SPECS["q159_bigram_ppl_buckets"].spark(spark, SF_SMOKE).collect()
    ]
    assert got == want
    buckets = {r[1] for r in got}
    assert buckets == {"head", "middle", "tail"}


def test_q160_stream_equals_batch(spark):
    """The twin discipline at its strongest (the q157/q158 class):
    q160's drained per-doc counter state plus the static model
    constants finalize to q159's report row-for-row — every column,
    identical oracle."""
    batch = [
        tuple(r)
        for r in SPECS["q159_bigram_ppl_buckets"].spark(spark, SF_SMOKE).collect()
    ]
    stream = [
        tuple(r)
        for r in SPECS["q160_streaming_bigram_ppl"].spark(spark, SF_SMOKE).collect()
    ]
    assert stream == batch and len(batch) > 0


# ----------------------------------------- round-17 second batch: q161/q162

from aws_dla_kinesis_delivery_stream_example_spark.plans.curation22 import (  # noqa: E402
    _QK_COPIES,
    _VX_COPIES,
    llr_classifier,
    llr_filter_report,
)


def _model_llr_report(
    docs: list[tuple[int, str, str]],
    pos_source: str,
    neg_source: str | None = None,
):
    """Pure-python model of the q161 semantics (NO plant — callers
    pass already-augmented text): two-class NB-LLR weights on the
    bitlen lattice (shifted non-negative), midpoint threshold fixed
    at training time, per-(source, label) rollup in q161's column
    order.  ``neg_source=None`` is the catalog-face convention
    (background = everything except the positive stratum); a library
    fixture training on an EXPLICIT negative stratum while scoring
    extra docs passes it."""
    tok = lambda t: _TOK.findall(t.lower())  # noqa: E731
    vp: dict[str, int] = {}
    vn: dict[str, int] = {}
    for _, src, text in docs:
        if src == pos_source:
            d = vp
        elif neg_source is None or src == neg_source:
            d = vn
        else:
            continue
        for w in tok(text):
            d[w] = d.get(w, 0) + 1
    n_p, n_n = sum(vp.values()), sum(vn.values())
    bl_p, bl_n = n_p.bit_length(), n_n.bit_length()
    shift = bl_p + 1

    def wgt(t: str) -> int:
        s_p = (bl_p - vp[t].bit_length()) if t in vp else bl_p + 1
        s_n = (bl_n - vn[t].bit_length()) if t in vn else bl_n + 1
        return s_n - s_p + shift

    gw_pos = 1000 * sum(c * wgt(t) for t, c in vp.items()) // n_p
    gw_neg = 1000 * sum(c * wgt(t) for t, c in vn.items()) // n_n
    theta2 = gw_pos + gw_neg
    per = {}
    for did, src, text in docs:
        ts = tok(text)
        if not ts:
            continue
        m = 1000 * sum(wgt(t) for t in ts) // len(ts)
        per[did] = (src, len(ts), "keep" if 2 * m >= theta2 else "drop")
    rows = []
    for s in sorted({v[0] for v in per.values()}):
        ds = [v for v in per.values() if v[0] == s]
        for lb in ("drop", "keep"):
            bs = [v for v in ds if v[2] == lb]
            if bs:
                rows.append(
                    (s, lb, len(bs), sum(v[1] for v in bs),
                     1000 * len(bs) // len(ds))
                )
    return rows


def test_llr_classifier_hand_computed(spark):
    """Exact weights and trained constants on a hand-built pair of
    classes: pos 'aa aa bb' (N_p=3, bl_p=2), neg 'aa cc cc cc'
    (N_n=4, bl_n=3), shift=3 -> w(aa)=5 (2-0+3), w(bb)=6 (4-1+3),
    w(cc)=1 (1-3+3), w_oov=4 (=bl_n+1); gw_pos = 16000//3 = 5333,
    gw_neg = 8000//4 = 2000, theta2 = 7333."""
    df = spark.createDataFrame(
        [(1, "p", "aa aa bb"), (2, "n", "aa cc cc cc")], _DOC_SCHEMA
    )
    weights, w_oov, theta2, shift = llr_classifier(
        df.filter("source = 'p'"), df.filter("source = 'n'")
    )
    assert (w_oov, theta2, shift) == (4, 7333, 3)
    assert {r.tok: r.w for r in weights.collect()} == {
        "aa": 5, "bb": 6, "cc": 1,
    }


def test_llr_filter_every_weight_path(spark):
    """Labels on docs exercising every scoring path, hand-computed
    against theta2 = 7333: reference-like 'aa bb' m=5500 -> keep;
    background-like 'cc cc' m=1000 -> drop; both-OOV 'zz' scores the
    constant w_oov=4 -> m=4000 -> keep (8000 >= 7333) — the
    documented rare-token pathology the midpoint threshold shrinks
    but cannot eliminate on a miniature: asserted as the MATH gives
    it, and the python model agrees row-for-row."""
    rows = [
        (1, "p", "aa aa bb"),
        (2, "n", "aa cc cc cc"),
        (3, "d", "aa bb"),
        (4, "d", "cc cc"),
        (5, "d", "zz"),
    ]
    df = spark.createDataFrame(rows, _DOC_SCHEMA)
    got = [
        tuple(r)
        for r in llr_filter_report(
            df, df.filter("source = 'p'"), df.filter("source = 'n'")
        ).collect()
    ]
    assert got == _model_llr_report(rows, "p", neg_source="n")
    asd = {(r[0], r[1]): r[2] for r in got}
    assert asd[("d", "keep")] == 2      # docs 3 (LLR) and 5 (OOV edge)
    assert asd[("d", "drop")] == 1      # doc 4
    assert asd[("p", "keep")] == 1      # the positive class's own doc
    assert asd[("n", "drop")] == 1      # the background's own doc


def test_llr_guards_raise(spark):
    """Empty positive or negative class is a loud error."""
    import pytest as _pytest

    df = spark.createDataFrame([(1, "d", "aa bb")], _DOC_SCHEMA)
    with _pytest.raises(ValueError, match="empty positive"):
        llr_classifier(df.filter("source = 'x'"), df)
    with _pytest.raises(ValueError, match="empty negative"):
        llr_classifier(df, df.filter("source = 'x'"))


def test_q161_oracle_agrees_on_fixture(spark, tmp_path):
    """The catalog face (plants included) tuple-equals the DuckDB
    oracle on a written fixture dir — sources include the literal
    positive stratum 'src0', and doc_ids hit the positive-plant
    (src0 % 7), borrow (% 23), negative-plant (non-src0 % 13) and
    no-plant strata."""
    rows = []
    for i in (0, 7, 13, 14, 21, 23, 26, 39, 46, 49, 69, 91, 92, 100):
        rows.append(
            (i, f"tok{i % 5} common words here {i}", "en",
             "src0" if i % 7 == 0 else f"s{i % 3}", None)
        )
    d = _write_documents(tmp_path, rows)
    got = [
        tuple(r)
        for r in SPECS["q161_llr_quality_filter"].spark(spark, d).collect()
    ]
    assert got == _duck_on_documents(d, SPECS["q161_llr_quality_filter"].oracle)
    assert len(got) > 0


def test_q161_matches_python_model_on_smoke_corpus(spark):
    """The full semantics (class-conditional plant + two-class model
    + midpoint threshold + rollup) recomputed in pure python over the
    ENTIRE smoke corpus and compared row-for-row, plus both-label
    non-vacuity corpus-wide."""
    docs = [
        (r.doc_id, r.source, r.text)
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "source", "text")
        .collect()
    ]
    planted = []
    for did, src, text in docs:
        t = text
        if (src == PPL_REF_SOURCE and did % 7 == 0) or did % 23 == 0:
            t += " " + "qk " * _QK_COPIES
        if src != PPL_REF_SOURCE and did % 13 == 0:
            t += " " + "vx " * _VX_COPIES
        planted.append((did, src, t))
    want = _model_llr_report(planted, PPL_REF_SOURCE)
    got = [
        tuple(r)
        for r in SPECS["q161_llr_quality_filter"].spark(spark, SF_SMOKE).collect()
    ]
    assert got == want
    labels = {r[1] for r in got}
    assert labels == {"keep", "drop"}
    # the planted strata are non-vacuous: the positive class keeps
    # its own plant, and at least one non-src0 source has BOTH labels
    per_src = {}
    for s, lb, *_ in got:
        per_src.setdefault(s, set()).add(lb)
    assert {"keep", "drop"} in [
        v for k, v in per_src.items() if k != PPL_REF_SOURCE
    ]


def test_q162_stream_equals_batch(spark):
    """The twin discipline (the q157/q158/q159/q160 class): q162's
    drained per-doc counter state plus the trained threshold finalize
    to q161's report row-for-row — every column, identical oracle."""
    batch = [
        tuple(r)
        for r in SPECS["q161_llr_quality_filter"].spark(spark, SF_SMOKE).collect()
    ]
    stream = [
        tuple(r)
        for r in SPECS["q162_streaming_llr_filter"].spark(spark, SF_SMOKE).collect()
    ]
    assert stream == batch and len(batch) > 0
