"""Round-13 planted coverage: q138 (sorted-neighborhood dedup) and
q139 (multi-pass SNM with rotated blocking keys).

The fixture plants three hand-built situations on one documents table:

- docs 1/2 share the 4-token blocking PREFIX and 5 of their 6+6
  5-shingles (jaccard 714 milli) -> sort-adjacent -> q138 FINDS them;
- doc 5 shares the prefix with 1/2 but only 1 shingle with each
  (jaccard 90 milli) -> generated as a candidate, rejected by the
  verify stage (blocking recall vs verification precision separated);
- docs 3/4 are GENUINE near-dups (12 of 16+16 shingles shared,
  jaccard 600 milli) whose prefixes differ completely; four filler
  docs push their single-pass ranks > w apart, so q138 MISSES the
  pair — the documented SNM failure mode — while their SECOND
  4-token windows are identical, so q139's rotated pass 1 sorts them
  adjacent and FINDS them. Found-by-both pairs report passes=2 and
  are verified once.

Every expectation is re-derived from raw tokens in pure Python (the
register-recompute discipline of test_round10/12_planted): if the
house shingle convention or the jaccard lattice drifts on either
side, the pure-python model fails loudly before the oracle can go
stale.
"""

from __future__ import annotations

import itertools
import os

import pytest

from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs
from aws_dla_kinesis_delivery_stream_example_spark.plans.curation11 import (
    _SNM_KEY_N,
    _SNM_SH_N,
    _SNM_THRESH,
    _SNM_W,
    snm_global_rank,
)
from aws_dla_kinesis_delivery_stream_example_spark.functions import text as TX
from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table

from .conftest import SF_SMOKE
from .test_round11_planted import _write_documents

SPECS = all_specs()

_SUFFIX = (
    "victor uniform tango sierra romeo quebec pp2 oo2 nn2 mm2 "
    "lima kk2 jj2 ii2 hh2 gg2"
)  # 16 tokens shared verbatim by docs 3 and 4

_SNM_ROWS = [
    # prefix-sharing near-dup pair: 6 shingles each, 5 shared -> 714
    (1, "alpha bravo charlie delta echo foxtrot golf hotel india juliet", "en", "s1", None),
    (2, "alpha bravo charlie delta echo foxtrot golf hotel india kilo", "en", "s1", None),
    # prefix-sharing NON-dup: 1 shared shingle with each of 1/2 -> 90
    (5, "alpha bravo charlie delta echo zeb1 zeb2 zeb3 zeb4 zeb5", "en", "s1", None),
    # differing-prefix near-dup pair (the planted q138 miss):
    (4, "mike november oscar papa " + _SUFFIX, "en", "s2", None),
    (3, "zulu yankee xray whiskey " + _SUFFIX, "en", "s2", None),
    # fillers whose keys sort BETWEEN 'mike...' and 'zulu...', pushing
    # docs 4 and 3 five rank positions apart (> w=3) in pass 0
    (6, "nan1 nan2 nan3 nan4 nan5 nan6", "en", "s3", None),
    (7, "oat1 oat2 oat3 oat4 oat5 oat6", "en", "s3", None),
    (8, "pad1 pad2 pad3 pad4 pad5 pad6", "en", "s3", None),
    (9, "quo1 quo2 quo3 quo4 quo5 quo6", "en", "s3", None),
]
_TOKS = {r[0]: r[1].split() for r in _SNM_ROWS}


@pytest.fixture(scope="module")
def snm_sf_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("snm_sf")
    return _write_documents(d, _SNM_ROWS)


def _shingles(doc_id: int) -> set[str]:
    t = _TOKS[doc_id]
    return {
        " ".join(t[i : i + _SNM_SH_N]) for i in range(len(t) - _SNM_SH_N + 1)
    }


def _jacc_milli(a: int, b: int) -> int:
    sa, sb = _shingles(a), _shingles(b)
    return 1000 * len(sa & sb) // len(sa | sb)


def _pass_key(pass_id: int):
    """SNM pass ``pass_id``'s blocking key as q139 builds it: the
    _SNM_KEY_N-token window at token offset pass_id * _SNM_KEY_N."""
    from pyspark.sql import functions as F

    return F.array_join(F.slice(TX.words("text"), 1 + _SNM_KEY_N * pass_id, _SNM_KEY_N), " ")


def _rank_order(pass_id: int) -> list[int]:
    """Pure-python model of the pass's total order."""
    key = {
        d: " ".join(t[_SNM_KEY_N * pass_id : _SNM_KEY_N * (pass_id + 1)])
        for d, t in _TOKS.items()
    }
    return [d for d, _ in sorted(key.items(), key=lambda kv: (kv[1], kv[0]))]


def _model_pairs(passes: range) -> dict[tuple[int, int], int]:
    """(doc_a, doc_b) -> n_passes for every within-window candidate."""
    found: dict[tuple[int, int], set[int]] = {}
    for p in passes:
        order = _rank_order(p)
        for i, j in itertools.combinations(range(len(order)), 2):
            if j - i <= _SNM_W:
                pair = tuple(sorted((order[i], order[j])))
                found.setdefault(pair, set()).add(p)
    return {pair: len(ps) for pair, ps in found.items()}


def test_fixture_geometry_self_check():
    """The planted claims, re-derived from raw tokens."""
    assert _jacc_milli(1, 2) == 714  # 5 / 7
    assert _jacc_milli(1, 5) == 90 and _jacc_milli(2, 5) == 90  # 1 / 11
    assert _jacc_milli(3, 4) == 600  # 12 / 20
    # pass-0: docs 3 and 4 are 5 apart (fillers between), > w
    o0 = _rank_order(0)
    assert o0 == [1, 2, 5, 4, 6, 7, 8, 9, 3]
    assert o0.index(3) - o0.index(4) == 5 > _SNM_W
    # pass-1: identical second windows sort 3 and 4 adjacent
    o1 = _rank_order(1)
    assert abs(o1.index(3) - o1.index(4)) == 1


def test_snm_global_rank_is_the_total_order(spark, snm_sf_dir):
    """grank must be the exact 1-based position in the (key, doc_id)
    total order — the distributed range+offset build against the
    pure-python sort, for both the prefix key and a rotated key."""
    docs = load_table(spark, snm_sf_dir, "documents")
    for p in range(2):
        got = {
            r["doc_id"]: r["grank"]
            for r in snm_global_rank(docs, _pass_key(p)).collect()
        }
        want = {d: i + 1 for i, d in enumerate(_rank_order(p))}
        assert got == want, (p, got)


def test_snm_global_rank_is_stable_across_calls(spark):
    """The local ranks and the per-pid counts read one staged range
    exchange: unstaged, each re-execution sampled its own range bounds,
    the two disagreed on which rows a pid holds, and q139's rank came
    out wrong in some runs. Five calls per pass on sf0.1's 5,000
    documents, over a staged key frame as q138/q139 build it, must each
    equal the exact (key, doc_id) total order."""
    from pyspark.sql import Window, functions as F

    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
        stage,
    )

    docs = load_table(spark, os.path.join(os.path.dirname(SF_SMOKE), "sf0.1"), "documents")
    for p in range(3):
        keyed = docs.select("doc_id", _pass_key(p).alias("k"))
        want = {
            r["doc_id"]: r["grank"]
            for r in keyed.select(
                "doc_id", F.row_number().over(Window.orderBy("k", "doc_id")).alias("grank")
            ).collect()
        }
        for _ in range(5):
            try:
                ranked = snm_global_rank(stage(keyed), F.col("k"))
                got = {r["doc_id"]: r["grank"] for r in ranked.collect()}
            finally:
                release_staging()
            assert got == want, p


def test_q138_finds_planted_prefix_pair_and_misses_rotated_pair(
    spark, snm_sf_dir
):
    rows = [r.asDict() for r in SPECS["q138_sorted_neighborhood"].spark(spark, snm_sf_dir).collect()]
    assert rows == [
        {
            "doc_a": 1,
            "doc_b": 2,
            "gap": 1,
            "inter_sh": 5,
            "union_sh": 7,
            "jaccard_milli": 714,
        }
    ]
    # the documented single-pass miss: (3, 4) is a genuine near-dup
    # (600 milli >= threshold) yet absent — its prefixes never sort
    # within w of each other. q139 exists to catch exactly this.
    assert _jacc_milli(3, 4) >= _SNM_THRESH
    assert not any({r["doc_a"], r["doc_b"]} == {3, 4} for r in rows)


def test_q139_rotated_pass_catches_the_q138_miss(spark, snm_sf_dir):
    model = _model_pairs(range(2))
    rows = {
        (r["doc_a"], r["doc_b"]): r.asDict()
        for r in SPECS["q139_snm_multipass"].spark(spark, snm_sf_dir).collect()
    }
    assert set(rows) == {(1, 2), (3, 4)}
    # (1,2): adjacent under BOTH keys (identical first and second
    # windows) -> passes=2, verified once
    assert rows[(1, 2)] == {
        "doc_a": 1,
        "doc_b": 2,
        "passes": 2,
        "inter_sh": 5,
        "union_sh": 7,
        "jaccard_milli": 714,
    }
    assert model[(1, 2)] == 2
    # (3,4): the q138 miss, found ONLY by the rotated pass
    assert rows[(3, 4)] == {
        "doc_a": 3,
        "doc_b": 4,
        "passes": 1,
        "inter_sh": 12,
        "union_sh": 20,
        "jaccard_milli": 600,
    }
    assert model[(3, 4)] == 1
    # below-threshold candidates (the (1,5)/(2,5) 90-milli pairs) were
    # generated by the model but rejected by verification
    assert (1, 5) in model and (2, 5) in model


def test_minhash_calibration_sampled_strata(spark, snm_sf_dir, tmp_path):
    """On the planted fixture the multiplicative hash puts docs
    {1,2,3,4,9} in the audited bucket 0 and {5,6,7,8} in bucket 1
    (recomputed here from the raw constants) — both planted
    >=0.5-jaccard truth pairs (1,2) and (3,4) live in bucket 0, so the
    sampled audit must see n_truth=2 and bucket 1 must see 0; the full
    audit sees the same 2. The sampled audit equals q114's report over
    a corpus of only the stratum's docs (a scale mode equals its
    audited face wherever both are computable).
    """
    from aws_dla_kinesis_delivery_stream_example_spark.operators.dedup import (
        _CAL_SAMPLE_MOD,
        _CAL_SAMPLE_MULT,
        CAL_STRATUM_BUCKET,
        CAL_STRATUM_MOD,
        minhash_calibration_report,
        minhash_calibration_sampled,
    )

    strata = {
        d: d * _CAL_SAMPLE_MULT % _CAL_SAMPLE_MOD % CAL_STRATUM_MOD for d in _TOKS
    }
    stratum = {d for d, b in strata.items() if b == CAL_STRATUM_BUCKET}
    assert stratum == {1, 2, 3, 4, 9}
    # python truth model: pairs with exact 5-shingle jaccard >= 0.5
    truth = {
        tuple(sorted(p))
        for p in itertools.combinations(_TOKS, 2)
        if _jacc_milli(*p) >= 500
    }
    assert truth == {(1, 2), (3, 4)}
    docs = load_table(spark, snm_sf_dir, "documents")
    full = minhash_calibration_report(docs).collect()[0]
    b0 = minhash_calibration_sampled(docs).collect()[0]
    b1 = minhash_calibration_report(
        docs.filter(~docs["doc_id"].isin(*stratum))
    ).collect()[0]
    assert full["n_truth"] == 2 and b0["n_truth"] == 2 and b1["n_truth"] == 0
    # within-stratum-only measurement: stratum truth can never exceed
    # full truth, and here (no cross-stratum truth pairs) it matches
    assert b0["n_truth"] + b1["n_truth"] <= full["n_truth"] + 0
    face_dir = _write_documents(tmp_path, [r for r in _SNM_ROWS if r[0] in stratum])
    face = SPECS["q114_minhash_calibration"].spark(spark, face_dir).collect()
    assert [b0.asDict()] == [r.asDict() for r in face]


# ---------------------------------------------------------------- q140

# Two token vocabularies: en docs speak A-words, de docs speak B-words,
# doc 4 is half-and-half — its importance must land between the pure
# strata, and the A-heavy source must outscore the B-heavy one.
_DSIR_ROWS = [
    (1, "aa bb cc dd", "en", "srcA", None),
    (2, "aa bb ee ff", "en", "srcA", None),
    (3, "gg hh ii jj", "de", "srcB", None),
    (4, "aa bb gg hh", "de", "srcB", None),
]


@pytest.fixture(scope="module")
def dsir_sf_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("dsir_sf")
    return _write_documents(d, _DSIR_ROWS)


def _dsir_model() -> dict[str, dict]:
    """Pure-python recompute of q140 from raw md5 — independent of the
    operator's code, so a lattice/bucketing drift on either side fails
    loudly."""
    import hashlib

    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation12 import (
        _DSIR_BUCKETS,
        _DSIR_SELECT_MILLI,
        _DSIR_TARGET_LANG,
    )

    def bkt(tok: str) -> int:
        return (
            int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % _DSIR_BUCKETS
        )

    occ = [
        (doc_id, src, lang, bkt(t))
        for doc_id, text, lang, src, _ in _DSIR_ROWS
        for t in text.lower().split()
    ]
    n_all = len(occ)
    n_tgt = sum(1 for _, _, lang, _b in occ if lang == _DSIR_TARGET_LANG)
    c_all: dict[int, int] = {}
    c_tgt: dict[int, int] = {}
    for _, _, lang, b in occ:
        c_all[b] = c_all.get(b, 0) + 1
        if lang == _DSIR_TARGET_LANG:
            c_tgt[b] = c_tgt.get(b, 0) + 1
    score = {
        b: 1000 * c_tgt.get(b, 0) * n_all // (c_all[b] * n_tgt) for b in c_all
    }
    per_doc: dict[int, tuple[str, int]] = {}
    for doc_id, text, lang, src, _ in _DSIR_ROWS:
        toks = text.lower().split()
        imp = sum(score[bkt(t)] for t in toks) // len(toks)
        per_doc[doc_id] = (src, imp)
    out: dict[str, dict] = {}
    for src in sorted({r[3] for r in _DSIR_ROWS}):
        imps = [imp for s, imp in per_doc.values() if s == src]
        out[src] = {
            "source": src,
            "n_docs": len(imps),
            "mean_imp_milli": sum(imps) // len(imps),
            "n_selected": sum(1 for i in imps if i >= _DSIR_SELECT_MILLI),
        }
    return out, per_doc


def test_q140_planted_matches_pure_python_model(spark, dsir_sf_dir):
    model, per_doc = _dsir_model()
    rows = {
        r["source"]: r.asDict()
        for r in SPECS["q140_dsir_reweight"].spark(spark, dsir_sf_dir).collect()
    }
    assert rows == model
    # directionality: target-vocabulary docs must outscore off-target
    # ones, with the mixed doc strictly between the pure strata
    imp = {d: i for d, (_, i) in per_doc.items()}
    assert imp[1] > imp[4] > imp[3] and imp[2] > imp[4]
    assert model["srcA"]["mean_imp_milli"] > model["srcB"]["mean_imp_milli"]
    # selection is non-vacuous on both sides of the threshold
    assert model["srcA"]["n_selected"] == 2 and model["srcB"]["n_selected"] < 2


def test_q142_stratum_is_proper_and_non_vacuous(spark):
    """q142's mod-2/bucket-0 stratum must keep the oracle's truth set
    NON-VACUOUS at smoke SF (n_truth > 0 — mod 4 already empties it at
    sf0.01's geometry, which is why the catalog pins mod 2) while
    being a PROPER stratum (n_truth strictly below the full q114
    audit's — the sampled mode must actually sample)."""
    full = SPECS["q114_minhash_calibration"].spark(spark, SF_SMOKE).collect()[0]
    samp = SPECS["q142_sampled_calibration"].spark(spark, SF_SMOKE).collect()[0]
    assert samp["n_truth"] > 0 and samp["n_candidates"] > 0
    assert samp["n_truth"] < full["n_truth"]


def test_q141_streaming_dsir_equals_batch_on_planted(spark, dsir_sf_dir):
    """The streaming face on the planted vocabulary corpus must land
    on the SAME rows as the pure-python model (and therefore as q140
    — the q133/q134 stream-equals-batch convention): the drained
    (bkt, c_all, c_tgt) state finalizes to the identical report."""
    model, _ = _dsir_model()
    rows = {
        r["source"]: r.asDict()
        for r in SPECS["q141_streaming_dsir"].spark(spark, dsir_sf_dir).collect()
    }
    assert rows == model


def test_q139_recall_contains_q138(spark, snm_sf_dir):
    """Pass 0 IS q138's sort order, so multi-pass output must be a
    superset of single-pass output on any corpus (checked on the
    planted one)."""
    single = {
        (r["doc_a"], r["doc_b"])
        for r in SPECS["q138_sorted_neighborhood"].spark(spark, snm_sf_dir).collect()
    }
    multi = {
        (r["doc_a"], r["doc_b"])
        for r in SPECS["q139_snm_multipass"].spark(spark, snm_sf_dir).collect()
    }
    assert single <= multi
