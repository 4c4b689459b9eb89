"""Round-15 planted coverage:

1. q151 (domain blocklist gate + domain-share audit) and its
   streaming twin q152: a handmade corpus exercising every audit
   face (blocked/kept counts, the all-blocked kept_docs = 0 guard,
   the deterministic top-domain tie-break) with the DuckDB oracle
   hash-compared on the fixture; the audit's kept_docs pinned to a
   plain blocklist filter over the planted domain stratum (the
   q149/q30 single-source-of-truth discipline); the audit run on a
   handmade (source, domain, text) frame; and stream == batch
   row-for-row (crash-resume lives in tests/test_stateful.py).
2. q153 (encoding/mojibake repair audit) and its streaming twin
   q154: the generated-table pins (every entry IS the cp1252 double
   encoding of its target; round-trip; mutually non-manufacturing),
   a handmade mojibake corpus with hand-computed counts and the
   DuckDB oracle compared on the fixture, adversarial
   replace-semantics cases (adjacent runs, bare shared prefix,
   half-keys) pinned equal to a pure-python model plus idempotent,
   and stream == batch row-for-row.
"""

from __future__ import annotations

from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs

from .conftest import SF_SMOKE

SPECS = all_specs()


# ------------------------------------------------ q151 / q152 blocklist

from aws_dla_kinesis_delivery_stream_example_spark.plans.curation17 import (  # noqa: E402
    BLOCKLIST,
    _domain_augment,
)
from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import (  # noqa: E402
    load_table,
)

from .test_round14_planted import _duck_on_documents  # noqa: E402
from .test_round11_planted import _write_documents  # noqa: E402


def _blocklist_fixture(tmp_path) -> str:
    """Handmade corpus exercising every audit face. Domains derive
    from doc_id % 97 ('site{n}.example'); site0/site10/site20/... are
    blocklisted.

    s0: ids 0, 97 -> site0 (blocked), 10 -> site10 (blocked);
        ids 1, 98 -> site1 (kept, 2 docs = top), 2 -> site2 (kept)
    s1: ids 194 -> site0, 20 -> site20 — EVERY doc blocked (the
        kept_docs = 0 empty-stratum guard, both faces)
    s2: ids 3 -> site3, 4 -> site4 — kept tie at 1 doc each, broken
        to the lexicographically smallest domain (site3)
    """
    rows = [
        (0, "a b", "en", "s0", None),          # site0  blocked, 2 tok
        (97, "c", "en", "s0", None),           # site0  blocked, 1 tok
        (10, "d e f", "en", "s0", None),       # site10 blocked, 3 tok
        (1, "g", "en", "s0", None),            # site1  kept
        (98, "h", "en", "s0", None),           # site1  kept
        (2, "i", "en", "s0", None),            # site2  kept
        (194, "x", "en", "s1", None),          # site0  blocked, 1 tok
        (20, "y z", "en", "s1", None),         # site20 blocked, 2 tok
        (3, "p", "en", "s2", None),            # site3  kept
        (4, "q", "en", "s2", None),            # site4  kept
    ]
    return _write_documents(tmp_path, rows)


def test_q151_planted_fixture(spark, tmp_path):
    """Hand-computed expectations for every audit face: blocked
    counts/rates, the all-blocked kept_docs = 0 guard, and the
    deterministic top-domain tie-break; the oracle agrees on the
    fixture (one plan execution serves both assertions)."""
    d = _blocklist_fixture(tmp_path)
    rows = SPECS["q151_domain_blocklist"].spark(spark, d).collect()
    got = {r.source: tuple(r)[1:] for r in rows}
    #             n_docs n_dom blk_docs blk_tok rate kept top         share
    assert got == {
        "s0": (6, 4, 3, 6, 500, 3, "site1.example", 666),
        "s1": (2, 2, 2, 3, 1000, 0, "", 0),
        "s2": (2, 2, 0, 0, 0, 2, "site3.example", 500),
    }
    assert [tuple(r) for r in rows] == _duck_on_documents(
        d, SPECS["q151_domain_blocklist"].oracle
    )


def test_q151_gate_agrees_with_audit(spark):
    """The single-source-of-truth pin (the q149/q30 discipline): a
    plain blocklist filter over the planted domain stratum keeps
    exactly the audit's kept_docs total."""
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMOKE, "documents")
    aug = _domain_augment(docs)
    kept = aug.filter(~F.col("domain").isin(list(BLOCKLIST)))
    audit = SPECS["q151_domain_blocklist"].spark(spark, SF_SMOKE).collect()
    assert kept.count() == sum(r.kept_docs for r in audit)
    # non-vacuity: the planted stratum blocks ~10/97 of any slice
    assert sum(r.blocked_docs for r in audit) > 0
    assert sum(r.n_docs for r in audit) == docs.count()


def test_q152_stream_equals_batch(spark):
    """The twin discipline: q152's drained complete-mode counter state
    must finalize to q151's report row-for-row."""
    batch = [tuple(r) for r in SPECS["q151_domain_blocklist"].spark(spark, SF_SMOKE).collect()]
    stream = [tuple(r) for r in SPECS["q152_streaming_blocklist"].spark(spark, SF_SMOKE).collect()]
    assert batch == stream and len(batch) > 0


# ------------------------------------------- round-15 review fixes


def test_blocklist_library_mode_takes_a_real_list(spark):
    """The audit runs on ANY (source, domain, text) frame, not only
    the planted scan (round-15 review): drive it on handmade rows over
    planted domains and pin the blocked/kept accounting by hand."""
    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation17 import (
        domain_audit_report,
    )

    df = spark.createDataFrame(
        [
            ("s0", "site0.example", "a b"),
            ("s0", "site0.example", "c"),
            ("s0", "site1.example", "d e"),
            ("s0", "site2.example", "f"),
            ("s1", "site10.example", "g h i"),
        ],
        "source string, domain string, text string",
    )
    got = {r.source: tuple(r)[1:] for r in domain_audit_report(df).collect()}
    #             n_docs n_dom blk_docs blk_tok rate  kept top             share
    assert got == {
        "s0": (4, 3, 2, 3, 500, 2, "site1.example", 500),
        "s1": (1, 1, 1, 3, 1000, 0, "", 0),
    }


# ------------------------------------------ q153 / q154 mojibake audit

from aws_dla_kinesis_delivery_stream_example_spark.plans.curation18 import (  # noqa: E402
    MOJIBAKE_MAP,
    double_encode,
    mojibake_repair,
)


def _py_repair(text: str) -> str:
    """Independent pure-python model of the repair chain (same
    left-to-right non-overlapping semantics as Java/DuckDB replace)."""
    for bad, good in MOJIBAKE_MAP:
        text = text.replace(bad, good)
    return text


def test_mojibake_map_is_the_cp1252_double_encoding():
    """The table is generated, not hand-typed: every entry must be
    exactly utf8-bytes-misread-as-cp1252 of its target, every repair
    must round-trip, and no entry's OUTPUT may contain any map key
    (the non-manufacturing property the residual column watches)."""
    for bad, good in MOJIBAKE_MAP:
        assert bad == good.encode("utf-8").decode("cp1252")
        assert len(bad) > 1 and len(good) == 1
        assert _py_repair(bad) == good
    keys = [bad for bad, _ in MOJIBAKE_MAP]
    # the properties one-pass convergence actually rests on (round-15
    # review: the earlier substring check was vacuous against 1-char
    # outputs): no key may contain ANOTHER key (chain order would
    # become load-bearing), and no repair-OUTPUT character may occur
    # anywhere inside any key (a repair abutting remaining text could
    # otherwise recombine into a fresh key)
    for a in keys:
        assert all(b not in a for b in keys if b != a), f"{a!r} contains a key"
    out_chars = {good for _, good in MOJIBAKE_MAP}
    for k in keys:
        assert out_chars.isdisjoint(set(k)), f"repair output char inside key {k!r}"


def test_q153_planted_fixture(spark, tmp_path):
    """Handmade mojibake corpus with doc_ids outside every planted
    stratum (no multiples of 5/7/11 — the augmentation is the
    identity), expectations hand-computed per the python model, and
    the DuckDB oracle hash-compared on the fixture."""
    cafe = "caf" + double_encode("é")           # 2-char seq, repairs to 1
    quote = "don" + double_encode("’") + "t"    # 3-char seq
    rows = [
        # s0: one doc with two sequences (4 chars repaired: 1 + 2),
        # one clean ASCII doc, one doc already containing the GOOD
        # char (no detection, no rewrite)
        (1, f"{cafe} and {quote}", "en", "s0", None),
        (2, "plain ascii text", "en", "s0", None),
        (3, "already café fixed", "en", "s0", None),
        # s1: the same sequence twice in one doc
        (13, f"{cafe} {cafe}", "en", "s1", None),
    ]
    d = _write_documents(tmp_path, rows)
    out = SPECS["q153_mojibake_audit"].spark(spark, d).collect()
    got = {r.source: tuple(r)[1:] for r in out}
    #            n_docs with  n_seq chars rate  resid
    assert got == {
        "s0": (3, 1, 2, 3, 333, 0),
        "s1": (1, 1, 2, 2, 1000, 0),
    }
    assert [tuple(r) for r in out] == _duck_on_documents(
        d, SPECS["q153_mojibake_audit"].oracle
    )


def test_mojibake_repair_matches_python_model_on_adversarial_text(spark):
    """The cross-engine replace-semantics claim on adversarial
    fixtures: adjacent/overlapping sequences, the bare shared prefix
    (not a key — must survive), keys split across repaired output,
    and a long pathological run. Spark's chained replace must equal
    the python model character-for-character, and re-repairing the
    repaired text must be the identity (idempotence on these
    fixtures)."""
    from pyspark.sql import functions as F

    prefix = double_encode("’")[:2]  # the bare 2-char quote prefix
    cases = [
        double_encode("é") * 5,                       # adjacent run
        prefix,                                        # bare prefix survives
        prefix + double_encode("é"),                   # prefix abuts a key
        double_encode("’") + double_encode("“"),       # prefix-sharing keys
        "x" + double_encode("ñ") * 3 + "y",
        double_encode("é")[0] + double_encode("é"),    # leading half-key
    ]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    reps = [
        r.rep
        for r in df.select(mojibake_repair(F.col("text")).alias("rep"))
        .collect()
    ]
    for case, rep in zip(cases, reps):
        assert rep == _py_repair(case), f"diverged on {case!r}"
        assert _py_repair(rep) == rep, f"not idempotent on {case!r}"


def test_q154_stream_equals_batch(spark):
    """The twin discipline: q154's drained complete-mode counter state
    must finalize to q153's report row-for-row."""
    batch = [tuple(r) for r in SPECS["q153_mojibake_audit"].spark(spark, SF_SMOKE).collect()]
    stream = [tuple(r) for r in SPECS["q154_streaming_mojibake"].spark(spark, SF_SMOKE).collect()]
    assert batch == stream and len(batch) > 0
    # non-vacuity: the planted strata put mojibake in every source
    assert sum(r[3] for r in batch) > 0  # n_seq
    assert all(r[-1] == 0 for r in batch)  # residual converged
