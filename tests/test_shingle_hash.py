"""The word-n-gram hash pass (dedup._shingle_hash_rows) against a
plain-Python reference: the same (doc, h) multiset for every n, for the
MinHash fold and for a string id shared by two rows."""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import pytest

from aws_dla_kinesis_delivery_stream_example_spark.operators.dedup import (
    _MERSENNE,
    _shingle_hash_rows,
)
from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import load_table

from .conftest import SF_SMOKE

# Null text, fewer tokens than any n below, repeated shingles,
# punctuation and runs of spaces, non-ASCII letters, empty text.
ADVERSARIAL = [
    (1, None),
    (2, "only three words"),
    (3, "a b c d a b c d a b c d a b c d"),
    (4, "  Hello,,  world!!   foo--bar\tbaz\n\nqux  QUUX. 42 x9y "),
    (5, "İstanbul ÉCOLE naïve café straße Ǆemal ﬁne K"),
    (6, ""),
    (7, " ".join(f"w{i % 7}" for i in range(60))),
]


def _reference(rows, n, mod=None):
    """(doc, h) multiset of the row-at-a-time definition: lower-case,
    [a-z0-9]+ tokens, every n-gram joined by single spaces, distinct
    within the row, md5 60-bit prefix, optionally mod ``mod``."""
    tok_re = re.compile(r"[a-z0-9]+")
    out = Counter()
    for doc, text in rows:
        if not isinstance(text, str):
            continue
        toks = tok_re.findall(text.lower())
        seen = set()
        for i in range(len(toks) - n + 1):
            s = " ".join(toks[i : i + n])
            if s not in seen:
                seen.add(s)
                h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                out[(doc, h % mod if mod is not None else h)] += 1
    return out


def _spark_multiset(df, n, **kw):
    return Counter(
        (r.doc, r.h) for r in _shingle_hash_rows(df, "id", n, **kw).collect()
    )


@pytest.fixture(scope="module")
def rows(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    return [(r.doc_id, r.text) for r in docs] + [(-i, t) for i, t in ADVERSARIAL]


@pytest.mark.parametrize("n", [4, 5, 20])
def test_shingle_hash_rows_equals_reference(spark, rows, n):
    df = spark.createDataFrame(rows, "id long, text string")
    want = _reference(rows, n)
    assert sum(want.values()) > 0
    assert _spark_multiset(df, n) == want


def test_shingle_hash_rows_mod_equals_reference(spark, rows):
    df = spark.createDataFrame(rows, "id long, text string")
    assert _spark_multiset(df, 5, mod=_MERSENNE) == _reference(rows, 5, _MERSENNE)


def test_shingle_hash_rows_is_distinct_per_row_not_per_id(spark):
    """Two rows under one string id each keep their own n-grams: a
    shingle both rows hold appears twice, as it did in the per-row
    pass q132's per-source probe relies on."""
    rows = [
        ("web", "the cat sat on the mat today"),
        ("web", "the cat sat on the mat again"),
        ("wiki", ADVERSARIAL[4][1]),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    got = _spark_multiset(df, 4, id_type="string")
    assert got == _reference(rows, 4)
    assert max(got.values()) == 2
    assert {r.doc for r in _shingle_hash_rows(df, "id", 4, id_type="string").collect()} == {"web", "wiki"}
