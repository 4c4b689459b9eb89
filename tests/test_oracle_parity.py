"""t2 gate rehearsal: every catalog query with an oracle must match
DuckDB exactly at sf0.001 (the driver runs the same check at sf0.01)."""

from __future__ import annotations

import pytest

from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs

from .conftest import SF_SMOKE
from .oracle_utils import compare

SPECS = all_specs()
WITH_ORACLE = sorted(n for n, s in SPECS.items() if s.oracle is not None)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_match(spark, name):
    spec = SPECS[name]
    df = spec.spark(spark, SF_SMOKE)
    ok, msg = compare(df, spec.oracle, SF_SMOKE)
    assert ok, f"{name}: {msg}"


def test_every_query_has_a_full_hash_oracle():
    """Round 5 eliminated the last rows-only queries; a regression that
    reintroduces ``oracle=None`` must FAIL here, not silently downgrade
    a query to the driver's weaker rows-only check."""
    rows_only = sorted(n for n, s in SPECS.items() if s.oracle is None)
    assert rows_only == [], f"queries downgraded to rows-only: {rows_only}"


def test_entry_contract(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location("__spark_entry__", "/root/repo/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df = mod.entry(spark)
    assert df.count() > 0
    qs, osql = mod.queries(), mod.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 25
    # The window is pinned once, in ``_WINDOW``; these are its
    # invariants, so a rotation edits that list and nothing here.
    import re as _re

    window = mod._WINDOW
    catalog_nums = {int(_re.match(r"q(\d+)", n).group(1)) for n in SPECS}
    assert len(window) == 50
    assert len(set(window)) == 50, "duplicate window entries"
    assert set(window) <= catalog_nums, "window names a query not in the catalog"
    assert list(qs) == sorted(SPECS, key=mod._catalog_order), (
        "queries() must expose catalog names in the window order"
    )
    # Guard the regex per-name so a future non-qNN exposed name fails
    # with a readable message, not AttributeError on NoneType.
    matches = {n: _re.match(r"q(\d+)", n) for n in qs}
    bad = [n for n, m in matches.items() if m is None]
    assert not bad, f"non-canonical exposed names: {bad}"
    nums = [int(matches[n].group(1)) for n in qs]
    # The correctness artifact records the FIRST 50 entries: the window.
    assert nums[:50] == window
    rest = nums[50:]
    assert rest == sorted(rest), "tail block not numeric-ordered"
    assert set(rest).isdisjoint(window), "window names repeated in tail"
