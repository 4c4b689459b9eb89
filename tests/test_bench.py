"""bench.py: the query selector and the compact stdout line (no
SparkSession: the specs are passed in and the line is built from the
committed bench_full.json), plus the profile census of a drain."""

from __future__ import annotations

import importlib.util
import json
import logging
import os
import re

import pytest

from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs

from .conftest import SF_CORRECT, SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location("bench", os.path.join(REPO, "bench.py"))
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _load(name: str) -> dict:
    with open(os.path.join(REPO, name)) as f:
        return json.load(f)


def test_resolve_takes_exact_name_or_qnn_prefix():
    specs = all_specs()
    assert bench.resolve(["q50"], specs) == ["q50_streaming_tumbling"]
    assert bench.resolve(["q50_streaming_tumbling", "q107"], specs) == [
        "q50_streaming_tumbling",
        "q107_doc_pagerank",
    ]


def test_resolve_rejects_a_bare_prefix_and_unknown_names():
    specs = all_specs()
    # "q1" must not expand to every q1xx query
    with pytest.raises(SystemExit, match="no catalog query matches 'q1'"):
        bench.resolve(["q1"], specs)
    with pytest.raises(SystemExit, match="no catalog query matches 'q50_nope'"):
        bench.resolve(["q50_nope"], specs)


def test_stdout_line_from_committed_full_result():
    full = _load("bench_full.json")
    line = bench.stdout_line(full)
    assert ", " not in line and '": ' not in line  # compact separators
    parsed = json.loads(line)
    assert set(parsed) == set(_load("BENCH_r18.json")["parsed"])
    assert list(parsed["queries"]) == [bench.qnn(k) for k in full["queries"]]
    assert all(re.fullmatch(r"q\d+", k) for k in parsed["queries"])
    for name, sec in full["queries"].items():
        assert parsed["queries"][bench.qnn(name)] == round(sec, 2)
    assert parsed["full_results"] == "bench_full.json"


def test_thread_census_groups_threads_by_pool():
    names = [
        "broadcast-exchange-0",
        "broadcast-exchange-17",
        "shuffle-exchange-3",
        "ResultQueryStageExecution-12",
        "block-manager-ask-thread-pool-99",
        "rpc-server-4-1",
        "C1 CompilerThread0",
        "Executor task launch worker for task 3.0 in stage 5.0 (TID 12)",
        "main",
    ]
    assert bench.thread_census(names) == {
        "total": 9,
        "by_pool": {
            "C CompilerThread": 1,
            "Executor task launch worker for task in stage (TID)": 1,
            "ResultQueryStageExecution": 1,
            "block-manager-ask-thread-pool": 1,
            "broadcast-exchange": 2,
            "main": 1,
            "rpc-server": 1,
            "shuffle-exchange": 1,
        },
    }


def test_stdout_line_cuts_errors_to_80_chars():
    full = _load("bench_full.json")
    full["queries"]["q50_streaming_tumbling"] = {"err": "AnalysisException: " + "x" * 500}
    parsed = json.loads(bench.stdout_line(full))
    err = parsed["queries"]["q50"]["err"]
    assert len(err) == 80 and err.startswith("AnalysisException: ")


def test_profile_counts_a_drains_micro_batch_jobs(spark):
    """q50 is a streaming drain: its micro-batch jobs run under the
    query's run id, not the profile's job group, and must still be
    counted, and so must its state-store commit time."""
    name = "q50_streaming_tumbling"
    log = logging.getLogger(
        "aws_dla_kinesis_delivery_stream_example_spark.streaming.windows"
    )
    before = (log.level, list(log.handlers))
    p = bench._profile(spark, name, all_specs()[name], SF_SMOKE)
    line = bench._profile_line(name, p)
    assert p.census.jobs_stream >= 1, line
    assert p.census.jobs > p.census.jobs_stream, line
    assert p.py_passes == 0, line  # a JVM-only drain
    assert p.state_commit_ms > 0, line
    assert (log.level, list(log.handlers)) == before


def test_profile_counts_a_drains_python_passes(spark):
    """q91 and q108 run applyInPandasWithState inside their drains. The
    frame a drain returns is its memory sink's table, so the passes are
    read off the drain's last micro-batch plan and must still count."""
    specs = all_specs()
    for name in ("q91_streaming_stateful_totals", "q108_streaming_zscore"):
        p = bench._profile(spark, name, specs[name], SF_SMOKE)
        assert p.py_passes >= 1, bench._profile_line(name, p)


def test_profile_counts_python_passes(spark):
    """``py_passes`` counts the plan's Python-evaluation nodes: q26
    shingles on the JVM and reads 0; q111's audio features run in
    mapInPandas and read at least 1. Neither runs a drain, so neither
    commits state."""
    specs = all_specs()
    got = {
        name: bench._profile(spark, name, specs[name], SF_SMOKE)
        for name in ("q26_ngram_jaccard", "q111_audio_frame_energy")
    }
    assert got["q26_ngram_jaccard"].py_passes == 0, got
    assert got["q111_audio_frame_energy"].py_passes >= 1, got
    assert got["q26_ngram_jaccard"].state_commit_ms == 0, got


def test_growth_exponent_recovers_a_power_law():
    for k in (0.5, 1.0, 2.0):
        assert bench.growth_exponent(500, 3 * 500**k, 50_000, 3 * 50_000**k) == k


def test_growth_exponent_is_none_between_tiers_of_one_size():
    # sf0.001 and sf0.01 hold the same 500 documents
    assert bench.growth_exponent(500, 120, 500, 130) is None
    assert bench.growth_exponent(500, 0, 5000, 130) is None


def test_synthesize_10x_replicates_with_disjoint_ids_and_vocabularies(spark, tmp_path):
    """The 10x tier built from sf0.01: ten times the documents, replica
    0 verbatim, ids disjoint across replicas, replica k's tokens all
    prefixed ``r{k}`` with ``n_chars`` counting the prefixed text, and
    every other catalog table readable."""
    import pandas as pd

    from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import (
        TABLES,
        load_table,
    )

    bench.synthesize_10x(SF_CORRECT, str(tmp_path))
    src = pd.read_parquet(os.path.join(SF_CORRECT, "documents.parquet"))
    big = pd.read_parquet(tmp_path / "documents.parquet")
    assert len(big) == 10 * len(src)
    assert big["doc_id"].is_unique
    replica = big["doc_id"] // bench._REPLICA_ID_STRIDE
    pd.testing.assert_frame_equal(big[replica == 0].reset_index(drop=True), src)
    for k in range(1, 10):
        texts = big.loc[replica == k, "text"].dropna()
        tokens = {t for s in texts for t in re.findall(r"[A-Za-z0-9]+", s)}
        assert tokens and all(t.startswith(f"r{k}") for t in tokens), k
    assert big["text"].notna().all()
    assert (big["n_chars"] == big["text"].str.len()).all()
    emb = pd.read_parquet(tmp_path / "embeddings.parquet")
    assert len(emb) == 10 * len(pd.read_parquet(os.path.join(SF_CORRECT, "embeddings.parquet")))
    assert emb["vec_id"].is_unique
    for name in TABLES:
        assert load_table(spark, str(tmp_path), name).count() > 0, name
