"""Physical-plan regression tests: the scale guarantees SCALE.md
claims, asserted on the actual Catalyst output so a refactor can't
silently regress them. A wrong *plan shape* is invisible at sf0.001
row counts but fatal at 100 TB — this suite pins the shapes.
"""

from __future__ import annotations

import pytest

from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = all_specs()[name].spark(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def specs():
    return all_specs()


def test_no_cartesian_product_anywhere(spark, specs):
    """No catalog query may plan a CartesianProduct. (Broadcast
    nested-loop against a 1-row aggregate is the documented exception
    and plans as BroadcastNestedLoopJoin, which is allowed.)"""
    offenders = []
    for name, spec in sorted(specs.items()):
        if "streaming" in spec.tags:
            continue  # their spark() executes a stream drain, not a plan build
        plan = spec.spark(spark, SF)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == []


def test_filter_pushdown_reaches_parquet_scan(spark):
    plan = plan_of(spark, "q02_filter_project")
    assert "PushedFilters: [" in plan
    # at least one actual pushed predicate, not an empty list
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip() != ""


def test_column_pruning_reaches_parquet_scan(spark):
    plan = plan_of(spark, "q02_filter_project")
    frag = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    # lineitem has 16 columns; the projection must reach the reader
    assert frag.count(",") < 10


def test_dimension_joins_are_broadcast(spark):
    plan = plan_of(spark, "q06_broadcast_dims")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_global_topk_is_take_ordered(spark):
    for q in ("q17_topk_global", "q77_vocabulary_topk"):
        plan = plan_of(spark, q)
        assert "TakeOrderedAndProject" in plan, q


def test_aggregation_has_map_side_partial(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    # partial + final HashAggregate around the exchange
    assert plan.count("HashAggregate") >= 2


def _exchanges_above_staging(node) -> int:
    """Count Exchange nodes in the physical-plan TREE, treating
    InMemoryTableScan (a staged boundary) as a leaf and descending
    through AQE wrappers. The plan *string* is unusable for staged
    plans: toString() inlines each cached relation's subtree under
    every one of its scans, so q95's string shows 132 'Exchange'
    occurrences for a 12-exchange execution."""
    name = node.nodeName()
    n = 1 if "Exchange" in name else 0
    if "InMemoryTableScan" in name:
        return n  # staged boundary: the cached subtree runs once, elsewhere
    if "AdaptiveSparkPlan" in name:  # LeafExecNode wrapping the real plan
        return n + _exchanges_above_staging(node.executedPlan())
    if "QueryStage" in name:  # materialized AQE stage wrapper
        return n + _exchanges_above_staging(node.plan())
    it = node.children().iterator()
    while it.hasNext():
        n += _exchanges_above_staging(it.next())
    return n


def test_exchange_budgets_hold(spark):
    """The exchange counts the round-4 plan audit measured; more
    exchanges than this means a shuffle crept in."""
    for name, budget in (
        ("q79_retention_cohorts", 4),
        ("q80_session_funnel", 2),
        # q93 (round 7): window-hash dup-count agg + semi join back +
        # per-doc window/agg (shared partitioning) + join of per-doc
        # stats onto the staged pre-explode frame + final sort = 5
        ("q93_duplicated_spans", 5),
        # q94 (round 7): clusters⋈scores join + survivor agg + final
        # sort = 3 (4 if AQE swaps the broadcast for a shuffle join);
        # the cluster-resolution loop runs eagerly and checkpoints, so
        # it is not part of this plan
        ("q94_dedup_survivors", 4),
        # q143 (round 14): plant + 3 detectors + chained redaction +
        # residual re-scan are ONE scan-side codegen pass; the only
        # exchanges are the |sources|-row agg + final sort (measured
        # 2). Zero Python crossings. A third exchange means the
        # corpus started shuffling for a projection-only audit.
        ("q143_pii_audit", 2),
    ):
        plan = plan_of(spark, name)
        n = plan.count("Exchange")
        assert n <= budget, f"{name}: {n} exchanges (budget {budget})"


def test_q95_staged_exchange_budget(spark):
    """q95's staged-funnel shape as a pinned assertion: the exchange
    count ABOVE the stage() boundaries (tree walk, cached subtrees
    excluded) was 12 as of round 8 (one agg exchange per funnel stage
    + five joins); the round-18 union-funnel rewrite folds the whole
    audit into ONE conditional aggregation over a union of staged-cut
    projections, measured 3 (funnel agg + token-budget window + final
    sort). Budget 6 allows AQE broadcast->shuffle swaps. A creeping
    return of per-stage aggregation exchanges fails here instead of
    silently re-growing the old 12-exchange funnel."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    df = all_specs()["q95_curation_pipeline"].spark(spark, SF)
    try:
        n = _exchanges_above_staging(df._jdf.queryExecution().executedPlan())
    finally:
        release_staging()
    assert n <= 6, f"q95: {n} exchanges above staging (budget 6)"


def test_round8_exchange_budgets(spark):
    """Round-8 additions, tree-walk budgets (staged subtrees excluded;
    q99 stages its pair set so its symmetrizing union doesn't re-derive
    the shingle join per branch — measured 14 exchanges unstaged vs 2
    staged). Budgets are measured+1 headroom for AQE join swaps."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    for name, budget in (
        ("q96_contamination_overlap", 5),  # bench distinct + bcast + doc agg + sort
        ("q97_quantile_quality_gate", 5),  # percentile agg + bcast + final agg + sort
        ("q98_token_chunking", 2),  # narrow map; ONLY the catalog sort shuffles
        ("q99_similar_doc_graph", 3),  # staged pairs -> window + sort
        ("q100_embedding_cross_dedup", 3),  # bucket hash + applyInPandas + sort
        # round-8 second batch (q103-q107), measured + headroom:
        ("q103_chunk_dedup_rewrite", 6),  # first-occurrence agg + join-back + doc agg + sort (staged chunks)
        ("q104_weighted_sample", 4),  # salted window + source window + sort
        ("q105_rolling_zscore", 3),  # ONE WindowExec pass (3 frame aggs share it) + sort
        ("q106_source_overlap", 8),  # sizes agg + per-shingle fold + pair agg + 2 bcast joins + sort
        # q107 (re-pinned round 17): the rank-rebuild join is fused
        # into the per-iteration aggregation (symmetric graph:
        # count(*) of received contributions == degree) and the rank
        # frames are no longer staged — each has exactly ONE consumer,
        # so the whole 3-iteration loop is one linear plan above the
        # staged edges. The static plan therefore SHOWS the loop's
        # exchanges (degree agg + per-iteration join+agg; measured 8)
        # where the old per-iteration staging hid all but the final
        # round behind InMemoryTableScan leaves (old pin 7 counted
        # only that last round). Runtime dropped 7.6 -> 4.2 s at
        # sf0.1 (min-of-3); at execution AQE broadcasts the node-sized
        # rank side, so the edges are never reshuffled locally.
        ("q107_doc_pagerank", 9),
    ):
        df = all_specs()[name].spark(spark, SF)
        try:
            n = _exchanges_above_staging(df._jdf.queryExecution().executedPlan())
        finally:
            release_staging()
        assert n <= budget, f"{name}: {n} exchanges above staging (budget {budget})"


def test_round9_exchange_budgets(spark):
    """Round-9 additions (q109-q112), tree-walk budgets (staged
    subtrees excluded), measured + 1 headroom for AQE join swaps."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    for name, budget in (
        # per-doc agg + firsts agg + regroup + 2 doc-sized joins +
        # source agg + sort over the staged shingle frame (measured 7)
        ("q109_shingle_novelty", 8),
        # bucket hash partition -> applyInPandas GEMM -> sort
        # (measured 2; the per-pair scoring never shuffles)
        ("q110_quantized_ann", 3),
        # ONE mapInPandas pass; only the catalog sort shuffles
        ("q111_audio_frame_energy", 2),
        # grid agg + exact top-k TakeOrdered + probe bcast join +
        # min-agg (measured 3; the counter grid join must broadcast)
        ("q112_countmin_heavy_hitters", 4),
        # composes BOTH audited candidate generators (cap-free truth
        # jaccard + minhash LSH) + outer join + one conditional agg
        # (measured 12; the generators dominate by design)
        ("q114_minhash_calibration", 14),
    ):
        df = all_specs()[name].spark(spark, SF)
        try:
            n = _exchanges_above_staging(df._jdf.queryExecution().executedPlan())
        finally:
            release_staging()
        assert n <= budget, f"{name}: {n} exchanges above staging (budget {budget})"


def test_round9b_exchange_budgets(spark):
    """Round-9b additions (q115-q118), tree-walk budgets, measured + 1
    headroom for AQE join swaps. None of these stage, so the tree walk
    sees the whole plan."""
    for name, budget in (
        # manifest agg + catalog sort — assignment itself is a pure
        # scan-time projection (measured 2)
        ("q115_shard_shuffle", 3),
        # one co-partitioned full-outer join (2 sides) + source agg +
        # sort (measured 4); a regression that re-shuffles the CASE
        # classification or aggs per side blows this
        ("q116_snapshot_diff", 5),
        # one (source, lang) hash agg + sort (measured 2); the three
        # regexp token counts must stay inside the scan projection
        ("q117_tokenizer_fertility", 3),
        # per-key agg + per-bucket agg + sort (measured 3); no join,
        # no window — the audit must stay immune to the skew it reads
        ("q118_key_skew_audit", 4),
        # pair-distinct + per-cand agg + text join-backs + sort
        # (measured 7); the bench side must stay broadcast — a
        # regression that shuffles the bench shingles or texts blows
        # this budget
        ("q119_fuzzy_decontam", 8),
        # one corpus hash agg + grid join + 6-row window + sort
        # (measured 3); corpus size must touch exactly one exchange
        ("q120_filter_ablation", 4),
        # all three window passes (lag / row_number / lead) share ONE
        # user_id exchange + catalog sort (measured 2); a regression
        # that re-shuffles between the change filter and the interval
        # windows blows this
        ("q122_scd2_history", 3),
        # posexplode is narrow; (label,pos) agg + label agg + sort
        # (measured 3)
        ("q123_embedding_space_audit", 4),
        # corpus agg to cells (staged) + totals regroup + join + sort
        # (measured 3 above staging; 5 unstaged — the stage is
        # load-bearing)
        ("q124_lang_confusion", 4),
        # staged cells + three tiny regroups + joins + sort (measured
        # 7 above staging; 11 unstaged — four corpus derivations
        # without the stage)
        ("q125_shard_mixture_audit", 8),
        # percentile agg + broadcast bounds back + clip agg + sort
        # (measured 4); the bounds join must stay broadcast — a
        # shuffled bounds join re-partitions the corpus twice
        ("q126_winsorized_stats", 5),
    ):
        from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
            release_staging,
        )

        df = all_specs()[name].spark(spark, SF)
        try:
            n = _exchanges_above_staging(df._jdf.queryExecution().executedPlan())
        finally:
            release_staging()
        assert n <= budget, f"{name}: {n} exchanges (budget {budget})"


def test_round10_exchange_budgets(spark):
    """Round-10 additions (q127-q131 minus the streaming q129),
    tree-walk budgets (staged subtrees excluded), measured + 1
    headroom for AQE join swaps. Measured in round 11, AFTER the q127
    scan-side rewrite."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    for name, budget in (
        # round-11 rewrite: top_bigram_n is a run-length fold over
        # sort_array(bg) INSIDE the scan, so the catalog ORDER BY is
        # the plan's ONLY exchange (measured 1; round 10's explode +
        # (doc,bigram) count + re-fold shape measured 3 and was the
        # slowest catalog query at sf0.1). A regression that
        # reintroduces a corpus-sized bigram exchange blows this.
        ("q127_gopher_repetition", 2),
        # register max-agg (partials collapse to <=256 rows/source
        # map-side) + exact-count agg + regroup + bcast join + sort
        # over the staged shingle frame (measured 5); the exchange
        # must carry registers, never shingles
        ("q128_hll_distinct", 6),
        # split sizes agg + shingle distinct + train-side distinct +
        # left-semi join + contaminated agg + bcast join + sort
        # (measured 7); the semi join is bounded by eval-split
        # shingles — a regression that materializes train x eval
        # pairs blows the no-cartesian gate first, this one second
        ("q130_split_leakage", 8),
        # per-doc bigram dedup is scan-side (array_distinct before
        # explode); df agg + TakeOrdered(64) + 64-row bcast join back
        # onto the staged frame + coverage agg + sort (measured 4);
        # the boilerplate set join must stay broadcast
        ("q131_boilerplate_coverage", 5),
    ):
        df = all_specs()[name].spark(spark, SF)
        try:
            n = _exchanges_above_staging(df._jdf.queryExecution().executedPlan())
        finally:
            release_staging()
        assert n <= budget, f"{name}: {n} exchanges (budget {budget})"


def test_round11_exchange_budgets(spark):
    """Round-11 additions (q132-q133; the streaming q134 drains a
    stream, not a plan build), tree-walk budgets (staged subtrees
    excluded), measured + 1 headroom for AQE join swaps."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    for name, budget in (
        # ALL nine exchanges are bench/bit-set-sized or broadcasts:
        # 3 bit-projection distincts over the staged bench frame + 3
        # broadcast ships of those <=2^16-row sets + the exact-marker
        # broadcast + ONE probe-sized source agg + sort (measured 9).
        # The probe stream itself must never shuffle before its agg —
        # a regression that sort-merge-joins the corpus against the
        # bench set blows this immediately.
        ("q132_bloom_decontam", 10),
        # histogram agg (collapses map-side to <=~60 rows/source) +
        # ONE shared window pass over histogram rows + est agg + the
        # exact-median doc window + broadcast join + sort (measured
        # 5); only the histogram agg and the truth-column window are
        # document-sized
        ("q133_hist_quantiles", 6),
        # chunk-hash df agg + join-back over the staged chunk frame
        # (co-partitioned on the SAME key) + doc agg + sort (measured
        # 5); a regression that collect_list-explodes per chunk hash
        # (the viral-boilerplate skew blob) changes the shape and
        # should be caught in review — this pin catches the cheaper
        # failure of an extra corpus re-shuffle
        ("q135_cdc_chunk_dedup", 6),
    ):
        df = all_specs()[name].spark(spark, SF)
        try:
            n = _exchanges_above_staging(df._jdf.queryExecution().executedPlan())
        finally:
            release_staging()
        assert n <= budget, f"{name}: {n} exchanges (budget {budget})"


def test_round12_exchange_budgets(spark):
    """Round-12 additions (q137; the streaming q136 drains a stream,
    not a plan build — its shape evidence is the planted stream-
    equals-batch test + crash-resume in test_stateful.py), tree-walk
    budgets (staged subtrees excluded), measured + 1 headroom."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    for name, budget in (
        # The count is high but EVERY exchange above staging is
        # sketch-sized (<= |pairs| x 256 rows) or a broadcast: the
        # pairwise audit rebuilds four tiny faces (source list x2 +
        # broadcast pairs x2, pair-register merge + its estimate
        # regroup, per-source estimate regroup + broadcast x2, exact
        # pair agg + broadcast) + the catalog sort (measured 14). The
        # ONLY corpus-sized structures are inside the staged shingle/
        # register builds (one Arrow pass + the register max-agg that
        # collapses map-side) and the exact-truth h-join, which AQE
        # broadcasts at test SF and sort-merges co-partitioned at
        # scale. A regression that exchanges shingles where registers
        # should flow shows up in the STAGED subtree, caught by the
        # q128 pin; this pin catches pairwise-face regressions.
        ("q137_hll_overlap", 15),
    ):
        df = all_specs()[name].spark(spark, SF)
        try:
            n = _exchanges_above_staging(df._jdf.queryExecution().executedPlan())
        finally:
            release_staging()
        assert n <= budget, f"{name}: {n} exchanges (budget {budget})"


def test_round13_exchange_budgets(spark):
    """Round-13 additions (q138 repaired + its evidence kit, q139),
    tree-walk budgets (staged subtrees excluded), measured + 1
    headroom for AQE join swaps."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    for name, budget in (
        # The rank build inside the staged subtree (range exchange +
        # per-range window + 8-row offset broadcast) is excluded by
        # staging; above it: band join (probe explode ships 2x a
        # 3-column frame, co-partitioned hash on b) + candidate agg +
        # the two shingle-verification probes + pair agg + 2 UNHINTED
        # size joins (round-13 advisor: `sizes` is corpus-sized at
        # 100 TB, so no forced broadcast — Catalyst/AQE broadcasts at
        # bench SF from the staged frame's known tiny stats) + final
        # sort (measured 9; budget +2 allows AQE swapping both size
        # broadcasts for shuffle joins, +1 exchange each). A
        # regression that theta-joins grank ranges instead of the
        # band equi-join, or re-shuffles the corpus-sized shingle
        # frame per probe, blows this immediately.
        ("q138_sorted_neighborhood", 11),
        # 2 passes x (band join + explode ship) + the cross-pass pair
        # dedup agg + one verification (same shape as q138's tail,
        # same unhinted size joins) (measured 11; +2 swap headroom).
        # Only +2 over q138 for the second pass: the verification is
        # shared, which is the point of the pair-level
        # union-then-dedup before the shingle joins.
        ("q139_snm_multipass", 13),
        # 256-row bucket-distribution agg (map-side collapse; staged —
        # the totals and score projections read the 256-row frame, not
        # the corpus) + broadcast ships + per-doc agg + per-source agg
        # + sort (measured 6 after the q141 refactor derived totals
        # FROM the staged distribution). The one JOIN in the plan must
        # stay a BROADCAST of the 256-row score table onto the staged
        # token frame — pinned separately below — because a sort-merge
        # there would shuffle the corpus by bucket (256 hot keys: the
        # worst possible skew) for a table that fits in a closure.
        ("q140_dsir_reweight", 7),
    ):
        df = all_specs()[name].spark(spark, SF)
        try:
            n = _exchanges_above_staging(df._jdf.queryExecution().executedPlan())
        finally:
            release_staging()
        assert n <= budget, f"{name}: {n} exchanges (budget {budget})"


def test_shingle_queries_start_no_python_worker(spark):
    """Word shingling is JVM expressions (dedup._shingle_hash_rows):
    the queries built on it plan no Python-evaluation node, staged
    subtrees included (the plan string inlines them)."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    python_nodes = ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython", "BatchEvalPython")
    for name in (
        "q26_ngram_jaccard",
        "q55_jaccard_freq_capped",
        "q64_contamination_check",
        "q114_minhash_calibration",
        "q132_bloom_decontam",
    ):
        try:
            plan = plan_of(spark, name)
        finally:
            release_staging()
        assert not [p for p in python_nodes if p in plan], (name, plan)


def test_snm_rank_has_no_corpus_sized_single_partition(spark):
    """The distributed-rank claim as a plan pin: snm_global_rank must
    (a) range-partition the corpus (the RangePartitioner contract the
    design leans on), (b) compute the corpus row_number WINDOW
    partitioned by pid — a bare row_number() OVER (ORDER BY key) plans
    an unpartitioned window over the whole corpus, the one-task
    funnel naive SNM ports hit at scale — and (c) contain EXACTLY ONE
    SinglePartition exchange: the |partitions|-row offset frame
    (8 rows, a schema constant), nothing corpus-sized."""
    import re

    from aws_dla_kinesis_delivery_stream_example_spark.plans.curation11 import (
        snm_global_rank,
    )
    from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF, "documents")
    plan = (
        snm_global_rank(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "rangepartitioning" in plan.lower(), "corpus rank lost its range exchange"
    assert plan.count("SinglePartition") == 1, plan
    rn = re.search(r"row_number\(\) windowspecdefinition\(([a-z_]+)#", plan)
    assert rn and rn.group(1) == "pid", (
        "corpus row_number window is not partitioned by pid — the "
        "one-task corpus funnel"
    )


def test_q140_score_join_is_broadcast_only(spark):
    """q140's scoring join (256-row score table onto the corpus-sized
    token frame) must plan as a BroadcastHashJoin and never sort-merge:
    a shuffle on bkt would funnel the whole corpus through 256 hot
    keys. The scalar-totals crossJoin is a broadcast nested loop (the
    documented 1-row exception)."""
    plan = plan_of(spark, "q140_dsir_reweight")
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    release_staging()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1


def test_window_queries_single_sort_per_key(spark):
    """q80's two window passes + session agg must share ONE user_id
    exchange — the same-partitioning reuse SCALE.md promises."""
    plan = plan_of(spark, "q80_session_funnel")
    assert plan.count("ShuffleExchange") + plan.count("Exchange hashpartitioning") <= 2


def test_partition_pruning_reaches_scan(spark):
    """q88's layout: the date BETWEEN must appear as PartitionFilters
    (directory-level pruning), and the scan must select only the 3
    surviving partitions of 30."""
    plan = plan_of(spark, "q88_partition_pruned_scan")
    assert "PartitionFilters: [" in plan
    pushed = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_date" in pushed and pushed.strip() != ""
    # directory-level selectivity: 3 of 30 daily partitions survive
    import re

    m = re.search(r"partition count: (\d+)", plan)
    if m:  # Spark reports the pruned count in the scan node
        assert int(m.group(1)) == 3


def test_grouping_sets_compiles_to_expand(spark):
    """q89: four aggregation granularities must run as ONE Expand pass
    + one shuffle — not four unioned scans."""
    plan = plan_of(spark, "q89_grouping_sets")
    assert "Expand" in plan
    assert plan.count("FileScan") == 1  # one pass over orders


def test_partitioned_gc_never_deletes_prefix_colliding_sf(spark, tmp_path, monkeypatch):
    """The materializer's GC must only collect stale copies of ITS OWN
    sf (exact sanitized name + 12-hex key): a different sf whose
    sanitized basename shares this one as a prefix (sf0 vs sf0.1 both
    start with 'sf0') must never be rmtree'd mid-scan."""
    import os
    import tempfile as _tf

    from aws_dla_kinesis_delivery_stream_example_spark.sources import partitioned as P

    from .conftest import SF_SMOKE

    tmpdir = _tf.gettempdir()
    sf_name, _ = P._name_parts(SF_SMOKE)
    # a prefix-colliding NEIGHBOR sf ('<sf_name>_1') with a live copy,
    # plus a stale copy of THIS sf (different 12-hex key) that IS fair game
    neighbor = os.path.join(tmpdir, f"spark_graft_events_by_date_{sf_name}_1_abcdef123456")
    stale = os.path.join(tmpdir, f"spark_graft_events_by_date_{sf_name}_000000000000")
    nonhex = os.path.join(tmpdir, f"spark_graft_events_by_date_{sf_name}_notahexkey12")
    for d in (neighbor, stale, nonhex):
        os.makedirs(d, exist_ok=True)
    try:
        P.materialize_partitioned_events(spark, SF_SMOKE)
        assert os.path.isdir(neighbor), "prefix-colliding sf was deleted"
        assert os.path.isdir(nonhex), "non-candidate dir was deleted"
        assert not os.path.isdir(stale), "stale same-sf copy should be GC'd"
    finally:
        for d in (neighbor, nonhex):
            os.path.isdir(d) and __import__("shutil").rmtree(d, ignore_errors=True)


def test_round14_exchange_budgets(spark):
    """Round-14 additions (q146; q143's scan-pass budget is pinned in
    test_exchange_budgets_hold, q145 is a streaming drain), tree-walk
    budgets (staged subtrees excluded), measured + headroom for AQE
    join swaps."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    for name, budget in (
        # The decode pipeline (synthesize -> BMP parse -> dHash pack)
        # lives inside the STAGED signature subtree — excluded, and
        # that's the point: four plan arms read signatures, zero
        # re-decode the corpus. Above the stage: band self-join +
        # candidate distinct agg + two verify sig joins + final sort
        # (measured 5 with all three joins broadcast at bench SF;
        # budget +3 allows AQE swapping every UNHINTED broadcast for
        # a co-partitioned shuffle join at scale, +1 exchange each).
        # A regression that re-plans the hash as a cartesian or ships
        # the payload column through an exchange blows this.
        ("q146_image_dhash_dedup", 8),
        # (lang, tok) count agg (map-side combined — the corpus's one
        # exchange) + the |vocab|-frame repartition for the per-lang
        # rank/cum windows and final agg + sort (measured 3; +1
        # headroom). A fourth exchange means the windows stopped
        # sharing the lang partitioning.
        ("q147_vocab_coverage", 4),
        # token agg + 1-row totals agg + its broadcast + |sources|-row
        # projections + sort (measured 5; +1 headroom) — q67's
        # geometry: the corpus crosses exactly one exchange.
        ("q148_temperature_mixture", 6),
        # label + token count are one scan-side codegen pass; the
        # (source, reason) agg map-side combines before its exchange;
        # share window + sort touch the <= 5*|sources|-row ledger
        # (measured 3; +1 headroom). The corpus crosses ONE exchange —
        # the q143 cheapest-class shape.
        ("q149_attrition_ledger", 4),
    ):
        df = all_specs()[name].spark(spark, SF)
        try:
            n = _exchanges_above_staging(df._jdf.queryExecution().executedPlan())
        finally:
            release_staging()
        assert n <= budget, f"{name}: {n} exchanges (budget {budget})"


def test_q146_payload_never_crosses_an_exchange(spark):
    """The multimodal house rule as a plan pin, not a docstring claim:
    every Exchange in q146's executed plan must ship signature/pair
    columns only — the BMP payload bytes stay behind in the scan
    stage. Walk every Exchange node and assert no binary 'payload'
    column in its output schema."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    df = all_specs()["q146_image_dhash_dedup"].spark(spark, SF)
    try:
        plan = df._jdf.queryExecution().executedPlan()

        def walk(node, out):
            name = node.nodeName()
            if "Exchange" in name:
                out.append(node.schemaString())
            if "AdaptiveSparkPlan" in name:
                walk(node.executedPlan(), out)
            elif "QueryStage" in name:
                walk(node.plan(), out)
            it = node.children().iterator()
            while it.hasNext():
                walk(it.next(), out)

        schemas: list[str] = []
        walk(plan, schemas)
        assert schemas, "no exchanges found — plan shape changed?"
        offenders = [s for s in schemas if "payload" in s]
        assert offenders == [], f"payload bytes cross an exchange: {offenders[:1]}"
    finally:
        release_staging()


def test_round15_exchange_budgets(spark):
    """Round-15 addition (q151; q152 is a streaming drain), tree-walk
    budget with the staged subtree excluded: the staged flagged-counter
    frame holds the corpus scan + its ONE exchange (the map-side
    combined (source, domain) agg) + the broadcast blocklist flag;
    above it sit the per-source rollup exchange, the top-domain window
    repartition, and the final sort (measured 3; +2 allows AQE
    swapping the left-outer rollup/top join strategy). A regression
    that un-stages the counter frame re-derives the corpus scan in
    both join arms and blows this."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    df = all_specs()["q151_domain_blocklist"].spark(spark, SF)
    try:
        n = _exchanges_above_staging(df._jdf.queryExecution().executedPlan())
    finally:
        release_staging()
    assert n <= 5, f"q151_domain_blocklist: {n} exchanges (budget 5)"


def test_round15b_exchange_budgets(spark):
    """Round-15 second batch (q153; q154 is a streaming drain): the
    mojibake plant, length-arithmetic detection, chained literal
    repair, and residual re-scan are ONE scan-side codegen pass; the
    only exchanges are the |sources|-row agg and the final sort.
    Pinned EXACTLY at the measured 2 (the q143 precedent — no joins
    here, so no AQE strategy swap can legitimately add an exchange;
    round-15 review: +1 headroom would let the very regression this
    test documents ship silently): a third exchange means the audit
    stopped collapsing map-side — the cheapest-class shape regressed."""
    df = all_specs()["q153_mojibake_audit"].spark(spark, SF)
    n = _exchanges_above_staging(df._jdf.queryExecution().executedPlan())
    assert n <= 2, f"q153_mojibake_audit: {n} exchanges (budget 2)"


def test_round16_exchange_budgets(spark):
    """Round-16 addition (q155; q156 is a streaming drain), tree-walk
    budget with the staged subtree excluded: the staged occurrence
    frame is scan-side NARROW (plant + split + posexplode + hash —
    zero exchanges inside), and above it sit the two-level df/first
    aggs (lhash,doc then lhash), the keep join-back, the per-doc
    reassembly agg, the per-doc-totals join, the per-source rollup,
    and the final sort.  Measured 7 at the pin SF (both corpus-sized
    joins resolved broadcast by AQE — UNHINTED, so at real scale AQE
    swaps them to shuffle joins); +1 allows ONE such strategy swap to
    surface here without failing the pin, a second means a shuffle
    crept into the scan-side or agg stages — the actual regression
    this guards."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    df = all_specs()["q155_line_dedup_rewrite"].spark(spark, SF)
    try:
        plan = df._jdf.queryExecution().executedPlan()
        n = _exchanges_above_staging(plan)
        assert "CartesianProduct" not in plan.toString()
    finally:
        release_staging()
    assert n <= 8, f"q155_line_dedup_rewrite: {n} exchanges (budget 8)"


def test_round16b_exchange_budgets(spark):
    """Round-16 second batch (q157; q158 is a streaming drain),
    tree-walk budget with staged subtrees excluded: the staged vocab
    frame holds the reference scan + its ONE token agg exchange; the
    staged counter frame holds the corpus tokenize + the UNHINTED
    vocab join + the per-doc agg exchange; above them sit the bucket
    rollup, the per-source totals agg, their small join, and the
    final sort.  Measured 4 at the pin SF (AQE broadcasts the
    Zipf-bounded vocab and the |sources|-row totals); +2 allows AQE
    strategy swaps on those two joins at other size estimates — a
    third extra exchange means a shuffle crept into the scan-side
    stages."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    df = all_specs()["q157_perplexity_buckets"].spark(spark, SF)
    try:
        plan = df._jdf.queryExecution().executedPlan()
        n = _exchanges_above_staging(plan)
        assert "CartesianProduct" not in plan.toString()
    finally:
        release_staging()
    assert n <= 6, f"q157_perplexity_buckets: {n} exchanges (budget 6)"


def test_round17_exchange_budgets(spark):
    """Round-17 addition (q159; q160 is a streaming drain), tree-walk
    budget with staged subtrees excluded: the staged pair frame holds
    the reference pairing scan + its ONE (prev, tok) agg exchange, and
    the staged ctx / vocab frames each hold one re-agg of that
    Zipf-bounded frame; above them sit the corpus pairing scan, the
    THREE UNHINTED model joins (pair table, context counts, backoff
    unigrams), the per-doc agg exchange, the bucket rollup, the
    per-source totals agg, their small join, and the final sort.
    Measured 4 at the pin SF (AQE broadcasts all three Zipf-bounded
    model frames and the |sources|-row totals); +3 allows ONE AQE
    strategy swap per unhinted model join at other size estimates — a
    fourth extra exchange means a shuffle crept into the scan-side
    stages."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    df = all_specs()["q159_bigram_ppl_buckets"].spark(spark, SF)
    try:
        plan = df._jdf.queryExecution().executedPlan()
        n = _exchanges_above_staging(plan)
        assert "CartesianProduct" not in plan.toString()
    finally:
        release_staging()
    assert n <= 7, f"q159_bigram_ppl_buckets: {n} exchanges (budget 7)"


def test_round17b_exchange_budgets(spark):
    """Round-17 second batch (q161; q162 is a streaming drain),
    tree-walk budget with staged subtrees excluded: the staged class
    vocabularies each hold one token-agg exchange and the staged
    weight frame their FULL OUTER join; above them sit the corpus
    tokenize, the UNHINTED weight-dim LEFT join, the per-doc agg
    exchange, the label rollup, the per-source totals agg, their
    small join, and the final sort.  Measured 4 at the pin SF (AQE
    broadcasts the Zipf-bounded weight dim and the |sources|-row
    totals); +2 allows AQE strategy swaps on those two joins at
    other size estimates — a third extra exchange means a shuffle
    crept into the scan-side stages."""
    from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import (
        release_staging,
    )

    df = all_specs()["q161_llr_quality_filter"].spark(spark, SF)
    try:
        plan = df._jdf.queryExecution().executedPlan()
        n = _exchanges_above_staging(plan)
        assert "CartesianProduct" not in plan.toString()
    finally:
        release_staging()
    assert n <= 6, f"q161_llr_quality_filter: {n} exchanges (budget 6)"
