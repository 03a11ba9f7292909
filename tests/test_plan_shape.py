"""Physical-plan regression tests: the scale properties we depend on must
be visible in the plan, not just hoped for — filter pushdown reaching the
parquet scan, column pruning, broadcast joins keeping the fact table
shuffle-free, window top-k pushing a partial group-limit below the shuffle.
"""

from __future__ import annotations

import pytest

from etl_open_source_spark.registry import get_registry

REG = get_registry()


def _formatted_plan(spark, sf_dir, name: str) -> str:
    # Plan assertions must see the real scan, not an InMemoryTableScan
    # substituted from a DataFrame some earlier test left cached.
    spark.catalog.clearCache()
    df = REG[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_filter_pushed_and_columns_pruned(spark, sf_dir):
    plan = _formatted_plan(spark, sf_dir, "q_agg_groupby")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the 7 needed columns are read, not all 11
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_star_join_is_all_broadcast(spark, sf_dir):
    plan = _formatted_plan(spark, sf_dir, "q_join_broadcast")
    # 3 join nodes, each listed once in the tree and once in the details
    assert sum(1 for l in plan.splitlines() if l.strip().startswith("(") and "BroadcastHashJoin" in l) == 3
    assert "SortMergeJoin" not in plan
    # the only Exchanges are broadcast ones + the final tiny aggregation;
    # the orders fact is never hash-repartitioned for a join
    assert "ShuffledHashJoin" not in plan


def test_topk_uses_window_group_limit(spark, sf_dir):
    plan = _formatted_plan(spark, sf_dir, "q_topk_per_group")
    # partial top-k below the shuffle: only k rows per group move
    assert "WindowGroupLimit" in plan


def test_filter_pushdown_on_scan_query(spark, sf_dir):
    plan = _formatted_plan(spark, sf_dir, "q_filter_compare")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]" in plan


def test_semi_join_does_not_duplicate(spark, sf_dir):
    plan = _formatted_plan(spark, sf_dir, "q_join_semi")
    assert "LeftSemi" in plan


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """The bucketing decomposition must surface as a hash/sort-merge
    equi-join on the bucket id; a raw theta range join would plan a
    nested loop, which dies when both sides are large."""
    plan = _formatted_plan(spark, sf_dir, "q_join_range_bucketed")
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_funnel_single_exchange_for_window_chain(spark, sf_dir):
    """Three chained conditional-min windows + the per-user aggregate must
    share ONE (user_id) exchange; only the final tiny stage-count agg may
    add a second. Stage depth must not multiply shuffles."""
    plan = _formatted_plan(spark, sf_dir, "q_funnel")
    n_exchanges = _n_exchanges(plan)
    assert n_exchanges <= 2, plan


def test_sessionize_single_sort_no_join(spark, sf_dir):
    plan = _formatted_plan(spark, sf_dir, "q_ts_sessionize")
    assert "Join" not in plan
    n_exchanges = _n_exchanges(plan)
    assert n_exchanges == 1, plan


def test_ngram_dedup_joins_on_long_keys(spark, sf_dir):
    """Shingles must flow as 64-bit hashes: the self-join key is a long,
    and no n-gram concat() survives into the plan."""
    plan = _formatted_plan(spark, sf_dir, "q_dedup_ngram")
    assert "concat(" not in plan
    assert "xxhash64" in plan


def _n_exchanges(plan: str) -> int:
    return sum(
        1
        for l in plan.splitlines()
        if l.strip().startswith("(") and "Exchange" in l and "Reused" not in l
    )


@pytest.mark.parametrize(
    "name, exchanges, persists",
    [
        ("q_dedup_ngram", 7, 6),
        ("q_dedup_near", 5, 3),
        ("q_dedup_containment", 12, 10),
        ("q_graph_link_jaccard", 18, 4),
    ],
)
def test_set_join_plan_shape_pinned(spark, sf_dir, name, exchanges, persists):
    """The prefix-filter set-join queries (operators/setjoin.py) keep the
    Exchange count and the cached-relation scans they had when each
    operator carried its own copy of the join."""
    plan = _formatted_plan(spark, sf_dir, name)
    assert _n_exchanges(plan) == exchanges, plan
    n_cached = sum(
        1 for l in plan.splitlines() if l.strip().startswith("(") and "InMemoryTableScan" in l
    )
    assert n_cached == persists, plan


def test_doc_chunk_is_scan_local(spark, sf_dir):
    """Chunking must be a pure map stage: generator explode over the scan,
    no shuffle anywhere — that's what lets 100 TB chunk at scan speed."""
    plan = _formatted_plan(spark, sf_dir, "q_doc_chunk")
    assert "Exchange" not in plan
    assert "Generate" in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "lang" not in read_schema and "source" not in read_schema


def test_pii_redact_is_scan_local(spark, sf_dir):
    plan = _formatted_plan(spark, sf_dir, "q_pii_redact")
    assert "Exchange" not in plan


def test_pack_concat_single_shard_exchange(spark, sf_dir):
    """Packing's running sum must be one partitioned window over the shard
    key — a global (unpartitioned) sort would serialize the corpus."""
    plan = _formatted_plan(spark, sf_dir, "q_pack_concat")
    assert _n_exchanges(plan) == 1, plan
    assert "SinglePartition" not in plan, plan


def test_unpivot_expands_without_join(spark, sf_dir):
    """Wide→long must be an Expand inside the scan stage (4× rows, 0
    shuffles to build the long form), never a self-union of 4 scans."""
    plan = _formatted_plan(spark, sf_dir, "q_unpivot")
    assert "Expand" in plan
    assert "Union" not in plan and "Join" not in plan
    assert _n_exchanges(plan) == 1, plan  # only the 4-group aggregation


def _n_scans(plan: str) -> int:
    return sum(
        1
        for l in plan.splitlines()
        if l.strip().startswith("(") and "Scan parquet" in l
    )


def test_histogram_single_pass(spark, sf_dir):
    """Static bin edges: exactly one aggregation exchange, no second scan
    for data-derived bounds."""
    plan = _formatted_plan(spark, sf_dir, "q_histogram")
    assert _n_exchanges(plan) == 1, plan
    assert _n_scans(plan) == 1, plan


def test_agg_filtered_single_aggregate(spark, sf_dir):
    """All five conditional branches must fold into ONE grouped pass."""
    plan = _formatted_plan(spark, sf_dir, "q_agg_filtered")
    assert _n_exchanges(plan) == 1, plan
    assert _n_scans(plan) == 1, plan


def test_bigrams_no_self_join(spark, sf_dir):
    """Adjacent pairs come from array zip, not a pos/pos+1 self-join; the
    top-50 cut is a TakeOrdered, not a global sort."""
    plan = _formatted_plan(spark, sf_dir, "q_text_bigrams")
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_cdc_apply_single_key_shuffle(spark, sf_dir):
    plan = _formatted_plan(spark, sf_dir, "q_cdc_apply")
    assert "Join" not in plan
    assert _n_exchanges(plan) == 1, plan


def test_skew_salted_join_runs_on_salted_key(spark, sf_dir):
    """The salted join must not degenerate into a broadcast of the
    replicated small side being re-collected per row — any equi-join on
    (key, salt) is fine; a NestedLoop is not."""
    plan = _formatted_plan(spark, sf_dir, "q_join_skew_salted")
    assert "NestedLoop" not in plan


def test_fuzzy_match_blocked_equi_join(spark, sf_dir):
    """The fuzzy self-match must candidate-generate through an equi-join on
    the block key — never a cartesian/nested-loop over all name pairs, and
    the Levenshtein verify must sit above the join as a filter, not inside
    a UDF."""
    plan = _formatted_plan(spark, sf_dir, "q_fuzzy_match")
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "levenshtein" in plan
    assert "Python" not in plan  # built-in expression, no UDF crossing


def test_tfidf_window_group_limit(spark, sf_dir):
    """The per-doc top-5 must prune below the shuffle (partial
    WindowGroupLimit), and the 1-row corpus-size side must be the only
    nested-loop join (a 1-row broadcast cross is free; anything bigger
    nested-looping would be a plan bug)."""
    plan = _formatted_plan(spark, sf_dir, "q_text_tfidf")
    assert plan.count("WindowGroupLimit") >= 2  # partial below + final above
    tree = [l for l in plan.splitlines() if l.strip().startswith("(")]
    assert sum(1 for l in tree if "BroadcastNestedLoopJoin" in l) <= 1


def test_hll_merge_two_phase_object_agg(spark, sf_dir):
    """Sketch aggregation must run as two-phase ObjectHashAggregate
    (partial sketches map-side, merged after one key shuffle) — the
    property that makes the daily-sketch-table pattern one-scan."""
    plan = _formatted_plan(spark, sf_dir, "q_agg_hll_merge")
    assert "ObjectHashAggregate" in plan
    assert "SortAggregate" not in plan  # sketches never fall back to sort agg


def test_zorder_bucket_locality(spark, sf_dir):
    """The z-bucket assignment must be scan-local (one aggregation
    exchange, no join) and each of the 2^6 buckets must cover a bounded
    128x128 tile of the 1024x1024 key space — the property that makes
    per-bucket file stats prunable on both dimensions."""
    plan = _formatted_plan(spark, sf_dir, "q_layout_zorder")
    assert "Join" not in plan
    assert _n_exchanges(plan) <= 2, plan  # agg + final orderBy range
    pdf = REG["q_layout_zorder"].fn(spark, sf_dir).toPandas()
    assert ((pdf.max_x - pdf.min_x) < 128).all()
    assert ((pdf.max_y - pdf.min_y) < 128).all()


def test_orc_roundtrip_native_scan(spark, sf_dir):
    """The re-read must come back through Spark's native ORC columnar scan
    (not a fallback row reader) with one aggregation exchange."""
    plan = _formatted_plan(spark, sf_dir, "q_sink_orc_roundtrip")
    assert "Scan orc" in plan
    assert sum(1 for l in plan.splitlines()
               if l.strip().startswith("(") and "Exchange" in l
               and "Reused" not in l) <= 2  # agg + final orderBy


def test_variant_access_is_scan_local(spark, sf_dir):
    """parse_json + typed variant_get must stay a pure map stage: no
    shuffle, no Python crossing — schemaless access at scan speed."""
    plan = _formatted_plan(spark, sf_dir, "q_fn_variant")
    assert "Exchange" not in plan
    assert "Python" not in plan


# ---------------------------------------------------------- curation family


def test_decontaminate_benchmark_is_broadcast(spark, sf_dir):
    """The benchmark shingle set must be the broadcast side — the corpus
    (100 TB at scale) is scanned and hash-probed, never sort-merge
    shuffled against the benchmark."""
    plan = _formatted_plan(spark, sf_dir, "q_text_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mix_domains_corpus_scan_local(spark, sf_dir):
    """Domain stats join back broadcast; the keep/drop filter runs on the
    scan side. No sort-merge join of the corpus against anything."""
    plan = _formatted_plan(spark, sf_dir, "q_mix_domains")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dup_ngram_frac_semi_join(spark, sf_dir):
    """The frequent-shingle set joins back as a LEFT SEMI join. The join
    strategy is deliberately unpinned: the hint-free plan lets AQE pick a
    runtime broadcast when the frequent set is small (the normal case)
    and degrade to a shuffled join instead of OOMing when it is not —
    either strategy is a correct plan, so the test tolerates both."""
    plan = _formatted_plan(spark, sf_dir, "q_text_dup_ngram_frac")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or (
        "ShuffledHashJoin" in plan
    )


def test_embedding_quantize_zero_shuffle(spark, sf_dir):
    """Quantization is pure per-row arithmetic: no Exchange anywhere."""
    plan = _formatted_plan(spark, sf_dir, "q_embedding_quantize")
    assert "Exchange" not in plan


def test_text_entropy_two_aggregates(spark, sf_dir):
    """Explode + (id,ch) aggregate + (id) aggregate + output sort: at most
    three exchanges, all partial-aggregated map-side first."""
    plan = _formatted_plan(spark, sf_dir, "q_text_entropy")
    n_exchanges = _n_exchanges(plan)
    assert n_exchanges <= 3, plan
    assert "HashAggregate" in plan


def test_knn_graph_broadcast_and_group_limit(spark, sf_dir):
    """The n² scoring join must be broadcast (never a shuffled cartesian)
    with a per-query group limit pushed below the rank shuffle
    (WindowGroupLimit). The mutual join on the n·k edge list MAY
    sort-merge — that is the correct shape when edge lists outgrow a
    broadcast at scale — but the score matrix must not."""
    plan = _formatted_plan(spark, sf_dir, "q_sim_knn_graph")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_ohlc_single_aggregate_no_window(spark, sf_dir):
    """OHLC via min_by/max_by must be ONE grouped aggregate (single
    exchange on the group key) — no window pass, no sort, no join."""
    plan = _formatted_plan(spark, sf_dir, "q_ts_resample_ohlc")
    n_exchanges = _n_exchanges(plan)
    assert n_exchanges == 1, plan
    assert "Window" not in plan and "Join" not in plan


def test_lm_score_vocab_join_strategy_unpinned(spark, sf_dir):
    """The vocab join is deliberately hint-free (VERDICT r6): AQE
    broadcasts the frequency table when its runtime size qualifies (the
    fixture case) and degrades to a shuffled join instead of OOMing on a
    web-scale vocabulary — either strategy is a correct plan, so the
    test tolerates both (mirrors test_dup_ngram_frac_semi_join). What
    must NOT appear is a nested-loop join of the word stream."""
    plan = _formatted_plan(spark, sf_dir, "q_text_lm_score")
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )
    assert "CartesianProduct" not in plan


def test_url_normalize_scan_local_plus_one_window(spark, sf_dir):
    """The regexp chain is scan-local; the only exchange is the canonical
    -key window for collision counts."""
    plan = _formatted_plan(spark, sf_dir, "q_url_normalize")
    n_exchanges = _n_exchanges(plan)
    assert n_exchanges == 1, plan
    assert "Join" not in plan


def test_multimodal_python_stages_single_hop_no_shuffle(spark, sf_dir):
    """Each multimodal Python stage must be exactly ONE Arrow-batched
    MapInPandas over the scan — one JVM<->Python hop, zero exchanges."""
    for name in ("q_multimodal_resize", "q_multimodal_audio_chunks"):
        plan = _formatted_plan(spark, sf_dir, name)
        assert plan.count("MapInPandas") >= 1, name
        n_nodes = sum(
            1 for l in plan.splitlines()
            if l.strip().startswith("(") and "MapInPandas" in l
        )
        assert n_nodes == 1, (name, plan)
        assert "Exchange" not in plan, (name, plan)


@pytest.mark.parametrize(
    "name", ["q_tpch_q5", "q_tpch_q8", "q_tpch_q9", "q_tpch_q18", "q_tpch_q21"]
)
def test_tpch_heavies_no_degenerate_joins(spark, sf_dir, name):
    """The heavy multi-join TPC-H queries must never plan a cartesian or
    nested-loop join — every join is an equi hash/merge join (broadcast
    at fixture scale; shuffled-hash/sort-merge on real clusters)."""
    plan = _formatted_plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_partition_pruned_scan_has_partition_filter(spark, sf_dir):
    """The partition-column predicate must prune directories at planning
    time (PartitionFilters on the scan), not filter rows after reading."""
    plan = _formatted_plan(spark, sf_dir, "q_scan_partition_pruned")
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderstatus" in m.group(1), plan[:2000]


def test_snapshot_diff_is_one_full_outer_merge(spark, sf_dir):
    """The snapshot diff must be a single key-partitioned full-outer
    sort-merge join — never a nested-loop/cartesian shape — so it stays
    linear when both snapshots are 100 TB."""
    plan = _formatted_plan(spark, sf_dir, "q_snapshot_diff")
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_lookup_is_equi_join_with_residual(spark, sf_dir):
    """The point-in-time lookup must run as a key equi-join (hash/merge;
    broadcast at fixture scale) with the validity bounds as a residual
    filter — a nested-loop over the range predicate would be quadratic."""
    plan = _formatted_plan(spark, sf_dir, "q_scd2_lookup")
    assert any(
        j in plan for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ts_anomaly_checkpoints_median_three_scans(spark, sf_dir):
    """The MAD chain is two sequential aggregate passes + one flagging
    pass = exactly 3 corpus scans total: the per-user median frame is
    materialized once via eager localCheckpoint (without it Spark inlines
    the median subtree into both consumers → 4 scans; with persist() the
    CacheManager entry leaks across invocations). The returned plan
    therefore shows 2 parquet scans + 2 checkpoint-RDD scans, and the
    stats always broadcast — the corpus is never shuffled."""
    plan = _formatted_plan(spark, sf_dir, "q_ts_anomaly")
    lines = [l for l in plan.splitlines() if l.strip().startswith("(")]
    assert sum("Scan parquet" in l for l in lines) == 2, plan
    assert sum("ExistingRDD" in l for l in lines) == 2, plan
    assert "InMemoryRelation" not in plan  # no CacheManager pin
    assert "SortMergeJoin" not in plan


def test_winsorize_broadcasts_percentiles(spark, sf_dir):
    """Group-cardinality percentile stats broadcast back onto the fact
    scan; the corpus is never hash-exchanged for the join."""
    plan = _formatted_plan(spark, sf_dir, "q_winsorize")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pair_cooccurrence_single_shuffle_no_join(spark, sf_dir):
    """collect_set + scan-local pair generation: one scan, two hash
    exchanges (basket key, then pair counts), and NO join node at all —
    the self-join formulation either re-shuffles or duplicates the dedup
    subtree."""
    plan = _formatted_plan(spark, sf_dir, "q_pair_cooccurrence")
    lines = [l for l in plan.splitlines() if l.strip().startswith("(")]
    assert sum("Scan parquet" in l for l in lines) == 1, plan
    assert sum("Exchange" in l and "Broadcast" not in l for l in lines) == 2, plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_cohort_retention_one_customer_exchange(spark, sf_dir):
    """collect_set formulation: exactly two hash exchanges (customer key +
    final matrix aggregate) and one scan — the distinct+window variant
    pays a third exchange because its partitionings differ."""
    plan = _formatted_plan(spark, sf_dir, "q_cohort_retention")
    lines = [l for l in plan.splitlines() if l.strip().startswith("(")]
    scans = sum("Scan parquet" in l for l in lines)
    exchanges = sum("Exchange" in l and "Broadcast" not in l for l in lines)
    assert scans == 1, plan
    assert exchanges == 2, plan


def test_skyline_no_sort_merge_join(spark, sf_dir):
    """Skyline's join-backs attach bucket-survivor groups (tiny) to rows:
    they must broadcast, never SortMergeJoin — the only wide exchange is
    the bucket window over the input."""
    plan = _formatted_plan(spark, sf_dir, "q_skyline_pareto")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_pagerank_lineage_truncated_per_round(spark, sf_dir):
    """Each iteration localCheckpoints its ranks (VERDICT r6 #6), so the
    FINAL plan must scan the round-N checkpoint RDD — not nest rounds
    1..N-1 (the nested form makes Catalyst re-analysis superlinear in
    `iters`). Consequently the lineitem fact subtree must NOT appear in
    the final plan at all: the 4-way edge build ran once, inside the
    (persisted) iteration, and only the checkpointed ranks + the
    dimension join-back remain. Deep-iteration completion is pinned by
    test_pagerank_deep_iteration_no_plan_blowup."""
    plan = _formatted_plan(spark, sf_dir, "q_graph_pagerank")
    assert "ExistingRDD" in plan
    assert "lineitem" not in plan


def test_reservoir_pushes_window_group_limit(spark, sf_dir):
    """rank<=k must push below the stratum shuffle as a WindowGroupLimit
    (partial mode) so no stratum materializes beyond k rows post-shuffle."""
    plan = _formatted_plan(spark, sf_dir, "q_sample_reservoir")
    assert "WindowGroupLimit" in plan


def test_sorted_neighborhood_one_exchange_no_join(spark, sf_dir):
    # SNM's selling point is predictable cost: ONE shuffle (the per-block
    # window sort), pair generation scan-local via lead() — any join node
    # here means the operator regressed to a self-join formulation.
    plan = _formatted_plan(spark, sf_dir, "q_dedup_sorted_neighborhood")
    assert sum(1 for l in plan.splitlines()
               if l.strip().startswith("(") and "Exchange" in l) == 1
    assert "Join" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_link_prediction_no_cartesian_and_hub_guard_broadcast(spark, sf_dir):
    # Candidates must come from the common-neighbor equi-join (keyed on
    # the pivot), never a cross product; the small-degree pivot filter
    # rides a broadcast join.
    plan = _formatted_plan(spark, sf_dir, "q_graph_link_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_assoc_rules_single_pair_mine_basket_count_broadcast(spark, sf_dir):
    # The 1-row basket count must broadcast (a nested-loop join against
    # one row is fine; a shuffle for it is not), and the pair mine stays
    # the no-self-join explode shape (no join on l_orderkey).
    plan = _formatted_plan(spark, sf_dir, "q_assoc_rules")
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_rolling_distinct_explodes_not_nested_loop(spark, sf_dir):
    # Each event explodes into its 7 window days (bounded fan-out) and the
    # day-dimension check rides a broadcast SEMI join — a range-condition
    # nested loop (|days| x |events| comparisons) must never come back.
    plan = _formatted_plan(spark, sf_dir, "q_window_distinct_rolling")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan or "Generate" in plan
    assert "LeftSemi" in plan


def test_cusum_single_corpus_shuffle(spark, sf_dir):
    # Daily aggregate (partial/final) then event_type-partitioned windows:
    # the corpus crosses the wire once on event_type+day, then once more
    # only for the per-type window repartition — no join anywhere.
    plan = _formatted_plan(spark, sf_dir, "q_ts_cusum")
    assert "Join" not in plan
    assert "Python" not in plan


def test_interval_overlap_equi_join_not_cartesian(spark, sf_dir):
    # The whole point of the bucketed decomposition: the overlap theta
    # predicate must ride an equi-join on the bucket id, never a
    # nested-loop/cartesian.
    plan = _formatted_plan(spark, sf_dir, "q_join_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_ivfpq_no_python_and_bucket_equi_join(spark, sf_dir):
    # Codebooks/centroids ride as literals/broadcasts; the corpus-side
    # bucket restriction must be an equi-join on the bucket id and the
    # whole pipeline stays JVM-side.
    plan = _formatted_plan(spark, sf_dir, "q_sim_ivfpq")
    # the 16-row centroid table scans as applySchemaToPythonRDD (a
    # driver-local list, not a Python eval stage) — assert on the actual
    # Python execution nodes instead of the bare substring
    for node in ("BatchEvalPython", "ArrowEval", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan, node
    assert "CartesianProduct" not in plan


def test_snm_multikey_two_window_passes_no_join(spark, sf_dir):
    # Two single-exchange window passes + a distinct; any Join node means
    # a pass regressed to a self-join formulation.
    plan = _formatted_plan(spark, sf_dir, "q_dedup_snm_multikey")
    assert "Join" not in plan
    assert "Python" not in plan


def test_skew_kurt_single_aggregate(spark, sf_dir):
    """Exact moments are ONE map-side-combinable aggregate: no window, no
    join, no second scan — the canonical 100 TB-safe statistic shape."""
    plan = _formatted_plan(spark, sf_dir, "q_agg_skew_kurt")
    assert "Window" not in plan and "Join" not in plan
    n_exchanges = _n_exchanges(plan)
    assert n_exchanges == 1, plan


def test_ks_integer_until_final_division(spark, sf_dir):
    """KS pre-aggregates per distinct value BEFORE the cumulative window
    (the fact table must never reach the window sort) and carries no
    join; two exchanges — the (prio, x) aggregate and the prio window."""
    plan = _formatted_plan(spark, sf_dir, "q_quality_ks")
    assert "Join" not in plan
    n_exchanges = _n_exchanges(plan)
    assert n_exchanges == 2, plan


def test_chisq_no_third_fact_scan(spark, sf_dir):
    """Chi-square scans events exactly twice (split-day probe + cells) —
    the totals come from windows over the n_types-row cell frame, not a
    separate aggregate that would rebuild the cells subtree."""
    plan = _formatted_plan(spark, sf_dir, "q_quality_chisq")
    n_scans = plan.count("events.parquet")
    assert n_scans <= 2, plan


def test_path_topk_single_user_exchange_take_ordered(spark, sf_dir):
    """The lag/running-sum/cap windows share ONE (user_id) sort; the path
    aggregate may add its own exchanges over session rows, but the top-10
    must compile to TakeOrdered — a global Sort of the path counts is the
    plan that dies at web-scale path cardinality."""
    plan = _formatted_plan(spark, sf_dir, "q_path_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_funnel_latency_shares_funnel_exchange_shape(spark, sf_dir):
    """Same stacked conditional-min windows as q_funnel: the user_id
    exchange is shared across all three windows + the per-user aggregate;
    only the final 1-row global aggregate may add one more."""
    plan = _formatted_plan(spark, sf_dir, "q_funnel_latency")
    n_exchanges = _n_exchanges(plan)
    assert n_exchanges <= 2, plan


def test_asof_null_route_pruned_scan_single_window_exchange(spark, sf_dir):
    """Pins the round-8 as-of NULL-key bypass cost model (VERDICT r8 #2):

    1. The NULL-key left branch must compile to its own scan with
       ``IsNull(user_id)`` PUSHED — parquet min/max stats then prune it to
       near-zero files on mostly-non-NULL keys. A regression to a
       post-scan filter (or a cached re-scan of the full left side) makes
       the bypass a full second pass over the corpus.
    2. The matched branch stays ONE single-key exchange for the as-of
       window itself — hashpartitioning on user_id alone. (The views-side
       groupBy dedup legitimately owns a second exchange on
       (user_id, ts); nothing else may appear.)
    3. The NULL route must not add exchanges: 2 total.
    """
    import re

    plan = _formatted_plan(spark, sf_dir, "q_join_asof")
    # (1) isnull pushed to the storage layer, not just a Filter node
    assert re.search(r"PushedFilters: \[[^\]]*IsNull\(user_id\)", plan), plan
    # (2) exactly one single-key window exchange on user_id
    single_key = re.findall(r"hashpartitioning\(user_id#\d+L?, \d+\)", plan)
    assert len(single_key) == 1, plan
    # (3) NULL bypass adds zero exchanges: window + views-dedup only
    assert _n_exchanges(plan) == 2, plan


def test_pq_codes_zero_exchange_scan_local(spark, sf_dir):
    """PQ encode against a literal codebook must fuse entirely into the
    scan: codebooks ride as literal expressions, the per-subspace argmin
    is an array fold — zero exchanges at ANY corpus size. An exchange
    here would mean the codebook accidentally became a join."""
    plan = _formatted_plan(spark, sf_dir, "q_sim_pq_codes")
    assert _n_exchanges(plan) == 0, plan
    assert plan.count("Scan parquet") >= 1
    assert "Join" not in plan


def test_sql_transform_pushdown_and_broadcasts(spark, sf_dir):
    """The user-SQL surface must still get the full Catalyst treatment:
    the date filter reaches the orders parquet scan and both dimension
    joins (customer, nation) broadcast — no sort-merge shuffle for a
    dim-sized side. Also pins that the engine string stays pure ANSI
    with NO per-row finite guard riding in the aggregate (NaN-axis r11:
    the guard lives only in the DuckDB oracle twin; in the engine it
    measured ~1.2x for semantics Spark's ANSI decimal cast already
    has)."""
    plan = _formatted_plan(spark, sf_dir, "q_sql_transform")
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "isnan" not in plan.lower()
