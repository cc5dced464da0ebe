"""Plan-quality gates: the design claims the 100 TB plans depend on.

Every registered query's executed plan is recorded once by the ``surface``
walk (``tests/conftest.py``). Its operator counts are its row in
``tests/plan_table.json``, checked by
``tests/test_surface.py::test_plan_table``; a row is regenerated whenever a
plan changes on purpose. The gates here are not regenerated. Each names
one design claim (broadcast dimensions, no shuffle, one scan, no
nested-loop join) and states it as fixed strings over its query's surface
plan: substrings that occur in the listed order (pushed filters, pruned
read schemas, expression markers, operator order) and patterns matched a
bounded number of times. A plan change that breaks a claim fails its gate
even after the table has been regenerated. Four gates also build a frame
the registry does not return, to see the plan a registered query hides
behind a checkpoint or a memoized index.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from tools.dump_plans import executed_plan

NONE = (0, 0)
ONE = (1, 1)
SOME = (1, None)

# any join operator
JOIN = r"Join|CartesianProduct"
# a shuffle exchange (not a broadcast or a reused one)
SHUFFLE = r"\bExchange\b"
# a node that runs Python
PYTHON = r"InPandas|InArrow|EvalPython|PythonUDF"


class Gate(NamedTuple):
    query: str
    # substrings the plan contains, in this order
    has: tuple[str, ...] = ()
    # pattern (multiline) -> (least, most) matches; most None is unbounded
    counts: dict[str, tuple[int, int | None]] = {}


GATES: dict[str, Gate] = {
    # the shipdate predicate reaches the parquet scan, which reads only
    # the referenced columns
    "filter_pushdown_reaches_parquet_scan": Gate(
        "pricing_summary",
        (
            "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate",
            "ReadSchema: struct<l_quantity:double,",
        ),
    ),
    "flagship_broadcasts_dimensions": Gate(
        "flagship_us_customers",
        ("EqualTo(r_name,AMERICA)",),
        {"BroadcastHashJoin": (2, None)},
    ),
    # map-side combine: partial functions below the final aggregate
    "pricing_summary_partial_aggregation": Gate(
        "pricing_summary", ("HashAggregate", "Exchange", "partial_sum")
    ),
    "shipping_priority_broadcasts_filtered_customer": Gate(
        "shipping_priority",
        ("EqualTo(c_mktsegment,BUILDING)",),
        {"BroadcastHashJoin": SOME},
    ),
    "local_supplier_joins_stay_hashed": Gate(
        "local_supplier_revenue",
        counts={"BroadcastHashJoin": (4, None), "NestedLoopJoin|SortMergeJoin": NONE},
    ),
    # the scalar subquery is rewritten into an aggregate and a join
    "correlated_subquery_decorrelates": Gate(
        "top_balance_per_nation", ("Join", "HashAggregate"), {"Subquery": NONE}
    ),
    "not_exists_becomes_anti_join": Gate("dormant_customers", ("LeftAnti",)),
    # the top 20 never sorts globally; the nation dimension broadcasts
    "returned_item_revenue_plan": Gate(
        "returned_item_revenue",
        ("TakeOrderedAndProject", "EqualTo(l_returnflag,R)", "IsNotNull(o_orderdate)"),
        {"BroadcastHashJoin": SOME},
    ),
    "nation_market_share_plan": Gate(
        "nation_market_share",
        ("partial_sum",),
        {"BroadcastHashJoin": (2, None)},
    ),
    "urgent_order_customers_semi_join": Gate(
        "urgent_order_customers", ("LeftSemi", "EqualTo(o_orderpriority,1-URGENT)")
    ),
    "embedding_near_dup_is_cogrouped_not_nested_loop": Gate(
        "embedding_near_dup",
        ("FlatMapCoGroupsInPandas",),
        {"CartesianProduct|NestedLoopJoin": NONE},
    ),
    # one Arrow pass against the broadcast query matrix, no join
    "ann_bruteforce_is_single_scan_no_join": Gate(
        "ann_bruteforce_topk", ("MapInArrow",), {JOIN: NONE}
    ),
    "quality_filter_is_shuffle_free": Gate("quality_filter", counts={"Exchange": NONE}),
    # the candidate distinct runs on the verified pairs
    "simhash_banded_join_dedups_candidates": Gate(
        "simhash_near_dup_pairs", ("HashAggregate", "Join")
    ),
    # candidates come from an equi-join on list_id; rescoring is one
    # Arrow pass
    "ivf_topk_probes_lists_no_cartesian": Gate(
        "ivf_ann_topk",
        ("MapInArrow", "BroadcastHashJoin [list_id"),
        {"CartesianProduct|NestedLoopJoin": NONE},
    ),
    "chunk_dedup_semi_join_on_digest": Gate("chunk_dedup", ("LeftSemi",)),
    # the eval shingles are the broadcast side; nothing gram-sized
    # shuffles except the per-doc aggregate and the shingle distinct
    "contamination_broadcasts_eval_set": Gate(
        "contamination_check",
        ("BroadcastHashJoin", "BroadcastExchange"),
        {r"Exchange hashpartitioning\((?!(doc_id|s)#)": NONE},
    ),
    # the packing window is partitioned by language, never global
    "sequence_packing_single_partition_window_per_lang": Gate(
        "sequence_packing",
        ("Window [", "Exchange hashpartitioning(lang"),
        {"SinglePartition": NONE},
    ),
    # per-task heaps merged on the driver; the rank window runs over the
    # survivors
    "heavy_hitter_top20_is_distributed_take_ordered": Gate(
        "heavy_hitter_tokens", ("Window [", "TakeOrderedAndProject"), {r"Window \[": ONE}
    ),
    # the kth-frequency prefilter sits between the vocab aggregate and the
    # single-partition cumulative window
    "vocab_coverage_prunes_before_global_window": Gate(
        "vocab_coverage",
        ("Window [", "SinglePartition", "(freq", ">= kth_freq", "TakeOrderedAndProject"),
    ),
    "incremental_dedup_joins_on_digests_only": Gate(
        "incremental_dedup", counts={r"Exchange hashpartitioning\([^,]*text": NONE}
    ),
    "stratified_sample_broadcasts_lang_counts": Gate(
        "stratified_sample", ("BroadcastExchange",)
    ),
    "semantic_dedup_is_cluster_blocked": Gate(
        "semantic_dedup",
        ("FlatMapCoGroupsInPandas",),
        {"CartesianProduct|NestedLoopJoin": NONE},
    ),
    "frame_sample_is_jvm_only": Gate(
        "frame_sample", counts={PYTHON: NONE, "Exchange": NONE}
    ),
    # one stage over the split memo: the corpus was spread once, at build
    "pii_redaction_is_single_scan": Gate(
        "pii_redaction", counts={"Exchange": NONE, PYTHON: NONE, "Scan": ONE}
    ),
    "media_features_is_one_stage": Gate(
        "media_features", ("MapInArrow",), {"Exchange": NONE, "Scan": ONE}
    ),
    # tf, df and the corpus count ride the memoized tf index: one scan, a
    # projection and the per-doc top-3, whose exchange is the only one
    "tfidf_keywords_reads_index_only": Gate(
        "tfidf_keywords",
        ("Exchange hashpartitioning(doc_id", "Scan ExistingRDD"),
        {
            "Scan": ONE,
            SHUFFLE: ONE,
            "BroadcastExchange": NONE,
            "SinglePartition": NONE,
        },
    ),
    # one banded join; verification is an inline filter on its output
    "simhash_pairs_single_join_inline_verify": Gate(
        "simhash_near_dup_pairs", ("Join", "bit_count"), {"Join": ONE}
    ),
    # the Arrow assignment is read from its checkpoint, never re-run
    "kmeans_clusters_broadcast_iteration": Gate(
        "kmeans_clusters",
        ("Scan ExistingRDD", "BroadcastExchange"),
        {PYTHON: NONE},
    ),
    # the point read is one stage: per-task 1-row heaps merged on the
    # driver, over one scan of updates
    "run_output_lookup_is_one_take_ordered": Gate(
        "run_output_lookup",
        ("TakeOrderedAndProject",),
        {"Scan": ONE, "Exchange|BroadcastExchange": NONE},
    ),
    # metastore-sized dedups run in one task: the single partition below
    # the aggregate satisfies its distribution, so nothing shuffles
    "discovered_objects_dedups_in_one_task": Gate(
        "discovered_objects", ("HashAggregate", "Coalesce 1"), {SHUFFLE: NONE}
    ),
    "discovered_objects_live_dedups_in_one_task": Gate(
        "discovered_objects_live", ("HashAggregate", "Coalesce 1"), {SHUFFLE: NONE}
    ),
    "sensor_readback_dedups_in_one_task": Gate(
        "streaming_first_completed", ("HashAggregate", "Coalesce 1"), {SHUFFLE: NONE}
    ),
    "compaction_plan_reads_file_index_only": Gate(
        "compaction_plan", ("binaryFile",), {"Scan parquet": NONE}
    ),
    # one events scan; the file assignment runs per z-range partition
    "zorder_key_partitioned_window": Gate(
        "zorder_key",
        ("Window [", "windowspecdefinition(zrange", "Exchange hashpartitioning(zrange"),
        {"Scan parquet": ONE, "SinglePartition": NONE},
    ),
    # the pair explode consumes the distinct-word aggregate, and both
    # aggregates combine map-side
    "bpe_pair_counts_vocab_sized_walk": Gate(
        "bpe_pair_counts",
        ("explode(transform", "keys=[word"),
        {"partial_count": SOME, "partial_sum": SOME},
    ),
    # normalization and md5 run below the exchange, which carries the
    # digest, never the text
    "normalized_dedup_shuffles_digest_only": Gate(
        "normalized_dedup",
        ("Exchange hashpartitioning(norm_hash", "md5("),
        {"Scan parquet": (0, 1), r"Exchange hashpartitioning\([^)]*text": NONE},
    ),
    # top-k by per-task heaps, the rank window over the k survivors, and
    # the 2-row stats side broadcast
    "skew_report_distributed_topk": Gate(
        "skew_report",
        ("Window [", "TakeOrderedAndProject", "BroadcastExchange"),
        {r"Window \[": ONE, "SortMergeJoin|ShuffledHashJoin": NONE},
    ),
    "int8_quantize_is_shuffle_free_jvm": Gate(
        "int8_quantize", counts={"Exchange": NONE, PYTHON: NONE}
    ),
    # one hash exchange on shard, never a global sort
    "epoch_shuffle_single_shuffle_no_global_sort": Gate(
        "epoch_shuffle",
        counts={"Exchange hashpartitioning": ONE, "rangepartitioning": NONE},
    ),
    "per_source_dedup_rate_partial_aggregates": Gate(
        "per_source_dedup_rate",
        ("partial_count",),
        {r"Exchange.*text#": NONE},
    ),
    # lag, running sum, groupBy and lead share the entity-key clustering
    "scd2_history_one_shuffle_for_both_windows": Gate(
        "scd2_history",
        counts={"Exchange hashpartitioning": (1, 2), "rangepartitioning": NONE},
    ),
    # the decile groupBy reuses the ntile window's partitioning
    "value_deciles_reuses_window_partitioning": Gate(
        "value_deciles", counts={"Exchange hashpartitioning": ONE}
    ),
    "funnel_single_user_shuffle": Gate(
        "funnel_conversion",
        counts={"Exchange hashpartitioning": ONE, "rangepartitioning": NONE},
    ),
    # the first-event aggregate joins back on the same user_id key
    "retention_cohorts_copartitioned_join": Gate(
        "retention_cohorts",
        ("Join [user_id",),
        {r"Exchange hashpartitioning\(user_id": (1, 2)},
    ),
    # every constraint folds into one aggregate over one scan
    "expectations_single_scan_partial_agg": Gate(
        "expectations_report",
        ("Generate explode", "partial_count"),
        {"Scan parquet": ONE},
    ),
    "merge_upsert_single_key_join": Gate(
        "merge_upsert", ("FullOuter",), {"CartesianProduct|NestedLoopJoin": NONE}
    ),
    # the data-sized running max is partitioned by arrival block; the
    # stream-sized window ordered by arrival is never global
    "lateness_report_avoids_single_partition_window": Gate(
        "lateness_report",
        ("windowspecdefinition(blk", "Broadcast"),
        {r"^(?!.*blk).*windowspecdefinition.*arrival": NONE},
    ),
    # declared pivot values: one scan, one aggregate exchange, no job to
    # discover the column set
    "pivot_single_aggregate_no_distinct_pass": Gate(
        "event_type_pivot",
        counts={"Scan parquet": ONE, "Exchange hashpartitioning": ONE},
    ),
    # the probe set is an embedded literal
    "fuzzy_probe_stays_codegen_no_join": Gate(
        "fuzzy_match_probe", counts={JOIN: NONE, PYTHON: NONE}
    ),
    # probe terms and dl broadcast onto the memoized tf index, which
    # carries df; the top-k is pushed below the exchange as a partial
    # group limit
    "bm25_broadcasts_index_sides_and_pushes_topk": Gate(
        "bm25_scores",
        ("WindowGroupLimit", "Final", "Exchange", "WindowGroupLimit", "Partial"),
        {"BroadcastHashJoin": (2, None), "NestedLoopJoin": (0, 1), PYTHON: NONE},
    ),
    # both pair sets come from the memoized indexes; the 1-row count
    # appends are the only nested-loop joins
    "lsh_dedup_recall_probes_indexes_only": Gate(
        "lsh_dedup_recall",
        counts={"Scan parquet": NONE, "NestedLoopJoin": (0, 2)},
    ),
    # a flag join, not a window on the gram hash, so AQE can split a hot
    # gram; the flag aggregate combines map-side
    "duplicated_spans_natural_shuffles_skew_splittable": Gate(
        "duplicated_spans",
        ("partial_min", "partial_max"),
        {
            r"Exchange hashpartitioning\((?!(doc_id|h)#)": NONE,
            r"Window \[[^\]]*\], \[h#": NONE,
            r"CartesianProduct|NestedLoopJoin|Scan parquet": NONE,
            PYTHON: NONE,
        },
    ),
    # reads only the clustering column; one per-block aggregate plus the
    # per-predicate rollup, no join, no global-sort ntile
    "zone_map_plan_single_column_scan_two_exchanges": Gate(
        "zone_map_plan",
        ("partial_min", "ReadSchema: struct<l_shipdate:timestamp"),
        {SHUFFLE: (1, 2), "Join": NONE, r"Window \[": NONE, "partial_count": SOME},
    ),
    # the interval join is an equi hash join on the covering hour bucket;
    # the severe-error predicate reaches the window scan
    "range_join_incidents_bucketed_never_nested_loop": Gate(
        "range_join_incidents",
        (
            "partial_count",
            "EqualTo(event_type,error)",
            "GreaterThan(value,95.0)",
            "ReadSchema: struct<ts:timestamp",
        ),
        {"BroadcastHashJoin": ONE, "NestedLoopJoin": NONE},
    ),
    # every grain from one scan: one Expand, a two-phase aggregate
    "time_rollup_multigrain_one_scan_one_expand": Gate(
        "time_rollup_multigrain",
        ("partial_count",),
        {"FileScan": ONE, "Expand": ONE, SHUFFLE: (1, 2), "Join": NONE},
    ),
    # rank <= k pushed into the sort as partial and final WindowGroupLimit;
    # weights come from n_chars, the text column is never read
    "weighted_sample_topk_windowgrouplimit_no_joins": Gate(
        "weighted_sample_topk",
        ("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>",),
        {"WindowGroupLimit": (2, 2), SHUFFLE: ONE, "FileScan": ONE, "Join": NONE},
    ),
    # unigrams and bigrams from the memoized token index in one Generate;
    # only doc_id and source leave the parquet scan
    "ngram_diversity_single_tagged_explode_no_expand": Gate(
        "ngram_diversity",
        ("partial_count", "ReadSchema: struct<doc_id:bigint,source:string>"),
        {
            "FileScan": ONE,
            "Scan ExistingRDD": ONE,
            "Generate": ONE,
            "Expand": NONE,
            "BroadcastHashJoin": ONE,
            SHUFFLE: (2, 2),
        },
    ),
    # the bucket log-ratio table ships to the data; scoring combines
    # map-side
    "dsir_bucket_lm_broadcasts_into_scoring": Gate(
        "dsir_importance_weights",
        ("partial_sum",),
        {"BroadcastHashJoin": (2, None), "SortMergeJoin|ShuffledHashJoin": NONE},
    ),
    # the events scan ran inside the (type, bin) checkpoint build
    "drift_psi_corpus_collapses_before_checkpoint": Gate(
        "drift_psi",
        counts={
            "FileScan": NONE,
            "Scan ExistingRDD": SOME,
            "Exchange hashpartitioning": (0, 1),
        },
    ),
    # the checkpointed (type, bin) frame is read once; totals ride the
    # ECDF window's exchange
    "ks_drift_corpus_collapses_before_checkpoint": Gate(
        "ks_drift",
        counts={"FileScan": NONE, "Scan ExistingRDD": ONE, "Join": NONE, SHUFFLE: (0, 2)},
    ),
    # the language-count checkpoint is read once; every window is
    # language-cardinality and nothing joins
    "unimax_windows_run_on_checkpointed_lang_frame": Gate(
        "unimax_allocation",
        counts={
            "FileScan": NONE,
            "Scan ExistingRDD": ONE,
            "Join": NONE,
            r"Window \[": (2, None),
        },
    ),
    # the memoized score table, a broadcast label join, and the corpus
    # collapsed onto the milli grid before the rank window
    "score_auc_grid_window_after_broadcast_joins": Gate(
        "score_auc",
        ("Window [", "partial_sum", "Scan ExistingRDD"),
        {"BroadcastHashJoin": SOME, "SortMergeJoin|ShuffledHashJoin|NestedLoopJoin": NONE},
    ),
    # the diagonal is a per-src_a window; one gram walk, no join back
    "source_overlap_single_walk_diagonal_window": Gate(
        "source_overlap_matrix",
        ("Window [", "collect_set"),
        {
            r"Window \[": ONE,
            "Join, LeftOuter": NONE,
            r"Exchange hashpartitioning": (1, 4),
        },
    ),
    # the encode walk and occurrence weights come from memoized tables;
    # the only parquet read is the (doc_id, lang) projection
    "tokenizer_fertility_vocab_join_and_pruned_scan": Gate(
        "tokenizer_fertility",
        ("ReadSchema: struct<doc_id:bigint,lang:string>",),
        {"Scan ExistingRDD": (2, None), "FileScan": ONE},
    ),
    "score_calibration_single_band_aggregate": Gate(
        "score_calibration",
        ("partial_count", "Scan ExistingRDD"),
        {"BroadcastHashJoin": SOME, r"\bSort\b": NONE},
    ),
    # two deliberate corpus passes; fusing the distinct counts would plan
    # an Expand over the corpus scan
    "corpus_card_two_passes_no_expand": Gate(
        "corpus_card", counts={"FileScan": (2, 2), "Expand": (0, 1)}
    ),
    # the events scan collapsed into the hourly checkpoint; the hour
    # bounds and the trailing baseline are the two windows
    "rate_anomaly_window_runs_on_checkpointed_grid": Gate(
        "rate_anomaly",
        counts={"FileScan": NONE, "Scan ExistingRDD": (2, None), r"Window \[": (2, 2)},
    ),
    # one codegen projection, one aggregate exchange on the canonical key
    "url_canonical_dedup_single_exchange_no_python": Gate(
        "url_canonical_dedup",
        ("partial_min",),
        {"Join": NONE, PYTHON: NONE, "Exchange hashpartitioning": ONE, "partial_count": SOME},
    ),
    # the eval set ships as one fixed-size row: the one nested-loop join
    # fans it out, and nothing gram-sized joins by key or shuffles
    "bloom_contamination_has_no_gram_keyed_join": Gate(
        "bloom_contamination_check",
        ("partial_sum",),
        {
            "HashJoin|SortMergeJoin": NONE,
            "BroadcastNestedLoopJoin": ONE,
            PYTHON: NONE,
            r"Exchange hashpartitioning\((?!doc_id#)": NONE,
        },
    ),
    # COUNT(DISTINCT) as the two-level (host, url) -> host aggregate,
    # never an Expand
    "url_host_stats_two_level_distinct_no_expand": Gate(
        "url_host_stats",
        counts={
            "Expand": NONE,
            "Join": NONE,
            PYTHON: NONE,
            r"Exchange hashpartitioning\((?!(host|canonical_url)#)": NONE,
        },
    ),
    # the two theta joins fan the 10-row grid onto bucket frames
    "dedup_threshold_sweep_joins_only_grid_frames": Gate(
        "dedup_threshold_sweep",
        counts={"ShuffledHashJoin|SortMergeJoin": NONE, "BroadcastNestedLoopJoin": (2, 2)},
    ),
    # the catalog-sized build side stays all-broadcast by hint, not by
    # size estimates
    "observability_report_broadcast_build_no_smj": Gate(
        "observability_report",
        counts={"BroadcastHashJoin": (3, None), "SortMergeJoin|ShuffledHashJoin": NONE},
    ),
    "score_auc_parts_same_plan_discipline": Gate(
        "score_auc_parts",
        ("Window [", "partial_sum", "Scan ExistingRDD"),
        {"BroadcastHashJoin": SOME, "SortMergeJoin|ShuffledHashJoin|NestedLoopJoin": NONE},
    ),
}


def check(gate: Gate, plan: str) -> None:
    pos = 0
    for fact in gate.has:
        found = plan.find(fact, pos)
        assert found >= 0, f"{gate.query}: {fact!r} missing or out of order"
        pos = found + len(fact)
    for pattern, (least, most) in gate.counts.items():
        n = len(re.findall(pattern, plan, re.M))
        assert least <= n and (most is None or n <= most), (
            f"{gate.query}: {pattern!r} matched {n} times, not {least}..{most}"
        )


def _gate(gate: Gate):
    return lambda surface: check(gate, surface[gate.query].plan)


for _name, _gate_claim in GATES.items():
    globals()[f"test_{_name}"] = _gate(_gate_claim)


def test_column_histograms_single_scan(tables, surface):
    from databricks_observe_spark.operators.catalog_ops import _hist_vals_logical

    # the (col, val) value aggregate is the one pass over lineitem and
    # combines map-side
    plan = executed_plan(_hist_vals_logical(tables))
    assert plan.count("Scan parquet") == 1
    assert "partial_count" in plan or "partial_sum" in plan
    # the query reads only its materialization; per-column stats come
    # back by broadcast join, not a window capped at n_cols partitions
    check(
        Gate(
            "column_histograms",
            ("BroadcastHashJoin",),
            {"Scan parquet": NONE, r"Window \[": NONE},
        ),
        surface["column_histograms"].plan,
    )


def test_storage_metadata_reads_file_index_not_data(tables, surface):
    from databricks_observe_spark.operators.catalog_ops import _file_listing

    # the binaryFile listing is one row per file with the content column
    # pruned; the profiled tables' data is never scanned
    plan = executed_plan(_file_listing(tables))
    assert "binaryFile" in plan
    assert "Scan parquet" not in plan
    assert "content" not in plan.split("ReadSchema")[-1][:200]
    # the query reads only the memoized per-table stats
    check(
        Gate("table_files_meta", counts={"Scan parquet|binaryFile": NONE}),
        surface["table_files_meta"].plan,
    )


def test_textrank_iterations_equi_join_vocab_state(tables, surface):
    from databricks_observe_spark.operators.text import textrank_keywords

    # the un-materialized iteration DAG: the rank state only equi-joins
    # the edge table; the last iteration shows the rank, dangling-mass
    # and degree joins, earlier ones sit behind per-iteration checkpoints
    plan = executed_plan(textrank_keywords(tables, materialize=False))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Join") >= 3
    # the registered form is one materialized scan
    check(Gate("textrank_keywords", ("Scan ExistingRDD",)), surface["textrank_keywords"].plan)


def test_curation_pipeline_e2e_composes_without_redundant_shuffles(tables, surface):
    from databricks_observe_spark.operators.pipeline import curation_pipeline_e2e

    # the un-truncated six-stage DAG: every join broadcasts, and the
    # distinct shuffle keys are the declared stage set (the tree replays
    # the stage-4 subtree per consumer, which the registered checkpoint
    # avoids, so keys are counted, not occurrences)
    full = executed_plan(curation_pipeline_e2e(tables, checkpoint=False))
    for join in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join not in full
    assert "BroadcastHashJoin" in full
    keys = {
        m.split(",")[0].split("#")[0]
        for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", full)
    }
    assert keys <= {"norm_hash", "s", "doc_id", "lang"}, keys
    # the registered form reads stage 4 from its checkpoint: at most four
    # shuffle exchanges, and still no sort-merge or nested-loop join
    check(
        Gate(
            "curation_pipeline_e2e",
            counts={SHUFFLE: (0, 4), "SortMergeJoin|CartesianProduct|NestedLoopJoin": NONE},
        ),
        surface["curation_pipeline_e2e"].plan,
    )


# each perfbench workload's queries and the jobs each runs to materialize
# once warm. The observe tick runs one stage-bearing job per query, except
# the flagship's two dimension broadcasts: 10 in all. A curation pass runs
# one per map-only query and two per query with one shuffle (its map stage
# and its result stage), reading the memoized indexes: 10 in all.
JOB_BUDGETS = {
    "observe_tick": {
        "discovered_objects": 1,
        "discovered_objects_live": 1,
        "tables_enriched": 1,
        "table_files_meta": 1,
        "lineage_closure": 1,
        "streaming_first_completed": 1,
        "run_output_lookup": 1,
        "flagship_us_customers": 3,
    },
    "curation": {
        "exact_dedup": 2,
        "near_dup_clusters": 2,
        "ann_bruteforce_topk": 1,
        "media_features": 1,
        "tfidf_keywords": 2,
        "text_stats": 1,
        "pii_redaction": 1,
    },
}


def jobs_run(sc, label: str, action) -> int:
    """How many Spark jobs ``action()`` runs, counted in a job group."""
    group = f"jobs_run.{label}"
    try:
        sc.setJobGroup(group, group)
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _job_budget(workload: str):
    def test(spark):
        from databricks_observe_spark import registry
        from perfbench.workloads import WORKLOADS
        from tests.conftest import SF_DIR

        budget = JOB_BUDGETS[workload]
        assert tuple(budget) == WORKLOADS[workload].queries

        def materialize(name):
            df = registry.queries()[name](spark, SF_DIR)
            return lambda: df.write.format("noop").mode("overwrite").save()

        for name in budget:  # memo fills and the sensor's first replay
            materialize(name)()
        sc = spark.sparkContext
        jobs = {name: jobs_run(sc, name, materialize(name)) for name in budget}
        assert jobs == budget

    return test


for _workload in JOB_BUDGETS:
    globals()[f"test_{_workload}_job_budget"] = _job_budget(_workload)
