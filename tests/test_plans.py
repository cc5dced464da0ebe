"""Plan-quality gates: the physical plans the 100 TB design depends on.

These assert optimizer *choices*, not results: predicates reaching the
parquet scan, dimension joins broadcast, partial aggregation present.
A regression here means a query silently became a full-scan or a shuffle
join — invisible at test SF, catastrophic at scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_observe_spark.operators import relational as R
from databricks_observe_spark.operators.flagship import america_customers


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(tables):
    df = tables["lineitem"].filter(F.col("l_shipdate") <= "1998-09-02").select(
        "l_orderkey", "l_quantity"
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must read only the referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double" in plan


def test_flagship_broadcasts_dimensions(tables):
    plan = _plan(america_customers(tables))
    assert plan.count("BroadcastHashJoin") >= 2  # nation and region
    # the region-name predicate is pushed into the region scan
    assert "EqualTo(r_name,AMERICA)" in plan


def test_pricing_summary_partial_aggregation(tables):
    plan = _plan(R.pricing_summary(tables))
    # map-side combine: partial_ functions before the exchange
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("HashAggregate")


def test_shipping_priority_broadcasts_filtered_customer(tables):
    plan = _plan(R.shipping_priority(tables))
    assert "BroadcastHashJoin" in plan
    # segment filter pushed to the customer scan, not applied post-join
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_local_supplier_joins_stay_hashed(tables):
    plan = _plan(R.local_supplier_revenue(tables))
    assert plan.count("BroadcastHashJoin") >= 4


def test_correlated_subquery_decorrelates(tables):
    plan = _plan(R.top_balance_per_nation(tables))
    # Catalyst rewrote the scalar subquery into an aggregate + join: the
    # physical plan contains no subquery operator, only the rewrite
    assert "Subquery" not in plan
    assert "HashAggregate" in plan and "Join" in plan


def test_not_exists_becomes_anti_join(tables):
    plan = _plan(R.dormant_customers(tables))
    assert "LeftAnti" in plan


def test_returned_item_revenue_plan(tables):
    from databricks_observe_spark.operators import relational as R

    plan = _plan(R.returned_item_revenue(tables))
    # returnflag + date predicates reach the parquet scans
    assert "EqualTo(l_returnflag,R)" in plan
    assert "IsNotNull(o_orderdate)" in plan
    # nation enrichment is broadcast; top-20 never materializes a global sort
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_nation_market_share_plan(tables):
    from databricks_observe_spark.operators import relational as R

    plan = _plan(R.nation_market_share(tables))
    # supplier and nation dims broadcast; per-year agg combines map-side
    assert plan.count("BroadcastHashJoin") >= 2
    assert "partial_sum" in plan


def test_urgent_order_customers_semi_join(tables):
    from databricks_observe_spark.operators import relational as R

    plan = _plan(R.urgent_order_customers(tables))
    assert "LeftSemi" in plan
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan  # pushed to orders scan


def test_embedding_near_dup_is_cogrouped_not_nested_loop(tables):
    from databricks_observe_spark.operators import dedup as D

    plan = _plan(D.embedding_near_dup(tables))
    # block-tiled cogroup: Arrow cogroup operator present, and the plan
    # never degenerates into a cartesian/nested-loop pair join
    assert "FlatMapCoGroupsInPandas" in plan


def test_ann_bruteforce_is_single_scan_no_join(tables):
    from databricks_observe_spark.operators import similarity as S

    plan = _plan(S.ann_bruteforce_topk(tables))
    # one Arrow-batched scan against the broadcast query matrix: the only
    # exchange is the per-query ranking window, and there is no join
    # (MapInArrow since r21 — worker-reusing runner, functions/arrowmap.py)
    assert "MapInArrow" in plan
    for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in plan


def test_quality_filter_is_shuffle_free(tables):
    from databricks_observe_spark.operators import text as T

    plan = _plan(T.quality_filter(tables))
    assert "Exchange" not in plan  # pure per-row projection over one scan


def test_simhash_banded_join_dedups_candidates(tables):
    from databricks_observe_spark.operators import dedup as D

    plan = _plan(D.simhash_near_dup_pairs(tables))
    # candidate distinct runs before fingerprints re-attach
    assert "HashAggregate" in plan


def test_ivf_topk_probes_lists_no_cartesian(tables):
    from databricks_observe_spark.operators import similarity as S

    plan = _plan(S.ivf_ann_topk(tables))
    # candidates come from an equi-join on list_id against the broadcast
    # probe table; rescoring is one Arrow pass — never an all-pairs join
    # (MapInArrow since r21 — worker-reusing runner, functions/arrowmap.py)
    assert "MapInArrow" in plan


def test_chunk_dedup_semi_join_on_digest(tables):
    from databricks_observe_spark.operators import dedup as D

    plan = _plan(D.chunk_dedup(tables))
    # shared-chunk membership is a semi join on the 16-byte digest
    assert "LeftSemi" in plan


def test_contamination_broadcasts_eval_set(tables):
    from databricks_observe_spark.operators import dedup as D

    plan = _plan(D.contamination_check(tables))
    # the eval shingle set is the broadcast side of the flagging join, so
    # every train gram is pruned/flagged map-side before the one per-doc
    # aggregate exchange — no semi+sizes double aggregation, no
    # hits-to-sizes join, nothing gram-sized shuffles
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan
    import re as _re

    keys = {
        m.split(",")[0].split("#")[0]
        for m in _re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"doc_id", "s"}, keys


def test_sequence_packing_single_partition_window_per_lang(tables):
    from databricks_observe_spark.operators import text as T

    plan = _plan(T.sequence_packing(tables))
    # one hash-partitioned window by lang feeds the bin rollup; the plan
    # must not fall back to a global (single-partition) sort
    assert "Window" in plan


def test_heavy_hitter_top20_is_distributed_take_ordered(tables):
    from databricks_observe_spark.operators import text as T

    plan = _plan(T.heavy_hitter_tokens(tables))
    # the corpus-wide top-20 must plan as TakeOrderedAndProject (per-task
    # heaps merged on the driver), not a row_number() window funnelling the
    # full vocab through one reducer; the only Window left runs over the 20
    # surviving rows
    assert "TakeOrderedAndProject" in plan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_vocab_coverage_prunes_before_global_window(tables):
    from databricks_observe_spark.operators import text as T

    plan = _plan(T.vocab_coverage(tables))
    # the kth-frequency prefilter (broadcast scalar + >= filter) must sit
    # between the vocab aggregate and the cumulative-sum window, so the
    # single-partition window sees ~VOCAB_TOP rows, not the whole vocab
    assert "TakeOrderedAndProject" in plan
    assert "(freq" in plan and ">= kth_freq" in plan


def test_incremental_dedup_joins_on_digests_only(tables):
    from databricks_observe_spark.operators import dedup as D

    plan = _plan(D.incremental_dedup(tables))
    # all joins key on the md5 digest; no corpus text ever enters an exchange
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+)", plan):
        assert "text" not in m.group(1)


def test_stratified_sample_broadcasts_lang_counts(tables):
    from databricks_observe_spark.operators import text as T

    plan = _plan(T.stratified_sample(tables))
    # the per-language count table and the scalar min are broadcast sides;
    # the corpus scan is never shuffled for the keep decision
    assert "BroadcastExchange" in plan


def test_semantic_dedup_is_cluster_blocked(tables):
    from databricks_observe_spark.operators import similarity as S

    plan = _plan(S.semantic_dedup(tables))
    # pairwise work happens inside per-(cluster, block-pair) pandas
    # cogroups; no corpus-level pair join ever forms
    assert "FlatMapCoGroupsInPandas" in plan


def test_frame_sample_is_jvm_only(tables):
    from databricks_observe_spark.operators import multimodal as M

    plan = _plan(M.frame_sample(tables))
    # the sampling plan is pure metadata math: no Python stage, no shuffle
    assert "InPandas" not in plan and "PythonUDF" not in plan
    assert "Exchange" not in plan


def test_pii_redaction_is_single_scan(tables):
    from databricks_observe_spark.operators import text as T

    plan = _plan(T.pii_redaction(tables))
    # one projection over the corpus scan; the only exchange allowed is
    # fan_out's under-split repartition (round-robin), never a hash shuffle
    assert "hashpartitioning" not in plan
    assert "InPandas" not in plan


def test_column_histograms_single_scan(tables):
    from databricks_observe_spark.operators.catalog_ops import column_histograms

    from databricks_observe_spark.operators.catalog_ops import _hist_vals_logical

    # ONE lineitem scan feeds everything: the (col, val) value aggregate
    # is the single pass over the table...
    vplan = _plan(_hist_vals_logical(tables))
    assert vplan.count("Scan parquet") == 1
    # the value aggregate combines map-side before its shuffle
    assert "partial_count" in vplan or "partial_sum" in vplan
    # ...and the query consumes only its materialization: per-col stats
    # come back via a broadcast join (n_cols rows), not a window
    # (partitionBy(col) would cap parallelism at n_cols), and the table
    # is never re-scanned
    plan = _plan(column_histograms(tables))
    assert "Scan parquet" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_simhash_pairs_single_join_inline_verify(tables):
    import re

    from databricks_observe_spark.operators import dedup as D

    plan = _plan(D.simhash_near_dup_pairs(tables))
    # ONE join (the banded self-join); verification is an inline filter on
    # the join output — no join back to the fingerprint table, and the
    # distinct runs on verified pairs only
    assert len(re.findall(r"Join", plan)) == 1
    assert "bit_count" in plan


def test_storage_metadata_reads_file_index_not_data(tables):
    from databricks_observe_spark.operators.catalog_ops import (
        _file_listing,
        table_files_meta,
    )

    # the builder frame is the evidence: binaryFile listing (one row per
    # FILE, content pruned) — the profiled tables' parquet DATA is never
    # scanned. The queries consume only its memoized 10-row aggregate.
    plan = _plan(_file_listing(tables))
    assert "binaryFile" in plan
    assert "Scan parquet" not in plan
    assert "content" not in plan.split("ReadSchema")[-1][:200]
    # and the query side touches nothing else: no parquet scan, no
    # re-listing — just the checkpointed per-table stats
    qplan = _plan(table_files_meta(tables))
    assert "Scan parquet" not in qplan
    assert "binaryFile" not in qplan


def test_kmeans_clusters_broadcast_iteration(tables):
    from databricks_observe_spark.operators import similarity as S

    plan = _plan(S.kmeans_clusters(tables))
    # final summary: the Arrow assignment pass is checkpointed (built
    # ONCE for both output aggregates), so the visible plan reads the
    # materialized frame rather than re-running the E-step; the majority
    # side broadcasts; nothing corpus-sized cartesians
    assert "Scan ExistingRDD" in plan
    assert "InPandas" not in plan  # would mean the E-step re-runs per branch
    assert "BroadcastExchange" in plan


def test_run_output_lookup_broadcasts_probe(tables):
    from databricks_observe_spark.operators.control import run_output_lookup

    plan = _plan(run_output_lookup(tables))
    assert "BroadcastExchange" in plan  # 1-row probe key ships


def test_compaction_plan_reads_file_index_only(tables):
    from databricks_observe_spark.operators.catalog_ops import compaction_plan

    plan = _plan(compaction_plan(tables))
    # the compaction plan is derived from the binaryFile file INDEX —
    # table DATA is never scanned (cost scales with file count)
    assert "binaryFile" in plan
    assert "Scan parquet" not in plan


def test_zorder_key_partitioned_window(tables):
    from databricks_observe_spark.operators.layout import zorder_key

    plan = _plan(zorder_key(tables))
    # ONE events scan; the file assignment runs per z-range partition —
    # no single global window funnel
    assert plan.count("Scan parquet") == 1
    assert "Window" in plan
    assert "zrange" in plan


def test_bpe_pair_counts_vocab_sized_walk(tables):
    from databricks_observe_spark.operators.text import bpe_pair_counts

    plan = _plan(bpe_pair_counts(tables))
    # the character walk runs over the DISTINCT-word aggregate: the pair
    # explode consumes the word-count aggregate's output (prints above
    # it in the top-down plan), and both aggregates combine map-side
    assert plan.index("explode(transform") < plan.index("keys=[word")
    assert "partial_count" in plan and "partial_sum" in plan


def test_normalized_dedup_shuffles_digest_only(tables):
    from databricks_observe_spark.operators.dedup import normalized_dedup

    plan = _plan(normalized_dedup(tables))
    # one scan, normalization + md5 computed before the exchange: the
    # shuffle carries the 16-byte digest, never the text payload
    assert plan.count("Scan parquet") <= 1
    import re

    exchange_pos = plan.index("Exchange")
    assert "md5" in plan[exchange_pos:] or "norm_hash" in plan[exchange_pos:]
    assert "text" not in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)[0]


def test_skew_report_distributed_topk(tables):
    from databricks_observe_spark.operators.layout import skew_report

    plan = _plan(skew_report(tables))
    # top-k is TakeOrderedAndProject (per-task heaps), the ranking window
    # runs over the k survivors, and the 2-row stats side broadcasts
    assert "TakeOrderedAndProject" in plan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_int8_quantize_is_shuffle_free_jvm(tables):
    from databricks_observe_spark.operators import similarity as S

    plan = _plan(S.int8_quantize(tables))
    # per-row projection over the memoized norm table: no exchange, no
    # Python — the higher-order array fold runs entirely JVM-side
    assert "Exchange" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan and "MapInArrow" not in plan


def test_epoch_shuffle_single_shuffle_no_global_sort(tables):
    from databricks_observe_spark.operators import dedup as D

    plan = _plan(D.epoch_shuffle(tables))
    # one hash exchange on shard; NO rangepartitioning (a global sort
    # would serialize the permutation through one ordering pass)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan


def test_per_source_dedup_rate_partial_aggregates(tables):
    from databricks_observe_spark.operators import dedup as D

    plan = _plan(D.per_source_dedup_rate(tables))
    # two-level distinct aggregate with map-side partials; the shuffle
    # key carries the 16-byte digest, never the text payload
    assert "partial_count" in plan
    # the md5 projection runs below the exchange, so the shuffle rows
    # carry (source, digest) — never the text payload
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line


def test_scd2_history_one_shuffle_for_both_windows(tables):
    from databricks_observe_spark.operators import runs as R

    plan = _plan(R.scd2_history(tables))
    # lag + running-sum + groupBy + lead all share the entity-key
    # clustering: exactly one hash exchange on the full updates stream
    # (a second tiny exchange may appear only above the island rollup)
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "rangepartitioning" not in plan


def test_value_deciles_reuses_window_partitioning(tables):
    from databricks_observe_spark.operators import events as E

    plan = _plan(E.value_deciles(tables))
    # the groupBy(event_type, decile) must reuse the ntile window's
    # hashpartitioning(event_type) — one exchange of the events stream
    assert plan.count("Exchange hashpartitioning") == 1


def test_textrank_iterations_equi_join_vocab_state(tables):
    from databricks_observe_spark.operators import text as T

    # materialize=False exposes the full un-truncated iteration DAG (the
    # registered form materializes all rounds in ONE job on a loop session
    # — r21; the gate pins that the iteration state only ever EQUI-joins
    # the edge table: no cartesian/nested-loop blowup anywhere)
    plan = _plan(T.textrank_keywords(tables, materialize=False))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the visible (final) round shows the rank join, the dangling-mass
    # left join and the degree join; earlier rounds sit behind the lazy
    # per-iteration checkpoints (plan-truncating by design)
    assert plan.count("Join") >= 3
    # the registered (materialized) form is a single cached scan
    mat = _plan(T.textrank_keywords(tables))
    assert "Scan ExistingRDD" in mat


def test_funnel_single_user_shuffle(tables):
    from databricks_observe_spark.operators import events as E

    plan = _plan(E.funnel_conversion(tables))
    # both running windows, the per-user aggregate, and the final rollup
    # ride ONE hash exchange of the events stream (plus the single-row
    # final-aggregate exchange)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan


def test_retention_cohorts_copartitioned_join(tables):
    from databricks_observe_spark.operators import events as E

    plan = _plan(E.retention_cohorts(tables))
    # the first-event aggregate joins back on the SAME user_id key, so
    # the events stream is exchanged on user_id once; only the compact
    # (cohort, offset) rollup adds a second exchange
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


def test_expectations_single_scan_partial_agg(tables):
    from databricks_observe_spark.operators import catalog_ops as C

    plan = _plan(C.expectations_report(tables))
    # all constraints fold into ONE aggregate over one scan; the unpivot
    # explodes the single result row, never re-reading the table
    assert plan.count("Scan parquet") == 1
    assert "partial_sum" in plan or "partial_count" in plan


def test_merge_upsert_single_key_join(tables):
    from databricks_observe_spark.operators import relational as R

    plan = _plan(R.merge_upsert(tables))
    # MERGE = one full-outer equi join on the key; no cartesian fallback
    assert "FullOuter" in plan


def test_lateness_report_avoids_single_partition_window(tables):
    from databricks_observe_spark.operators import events as E

    plan = _plan(E.lateness_report(tables))
    # the data-sized running max must be block-partitioned (a window spec
    # keyed on blk), and the prefix comes back via broadcast; the ONLY
    # single-partition window allowed is the exclusive prefix max over
    # the block maxima — a frame bounded by the LATENESS_NBLOCKS constant
    assert "windowspecdefinition(blk" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the stream-sized window (the one ordered by arrival) is never global
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "arrival" in line:
            assert "blk" in line


def test_pivot_single_aggregate_no_distinct_pass(tables):
    from databricks_observe_spark.operators import events as E

    plan = _plan(E.event_type_pivot(tables))
    # declared pivot values: one scan, one hash aggregate pair — no
    # extra job to discover the column set
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_fuzzy_probe_stays_codegen_no_join(tables):
    from databricks_observe_spark.operators import text as T

    plan = _plan(T.fuzzy_match_probe(tables))
    # the probe set is an embedded literal: no join operator, no Python
    for j in ("BroadcastHashJoin", "SortMergeJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert j not in plan
    assert "PythonUDF" not in plan


def test_curation_pipeline_e2e_composes_without_redundant_shuffles(tables):
    import re

    from databricks_observe_spark.operators.pipeline import curation_pipeline_e2e

    # (a) the shipped form: stage-4 materialized once, downstream plan is
    # three exchanges (lang counts, single-partition min over the
    # language-cardinality frame, packing lang window) and broadcasts only
    plan = _plan(curation_pipeline_e2e(tables))
    assert len(re.findall(r"\bExchange\b", plan)) <= 4
    for j in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in plan

    # (b) the full un-truncated DAG: every join in the six-stage
    # composition is a broadcast hash join — nothing falls back to a
    # sort-merge or nested-loop shape anywhere
    full = _plan(curation_pipeline_e2e(tables, checkpoint=False))
    for j in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in full
    assert "BroadcastHashJoin" in full
    # the DISTINCT shuffle keys of the composition are the declared stage
    # set — normalized digest, contamination shingle/doc aggregates, the
    # language counts (+ bounded single-partition min), packing window —
    # and nothing else (the un-truncated tree replays the stage-4 subtree
    # per consumer, which is what the shipped checkpoint avoids, so count
    # distinct KEYS here, not occurrences)
    keys = {
        m.split(",")[0].split("#")[0]
        for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", full)
    }
    assert keys <= {"norm_hash", "s", "doc_id", "lang"}, keys


def test_bm25_broadcasts_index_sides_and_pushes_topk(tables):
    from databricks_observe_spark.operators import text as T

    plan = _plan(T.bm25_scores(tables))
    # probe terms, df and dl frames all broadcast onto the memoized tf
    # index; the only BNLJ is the single-row corpus-stats append
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    # the top-k rank is pushed below the exchange as a partial group
    # limit — each map task ships at most k rows per query, not every
    # candidate doc
    assert plan.count("WindowGroupLimit") >= 2
    assert "PythonUDF" not in plan


def test_lsh_dedup_recall_probes_indexes_only(tables):
    from databricks_observe_spark.operators import dedup as D

    plan = _plan(D.lsh_dedup_recall(tables))
    # both pair sets come from the memoized shingle/signature indexes —
    # the eval NEVER re-scans the documents parquet
    assert "Scan parquet" not in plan
    # the two 1-row count appends are the only nested-loop shapes; the
    # truth|x|candidate semi join may legitimately sort-merge (both pair
    # sets scale with the corpus)
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_duplicated_spans_natural_shuffles_skew_splittable(tables):
    import re

    from databricks_observe_spark.operators import dedup as D

    plan = _plan(D.duplicated_spans(tables))
    # doc-window -> map-side-combined min/max flag aggregate -> flag
    # JOIN (a join, not a window, so AQE can split a hot-gram
    # partition) -> doc rollup; digests only, token index memoized
    keys = [
        m.group(1).split("#")[0]
        for m in re.finditer(r"Exchange hashpartitioning\(([^,]*)", plan)
    ]
    # flags broadcast at fixture scale (gram rows never shuffle on h);
    # at production scale the join shuffles both sides on h — both
    # shapes are natural-key-only. The gram frame itself is checkpointed
    # (built once for both branches), so its doc-window exchange sits
    # behind the checkpoint scan and one doc_id key remains: the rollup.
    assert sorted(keys) in (
        ["doc_id", "h"],
        ["doc_id", "h", "h"],
    ), keys
    # the flag aggregate partial-combines before its shuffle (the
    # hot-gram collapse the docstring claims)
    assert "partial_min" in plan and "partial_max" in plan
    for j in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in plan
    # crucially NOT a window over the gram hash — window partitions
    # cannot be skew-split
    assert re.search(r"Window \[[^\]]*\], \[h#", plan) is None
    assert "Scan parquet" not in plan
    assert "PythonUDF" not in plan


def test_zone_map_plan_single_column_scan_two_exchanges(tables):
    import re

    from databricks_observe_spark.operators import layout as L

    plan = _plan(L.zone_map_plan(tables))
    # the audit reads ONLY the clustering column
    assert "ReadSchema: struct<l_shipdate:timestamp" in plan
    # one per-block aggregate (per-predicate conditional sums ride it as
    # columns) + the final per-predicate rollup; r22 removed the 3-row
    # predicate cross join, so the scan runs ONCE and no join of any
    # kind remains
    assert len(re.findall(r"\bExchange\b", plan)) <= 2
    assert "Join" not in plan
    # map-side combine before the block shuffle
    assert "partial_min" in plan and "partial_count" in plan
    # no global-sort ntile anywhere: blocks are value-defined
    assert re.search(r"Window \[", plan) is None


def test_range_join_incidents_bucketed_never_nested_loop(tables):
    from databricks_observe_spark.operators import events as E

    plan = _plan(E.range_join_incidents(tables))
    # the interval-containment join is decomposed into an equi hash join
    # on the covering hour bucket — the raw BETWEEN predicate would plan
    # a BroadcastNestedLoopJoin, O(|probe| x |windows|)
    assert plan.count("BroadcastHashJoin") == 1
    # severe-error window predicate pushed to the interval-side scan
    assert "EqualTo(event_type,error)" in plan
    assert "GreaterThan(value,95.0)" in plan
    # probe scan pruned to the three referenced columns
    assert "ReadSchema: struct<ts:timestamp" in plan
    # map-side combine on the final per-window aggregate
    assert "partial_count" in plan


def test_time_rollup_multigrain_one_scan_one_expand(tables):
    import re

    from databricks_observe_spark.operators import events as E

    plan = _plan(E.time_rollup_multigrain(tables))
    # every grain from ONE scan: the Expand fans rows into grain tuples
    # map-side instead of one job per granularity
    assert plan.count("FileScan") == 1
    assert plan.count("Expand") == 1
    # two-phase distinct aggregate only — no extra shuffles, no joins
    assert len(re.findall(r"\bExchange\b", plan)) <= 2
    assert "partial_count" in plan
    assert "Join" not in plan


def test_weighted_sample_topk_windowgrouplimit_no_joins(tables):
    import re

    from databricks_observe_spark.operators import dedup as D

    plan = _plan(D.weighted_sample_topk(tables))
    # rank<=k pushed into the sort: partial + final WindowGroupLimit keep
    # k rows per stratum per task — never a global sort or full-stratum sort
    assert plan.count("WindowGroupLimit") == 2
    assert len(re.findall(r"\bExchange\b", plan)) == 1
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    # the scan never reads the text column — weights come from n_chars
    assert "ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>" in plan


def test_ngram_diversity_single_tagged_explode_no_expand(tables):
    import re

    from databricks_observe_spark.operators import text as T

    plan = _plan(T.ngram_diversity(tables))
    # unigrams AND bigrams from the memoized token index (Scan
    # ExistingRDD) and ONE Generate — no re-tokenize, the only parquet
    # read is the (doc_id, source) projection riding a broadcast join,
    # and no count_distinct Expand doubling the exploded stream
    # (distinctness comes from the (source,n,g) partial)
    assert plan.count("FileScan") == 1
    assert plan.count("Scan ExistingRDD") == 1
    assert plan.count("Generate") == 1
    assert "Expand" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    # two shuffles exactly: (source,n,g) partials then the source rollup
    assert len(re.findall(r"\bExchange\b", plan)) == 2
    assert "partial_count" in plan
    # column pruning: only doc_id + source leave the scan
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan


def test_dsir_bucket_lm_broadcasts_into_scoring(tables):
    from databricks_observe_spark.operators import text as T

    plan = _plan(T.dsir_importance_weights(tables))
    # the DSIR_BUCKETS-row log-ratio table must ship to the data — a
    # shuffle join on bucket would repartition the corpus by a 256-value
    # key (guaranteed skew); same for the doc-meta lang join at this SF
    assert plan.count("BroadcastHashJoin") >= 2
    # per-doc scoring is map-side combined before its single exchange
    assert "partial_sum" in plan


def test_drift_psi_corpus_collapses_before_checkpoint(tables):
    import re

    from databricks_observe_spark.operators import events as E

    df = E.drift_psi(tables)
    plan = _plan(df)
    # the events scan ran once, inside the (type,bin) checkpoint build —
    # the returned plan must be working off the materialized tiny frame
    assert "FileScan" not in plan
    assert plan.count("Scan ExistingRDD") >= 1
    # everything after the checkpoint is type-cardinality work: at most
    # one exchange (the per-type totals rollup)
    assert len(re.findall(r"\bExchange hashpartitioning\b", plan)) <= 1


def test_ks_drift_corpus_collapses_before_checkpoint(tables):
    import re

    from databricks_observe_spark.operators import events as E

    plan = _plan(E.ks_drift(tables))
    # same discipline as drift_psi: the events scan ran once inside the
    # (type,bin) checkpoint build; the returned plan works off the tiny
    # materialized frame only — and since r21 reads it exactly ONCE (the
    # per-type totals ride the ECDF window's exchange, no aggregate
    # branch + broadcast join back)
    assert "FileScan" not in plan
    assert plan.count("Scan ExistingRDD") == 1
    assert "Join" not in plan
    # ECDF/totals window + the final per-type aggregate share one
    # type-keyed exchange
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_unimax_windows_run_on_checkpointed_lang_frame(tables):
    from databricks_observe_spark.operators import text as T

    plan = _plan(T.unimax_allocation(tables))
    # the corpus scan collapsed into the checkpointed language-count
    # frame, read exactly ONCE since r21 (totals and water level ride
    # single-partition windows on the lang-cardinality frame instead of
    # aggregate branches + broadcast joins back) — every window in the
    # returned plan is lang-cardinality and there is no join at all
    assert "FileScan" not in plan
    assert plan.count("Scan ExistingRDD") == 1
    assert "Join" not in plan
    assert plan.count("Window") >= 2


def test_score_auc_grid_window_after_broadcast_joins(tables):
    from databricks_observe_spark.operators import text as T

    plan = _plan(T.score_auc(tables))
    # scores read from the memoized written score table; the label join
    # is a broadcast — never a shuffle join or a cartesian
    assert "Scan ExistingRDD" in plan
    assert plan.count("BroadcastHashJoin") >= 1
    # the rank window runs over the bounded milli grid AFTER the corpus
    # collapsed in a map-side-combined aggregate
    assert "partial_sum" in plan


def test_source_overlap_single_walk_diagonal_window(tables):
    import re

    from databricks_observe_spark.operators import dedup as D

    plan = _plan(D.source_overlap_matrix(tables))
    # r21: the denominator |grams(a)| is the matrix diagonal picked by a
    # per-src_a window on the source^2-sized frame, so the gram walk
    # (distinct -> collect_set -> pair explode -> count) appears exactly
    # once, with no checkpoint split, no join back, and no second walk
    assert plan.count("collect_set") >= 1
    assert plan.count("Window") == 1
    assert "Join, LeftOuter" not in plan
    # distinct + gram fold + matrix aggregate + diagonal window: the
    # pair explode never adds an exchange of its own
    assert len(re.findall(r"\(\d+\) Exchange hashpartitioning", plan)) <= 4


def test_tokenizer_fertility_vocab_join_and_pruned_scan(tables):
    from databricks_observe_spark.operators import text as T

    plan = _plan(T.tokenizer_fertility(tables))
    # the per-word encode walk lives in the memoized encoded-vocab table
    # and the occurrence weights come from the memoized tf index (two
    # Scan ExistingRDD) — the only parquet work is the (doc_id, lang)
    # projection, and the merge-table broadcast no longer appears in
    # this plan at all
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan
    assert plan.count("Scan ExistingRDD") >= 2


def test_score_calibration_single_band_aggregate(tables):
    from databricks_observe_spark.operators import text as T

    plan = _plan(T.score_calibration(tables))
    # identical join discipline to score_auc: memoized score table plus
    # a broadcast label join, then ONE map-side-combined aggregate onto
    # the bounded band grid — no sort anywhere
    assert "Scan ExistingRDD" in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "partial_count" in plan


def test_corpus_card_two_passes_no_expand(tables):
    from databricks_observe_spark.operators import text as T

    plan = _plan(T.corpus_card(tables))
    # two deliberate corpus passes (cell stats + global distinct digest);
    # fusing the three COUNT(DISTINCT)s would plan an Expand multiplying
    # the corpus scan — the tiny (lang,source) rollup may keep its own
    assert plan.count("FileScan") == 2
    expands = plan.count("Expand")
    assert expands <= 1


def test_rate_anomaly_window_runs_on_checkpointed_grid(tables):
    from databricks_observe_spark.operators import events as E

    plan = _plan(E.rate_anomaly(tables))
    # the events scan collapsed into the checkpointed hourly aggregate;
    # the grid fill, trailing frame, and z^2 test are (types x hours)
    # work only. Two windows since r21: the global hour bounds ride the
    # per-type aggregate as a single-partition window (no scalar branch
    # + broadcast cross join), plus the trailing baseline frame.
    assert "FileScan" not in plan
    assert plan.count("Scan ExistingRDD") >= 2
    assert plan.count("Window") == 2


def test_url_canonical_dedup_single_exchange_no_python(tables):
    from databricks_observe_spark.operators import dedup as D

    plan = _plan(D.url_canonical_dedup(tables))
    # rung 0 of the dedup ladder: one codegen projection, one aggregate
    # exchange on the canonical key — no joins, nothing leaves the JVM
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan and "partial_count" in plan


def test_bloom_contamination_has_no_gram_keyed_join(tables):
    from databricks_observe_spark.operators import dedup as D
    import re as _re

    plan = _plan(D.bloom_contamination_check(tables))
    # the whole point vs contamination_check: the eval set ships as a
    # fixed 128 KiB ONE-ROW broadcast (BroadcastNestedLoopJoin against a
    # single row = a per-task constant), so nothing gram- or eval-SIZED
    # ever joins or shuffles — three hashes + two array lookups per gram,
    # then the one map-side-combined per-doc aggregate exchange
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" not in plan  # no keyed join side at all
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the one-row fan
    assert "EvalPython" not in plan
    keys = {
        m.split(",")[0].split("#")[0]
        for m in _re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"doc_id"}, keys
    assert "partial_sum" in plan


def test_url_host_stats_two_level_distinct_no_expand(tables):
    from databricks_observe_spark.operators import dedup as D
    import re as _re

    plan = _plan(D.url_host_stats(tables))
    # the COUNT(DISTINCT canonical_url) must plan as the two-level
    # (host, url) -> host hash aggregate, never as an Expand that
    # multiplies the corpus scan per aggregate arm
    assert "Expand" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan
    keys = {
        tuple(sorted(p.split("#")[0] for p in m.split(", ")[:-1]))
        for m in _re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {("host",), ("canonical_url", "host")}, keys


def test_dedup_threshold_sweep_joins_only_grid_frames(tables):
    from databricks_observe_spark.operators import dedup as D

    plan = _plan(D.dedup_threshold_sweep(tables))
    # the two theta joins fan the 10-row grid onto <=21-row bucket
    # frames; nothing pair-table-sized may reach a join or be replicated
    # per threshold (the final grid-grid equijoin broadcasts too)
    assert "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2


def test_observability_report_broadcast_build_no_smj(tables):
    from databricks_observe_spark.operators import catalog_ops as C

    plan = _plan(C.observability_report(tables))
    # the fused catalog-sized build side (files + drift + bins) must stay
    # all-broadcast by HINT, not by Catalyst size estimates for aggregate
    # outputs (which can exceed autoBroadcastJoinThreshold and silently
    # plan SortMergeJoins inside the build — r8 ADVICE item)
    assert plan.count("BroadcastHashJoin") >= 3


def test_score_auc_parts_same_plan_discipline(tables):
    from databricks_observe_spark.operators import text as T

    plan = _plan(T.score_auc_parts(tables))
    # identical shape to score_auc minus the final integer-div projection:
    # memoized score table, broadcast label join, corpus collapsed onto
    # the bounded milli grid before the rank window
    assert "Scan ExistingRDD" in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "partial_sum" in plan
