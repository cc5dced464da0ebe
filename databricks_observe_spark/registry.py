"""Query registry — the driver-facing inventory.

Maps every implemented operator (SURVEY.md §2) to:
- a PySpark callable ``(spark, sf_dir) -> DataFrame``
- an equivalent DuckDB-runnable ANSI-SQL oracle (or None for ops that are
  not SQL-expressible, which the driver checks rows-only).

``__spark_entry__.py`` re-exports this; tests iterate it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from databricks_observe_spark.engine import prepare
from databricks_observe_spark.memo import memo
from databricks_observe_spark.sources.catalog_model import oracle_with_clause
from databricks_observe_spark.streaming import state as streaming_state
from databricks_observe_spark.operators import (
    catalog_ops,
    control,
    dedup,
    events,
    flagship,
    layout,
    lineage,
    multimodal,
    pipeline,
    relational,
    runs,
    similarity,
    text,
)

# name -> (tables-dict -> DataFrame, oracle_sql | None)
_REGISTRY: dict[str, tuple[Callable[[dict], DataFrame], str | None]] = {
    "flagship_us_customers": (flagship.america_customers, flagship.FLAGSHIP_ORACLE_SQL),
    "pricing_summary": (relational.pricing_summary, relational.PRICING_SUMMARY_SQL),
    # incremental view maintenance: base partials + batch partials merged,
    # hash-proven lossless against the oracle's full recompute
    "incremental_pricing_summary": (
        relational.incremental_pricing_summary,
        relational.INCREMENTAL_PRICING_SUMMARY_SQL,
    ),
    "shipping_priority": (relational.shipping_priority, relational.SHIPPING_PRIORITY_SQL),
    "local_supplier_revenue": (
        relational.local_supplier_revenue,
        relational.LOCAL_SUPPLIER_REVENUE_SQL,
    ),
    "top_orders_per_customer": (
        relational.top_orders_per_customer,
        relational.TOP_ORDERS_PER_CUSTOMER_SQL,
    ),
    "segment_order_stats": (
        relational.segment_order_stats,
        relational.SEGMENT_ORDER_STATS_SQL,
    ),
    "order_priority_rollup": (
        relational.order_priority_rollup,
        relational.ORDER_PRIORITY_ROLLUP_SQL,
    ),
    "order_value_percentiles": (
        relational.order_value_percentiles,
        relational.ORDER_VALUE_PERCENTILES_SQL,
    ),
    # HLL sketch values are engine-specific -> rows-only check
    "approx_user_counts": (relational.approx_user_counts, None),
    # ... but the sketch's error bound is deterministic -> hash-checked
    "user_count_accuracy": (
        relational.user_count_accuracy,
        relational.USER_COUNT_ACCURACY_SQL,
    ),
    "percentile_sketch_accuracy": (
        relational.percentile_sketch_accuracy,
        relational.PERCENTILE_SKETCH_ACCURACY_SQL,
    ),
    "top_balance_per_nation": (
        relational.top_balance_per_nation,
        relational.TOP_BALANCE_PER_NATION_SQL,
    ),
    "dormant_customers": (relational.dormant_customers, relational.DORMANT_CUSTOMERS_SQL),
    "returned_item_revenue": (
        relational.returned_item_revenue,
        relational.RETURNED_ITEM_REVENUE_SQL,
    ),
    "nation_market_share": (
        relational.nation_market_share,
        relational.NATION_MARKET_SHARE_SQL,
    ),
    "urgent_order_customers": (
        relational.urgent_order_customers,
        relational.URGENT_ORDER_CUSTOMERS_SQL,
    ),
    # MERGE INTO semantics batch-expressed: one full-outer pass applies a
    # CDC change batch (update/delete/insert) to the base
    "merge_upsert": (relational.merge_upsert, relational.MERGE_UPSERT_SQL),
    # percent_rank / cume_dist rank-family analytics per nation
    "balance_percent_rank": (
        relational.balance_percent_rank,
        relational.BALANCE_PERCENT_RANK_SQL,
    ),
    # --- catalog introspection & profiling (§2.1-2.4) ---
    "discovered_objects": (catalog_ops.discovered_objects, catalog_ops.DISCOVERED_OBJECTS_SQL),
    "tables_enriched": (catalog_ops.tables_enriched, catalog_ops.TABLES_ENRICHED_SQL),
    "columns_schema": (catalog_ops.columns_schema, catalog_ops.COLUMNS_SCHEMA_SQL),
    "table_profiles": (catalog_ops.table_profiles, catalog_ops.TABLE_PROFILES_SQL),
    # storage metadata hash-checked: the oracle stats the same files via
    # read_blob over paths recovered from duckdb_views(); instants travel
    # as epoch seconds
    "table_files_meta": (catalog_ops.table_files_meta, catalog_ops.TABLE_FILES_META_SQL),
    "describe_detail": (catalog_ops.describe_detail, catalog_ops.DESCRIBE_DETAIL_SQL),
    # ANALYZE-style numeric stats + equi-width histograms (E2 extension)
    "column_histograms": (
        catalog_ops.column_histograms,
        catalog_ops.COLUMN_HISTOGRAMS_SQL,
    ),
    # OPTIMIZE-style small-file compaction plan from the file INDEX
    "compaction_plan": (catalog_ops.compaction_plan, catalog_ops.COMPACTION_PLAN_SQL),
    # the reference's WHOLE observe tick composed: discovery + profiling
    # + storage stats + drift + compaction pressure, one row per table
    "observability_report": (
        catalog_ops.observability_report,
        catalog_ops.OBSERVABILITY_REPORT_SQL,
    ),
    # catalog-vs-parquet-footer schema drift report (S5 extension)
    "schema_drift": (catalog_ops.schema_drift, catalog_ops.SCHEMA_DRIFT_SQL),
    # Z-order clustering key + range-partitioned file assignment
    "zorder_key": (layout.zorder_key, layout.ZORDER_KEY_SQL),
    # join-key skew diagnosis: hottest keys, share, salt sizing
    "skew_report": (layout.skew_report, layout.SKEW_REPORT_SQL),
    # data-skipping audit: zone-map prune rates for declared predicates
    "zone_map_plan": (layout.zone_map_plan, layout.ZONE_MAP_PLAN_SQL),
    # DLT-expectations data-quality gate: per-constraint pass/fail in one scan
    "expectations_report": (
        catalog_ops.expectations_report,
        catalog_ops.EXPECTATIONS_REPORT_SQL,
    ),
    "named_assets": (catalog_ops.named_assets, catalog_ops.NAMED_ASSETS_SQL),
    "object_count_rollup": (
        catalog_ops.object_count_rollup,
        catalog_ops.OBJECT_COUNT_ROLLUP_SQL,
    ),
    # --- lineage graph (§2.10) ---
    "lineage_closure": (lineage.lineage_closure, lineage.LINEAGE_CLOSURE_SQL),
    # G1 stress at depth ~100: path-doubling closure, O(log d) rounds
    "lineage_closure_deep": (
        lineage.lineage_closure_deep,
        lineage.LINEAGE_CLOSURE_DEEP_SQL,
    ),
    "asset_specs": (lineage.asset_specs, lineage.ASSET_SPECS_SQL),
    "topo_levels": (lineage.topo_levels, lineage.TOPO_LEVELS_SQL),
    # --- run/update streams: windows, transitions, as-of/range (§2.5, §2.7) ---
    "latest_update_per_entity": (
        runs.latest_update_per_entity,
        runs.LATEST_UPDATE_PER_ENTITY_SQL,
    ),
    "state_transitions": (runs.state_transitions, runs.STATE_TRANSITIONS_SQL),
    "first_completed": (runs.first_completed, runs.FIRST_COMPLETED_SQL),
    "asof_last_error_before_purchase": (
        runs.asof_last_error_before_purchase,
        runs.ASOF_LAST_ERROR_SQL,
    ),
    "signup_purchase_window": (
        runs.signup_purchase_window,
        runs.SIGNUP_PURCHASE_WINDOW_SQL,
    ),
    # SCD2 validity intervals per entity (gaps-and-islands over the
    # state timeline the reference samples point-wise, PD:30-41)
    "scd2_history": (runs.scd2_history, runs.SCD2_HISTORY_SQL),
    # S11: run-output point lookup as a query (job_discovery.py:57-65)
    "run_output_lookup": (control.run_output_lookup, control._run_output_lookup_sql()),
    # F7: JSON cursor map serialize/parse round-trip (sensors/dlt_sensor.py:12,46)
    "sensor_cursor_roundtrip": (
        runs.sensor_cursor_roundtrip,
        runs.SENSOR_CURSOR_ROUNDTRIP_SQL,
    ),
    # --- event stream: JSON + time windows (§2.7, §2.8) ---
    "event_type_stats": (events.event_type_stats, events.EVENT_TYPE_STATS_SQL),
    "tumbling_hourly": (events.tumbling_hourly, events.TUMBLING_HOURLY_SQL),
    "sliding_daily": (events.sliding_daily, events.SLIDING_DAILY_SQL),
    "user_sessions": (events.user_sessions, events.USER_SESSIONS_SQL),
    "events_cube": (events.events_cube, events.EVENTS_CUBE_SQL),
    "user_value_zscores": (events.user_value_zscores, events.USER_VALUE_ZSCORES_SQL),
    "high_value_events": (events.high_value_events, events.HIGH_VALUE_EVENTS_SQL),
    "event_dedup_windowed": (
        events.event_dedup_windowed,
        events.EVENT_DEDUP_WINDOWED_SQL,
    ),
    # equal-frequency (ntile) feature binning with exact integer aggregates
    "value_deciles": (events.value_deciles, events.VALUE_DECILES_SQL),
    # ordered signup->click->purchase funnel in one user-key window pass
    "funnel_conversion": (events.funnel_conversion, events.FUNNEL_CONVERSION_SQL),
    # weekly cohort retention triangle (first-event cohorts, 7-day offsets)
    "retention_cohorts": (events.retention_cohorts, events.RETENTION_COHORTS_SQL),
    # watermark-sizing lateness histogram via a distributed prefix scan
    "lateness_report": (events.lateness_report, events.LATENESS_REPORT_SQL),
    # PIVOT: per-user activity matrix with a declared column list
    "event_type_pivot": (events.event_type_pivot, events.EVENT_TYPE_PIVOT_SQL),
    # range (interval-containment) join via bucket decomposition — never a
    # nested loop; the custom-operator class Spark lacks natively
    "range_join_incidents": (
        events.range_join_incidents,
        events.RANGE_JOIN_INCIDENTS_SQL,
    ),
    # hypertable-style multi-grain rollup: every grain from one Expand scan
    "time_rollup_multigrain": (
        events.time_rollup_multigrain,
        events.TIME_ROLLUP_MULTIGRAIN_SQL,
    ),
    # value-distribution drift monitor: per-type PSI between time windows
    # over the shared ref/cur histogram (integer nano-share diffs, ln via
    # the functions/rounding.py twins, exact femto terms)
    "drift_psi": (events.drift_psi, events.DRIFT_PSI_SQL),
    # two-sample Kolmogorov-Smirnov drift: max ECDF gap on a fixed fine
    # grid, pure-integer cross-product form (no smoothing, no ln sites)
    "ks_drift": (events.ks_drift, events.KS_DRIFT_SQL),
    # trailing-24h rate alarm: grid-filled hourly series, decimal-exact
    # cross-multiplied z^2 test (no sqrt/floats; empty hours count)
    "rate_anomaly": (events.rate_anomaly, events.RATE_ANOMALY_SQL),
    # --- deduplication (extension surface: BASELINE.json north star) ---
    "exact_dedup": (dedup.exact_dedup, dedup.EXACT_DEDUP_SQL),
    # normalization-based near-exact dedup (the first rung of the ladder)
    "normalized_dedup": (dedup.normalized_dedup, dedup.NORMALIZED_DEDUP_SQL),
    # stable train/val/test assignment (content-stable hash buckets)
    "hash_split": (dedup.hash_split, dedup.HASH_SPLIT_SQL),
    # quality-aware survivor per near-dup cluster (integer quality rank)
    "dedup_retention": (dedup.dedup_retention, dedup.DEDUP_RETENTION_SQL),
    "ngram_jaccard_pairs": (dedup.ngram_jaccard_pairs, dedup.NGRAM_JACCARD_PAIRS_SQL),
    "ngram_jaccard_pairs_capped": (
        dedup.ngram_jaccard_pairs_capped,
        dedup.NGRAM_JACCARD_PAIRS_CAPPED_SQL,
    ),
    "near_dup_clusters": (dedup.near_dup_clusters, dedup.NEAR_DUP_CLUSTERS_SQL),
    "curated_corpus": (dedup.curated_corpus, dedup.CURATED_CORPUS_SQL),
    # ExactSubstr-class triage: verbatim 15-token runs shared across docs
    "duplicated_spans": (dedup.duplicated_spans, dedup.DUPLICATED_SPANS_SQL),
    # MinHash-LSH index-quality gate: banded candidates vs exact Jaccard
    "lsh_dedup_recall": (dedup.lsh_dedup_recall, dedup.LSH_DEDUP_RECALL_SQL),
    # the composed curation DAG: normalize -> dedup -> quality ->
    # decontaminate -> stratify -> pack as ONE job (operators/pipeline.py)
    "curation_pipeline_e2e": (
        pipeline.curation_pipeline_e2e,
        pipeline.CURATION_PIPELINE_E2E_SQL,
    ),
    "deterministic_sample": (dedup.deterministic_sample, dedup.DETERMINISTIC_SAMPLE_SQL),
    # A-ES weighted sampling: content-stable, weight-proportional winners
    "weighted_sample_topk": (
        dedup.weighted_sample_topk,
        dedup.WEIGHTED_SAMPLE_TOPK_SQL,
    ),
    # per-source duplicate-rate health report (basis points, integer)
    "per_source_dedup_rate": (
        dedup.per_source_dedup_rate,
        dedup.PER_SOURCE_DEDUP_RATE_SQL,
    ),
    # source x source 3-gram containment (mirror/republish detector;
    # bounded collect_set per gram — no gram-keyed self-join)
    "source_overlap_matrix": (
        dedup.source_overlap_matrix,
        dedup.SOURCE_OVERLAP_MATRIX_SQL,
    ),
    # deterministic sharded training-order permutation (no global sort)
    "epoch_shuffle": (dedup.epoch_shuffle, dedup.EPOCH_SHUFFLE_SQL),
    "minhash_lsh_pairs": (dedup.minhash_lsh_pairs, dedup.MINHASH_LSH_PAIRS_SQL),
    "simhash_fingerprints": (
        dedup.simhash_fingerprints,
        dedup.SIMHASH_FINGERPRINTS_SQL,
    ),
    "simhash_near_dup_pairs": (
        dedup.simhash_near_dup_pairs,
        dedup.SIMHASH_NEAR_DUP_PAIRS_SQL,
    ),
    "embedding_near_dup": (dedup.embedding_near_dup, dedup.EMBEDDING_NEAR_DUP_SQL),
    "embedding_near_dup_lsh": (
        dedup.embedding_near_dup_lsh,
        dedup.EMBEDDING_NEAR_DUP_LSH_SQL,
    ),
    "chunk_dedup": (dedup.chunk_dedup, dedup.CHUNK_DEDUP_SQL),
    "incremental_dedup": (dedup.incremental_dedup, dedup.INCREMENTAL_DEDUP_SQL),
    "contamination_check": (
        dedup.contamination_check,
        dedup.CONTAMINATION_CHECK_SQL,
    ),
    # the 100-TB Bloom-bitmap form of the eval anti-set — the oracle
    # reproduces the filter's false positives exactly (salted-md5 bits)
    "bloom_contamination_check": (
        dedup.bloom_contamination_check,
        dedup.BLOOM_CONTAMINATION_CHECK_SQL,
    ),
    # rung 0 of the web-corpus dedup ladder — canonicalize the URL
    # surface form before any content hashing
    "url_canonical_dedup": (
        dedup.url_canonical_dedup,
        dedup.URL_CANONICAL_DEDUP_SQL,
    ),
    # per-host crawl-health report off the same canonicalization chain
    "url_host_stats": (dedup.url_host_stats, dedup.URL_HOST_STATS_SQL),
    # near-dup threshold sensitivity off the memoized exact pair table
    "dedup_threshold_sweep": (
        dedup.dedup_threshold_sweep,
        dedup.DEDUP_THRESHOLD_SWEEP_SQL,
    ),
    # --- similarity search ---
    "ann_bruteforce_topk": (
        similarity.ann_bruteforce_topk,
        similarity.ANN_BRUTEFORCE_TOPK_SQL,
    ),
    "lsh_bucket_stats": (similarity.lsh_bucket_stats, similarity.LSH_BUCKET_STATS_SQL),
    "ann_lsh_topk": (similarity.ann_lsh_topk, similarity.ANN_LSH_TOPK_SQL),
    "ivf_ann_topk": (similarity.ivf_ann_topk, similarity.IVF_ANN_TOPK_SQL),
    # recall@k of the LSH index vs brute-force ground truth (eval loop)
    "ann_recall": (similarity.ann_recall, similarity.ANN_RECALL_SQL),
    # symmetric per-vector int8 compression summary, pure JVM array ops
    "int8_quantize": (similarity.int8_quantize, similarity.INT8_QUANTIZE_SQL),
    # k-means E-step on raw doubles, oracle-paired
    "kmeans_assign": (similarity.kmeans_assign, similarity.KMEANS_ASSIGN_SQL),
    # full Lloyd loop on 1e-6 fixed-point inputs: integer M-step sums make
    # every iteration bit-reproducible, so the oracle replays it exactly
    "kmeans_clusters": (similarity.kmeans_clusters, similarity.KMEANS_CLUSTERS_SQL),
    # SemDeDup: cluster-blocked embedding near-dup pruning
    "semantic_dedup": (similarity.semantic_dedup, similarity.SEMANTIC_DEDUP_SQL),
    # --- text analysis ---
    "text_stats": (text.text_stats, text.TEXT_STATS_SQL),
    "lang_profile": (text.lang_profile, text.LANG_PROFILE_SQL),
    "langid_trigram": (text.langid_trigram, text.LANGID_TRIGRAM_SQL),
    "doc_fingerprints": (text.doc_fingerprints, text.DOC_FINGERPRINTS_SQL),
    "token_count_regex": (text.token_count_regex, text.TOKEN_COUNT_REGEX_SQL),
    "heavy_hitter_tokens": (text.heavy_hitter_tokens, text.HEAVY_HITTER_TOKENS_SQL),
    "tfidf_keywords": (text.tfidf_keywords, text.TFIDF_KEYWORDS_SQL),
    # Okapi BM25 probe retrieval over the corpus (integer micro-unit
    # scores, quantize-before-log idf)
    "bm25_scores": (text.bm25_scores, text.BM25_SCORES_SQL),
    "quality_filter": (text.quality_filter, text.QUALITY_FILTER_SQL),
    "vocab_coverage": (text.vocab_coverage, text.VOCAB_COVERAGE_SQL),
    "repetition_signals": (text.repetition_signals, text.REPETITION_SIGNALS_SQL),
    "sequence_packing": (text.sequence_packing, text.SEQUENCE_PACKING_SQL),
    "pii_redaction": (text.pii_redaction, text.PII_REDACTION_SQL),
    "mixture_weights": (text.mixture_weights, text.MIXTURE_WEIGHTS_SQL),
    # T != 1 sampling weights (q ~ p^alpha, integer nano-unit
    # normalization, quantize-before-pow)
    "mixture_weights_temperature": (
        text.mixture_weights_temperature,
        text.MIXTURE_WEIGHTS_TEMPERATURE_SQL,
    ),
    # one-row corpus data card (two deliberate passes — no Expand)
    "corpus_card": (text.corpus_card, text.CORPUS_CARD_SQL),
    # UniMax epoch-capped budget allocation: closed-form waterfilling
    # over the language-cardinality frame, exact-integer budget exhaustion
    "unimax_allocation": (text.unimax_allocation, text.UNIMAX_ALLOCATION_SQL),
    "stratified_sample": (text.stratified_sample, text.STRATIFIED_SAMPLE_SQL),
    # TextRank keyword centrality: fixed-point PageRank over the token
    # co-occurrence graph, oracle replays the unrolled iterations
    "textrank_keywords": (text.textrank_keywords, text.TEXTRANK_KEYWORDS_SQL),
    # Levenshtein fuzzy lookup against a broadcast probe set, no UDF
    "fuzzy_match_probe": (text.fuzzy_match_probe, text.FUZZY_MATCH_PROBE_SQL),
    "unigram_kl": (text.unigram_kl, text.UNIGRAM_KL_SQL),
    # BPE tokenizer-training inner loop: weighted adjacent-pair counts
    "bpe_pair_counts": (text.bpe_pair_counts, text.BPE_PAIR_COUNTS_SQL),
    # BPE encode side: greedy longest-match against the learned merge
    # table, vocabulary-sized walk (oracle replays it as a recursive CTE)
    "bpe_apply_merges": (text.bpe_apply_merges, text.BPE_APPLY_MERGES_SQL),
    # LM-based quality signal: per-doc avg unigram log-probability
    "unigram_logprob": (text.unigram_logprob, text.UNIGRAM_LOGPROB_SQL),
    # DSIR importance-resampling weights: hashed-unigram bucket LMs,
    # broadcast log-ratio table, integer micro-unit doc scores
    "dsir_importance_weights": (
        text.dsir_importance_weights,
        text.DSIR_IMPORTANCE_WEIGHTS_SQL,
    ),
    # tie-aware Mann-Whitney AUC of the DSIR score vs the target-lang
    # label (milli-grid grouping bounds the rank frame by construction;
    # integer-only projection)
    "score_auc": (text.score_auc, text.SCORE_AUC_SQL),
    # localization companion: the same row MINUS the one derived column,
    # so a green/red pair pins any divergence to that column
    "score_auc_parts": (text.score_auc_parts, text.SCORE_AUC_PARTS_SQL),
    # reliability report: per 0.1-nat score band, target-lang rate in
    # basis points (bounded band grid, no ntile/global sort)
    "score_calibration": (text.score_calibration, text.SCORE_CALIBRATION_SQL),
    # per-lang BPE fertility (units/word) and compression (chars/unit)
    # over the learned merge vocabulary
    "tokenizer_fertility": (
        text.tokenizer_fertility,
        text.TOKENIZER_FERTILITY_SQL,
    ),
    # corpus-level distinct-1/distinct-2 diversity per source (tagged
    # single-explode, two-level aggregate — no count_distinct Expand)
    "ngram_diversity": (text.ngram_diversity, text.NGRAM_DIVERSITY_SQL),
    # CCNet-style per-lang head/middle/tail terciles of the LM score,
    # assigned per VALUE over the score histogram (no per-doc sort)
    "perplexity_buckets": (text.perplexity_buckets, text.PERPLEXITY_BUCKETS_SQL),
    "length_outliers": (text.length_outliers, text.LENGTH_OUTLIERS_SQL),
    # --- multimodal columns ---
    "multimodal_meta": (multimodal.multimodal_meta, multimodal.MULTIMODAL_META_SQL),
    # mapInPandas feature extraction, posexploded to scalar rows; the fake
    # features are sha256-derived so the oracle recomputes them from hex
    "media_features": (multimodal.media_features, multimodal.MEDIA_FEATURES_SQL),
    # frame-sampling plan from metadata alone (JVM-only, oracle-paired)
    "frame_sample": (multimodal.frame_sample, multimodal.FRAME_SAMPLE_SQL),
    # audio twin of frame_sample: metadata-only chunk plan (fixed windows
    # + trailing overlap, exact-integer PCM byte ranges, no Python)
    "audio_chunking": (multimodal.audio_chunking, multimodal.AUDIO_CHUNKING_SQL),
    # Arrow resize plumbing; oracle recomputes the deterministic outputs
    "image_resize": (multimodal.image_resize, multimodal.IMAGE_RESIZE_SQL),
}


def _prepared(
    query: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """A query that takes ``(spark, sf_dir)`` itself, run after the cached
    prepare: the session confs are set and the global_temp views exist."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ctx(spark, sf_dir)
        return query(spark, sf_dir)

    return run


# live-session queries: they introspect the SparkSession itself, not the
# fixture frames
_LIVE_QUERIES: dict[str, tuple] = {
    "discovered_objects_live": (
        _prepared(catalog_ops.discovered_objects_live),
        catalog_ops.DISCOVERED_OBJECTS_LIVE_SQL,
    ),
}


# streaming queries: each runs a real StreamingQuery to exhaustion, then
# returns the deterministic emitted key set; oracle-paired against the
# batch view
_STREAMING_QUERIES: dict[str, tuple] = {
    "streaming_first_completed": (
        _prepared(streaming_state.streaming_first_completed_query),
        oracle_with_clause("updates")
        + streaming_state.STREAMING_FIRST_COMPLETED_SQL_SUFFIX,
    ),
    "streaming_tumbling_hourly": (
        _prepared(streaming_state.streaming_tumbling_query),
        streaming_state.STREAMING_TUMBLING_SQL,
    ),
    "streaming_click_attribution": (
        _prepared(streaming_state.streaming_click_attribution_query),
        streaming_state.STREAMING_CLICK_ATTRIBUTION_SQL,
    ),
    # the applyInPandasWithState custom sessionizer, pinned against the
    # relational gaps-and-islands oracle (closed sessions only)
    "streaming_sessionize": (
        _prepared(streaming_state.streaming_sessionize_query),
        streaming_state.STREAMING_SESSIONIZE_SQL,
    ),
    # exactly-once corpus-ingest dedup: state keyed by content digest,
    # emitted digest set pinned against the batch DISTINCT oracle
    "streaming_corpus_dedup": (
        _prepared(streaming_state.streaming_corpus_dedup_query),
        streaming_state.STREAMING_CORPUS_DEDUP_SQL,
    ),
    # the drift monitor in its streaming home: complete-mode (type,bin)
    # histogram state, PSI computed off the final maintained state —
    # same oracle as the batch operator by construction
    "streaming_drift_psi": (
        _prepared(streaming_state.streaming_drift_psi_query),
        events.DRIFT_PSI_SQL,
    ),
}


# ctx cache: prepare() is pure view registration, reuse across queries() calls
_CTX: dict[tuple[int, str], dict] = {}


def _ctx(spark: SparkSession, sf_dir: str) -> dict:
    """Per-(session, fixture) context dict; its lifetime contract is
    documented on :func:`memo`."""
    return memo(_CTX, (id(spark), sf_dir), lambda: prepare(spark, sf_dir))


def _wrap(fn: Callable[[dict], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(_ctx(spark, sf_dir))

    return runner


def _all() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    """Every registration as ``name -> ((spark, sf_dir) -> DataFrame,
    oracle_sql | None)``: registry order, with the rows-only queries (no
    oracle) last."""
    out = {name: (_wrap(fn), sql) for name, (fn, sql) in _REGISTRY.items()}
    out.update(_LIVE_QUERIES)
    out.update(_STREAMING_QUERIES)
    return dict(sorted(out.items(), key=lambda kv: kv[1][1] is None))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _all().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _all().items() if sql is not None}
