"""Output types of every registered query, read off the one registry walk.

The session-scoped ``surface`` fixture (``tests/conftest.py``) records
each query's output schema, the batch and live queries as built and the
six streaming queries as their memory sinks emit them. Each test below
asserts, over its half of the registry: no DecimalType anywhere in an
output (DuckDB's ``.df()`` renders DECIMAL(38,0) as float64 while
Spark's ``toPandas`` yields Decimal objects: identical values, diverging
hashes); the float columns are exactly that half of ``FLOAT_ALLOWLIST``
(a stale entry fails too); and no output nests arrays or maps deeper
than the oracle's classifier inspects (``_CLS_MAX_DEPTH``). A query that
raised is named by the oracle test in ``tests/test_surface.py``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DataType,
    DecimalType,
    DoubleType,
    FloatType,
    MapType,
    StructType,
)

from databricks_observe_spark import registry as R
from tools.check_oracle import _CLS_MAX_DEPTH

# (query, column-path) pairs allowed to be float/double. Audit trail:
# "fixture" = carries the raw events.value double straight through;
# "rounded" = the round-half-up / fixed-denominator idiom (the value is
# an exact small-integer ratio representable in a double, so both
# engines produce the identical bit pattern); "ratio" = quotient of two
# exact integers computed with the same operand order on both engines.
FLOAT_ALLOWLIST: frozenset[tuple[str, str]] = frozenset(
    {
        # -- fixture passthrough: the parquet column itself is double
        # (events.value, customer.c_acctbal, orders.o_totalprice), so
        # both engines read the identical IEEE754 bits
        ("dormant_customers", "c_acctbal"),
        ("event_dedup_windowed", "value"),
        ("flagship_us_customers", "c_acctbal"),
        ("high_value_events", "value"),
        ("media_features", "value"),
        ("returned_item_revenue", "c_acctbal"),
        ("signup_purchase_window", "purchase_value"),
        ("top_balance_per_nation", "c_acctbal"),
        ("top_orders_per_customer", "o_totalprice"),
        ("user_value_zscores", "value"),
        # -- sums/avgs of fixture doubles (the hasher's float
        # canonicalization tolerates them; TPC-H money sums agree across
        # engines at fixture scale)
        ("event_type_stats", "avg_value"),
        ("event_type_stats", "sum_value"),
        ("events_cube", "sum_value"),
        ("incremental_pricing_summary", "avg_price"),
        ("incremental_pricing_summary", "avg_qty"),
        ("incremental_pricing_summary", "sum_base_price"),
        ("incremental_pricing_summary", "sum_charge"),
        ("incremental_pricing_summary", "sum_disc_price"),
        ("incremental_pricing_summary", "sum_qty"),
        ("local_supplier_revenue", "revenue"),
        ("nation_market_share", "brazil_revenue"),
        ("nation_market_share", "mkt_share"),
        ("nation_market_share", "total_revenue"),
        ("order_priority_rollup", "total_price"),
        ("order_value_percentiles", "p25"),
        ("order_value_percentiles", "p50"),
        ("order_value_percentiles", "p75"),
        ("percentile_sketch_accuracy", "exact_p50"),
        ("percentile_sketch_accuracy", "exact_p90"),
        ("pricing_summary", "avg_price"),
        ("pricing_summary", "avg_qty"),
        ("pricing_summary", "sum_base_price"),
        ("pricing_summary", "sum_charge"),
        ("pricing_summary", "sum_disc_price"),
        ("pricing_summary", "sum_qty"),
        ("range_join_incidents", "sum_value"),
        ("returned_item_revenue", "revenue"),
        ("segment_order_stats", "avg_order_value"),
        ("segment_order_stats", "max_order"),
        ("segment_order_stats", "min_order"),
        ("segment_order_stats", "total_revenue"),
        ("shipping_priority", "revenue"),
        ("time_rollup_multigrain", "sum_value"),
        ("tumbling_hourly", "sum_value"),
        ("user_sessions", "sum_value"),
        ("user_value_zscores", "user_mean"),
        ("user_value_zscores", "zscore"),
        ("streaming_sessionize", "sum_value"),
        # -- exact small-integer ratios (numerator/denominator both
        # exact ints, same operand order on both engines)
        ("balance_percent_rank", "cd"),
        ("balance_percent_rank", "pr"),
        ("chunk_dedup", "dup_chunk_frac"),
        ("contamination_check", "overlap_frac"),
        ("curation_pipeline_e2e", "fill_ratio"),
        ("lang_profile", "avg_chars"),
        ("minhash_lsh_pairs", "est_jaccard"),
        ("ngram_jaccard_pairs", "jaccard"),
        ("ngram_jaccard_pairs_capped", "jaccard"),
        ("repetition_signals", "adjacent_repeat_frac"),
        ("repetition_signals", "distinct_ratio"),
        ("repetition_signals", "top_bigram_share"),
        ("sequence_packing", "fill_ratio"),
        ("skew_report", "share"),
        ("skew_report", "skew_factor"),
        ("text_stats", "avg_token_len"),
        ("text_stats", "stopword_ratio"),
        ("text_stats", "ttr"),
        ("tfidf_keywords", "tfidf"),
        ("vocab_coverage", "cum_share"),
        # -- exact-integer quotient, but NOT a small-integer ratio: the
        # A-Res weighted-sampling key (dedup.py `weighted_sample_topk`)
        # is floor(ln(u)*1e6) — an exact BIGINT on both engines — cast
        # to double and divided by n_chars (also an exact integer).
        # IEEE754 division is correctly rounded, and both engines divide
        # the same two exact operands in the same order, so the bit
        # pattern is deterministic even though the quotient is neither
        # small nor grid-quantized.
        ("weighted_sample_topk", "aes_key"),
        # -- round-half-up-on-a-fixed-grid idiom (the *_r suffix: the
        # value is k/10^d for small k, exactly representable or within
        # the hasher's rounding on both engines)
        ("ann_bruteforce_topk", "cosine_r"),
        ("ann_lsh_topk", "cosine_r"),
        ("column_histograms", "max_r"),
        ("column_histograms", "min_r"),
        ("corpus_card", "avg_chars_r"),
        ("corpus_card", "avg_tokens_r"),
        ("embedding_near_dup", "cosine_r"),
        ("embedding_near_dup_lsh", "cosine_r"),
        ("ivf_ann_topk", "cosine_r"),
        ("kmeans_assign", "sq_dist_r"),
        ("length_outliers", "mad_r"),
        ("length_outliers", "med_r"),
        ("mixture_weights", "actual_share_r"),
        ("mixture_weights", "weight_r"),
        ("mixture_weights_temperature", "temp_share_r"),
        ("mixture_weights_temperature", "temp_weight_r"),
        ("ngram_diversity", "distinct1_r"),
        ("ngram_diversity", "distinct2_r"),
        ("quality_filter", "stopword_ratio_r"),
        ("quality_filter", "ttr_r"),
        ("semantic_dedup", "cosine_r"),
        ("tokenizer_fertility", "chars_per_unit_r"),
        ("tokenizer_fertility", "fertility_r"),
        ("unigram_kl", "kl_r"),
        ("unimax_allocation", "epochs_r"),
        # -- rows-only (never hashed — engine-specific HLL accuracy
        # report)
        ("approx_user_counts", "rel_error"),
    }
)


def _leaves(dt: DataType, path: str, depth: int = 0):
    """Yield (path, type, array/map nesting depth) for every leaf."""
    if isinstance(dt, ArrayType):
        yield from _leaves(dt.elementType, path + "[]", depth + 1)
    elif isinstance(dt, MapType):
        yield from _leaves(dt.keyType, path + ".key", depth + 1)
        yield from _leaves(dt.valueType, path + ".val", depth + 1)
    elif isinstance(dt, StructType):
        for f in dt.fields:
            yield from _leaves(f.dataType, path + "." + f.name, depth)
    else:
        yield path, dt, depth



def _lint(surface, names: set[str]) -> None:
    leaves = [
        (name, path, dt, depth)
        for name, p in surface.items()
        if name in names and p.schema is not None
        for f in p.schema.fields
        for path, dt, depth in _leaves(f.dataType, f.name)
    ]
    decimals = [(n, path) for n, path, dt, _ in leaves if isinstance(dt, DecimalType)]
    assert decimals == [], f"DecimalType output: {decimals}"
    floats = {
        (n, path) for n, path, dt, _ in leaves if isinstance(dt, (DoubleType, FloatType))
    }
    allowed = {(q, c) for q, c in FLOAT_ALLOWLIST if q in names}
    assert floats == allowed, (
        f"unaudited float columns: {sorted(floats - allowed)}; "
        f"stale allowlist entries: {sorted(allowed - floats)}"
    )
    deep = [(n, path, d) for n, path, _, d in leaves if d > _CLS_MAX_DEPTH]
    assert deep == [], f"nested deeper than _CLS_MAX_DEPTH={_CLS_MAX_DEPTH}: {deep}"


def test_batch_registry_output_types(surface):
    """Every batch and live query."""
    _lint(surface, set(R.queries()) - set(R._STREAMING_QUERIES))


def test_streaming_registry_output_types(surface):
    """The six streaming queries: the exact frames their memory sinks emit."""
    _lint(surface, set(R._STREAMING_QUERIES))


def test_allowlist_names_only_registered_queries():
    """The two halves above cover ``FLOAT_ALLOWLIST`` between them."""
    assert {q for q, _ in FLOAT_ALLOWLIST} <= set(R.queries())
