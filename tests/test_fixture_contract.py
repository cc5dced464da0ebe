"""Fixture-drift smoke tests.

A re-materialized fixture can change the physical parquet type of
``events.ts`` (timestamp[us] instead of nanos-read-as-long); a loader that
assumes one layout then reads garbage or fails deep in a plan. These tests pin
the contract: the loader must DETECT any layout in the accepted set, batch
and streaming reads must agree exactly, and an unknown layout must fail with
a named error instead of a Catalyst type mismatch deep in a plan.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from databricks_observe_spark.sources.tables import (
    TABLE_NAMES,
    check_fixture_contract,
    load_tables,
    normalize_events_ts,
)
from databricks_observe_spark.streaming.state import _run_to_exhaustion, stream_events

SF_DIR = "/root/testdata/sf0.001"


def test_fixture_contract(spark):
    """Every fixture loads; contract-critical columns land on the expected
    Spark types regardless of the physical parquet layout."""
    tables = load_tables(spark, SF_DIR)
    # every fixture table present (plus non-table ctx slots, '_'-prefixed)
    assert {n for n in tables if not n.startswith("_")} == set(TABLE_NAMES)
    assert dict(tables["events"].dtypes)["ts"] == "timestamp"
    assert dict(tables["orders"].dtypes)["o_orderdate"] in (
        "date",
        "timestamp",
        "timestamp_ntz",
    )
    assert dict(tables["embeddings"].dtypes)["embedding"] in (
        "array<float>",
        "array<double>",
    )
    # check_fixture_contract is what load_tables runs; re-run standalone so a
    # failure names this test
    check_fixture_contract(tables)


def test_normalize_events_ts_accepts_both_layouts(spark):
    """bigint-nanos and native-timestamp layouts normalize to the same
    instants."""
    ns = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z in nanos
    as_long = spark.createDataFrame([(ns,), (ns + 3_600_000_000_000,)], "ts bigint")
    as_ts = spark.createDataFrame(
        pd.DataFrame({"ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 01:00:00"])})
    )
    a = normalize_events_ts(as_long)
    b = normalize_events_ts(as_ts)
    assert dict(a.dtypes)["ts"] == "timestamp"
    assert dict(b.dtypes)["ts"] == "timestamp"
    assert sorted(r.ts for r in a.collect()) == sorted(r.ts for r in b.collect())


def test_normalize_events_ts_rejects_unknown_layout(spark):
    bad = spark.createDataFrame([("2024-01-01",)], "ts string")
    with pytest.raises(TypeError, match="events.ts"):
        normalize_events_ts(bad)


def test_batch_ts_equals_streaming_ts(spark, tables):
    """The streaming reader must see byte-identical timestamps to the batch
    loader on the same fixture — a layout mismatch reads silent garbage."""
    batch = tables["events"].agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count("*").alias("n")
    ).collect()[0]

    got = _run_to_exhaustion(
        spark,
        SF_DIR,
        "ts_parity",
        stream_events,
        lambda t: t.agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count("*").alias("n")
        ),
        None,
        "append",
    ).collect()[0]
    assert (got.lo, got.hi, got.n) == (batch.lo, batch.hi, batch.n)


def test_registry_order_puts_rows_only_last():
    """Names are unique, and the one rows-only query (no oracle) comes
    last in ``queries()``."""
    from databricks_observe_spark import registry as R

    qs = R.queries()
    names = list(qs)
    assert names[-1] == "approx_user_counts"
    assert len(names) == len(set(names))
    # every query has an oracle except the declared rows-only tail
    no_oracle = set(qs) - set(R.oracle_sql())
    assert no_oracle == {"approx_user_counts"}


def test_overlapped_setup_builds_every_index(tables, spark):
    """Smoke the concurrent build end-to-end on the test fixture: every
    builder's memo key must exist afterwards and the pool must not have
    raced a dependency (a missing key or an exception would surface
    here). Uses the session ctx, so later tests reuse the same memos."""
    from databricks_observe_spark.setup_phase import build_setup_indexes

    build_setup_indexes(spark, tables, "/root/testdata/sf0.001")
    for key in (
        "_doc_tokens", "_doc_shingles", "_shingle_df", "_shingle_sizes",
        "_simhash_fps", "_minhash_sig", "_emb_buckets", "_doc_trigrams",
        "_tfidf_tf", "_bm25_index", "_langid_profiles", "_textrank_graph",
        "_textrank_n", "_emb_norms",
        "_ivf_centroids_bc", "_ann_queries_bc", "_ivf_assign", "_kmeans_q",
        "_ndc_labels", "_file_stats", "_semdedup_assigned",
        "_jaccard_pairs_capped", "_hist_vals", "_contam_grams",
        "_contam_eval_set", "_dsir_scores", "_unigram_lp",
        "_bpe_encodings", "_bloom_filter_df",
    ):
        assert key in tables, key
