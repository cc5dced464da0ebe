"""The declared bench setup phase, shared by bench.py and perfbench's
setup phase so the two harnesses cannot drift apart: a builder missing
from one of them would charge its index build to the first timed pass of
whichever query touches it.

Every entry is a BUILD-ONCE artifact: at scale a written table (or
trained model / long-lived runtime state) maintained by ingest, so
steady-state query timings measure execution against the index, not
index construction. The build cost is timed by the callers and reported
separately as ``setup_sec``.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

# concurrent setup builds: a bound on in-flight driver-side submissions,
# not on task parallelism, so it is not tuned to the local core count
SETUP_THREADS = 8


def setup_builders() -> dict:
    """Published name -> builder callable ``build(ctx)``; the keys are
    the index names bench.py publishes."""
    from databricks_observe_spark.functions.textfns import doc_tokens
    from databricks_observe_spark.operators.catalog_ops import (
        _file_stats,
        _hist_vals,
    )
    from databricks_observe_spark.operators.dedup import (
        _bloom_filter_df,
        _cluster_labels,
        _contam_eval_set,
        _contam_grams,
        _shingle_df,
        _shingle_sizes,
        _shingled,
        _simhash_fps,
        minhash_signatures,
        ngram_jaccard_pairs_capped,
    )
    from databricks_observe_spark.operators.similarity import (
        _bucketed,
        _centroids_bc,
        _doubled,
        _ivf_assigned,
        _quantized,
        _query_set_bc,
        _semdedup_assigned,
    )
    from databricks_observe_spark.operators.text import (
        _bm25_index,
        _bpe_encodings,
        _char_trigrams,
        _dsir_scores,
        _langid_profiles,
        _textrank_graph,
        _tfidf_tf_frame,
        _unigram_lp,
    )

    return {
        "doc_tokens": doc_tokens,
        "shingle_index": _shingled,
        "shingle_df": _shingle_df,
        "shingle_sizes": _shingle_sizes,
        "simhash_fingerprints": _simhash_fps,
        "minhash_signatures": minhash_signatures,
        "lsh_buckets": _bucketed,
        "char_trigrams": _char_trigrams,
        "tfidf_tf": _tfidf_tf_frame,
        "bm25_doclen_df_stats": _bm25_index,
        "langid_trained_profiles": _langid_profiles,
        "textrank_cooccurrence_graph": _textrank_graph,
        "vector_norms": _doubled,
        "ivf_codebook": _centroids_bc,
        "ann_query_set": _query_set_bc,
        "ivf_assignment": _ivf_assigned,
        "kmeans_fixed_point_grid": _quantized,
        "near_dup_cluster_labels": _cluster_labels,
        "file_listing": _file_stats,
        "semdedup_assignment": _semdedup_assigned,
        "jaccard_pairs_capped": ngram_jaccard_pairs_capped,
        "hist_value_agg": _hist_vals,
        "contam_gram_index": _contam_grams,
        "contam_eval_set": _contam_eval_set,
        "dsir_score_table": _dsir_scores,
        "unigram_lp_table": _unigram_lp,
        "bpe_encoded_vocab": _bpe_encodings,
        "bloom_eval_bitmap": _bloom_filter_df,
    }


def build_setup_indexes(spark, ctx, sf_dir: str) -> None:
    """Materialize every shared derived index into ``ctx`` and warm the
    long-lived runtimes (Arrow python workers, Structured Streaming
    execution threads — both persistent on a real cluster).

    The builds overlap: Spark runs several jobs at once inside one
    application, so the next build's tasks back-fill executors freed by
    the current build's straggler tail. Every builder is submitted at
    once; builders that share an input meet in :func:`memo`, which runs
    each index build once and makes later callers wait for it. Job
    descriptions are thread-local, so each build stays labelled in the
    UI. Builders leave the session's confs as they are: a builder that
    iterates plans its rounds on a child session
    (``functions/fixpoint.py``), and ``tests/test_fixpoint.py`` lints
    the package for conf writes."""

    def _run(name: str, build) -> None:
        spark.sparkContext.setJobDescription(f"setup: {name}")
        try:
            build(ctx)
        finally:
            spark.sparkContext.setJobDescription(None)

    # setup_builders is looked up at call time so a caller can wrap it
    builders = setup_builders()
    with ThreadPoolExecutor(max_workers=SETUP_THREADS) as pool:
        futures = [pool.submit(_run, n, b) for n, b in builders.items()]
        for f in futures:
            f.result()  # re-raises a failed build

    # warm the Arrow python workers (long-lived on a real cluster) so
    # Arrow-path timings measure execution, not process spawn. The
    # engine's batch Python runners (mapInArrow via functions/arrowmap.py,
    # pandas_udf, grouped/cogrouped applyInPandas) all reuse workers from
    # one pool, so importing the heavy libraries here pre-warms the pool
    # every later Arrow task draws from.
    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow as pa

        for b in batches:
            yield pa.record_batch({"n": pa.array([b.num_rows], type=pa.int64())})

    ctx["documents"].select("doc_id").limit(32).repartition(32).mapInArrow(
        _warm, "n long"
    ).count()

    # warm the Structured Streaming runtime the same way (StreamExecution
    # threads, checkpoint manager, streaming codegen paths): run one
    # empty availableNow stream to exhaustion
    from pyspark.sql import functions as F

    from databricks_observe_spark.streaming.state import (
        _run_to_exhaustion,
        stream_events,
    )

    _run_to_exhaustion(
        spark,
        sf_dir,
        "setup_warmup",
        lambda spark, sf_dir: stream_events(spark, sf_dir).where(F.lit(False)),
        lambda t: t,
        None,
        "append",
    )
