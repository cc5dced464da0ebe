"""The declared bench setup phase, shared by bench.py and perfbench's
setup phase so the two harnesses cannot drift apart.

It builds every derived index the operators declare with
``memo.index``, so no query pays for an index another query would have
built, and a new memo site joins the phase by being declared. Every
index is a BUILD-ONCE artifact: at scale a written table (or trained
model / long-lived runtime state) maintained by ingest, so steady-state
query timings measure execution against the index, not index
construction. The build cost is timed by the callers and reported
separately as ``setup_sec``.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

# concurrent setup builds: a bound on in-flight driver-side submissions,
# not on task parallelism, so it is not tuned to the local core count
SETUP_THREADS = 8


def setup_builders() -> dict:
    """Published name -> builder callable ``build(ctx)``: a copy of the
    table every ``@index`` declaration fills (``memo.INDEXES``); the keys
    are the index names bench.py publishes."""
    from databricks_observe_spark import registry  # noqa: F401  (declares)
    from databricks_observe_spark.memo import INDEXES

    return dict(INDEXES)


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
