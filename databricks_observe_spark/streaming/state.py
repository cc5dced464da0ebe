"""Structured Streaming forms of the reference's polling/sensor machinery.

Reference behavior being rebuilt (SURVEY.md §2.7):

- ST1: poll every 5 s until terminal state (``pipeline_discovery.py:59-77``,
  ``job_discovery.py:37-55``) -> micro-batch trigger cadence.
- ST2: the completion sensor's cursor — a JSON map ``"pid:uid" -> state``
  persisted across ticks (``sensors/dlt_sensor.py:12-46``) -> streaming
  ``dropDuplicates`` keyed on (entity_type, entity_id, update_id) with the
  checkpoint as the cursor. The sensor keeps that cursor across ticks: one
  checkpoint and one append-only parquet log per (session, fixture dir,
  glob), so a tick reads only the feed files it has not seen and costs
  O(new input), not O(history). Exactly-once across restarts comes from
  checkpoint + replay (tested by re-running the same source against the
  same checkpoint).
- ST3: cron cadences -> ``trigger(processingTime=...)``; tests use
  ``availableNow`` for determinism.

One harness: each ``*_stream`` builder returns a streaming DataFrame over
``stream_parquet``, the one file source. ``start_parquet_log`` is the
sensor's sink: it appends to the parquet log its cursor keeps. Every
other stream is a one-shot replay: ``_run_to_exhaustion`` starts it into
``start_memory``, the one memory sink.

Scale stance: state is keyed by (entity_type, entity_id, update_id) — bounded by live
updates, not event volume — and the watermark lets Spark evict keys older
than the lateness bound, so state size is O(active updates), which is what
survives a 100 TB event stream.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from databricks_observe_spark.functions.rounding import (
    round_half_up,
    sql_round_half_up,
)
from databricks_observe_spark.memo import memo
from databricks_observe_spark.session import ensure_conf
from databricks_observe_spark.sources.catalog_model import updates_of
from databricks_observe_spark.sources.tables import (
    TS_FMT,
    TS_FMT_DUCK,
    footer_schema,
    normalize_events_ts,
)

TERMINAL_STATE = "COMPLETED"  # dlt_sensor.py:6
WATERMARK = "1 hour"


def stream_parquet(spark: SparkSession, sf_dir: str, glob: str) -> DataFrame:
    """File-source stream over the fixture files in ``sf_dir`` matching
    ``glob`` (stands in for the REST polling feed).

    The reader schema is DETECTED from the files' parquet footer, as the
    batch loader's is, rather than hardcoded: a streaming file source
    silently coerces data to a wrong declared schema (a hardcoded
    ``ts bigint`` over micros-timestamp parquet produced garbage epochs
    and silently-wrong windows, not an error)."""
    ensure_conf(spark)
    return (
        spark.readStream.schema(footer_schema(os.path.join(sf_dir, glob)))
        .format("parquet")
        .option("pathGlobFilter", glob)  # file sources want a dir
        .load(sf_dir)
    )


def stream_events(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """The events stream, its ts normalized by the exact same
    dtype-conditional rule as the batch loader, so batch ts == stream ts
    by construction (pinned by tests/test_fixture_contract.py's parity
    test)."""
    return normalize_events_ts(stream_parquet(spark, sf_dir, glob))


def completed_updates(spark: SparkSession, sf_dir: str, glob: str) -> DataFrame:
    """ST2's cursor dedup: each (entity, update) once, on its first
    COMPLETED poll (dlt_sensor.py:23-41).

    - ``dropDuplicatesWithinWatermark`` state == the cursor map; the
      checkpoint == the persisted cursor JSON (dlt_sensor.py:43-46).
    - the watermark genuinely bounds state: the within-watermark variant
      evicts a key once the watermark passes its event time (plain
      ``dropDuplicates`` keeps every key forever when the event-time column
      is not part of the subset). Re-polls arriving later than 1h are
      assumed impossible upstream (the sensor polls at >=60 s,
      dlt_sensor.py:8) — that assumption is exactly what makes
      within-watermark dedup equivalent to the reference cursor.
    """
    updates = updates_of(stream_events(spark, sf_dir, glob)).drop("event_id")
    return (
        updates.filter(F.col("state") == TERMINAL_STATE)
        .withWatermark("ts", WATERMARK)
        # FULL entity identity in the dedup key: the reference cursor is
        # "pid:uid" PER SENSOR TYPE — keying on entity_id alone would
        # suppress a job completion whenever a pipeline shares its id
        .dropDuplicatesWithinWatermark(["entity_type", "entity_id", "update_id"])
    )


def first_completed_stream(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """ST2 as a stream: emit each (entity, update) at most once on
    COMPLETED, exactly the sensor-cursor dedup (``completed_updates``).
    Idempotent restart: rerunning over the same files + checkpoint emits
    nothing new (at-most-once emission, ST4)."""
    return completed_updates(spark, sf_dir, glob).select(
        "entity_type", "entity_id", "update_id", "ts"
    )


def tumbling_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling 1-hour counts per event type — the streaming
    twin of operators/events.py:tumbling_hourly (identical window exprs)."""
    return (
        stream_events(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


# Measured sweep (sf0.1, local[32]): 8 -> 4 stores cuts every harness
# query's wall 15-45% (each store is a checkpoint dir + delta-file write
# + maintenance thread; at fixture scale the state fits 4 with room);
# 2 is no faster than 4, so 4 keeps headroom. Production sizes this UP
# with key cardinality — state parallelism, not a fixed constant.
STREAM_SHUFFLE_PARTITIONS = "4"


@contextlib.contextmanager
def _stream_confs(spark: SparkSession, extra: dict[str, str] | None = None):
    """Pin stateful-stream confs around ``.start()`` (a stream captures
    the conf at start, so this scopes to the stream while leaving batch
    queries on the session defaults).

    Always pins shuffle partitions to a fixture-sized count: each shuffle
    partition of a stateful operator owns a state store (checkpoint dir +
    maintenance thread); at fixture scale 32 stores are pure overhead
    (~2x wall on the harness queries, measured). At production scale this
    knob is sized UP with key cardinality — state parallelism, not a
    fixed constant. ``extra`` adds per-stream conf overrides keyed by the
    full conf name."""
    confs = {"spark.sql.shuffle.partitions": STREAM_SHUFFLE_PARTITIONS}
    confs.update(extra or {})
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# A run-to-exhaustion harness whose output never flushes on watermark
# advance cuts the trailing no-data micro-batch, which only evicts expired
# state (0 output rows). Watermark-flushed APPEND AGGREGATIONS (tumbling)
# must keep theirs.
_NO_DATA_BATCHES_OFF = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}


def start_memory(
    frame: DataFrame, checkpoint_dir: str, out_table: str, mode: str
) -> StreamingQuery:
    """Start ``frame`` as an availableNow run into the memory table
    ``out_table`` in output mode ``mode``, checkpointed at
    ``checkpoint_dir``."""
    return (
        frame.writeStream.format("memory")
        .queryName(out_table)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_parquet_log(
    frame: DataFrame, checkpoint_dir: str, log_dir: str
) -> StreamingQuery:
    """Start ``frame`` as an availableNow run that appends to the parquet
    file sink at ``log_dir``, checkpointed at ``checkpoint_dir``. The
    sink's ``_spark_metadata`` log commits each batch's files exactly
    once, and a batch reader of ``log_dir`` sees only committed files."""
    return (
        frame.writeStream.format("parquet")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .option("path", log_dir)
        .trigger(availableNow=True)
        .start()
    )


def _await_end(q: StreamingQuery, query: str) -> None:
    """Wait for the availableNow run ``q`` to end; stop it and raise if it
    has not ended within 300 s."""
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(f"{query} did not finish its availableNow run within 300s")


def _run_to_exhaustion(
    spark: SparkSession,
    sf_dir: str,
    query: str,
    stream: Callable[[SparkSession, str], DataFrame],
    finish: Callable[[DataFrame], DataFrame],
    confs: dict[str, str] | None,
    mode: str,
) -> DataFrame:
    """Build ``stream(spark, sf_dir)`` and run it to its end into a memory
    sink in output mode ``mode``, under ``_stream_confs(spark, confs)``;
    return ``finish(spark.table(out_table))``. Every stream the engine
    runs to exhaustion starts here.

    The result is built before the memory sink's temp view is dropped (a
    built DataFrame holds the sink itself, not the view name), and the
    checkpoint directory is removed once the stream has ended, so a call
    leaves no view and no directory behind."""
    name = f"{query}_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{query}_")
    try:
        with _stream_confs(spark, confs):
            q = start_memory(stream(spark, sf_dir), ckpt, name, mode)
        _await_end(q, query)
        return finish(spark.table(name))
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)


# (id(session), fixture dir, glob) -> (cursor directory, its lock): the
# sensor's persisted cursors, removed at interpreter exit
_CURSORS: dict[tuple[int, str, str], tuple[str, threading.Lock]] = {}


def _cursor(spark: SparkSession, sf_dir: str, glob: str) -> tuple[str, threading.Lock]:
    """The sensor cursor of ``(spark, sf_dir, glob)``: a directory that
    holds its checkpoint and its parquet log, and the lock its ticks run
    under (one availableNow run per checkpoint at a time)."""
    return memo(
        _CURSORS,
        (id(spark), sf_dir, glob),
        lambda: (
            tempfile.mkdtemp(prefix="cursor_streaming_first_completed_"),
            threading.Lock(),
        ),
    )


@atexit.register
def _remove_cursors() -> None:
    """Remove every sensor cursor directory; registered as an exit hook."""
    for root, _ in list(_CURSORS.values()):
        shutil.rmtree(root, ignore_errors=True)
    _CURSORS.clear()


def streaming_first_completed_query(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """Driver-checkable form of the ST2 sensor: one tick of the
    watermarked exactly-once completion pipeline (availableNow), returning
    the key set emitted over every tick so far.

    The cursor persists across ticks, as the reference sensor's does
    (dlt_sensor.py:43-46): each ``(spark, sf_dir, glob)`` keeps one
    checkpoint and one append-mode parquet log (``start_parquet_log``).
    A tick lists the feed, runs micro-batches over only the files its
    checkpoint has not seen, and appends what they emit to the log; on an
    unchanged feed it runs no micro-batch. The first tick replays the
    whole history. The result is a batch read of the log. Files rewritten
    in place under a live cursor are not re-read (the file source's rule,
    as ``memo``'s: never mutate the fixture under a live context); a
    refreshed feed needs new files or a new fixture directory.

    Output is the deterministic part of the stream — which (entity,
    update) keys completed — regardless of which concurrent poll row won
    the dropDuplicates race, so it pairs with a batch SQL oracle. The
    ``distinct`` keeps set semantics when a key whose state the watermark
    evicted is polled again in a later batch. It runs in one task: the log
    holds one row per completed (entity, update), the size of the
    reference's in-memory cursor, so it is metastore-sized, and a
    single-partition child satisfies the aggregate's distribution without
    an exchange.
    """
    root, lock = _cursor(spark, sf_dir, glob)
    log = os.path.join(root, "log")
    stream = first_completed_stream(spark, sf_dir, glob)
    with lock:
        # dropDuplicatesWithinWatermark emits a key the batch it first
        # arrives, so the trailing no-data batch would emit nothing
        with _stream_confs(spark, _NO_DATA_BATCHES_OFF):
            q = start_parquet_log(stream, os.path.join(root, "checkpoint"), log)
        _await_end(q, "streaming_first_completed")
        return (
            spark.read.schema(stream.schema)
            .parquet(log)
            .select("entity_type", "entity_id", "update_id")
            # cursor-sized (one row per completed key): distinct in one task
            .coalesce(1)
            .distinct()
        )


STREAMING_FIRST_COMPLETED_SQL_SUFFIX = """
SELECT DISTINCT entity_type, entity_id, update_id
FROM updates WHERE state = 'COMPLETED'
"""


def streaming_tumbling_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable form of the watermarked tumbling-window stream:
    run to exhaustion (availableNow) and return the emitted windows.

    Append mode emits a window only once the event-time watermark
    (max event time - 1h) passes the window END — the final windows stay
    in state, deliberately unflushed. The oracle mirrors that semantics
    relationally: GROUP BY hour bucket HAVING bucket_end <= max(ts) - 1h.
    This is the contract a late-data-tolerant 100 TB ingest pipeline
    actually runs; comparing it against batch SQL pins the
    watermark-eviction boundary exactly.
    """
    return _run_to_exhaustion(
        spark,
        sf_dir,
        "streaming_tumbling",
        tumbling_counts_stream,
        lambda t: t.select(
            F.date_format("window_start", TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
        ),
        None,
        "append",
    )


STREAMING_TUMBLING_SQL = f"""
WITH m AS (SELECT MAX(ts) AS maxts FROM events)
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{TS_FMT_DUCK}') AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM events, m
GROUP BY time_bucket(INTERVAL 1 HOUR, ts), event_type, maxts
HAVING time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR <= maxts - INTERVAL 1 HOUR
"""


ATTRIB_WINDOW = "2 hours"  # click lookback per purchase


def click_attribution_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding 2 hours — last-touch attribution as a
    continuous pipeline.

    Both sides carry event-time watermarks and the join condition bounds
    both time columns, so the state store holds only the 2-hour join
    frontier per side (bounded state at any stream length). Inner
    stream-stream joins emit each match as soon as both rows arrive —
    nothing is held for watermark flush — so an availableNow run equals
    the batch interval join row-for-row, which is what the oracle checks.
    """
    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"p_user = c_user AND c_ts >= p_ts - INTERVAL {ATTRIB_WINDOW}"
            " AND c_ts < p_ts"
        ),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )


def streaming_click_attribution_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-checkable form: run the interval-join stream to exhaustion
    and return every attributed (purchase, click) pair."""
    # An INNER stream-stream join emits every match in the batch that
    # completes it and emits NOTHING on watermark advance (the no-data
    # batch measured ~1/3 of the run's wall). A continuous deployment
    # keeps no-data batches: eviction cadence matters when the stream
    # doesn't end.
    return _run_to_exhaustion(
        spark,
        sf_dir,
        "streaming_click_attribution",
        click_attribution_stream,
        lambda t: t,
        _NO_DATA_BATCHES_OFF,
        "append",
    )


STREAMING_CLICK_ATTRIBUTION_SQL = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events p JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts < p.ts
"""


SESSION_GAP_S = 2 * 3600  # matches operators/events.py:user_sessions


def sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user sessionization via
    ``applyInPandasWithState`` — the arbitrary-state API the reference's
    cursor map would need if its state didn't fit ``dropDuplicates``.

    State per user = (session_start, last_ts, n_events, sum_value) as epoch
    micros; a batch's rows are sorted and folded into the open session,
    emitting every session that closes (gap >= 2 h). The final open session
    per user stays in the state store — at scale an EventTimeTimeout would
    flush it past the watermark; with the test's availableNow replay the
    open tail is intentionally unflushed (asserted in tests).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = stream_events(spark, sf_dir).select("user_id", "ts", "value")

    out_schema = (
        "user_id bigint, session_start timestamp, n_events bigint, sum_value double"
    )
    state_schema = (
        "start_us bigint, last_us bigint, n_events bigint, sum_cents bigint"
    )

    def fold(key, pdfs, state: GroupState):
        import pandas as _pd

        (user_id,) = key
        rows = _pd.concat(list(pdfs)).sort_values("ts")
        if state.exists:
            start_us, last_us, n, cents = state.get
        else:
            start_us = last_us = -1
            n = cents = 0
        closed = []
        import math as _math

        for ts, value in zip(rows["ts"], rows["value"]):
            us = int(ts.value // 1000)  # pandas ns -> micros
            # exact cents in state, rounded half-away-from-zero ON THE
            # BINARY VALUE — matching the DuckDB oracle's cast, which also
            # rounds the binary double (2.675 -> 2.67). NOTE this is NOT
            # Spark's double->DECIMAL(18,2) cast, which rounds the
            # shortest decimal repr (2.675 -> 2.68); the batch side of
            # this pipeline never takes that cast path, so oracle parity
            # is binary-based end to end. Python round() is half-EVEN on
            # exact halves like 0.125 and diverges from both.
            c = int(_math.floor(abs(value) * 100.0 + 0.5))
            if value < 0:
                c = -c
            if start_us < 0:
                start_us, last_us, n, cents = us, us, 1, c
            elif us - last_us >= SESSION_GAP_S * 1_000_000:
                closed.append((user_id, start_us, n, cents))
                start_us, last_us, n, cents = us, us, 1, c
            else:
                last_us, n, cents = us, n + 1, cents + c
        state.update((start_us, last_us, n, cents))
        if closed:
            yield _pd.DataFrame(
                {
                    "user_id": [r[0] for r in closed],
                    "session_start": [_pd.Timestamp(r[1], unit="us") for r in closed],
                    "n_events": [r[2] for r in closed],
                    "sum_value": [r[3] / 100.0 for r in closed],
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def transition_log_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    out_path: str,
    glob: str = "events.parquet",
) -> StreamingQuery:
    """K2-style materialization sink: append the exactly-once completion
    log (``completed_updates``) to partitioned parquet via foreachBatch
    (idempotent by batchId)."""

    def write_batch(df: DataFrame, batch_id: int) -> None:
        # idempotent on replay: dynamic partition overwrite keyed by
        # batch_id — if the batch re-runs after a crash between sink write
        # and checkpoint commit, it replaces its own partition instead of
        # appending duplicates
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .withColumn("event_date", F.to_date("ts"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "event_date")
            .parquet(out_path)
        )

    return (
        completed_updates(spark, sf_dir, glob)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


_SESSIONIZE_CONFS = {
    **_NO_DATA_BATCHES_OFF,
    # unlike the JVM-state harnesses (fewer stores = faster), the Pandas
    # fold is PYTHON-bound: partitions here set Arrow worker parallelism.
    # Measured sweep at sf0.1: 4 -> 2.3 s, 8 -> 1.8 s, 16 -> 1.4 s,
    # 32 -> 1.6 s.
    "spark.sql.shuffle.partitions": "16",
}


def streaming_sessionize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable form of the applyInPandasWithState sessionizer: run
    to exhaustion (availableNow) and return every CLOSED session.

    The custom state fold emits a session the moment a >= 2 h gap closes
    it; each user's final session stays open in the state store, so the
    emitted set == the batch gaps-and-islands sessions minus each user's
    last one — which is exactly what the SQL oracle computes (QUALIFY
    session_id < MAX(session_id) per user). This pins the arbitrary-state
    operator against relational semantics, not just a row count.
    """
    # With GroupStateTimeout.NoTimeout the fold is never invoked for a
    # key that received no input rows, so a no-data micro-batch cannot
    # emit anything — the open-tail sessions stay in state either way
    # (asserted in tests). Cut the dead batch.
    return _run_to_exhaustion(
        spark,
        sf_dir,
        "streaming_sessionize",
        sessionize_stream,
        lambda t: t.select(
            "user_id",
            F.date_format("session_start", TS_FMT).alias("session_start"),
            "n_events",
            round_half_up("sum_value", 2).alias("sum_value"),
        ),
        _SESSIONIZE_CONFS,
        "append",
    )


STREAMING_SESSIONIZE_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 2 HOUR
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, new_session DESC
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
),
agg AS (
  SELECT user_id, session_id,
         strftime(MIN(ts), '{TS_FMT_DUCK}') AS session_start,
         COUNT(*) AS n_events,
         {sql_round_half_up('CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)', 2)} AS sum_value
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id, session_start, n_events, sum_value
FROM agg
QUALIFY session_id < MAX(session_id) OVER (PARTITION BY user_id)
"""


# --- streaming corpus-ingest dedup (exactly-once document acceptance) -------


def corpus_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup of a document feed: each distinct text digest
    is accepted exactly once — the continuous form of
    operators/dedup.py:exact_dedup, i.e. the dedup gate a training-corpus
    INGEST pipeline runs as crawls arrive (BASELINE.json north star),
    with the checkpoint as the persisted seen-set.

    State is keyed by the 16-byte md5 digest, never the document payload —
    the property that matters at 100 TB: the store grows with DISTINCT
    content, and rows are reduced to their digest before the stateful
    exchange, so the shuffle never carries text. No watermark: content
    recurrence has no event-time bound (a crawl can resurface a page
    years later), so the seen-set is genuinely append-only — at scale you
    back it with RocksDB and size state parallelism by digest cardinality.
    """
    return (
        stream_parquet(spark, sf_dir, "documents.parquet")
        .select(F.md5("text").alias("text_hash"))
        .dropDuplicates(["text_hash"])
    )


def streaming_corpus_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable form: run the ingest-dedup stream to exhaustion and
    return the accepted digest set — deterministic regardless of which
    duplicate row won the dropDuplicates race, so it pairs with a batch
    DISTINCT oracle."""
    # unwatermarked dropDuplicates emits on first arrival and never on
    # watermark advance
    return _run_to_exhaustion(
        spark,
        sf_dir,
        "streaming_corpus_dedup",
        corpus_dedup_stream,
        lambda t: t.select("text_hash").distinct(),
        _NO_DATA_BATCHES_OFF,
        "append",
    )


STREAMING_CORPUS_DEDUP_SQL = """
SELECT DISTINCT md5(text) AS text_hash FROM documents
"""


def drift_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-mode ``(event_type, bin)`` ref/cur histogram over the
    event stream — the continuously-maintained state a streaming drift
    monitor alarms from (the streaming home of
    operators/events.py:drift_psi, built by the same
    ``ref_cur_counts``). State is (types x bins)-bounded REGARDLESS of
    stream volume, so complete mode rewrites a constant-sized memory
    table per trigger; checkpoint + replay give exactly-once counts
    across restarts for free because the aggregation is the state.
    """
    from databricks_observe_spark.operators.events import (
        DRIFT_BIN_WIDTH,
        DRIFT_N_BINS,
        ref_cur_counts,
    )

    return ref_cur_counts(stream_events(spark, sf_dir), DRIFT_BIN_WIDTH, DRIFT_N_BINS)


def streaming_drift_psi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable form of the streaming drift monitor: run the
    complete-mode histogram to exhaustion (availableNow) and compute the
    alarm row off the final maintained state — identical output (and
    oracle, DRIFT_PSI_SQL) to the batch operator by construction, which
    pins the batch/stream semantic parity the way the tumbling/sessionize
    twins do.
    """
    from databricks_observe_spark.operators.events import psi_from_counts

    # complete-mode aggregation re-emits full state every trigger; the
    # trailing no-data batch would just rewrite the same table. The PSI
    # tail reads the tiny checkpointed final state exactly once.
    return _run_to_exhaustion(
        spark,
        sf_dir,
        "streaming_drift_psi",
        drift_counts_stream,
        lambda t: psi_from_counts(t.localCheckpoint()),
        _NO_DATA_BATCHES_OFF,
        "complete",
    )
