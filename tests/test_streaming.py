from __future__ import annotations

import ast
import glob
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from databricks_observe_spark.operators.runs import first_completed
from databricks_observe_spark.sources.catalog_model import updates_of
from databricks_observe_spark.sources.tables import normalize_events_ts
from databricks_observe_spark.streaming import state as ST

SF_DIR = "/root/testdata/sf0.001"
PACKAGE = Path(__file__).resolve().parent.parent / "databricks_observe_spark"
# stream attribute -> the (module, top-level function) pairs that may use it
STREAM_IO = {
    "writeStream": {
        ("streaming/state.py", "start_memory"),
        ("streaming/state.py", "start_parquet_log"),
        ("streaming/state.py", "transition_log_stream"),
    },
    "readStream": {("streaming/state.py", "stream_parquet")},
}


def _exhaust(spark, stream, confs):
    """Run ``stream`` to exhaustion the way the registry's queries do, and
    return its raw memory-sink rows."""
    return ST._run_to_exhaustion(
        spark, SF_DIR, "test_stream", stream, lambda t: t, confs, "append"
    ).collect()


def test_first_completed_stream_matches_batch(spark, tables):
    rows = _exhaust(spark, ST.first_completed_stream, ST._NO_DATA_BATCHES_OFF)
    got = {(r.entity_id, r.update_id) for r in rows}
    expected = {
        (r.entity_id, r.update_id) for r in first_completed(tables).collect()
    }
    # streaming dedup keeps the first COMPLETED per key — same key set as
    # the batch exactly-once summary (watermark drops nothing here: all
    # events fit one availableNow run)
    assert got == expected


class MicroBatches(StreamingQueryListener):
    """Counts the micro-batches the session's streams run."""

    def __init__(self):
        self.started = self.ended = self.batches = 0

    def onQueryStarted(self, event):
        self.started += 1

    def onQueryProgress(self, event):
        self.batches += 1

    def onQueryTerminated(self, event):
        self.ended += 1

    def settled(self, timeout_s: float = 30.0) -> int:
        """The batch count once every started stream has reported its end
        (the listener bus delivers events asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while self.ended < self.started:
            assert time.monotonic() < deadline, "listener missed a query end"
            time.sleep(0.01)
        return self.batches


def _split_events(feed: Path) -> tuple[Path, Path]:
    """Split sf0.001's events by ``ts`` into two files: the earlier half
    in the new directory ``feed``, the later half beside it, to be added
    to the feed later. No row of the second file is older than the
    watermark the first leaves."""
    events = pq.read_table(f"{SF_DIR}/events.parquet")
    cut = pc.sort_indices(events, [("ts", "ascending")])[len(events) // 2]
    early = pc.less_equal(events["ts"], events["ts"][cut.as_py()])
    feed.mkdir()
    pq.write_table(events.filter(early), feed / "part-0.parquet")
    later = feed.parent / "part-1.parquet"
    pq.write_table(events.filter(pc.invert(early)), later)
    return feed / "part-0.parquet", later


def _keys(df) -> set[tuple]:
    return {(r.entity_type, r.entity_id, r.update_id) for r in df.collect()}


def test_sensor_cursor_reads_only_new_feed_files(spark, tables, tmp_path):
    """The sensor keeps its cursor between ticks: a tick after a new feed
    file sees the union, exactly as a fresh cursor replaying both files
    and the batch ``first_completed`` do, and a tick on an unchanged feed
    returns the same keys without running a micro-batch."""
    feed = tmp_path / "feed"
    first, later = _split_events(feed)
    first_only = _keys(
        first_completed(
            {"updates": updates_of(normalize_events_ts(spark.read.parquet(str(first))))}
        )
    )

    tick1 = _keys(ST.streaming_first_completed_query(spark, str(feed), "*.parquet"))
    assert tick1 == first_only and tick1

    os.rename(later, feed / later.name)
    tick2 = _keys(ST.streaming_first_completed_query(spark, str(feed), "*.parquet"))
    replay_dir = tmp_path / "replay"
    replay_dir.mkdir()
    for f in feed.iterdir():
        (replay_dir / f.name).write_bytes(f.read_bytes())
    replay = _keys(
        ST.streaming_first_completed_query(spark, str(replay_dir), "*.parquet")
    )
    assert tick2 == replay == _keys(first_completed(tables))
    assert tick2 > tick1

    listener = MicroBatches()
    spark.streams.addListener(listener)
    try:
        tick3 = _keys(
            ST.streaming_first_completed_query(spark, str(feed), "*.parquet")
        )
        assert listener.settled() == 0
    finally:
        spark.streams.removeListener(listener)
    assert tick3 == tick2


def test_sensor_tick_keeps_set_semantics_across_reemission(spark, tmp_path):
    """A key whose dedup state the watermark evicted is emitted again when
    it is polled late: the cursor's log then holds it twice, and the tick
    still returns it once, equal to the batch oracle's DISTINCT. The
    sensor runs no no-data batch, and a batch evicts state after its
    input, so it takes two filler ticks to evict the key: the first moves
    the watermark past it, the second's batch drops its state."""
    import datetime as dt

    import duckdb
    import pyarrow as pa

    from databricks_observe_spark.sources.catalog_model import oracle_with_clause
    from tools.check_oracle import compare

    feed = tmp_path / "feed"
    feed.mkdir()

    def poll(name, event_id, hhmm, user_id):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([event_id], pa.int64()),
                    "ts": pa.array(
                        [dt.datetime(2024, 1, 1, *hhmm)], pa.timestamp("us")
                    ),
                    "user_id": pa.array([user_id], pa.int64()),
                    "event_type": ["purchase"],
                    "value": [1.0],
                    "props": ["{}"],
                }
            ),
            feed / name,
        )
        return ST.streaming_first_completed_query(spark, str(feed), "*.parquet")

    key = ("pipeline", "pl-002", "u0")
    fillers = {("pipeline", "pl-003", "u78"), ("pipeline", "pl-003", "u79")}
    assert _keys(poll("b1.parquet", 211, (0, 0), 2)) == {key}
    poll("b2.parquet", 500, (10, 0), 4)
    assert _keys(poll("b3.parquet", 501, (10, 0), 4)) == {key} | fillers
    # a late re-poll of the same (entity, update): event 422 % 211 == 0
    tick = poll("b4.parquet", 422, (10, 1), 2)
    root, _ = ST._cursor(spark, str(feed), "*.parquet")
    logged = spark.read.parquet(os.path.join(root, "log")).select(
        "entity_type", "entity_id", "update_id"
    )
    assert sorted(map(tuple, logged.collect())) == sorted([key, key, *fillers])
    rows = tick.collect()
    assert sorted(map(tuple, rows)) == sorted([key, *fillers])
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{feed}/*.parquet'")
    sql = oracle_with_clause("updates") + ST.STREAMING_FIRST_COMPLETED_SQL_SUFFIX
    assert compare(tick, rows, con, sql) == []
    con.close()


def test_sensor_cursor_lifetime(spark, tables, tmp_path):
    """Two concurrent ticks over one feed take turns on one cursor
    directory, each returns the full key set, and they leave no temp
    view; the exit hook removes every cursor directory."""
    from concurrent.futures import ThreadPoolExecutor

    def footprint():
        views = sum(1 for t in spark.catalog.listTables() if t.isTemporary)
        cursors = glob.glob(
            os.path.join(tempfile.gettempdir(), "cursor_streaming_first_completed_*")
        )
        return views, set(cursors)

    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "events.parquet").write_bytes(Path(SF_DIR, "events.parquet").read_bytes())
    views, before = footprint()
    with ThreadPoolExecutor(2) as pool:
        ticks = [
            pool.submit(
                lambda: _keys(ST.streaming_first_completed_query(spark, str(feed)))
            )
            for _ in range(2)
        ]
        results = [t.result(timeout=300) for t in ticks]
    after_views, after = footprint()
    assert after_views == views
    assert len(after - before) == 1
    assert results == [_keys(first_completed(tables))] * 2

    ST._remove_cursors()
    assert not (after - before) & footprint()[1]

    # registered as an exit hook: a cursor made in a child process is gone
    # once the child exits
    child = subprocess.run(
        [
            sys.executable,
            "-c",
            "from databricks_observe_spark.streaming import state as ST; "
            "print(ST._cursor(object(), 'feed', '*.parquet')[0])",
        ],
        capture_output=True,
        text=True,
        check=True,
        cwd=PACKAGE.parent,
    )
    root = child.stdout.strip()
    assert root.startswith(tempfile.gettempdir()) and not os.path.exists(root)


def test_tumbling_stream_matches_batch(spark, tables):
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in _exhaust(spark, ST.tumbling_counts_stream, None)
    }
    batch = (
        tables["events"]
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    expected = {(r.w.start, r.event_type): r.n for r in batch}
    # availableNow + watermark: windows older than (max ts - 1h) are final
    # and emitted; the tail windows within the watermark stay open. Every
    # emitted window must match the batch result exactly.
    assert got
    for k, v in got.items():
        assert expected[k] == v


def test_transition_log_sink_exactly_once_across_restart(spark, tmp_path):
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "log")
    q = ST.transition_log_stream(spark, SF_DIR, ckpt, out)
    q.awaitTermination(120)
    df = spark.read.parquet(out)
    n = df.count()
    assert n > 0
    assert "event_date" in df.columns  # partition column survived
    keys = df.select("entity_id", "update_id").collect()
    assert len(keys) == len({(r.entity_id, r.update_id) for r in keys})

    # restart from the same checkpoint over the same source: the cursor
    # (checkpoint state) suppresses every already-emitted key — the sink
    # is unchanged. This is the sensor's persisted-cursor semantics
    # (dlt_sensor.py:43-46) under process restart.
    q2 = ST.transition_log_stream(spark, SF_DIR, ckpt, out)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n


def test_sessionize_stream_custom_state(spark, tables):
    from databricks_observe_spark.operators.events import user_sessions

    got = {
        (r.user_id, r.session_start.strftime("%Y-%m-%d %H:%M:%S.%f")): (
            r.n_events,
            round(r.sum_value, 2),
        )
        for r in _exhaust(spark, ST.sessionize_stream, ST._SESSIONIZE_CONFS)
    }
    batch = {
        (r.user_id, r.session_start): (r.n_events, round(r.sum_value, 2))
        for r in user_sessions(tables).collect()
    }
    # single availableNow batch: every session except each user's final
    # (still-open) one is emitted, and each must match the batch operator
    n_users = tables["events"].select("user_id").distinct().count()
    assert len(got) == len(batch) - n_users
    for k, v in got.items():
        assert batch[k] == v, (k, v, batch.get(k))


def test_watermark_drops_late_completion(spark, tmp_path):
    """Two-batch replay with a late re-poll: an event older than the
    watermark bound arriving in a later batch is evicted, so the sensor
    state cannot regrow without bound (the 100 TB property)."""
    import pandas as pd
    from pyspark.sql import functions as F

    src = tmp_path / "stream_src"
    src.mkdir()
    # batch 1: two completions an hour apart (advances watermark past t0)
    pd.DataFrame(
        {
            "event_id": [0, 1],
            "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 06:00:00"]).astype("int64"),
            "user_id": [2, 4],
            "event_type": ["purchase", "purchase"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }
    ).to_parquet(src / "b1.parquet")
    out = str(tmp_path / "wm_log")
    q1 = ST.transition_log_stream(spark, str(src), str(tmp_path / "ck"), out, glob="*.parquet")
    q1.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2

    # batch 2: a NEW update key, but its ts is far older than
    # (max_ts - 1h watermark) -> dropDuplicates state admits nothing late
    pd.DataFrame(
        {
            "event_id": [2],
            "ts": pd.to_datetime(["2024-01-01 00:30:00"]).astype("int64"),
            "user_id": [6],
            "event_type": ["purchase"],
            "value": [3.0],
            "props": ["{}"],
        }
    ).to_parquet(src / "b2.parquet")
    q2 = ST.transition_log_stream(spark, str(src), str(tmp_path / "ck"), out, glob="*.parquet")
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2  # late event evicted, log unchanged


def test_within_watermark_dedup_bounds_state(spark, tmp_path):
    """Documents the bounded-state trade: a re-poll of an already-emitted
    key arriving AFTER the watermark passed it is re-emitted, because its
    dedup state was evicted — the price of O(active-updates) state. The
    sensor-parity assumption (re-polls within 1h) keeps the two semantics
    identical in practice."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    # same user (2 -> entity pl-002, even) and same event_id%211 -> same key
    pd.DataFrame(
        {
            "event_id": [211],
            "ts": pd.to_datetime(["2024-01-01 00:00:00"]).astype("int64"),
            "user_id": [2],
            "event_type": ["purchase"],
            "value": [1.0],
            "props": ["{}"],
        }
    ).to_parquet(src / "b1.parquet")
    out = str(tmp_path / "log")
    q1 = ST.transition_log_stream(spark, str(src), str(tmp_path / "ck"), out, glob="*.parquet")
    q1.awaitTermination(120)
    assert spark.read.parquet(out).count() == 1

    # filler batch advances the watermark past the first key's expiry
    # (the watermark moves between micro-batches, not within one)
    pd.DataFrame(
        {
            "event_id": [500],
            "ts": pd.to_datetime(["2024-01-01 10:00:00"]).astype("int64"),
            "user_id": [4],
            "event_type": ["purchase"],
            "value": [2.0],
            "props": ["{}"],
        }
    ).to_parquet(src / "b2.parquet")
    q2 = ST.transition_log_stream(spark, str(src), str(tmp_path / "ck"), out, glob="*.parquet")
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2

    # re-poll of the SAME (entity, update) key: its state was evicted when
    # the watermark passed (first_ts + 1h) -> re-emitted
    pd.DataFrame(
        {
            "event_id": [422],  # 422 % 211 == 0 -> same update_id u0
            "ts": pd.to_datetime(["2024-01-01 10:01:00"]).astype("int64"),
            "user_id": [2],
            "event_type": ["purchase"],
            "value": [3.0],
            "props": ["{}"],
        }
    ).to_parquet(src / "b3.parquet")
    q3 = ST.transition_log_stream(spark, str(src), str(tmp_path / "ck"), out, glob="*.parquet")
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == 3


def test_click_attribution_stream_matches_batch(spark, tables):
    """Inner stream-stream interval joins emit on match (no watermark
    hold), so the availableNow run must equal the batch interval join
    row-for-row."""
    got = {
        (r.purchase_id, r.click_id, r.user_id, r.gap_us)
        for r in _exhaust(
            spark, ST.click_attribution_stream, ST._NO_DATA_BATCHES_OFF
        )
    }
    ev = tables["events"]
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    batch = p.join(
        c,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 2 HOURS AND c_ts < p_ts"
        ),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )
    expected = {
        (r.purchase_id, r.click_id, r.user_id, r.gap_us) for r in batch.collect()
    }
    assert got == expected and got


def test_corpus_dedup_stream_exactly_once(spark, tables):
    from databricks_observe_spark.streaming.state import (
        streaming_corpus_dedup_query,
    )

    got = {r.text_hash for r in streaming_corpus_dedup_query(spark, SF_DIR).collect()}
    want = {
        r.h
        for r in tables["documents"].select(F.md5("text").alias("h")).distinct().collect()
    }
    assert got == want and len(got) > 0


def test_streaming_drift_psi_matches_batch_and_recovers_state(
    spark, tables, tmp_path
):
    """The streaming monitor must equal the batch operator row-for-row
    (same bins, same integer PSI units, same oracle by construction),
    and a restart against the same checkpoint with no new data must
    recover the identical complete-mode state."""
    import uuid

    from databricks_observe_spark.operators.events import drift_psi

    got = {tuple(r) for r in ST.streaming_drift_psi_query(spark, SF_DIR).collect()}
    want = {tuple(r) for r in drift_psi(tables).collect()}
    assert got == want and len(got) > 0

    # checkpoint recovery: run the SAME histogram stream twice against
    # one checkpoint dir; the second availableNow run sees no new files
    # and must re-emit exactly the maintained state, not double-count
    ckpt = str(tmp_path / "ck")
    n1 = f"dp_r1_{uuid.uuid4().hex[:6]}"
    n2 = f"dp_r2_{uuid.uuid4().hex[:6]}"
    with ST._stream_confs(spark, ST._NO_DATA_BATCHES_OFF):
        q = ST.start_memory(ST.drift_counts_stream(spark, SF_DIR), ckpt, n1, "complete")
        q.awaitTermination(120)
        q = ST.start_memory(ST.drift_counts_stream(spark, SF_DIR), ckpt, n2, "complete")
        q.awaitTermination(120)
    first = {tuple(r) for r in spark.table(n1).collect()}
    second = {tuple(r) for r in spark.table(n2).collect()}
    spark.catalog.dropTempView(n1)
    spark.catalog.dropTempView(n2)
    # a restart with no new data re-emits the recovered state (complete
    # mode) or emits nothing if the no-op batch is skipped — either way
    # it must never double-count
    assert second == first or second == set()
    # the drift operators exclude NULL values by contract, so the state's
    # total must match the non-NULL event count (not the raw row count —
    # the raw form silently assumes a NULL-free fixture)
    assert (
        sum(r[2] + r[3] for r in first)
        == tables["events"].filter(F.col("value").isNotNull()).count()
    )


def test_run_to_exhaustion_queries_leave_no_view_or_checkpoint(spark, tables):
    """A run-to-exhaustion query drops its memory-sink view and removes its
    checkpoint directory, and the rows it returns survive both."""
    def footprint():
        views = sum(1 for t in spark.catalog.listTables() if t.isTemporary)
        ckpts = glob.glob(
            os.path.join(tempfile.gettempdir(), "ckpt_streaming_corpus_dedup_*")
        )
        return views, len(ckpts)

    before = footprint()
    first = ST.streaming_corpus_dedup_query(spark, SF_DIR).collect()
    second = ST.streaming_corpus_dedup_query(spark, SF_DIR).collect()
    assert footprint() == before
    assert sorted(first) == sorted(second) and len(first) > 0


def test_setup_warmup_stream_leaves_no_view_or_checkpoint(spark, tables, monkeypatch):
    """The setup phase's warm-up stream goes through the same
    run-to-exhaustion helper: with no index builders, two setup calls
    leave the temp-view and checkpoint-directory counts unchanged."""
    from databricks_observe_spark import setup_phase

    def footprint():
        views = sum(1 for t in spark.catalog.listTables() if t.isTemporary)
        ckpts = glob.glob(os.path.join(tempfile.gettempdir(), "ckpt_*"))
        return views, len(ckpts)

    monkeypatch.setattr(setup_phase, "setup_builders", dict)
    before = footprint()
    setup_phase.build_setup_indexes(spark, tables, SF_DIR)
    setup_phase.build_setup_indexes(spark, tables, SF_DIR)
    assert footprint() == before


def stream_io_sites(tree: ast.Module) -> list[tuple[str, int, str]]:
    """(attribute, line, top-level scope) of every ``.writeStream`` and
    ``.readStream`` access."""
    hits = []
    for stmt in tree.body:
        scope = getattr(stmt, "name", "<module>")
        for node in ast.walk(stmt):
            if isinstance(node, ast.Attribute) and node.attr in STREAM_IO:
                hits.append((node.attr, node.lineno, scope))
    return hits


def stray_stream_io(package: Path) -> list[str]:
    """Every stream sink or source started outside the harness."""
    stray = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        for attr, line, scope in stream_io_sites(ast.parse(path.read_text())):
            if (rel, scope) not in STREAM_IO[attr]:
                stray.append(f"{attr} {rel}:{line} ({scope})")
    return stray


def test_stream_io_only_in_harness():
    sample = ast.parse(
        "def f(df):\n    return df.writeStream.start()\nS = spark.readStream\n"
    )
    assert stream_io_sites(sample) == [
        ("writeStream", 2, "f"),
        ("readStream", 3, "<module>"),
    ]
    stray = stray_stream_io(PACKAGE)
    assert stray == [], (
        "start memory sinks with start_memory and file sources with "
        "stream_parquet: " + ", ".join(stray)
    )


def test_warm_streaming_calls_read_no_footer(spark, tables, monkeypatch):
    """Once each streaming query has run, a second call makes Spark infer
    no Parquet schema: every stream's reader schema comes from the file's
    footer (``sources/tables.footer_schema``), read on the driver, and the
    sensor reads its log with the stream's own schema."""
    from pyspark.sql import DataFrameReader

    from databricks_observe_spark import registry
    from databricks_observe_spark.sources.tables import footer_schema

    streams = {
        name: query
        for name, query in registry.queries().items()
        if name.startswith("streaming_")
    }
    assert len(streams) == 6
    for query in streams.values():
        query(spark, SF_DIR)

    reads = dict.fromkeys([*streams, "probe"], 0)
    current = ["probe"]
    schema, parquet = DataFrameReader.schema, DataFrameReader.parquet

    def declaring(self, *args, **kwargs):
        self._declared_schema = True
        return schema(self, *args, **kwargs)

    def counting(self, *paths, **options):
        # a reader without a declared schema makes Spark infer one
        reads[current[0]] += not getattr(self, "_declared_schema", False)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "schema", declaring)
    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    events = f"{SF_DIR}/events.parquet"
    spark.read.schema(footer_schema(events)).parquet(events)
    assert reads["probe"] == 0
    spark.read.parquet(events)
    assert reads["probe"] == 1
    for name, query in streams.items():
        current[0] = name
        query(spark, SF_DIR)
    assert reads == {**dict.fromkeys(streams, 0), "probe": 1}
