from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from databricks_observe_spark.operators import control as C, sinks as K
from databricks_observe_spark.operators.catalog_ops import table_profiles


def test_wait_for_pipeline_reaches_terminal(tables):
    # pl-001 exists in the updates stream and reaches COMPLETED/FAILED
    state = C.wait_for_pipeline(tables["updates"], "pl-001", timeout_seconds=10**9)
    assert state in C.PIPELINE_TERMINAL


def test_pipeline_timeout_raises_job_returns(tables):
    # a terminal state that never occurs forces the timeout path
    never = frozenset({"NO_SUCH_STATE"})
    with pytest.raises(TimeoutError):
        C.wait_for_pipeline(
            tables["updates"], "pl-001", timeout_seconds=60, terminal=never
        )
    # job semantics: same walk returns the sentinel instead (job_discovery.py:50-53)
    assert (
        C.wait_for_job(tables["updates"], "101", timeout_seconds=60, terminal=never)
        == "TIMEOUT"
    )


def test_wait_unknown_entity_raises(tables):
    with pytest.raises(TimeoutError):
        C.wait_for_pipeline(tables["updates"], "pl-does-not-exist")


def test_run_output_lookup_is_newest_row_of_min_entity(tables):
    row = C.run_output_lookup(tables).collect()
    assert len(row) == 1
    r = row[0]
    u = tables["updates"]
    probe = u.agg(F.min("entity_id")).collect()[0][0]
    assert r.entity_id == probe
    newest = (
        u.filter(F.col("entity_id") == probe)
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .collect()[0]
    )
    assert (r.update_id, r.state) == (newest.update_id, newest.state)


def test_run_output_lookup_on_hostile_updates(spark, tmp_path):
    """A NULL entity id is never the probe key (its row is also the newest),
    ``event_id`` breaks a ``ts`` tie within the min entity, an older row
    with a larger ``event_id`` loses to ``ts``, and a later ``ts`` on a
    larger entity is not picked. Spark matches the DuckDB oracle."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from databricks_observe_spark.sources.catalog_model import updates_of
    from databricks_observe_spark.sources.tables import footer_schema, normalize_events_ts
    from tools.check_oracle import compare

    t0 = dt.datetime(2024, 1, 1)
    rows = [  # (event_id, minutes after t0, user_id, event_type)
        (1, 90, None, "purchase"),  # entity_id NULL, the newest row
        (10, 30, 1, "click"),  # entity 101, tied on ts with event 20
        (20, 30, 7, "purchase"),  # entity 101: the answer
        (99, 0, 13, "view"),  # entity 101, older despite the larger event_id
        (30, 60, 3, "signup"),  # entity 102, later than every 101 row
    ]
    events = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([t0 + dt.timedelta(minutes=r[1]) for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": [r[3] for r in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(events, path)
    updates = updates_of(
        normalize_events_ts(spark.read.schema(footer_schema(path)).parquet(path))
    )
    sdf = C.run_output_lookup({"updates": updates})
    got = sdf.collect()
    assert [(r.entity_id, r.update_id, r.state) for r in got] == [("101", "u20", "COMPLETED")]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    assert compare(sdf, got, con, C._run_output_lookup_sql()) == []
    con.close()


class _RecordingWriter:
    def __init__(self):
        self.calls: dict = {}

    def format(self, f):
        self.calls["format"] = f
        return self

    def mode(self, m):
        self.calls["mode"] = m
        return self

    def save(self, p):
        self.calls["save"] = p


class _FakeDF:
    """Duck-typed stand-in: overwrite_table touches only .sparkSession and
    the .write chain, so the Delta call path is assertable without
    delta-spark installed."""

    def __init__(self, spark):
        self.sparkSession = spark
        self.write = _RecordingWriter()


def test_overwrite_table_picks_delta_branch_when_available(spark, monkeypatch):
    # probe says Delta classes load -> the delta write path must be chosen
    monkeypatch.setattr(K, "delta_available", lambda s: True)
    fake = _FakeDF(spark)
    assert K.overwrite_table(fake, "/tmp/k1_delta") == "delta"
    assert fake.write.calls == {
        "format": "delta",
        "mode": "overwrite",
        "save": "/tmp/k1_delta",
    }
    # probe fails -> parquet fallback; explicit request always wins
    monkeypatch.setattr(K, "delta_available", lambda s: False)
    assert K.negotiate_format(spark) == "parquet"
    assert K.negotiate_format(spark, "delta") == "delta"


def test_overwrite_table_roundtrip(tables, spark):
    out = tempfile.mkdtemp(prefix="k1_") + "/t"
    fmt = K.overwrite_table(tables["region"], out)
    assert fmt in ("delta", "parquet")
    assert spark.read.format(fmt).load(out).count() == 5
    # overwrite replaces, not appends (CA:14 mode semantics)
    K.overwrite_table(tables["region"], out, fmt)
    assert spark.read.format(fmt).load(out).count() == 5


def test_events_partitioned_by_date_prunes(tables, spark):
    out = tempfile.mkdtemp(prefix="events_part_") + "/events"
    K.write_events_by_date(tables["events"], out)
    df = spark.read.parquet(out)
    assert df.count() == tables["events"].count()
    # a date predicate must reach the scan as partition pruning
    pruned = df.filter(F.col("event_date") == "2024-01-05")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert pruned.count() == tables["events"].filter(
        F.to_date("ts") == "2024-01-05"
    ).count()


def test_append_materializations_accumulates(tables, spark):
    out = tempfile.mkdtemp(prefix="k2_") + "/mats"
    profiles = table_profiles(tables)
    K.append_materializations(profiles, out, run_id="r1")
    K.append_materializations(profiles, out, run_id="r2")
    df = spark.read.parquet(out)
    assert df.count() == 2 * profiles.count()
    assert {r.run_id for r in df.select("run_id").distinct().collect()} == {"r1", "r2"}


def test_overwrite_table_format_negotiation(tables, spark, tmp_path):
    """K1 format negotiation is pinned in BOTH environments: the default
    resolves to delta exactly when the Delta classes load, and an
    EXPLICIT fmt='delta' request never silently degrades to parquet —
    it either writes real Delta or raises."""
    import pytest

    out = str(tmp_path / "neg")
    fmt = K.overwrite_table(tables["region"], out)
    assert fmt == ("delta" if K.delta_available(spark) else "parquet")
    assert spark.read.format(fmt).load(out).count() == tables["region"].count()
    out2 = str(tmp_path / "explicit_delta")
    if K.delta_available(spark):
        assert K.overwrite_table(tables["region"], out2, "delta") == "delta"
        assert spark.read.format("delta").load(out2).count() > 0
    else:
        with pytest.raises(Exception):
            K.overwrite_table(tables["region"], out2, "delta")
