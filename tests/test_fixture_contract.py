"""Fixture-drift smoke tests.

A re-materialized fixture can change the physical parquet type of
``events.ts`` (timestamp[us] instead of nanos-read-as-long); a loader that
assumes one layout then reads garbage or fails deep in a plan. These tests pin
the contract: the loader must DETECT any layout in the accepted set, batch
and streaming reads must agree exactly, and an unknown layout must fail with
a named error instead of a Catalyst type mismatch deep in a plan.
"""

from __future__ import annotations

import glob
import shutil
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from databricks_observe_spark.engine import prepare
from databricks_observe_spark.sources.tables import (
    TABLE_NAMES,
    check_fixture_contract,
    footer_schema,
    load_tables,
    normalize_events_ts,
)
from databricks_observe_spark.streaming.state import _run_to_exhaustion, stream_events

SF_DIR = "/root/testdata/sf0.001"
FIXTURE_FILES = sorted(
    glob.glob("/root/testdata/*/*.parquet")
    + glob.glob(str(Path(__file__).resolve().parent.parent / "perfbench/data/*/*.parquet"))
)


@pytest.fixture
def fixture_copy(spark, tmp_path):
    """A copy of the test fixture in a directory no context has used. The
    loader re-registers the session's (global) temp views over the copy,
    so they are pointed back at the test fixture afterwards."""
    copy = tmp_path / "sf"
    shutil.copytree(SF_DIR, copy)
    yield copy
    load_tables(spark, SF_DIR)


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


def test_footer_schema_equals_spark_inference(tables, spark):
    """The footer mapping is the schema Spark infers, on every table of
    every fixture directory (``tables`` sets the session's confs)."""
    assert len(FIXTURE_FILES) >= 4 * len(TABLE_NAMES)
    for path in FIXTURE_FILES:
        assert footer_schema(path) == spark.read.parquet(path).schema, path


def test_nanos_events_normalize_to_the_micros_instants(spark, tables, fixture_copy):
    """An ``events`` file whose ts is TIMESTAMP(NANOS) loads as bigint and
    normalizes to the same instants as the micros original."""
    events = pq.read_table(fixture_copy / "events.parquet")
    ns = events.set_column(
        events.schema.get_field_index("ts"), "ts", events["ts"].cast(pa.timestamp("ns"))
    )
    pq.write_table(ns, fixture_copy / "events.parquet")
    assert footer_schema(str(fixture_copy / "events.parquet"))["ts"].dataType == LongType()

    got = load_tables(spark, str(fixture_copy))["events"].select("event_id", "ts")
    want = tables["events"].select("event_id", "ts")
    assert sorted(got.collect()) == sorted(want.collect())


def test_prepare_runs_no_job(spark, tables, fixture_copy):
    """Preparing a directory no context has used runs no Spark job."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    prepare(spark, str(fixture_copy))
    assert set(tracker.getJobIdsForGroup()) - before == set()


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
    declared index must exist afterwards, under its published name, and
    the pool must not have raced a dependency (a missing key or an
    exception would surface here). Uses the session ctx, so later tests
    reuse the same memos."""
    from databricks_observe_spark.setup_phase import (
        build_setup_indexes,
        setup_builders,
    )

    build_setup_indexes(spark, tables, SF_DIR)
    missing = ["_" + name for name in setup_builders() if "_" + name not in tables]
    assert missing == []
