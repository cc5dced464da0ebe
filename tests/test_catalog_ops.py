from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from databricks_observe_spark.operators import catalog_ops as C
from tests.conftest import fresh_context


def test_discovered_objects_exclusions(tables):
    rows = C.discovered_objects(tables).collect()
    assert all(r.catalog != "" for r in rows)
    assert all(r.schema != "information_schema" for r in rows)
    # dedup: triples unique
    triples = [(r.catalog, r.schema, r["table"]) for r in rows]
    assert len(triples) == len(set(triples))


def test_tables_enriched_format_mapping(tables):
    rows = {r["table"]: r for r in C.tables_enriched(tables).collect()}
    assert rows["orders"].format == "deltalake"  # F3: delta -> deltalake
    assert rows["documents"].format == ""  # F3: unknown -> ''
    assert rows["region"].format == "parquet"  # F3: passthrough
    assert rows["documents"].kind == "external_table"  # F2 normalization
    assert rows["events"].description is None  # F4 null comment
    assert rows["ad_hoc_view"].kind == "table"  # J1 probe default


def test_columns_schema_ordinal_order(tables):
    rows = {r["table"]: r for r in C.columns_schema(tables).collect()}
    assert rows["region"].schema_str == "r_regionkey:int,r_name:string"
    assert rows["lineitem"].n_columns == 11
    assert rows["lineitem"].schema_str.startswith("l_orderkey:bigint,l_partkey:bigint")


def test_table_profiles_counts(tables):
    rows = {r["table"]: r for r in C.table_profiles(tables).collect()}
    assert rows["lineitem"].row_count == tables["lineitem"].count()
    assert rows["region"].row_count == 5
    assert rows["region"].n_columns == 2
    assert len(rows) == 10  # every layer-1 table profiled, one job


def test_named_assets_sanitize_dedup(tables):
    rows = {(r.asset_type, r.asset_name): r for r in C.named_assets(tables).collect()}
    # F1: non-alphanumeric runs -> single underscore
    assert ("pipeline", "dlt_bronze_silver_") in rows
    assert ("job", "Weekly_Report_1") in rows
    # A5 dedup: two 'Daily ETL Load' pipelines collapse to first id
    assert rows[("pipeline", "Daily_ETL_Load")].entity_id == "pl-001"


def test_discovered_objects_live_walks_session_catalog(spark, tables):
    from databricks_observe_spark.operators.catalog_ops import (
        discovered_objects_live,
    )
    from databricks_observe_spark.sources.tables import TABLE_NAMES

    # pollute the session with an unnamed temp view (streaming memory sinks
    # look like this): the P2 empty-catalog denylist must drop it
    spark.range(3).createOrReplaceTempView("scratch_live_view")
    rows = discovered_objects_live(spark, "/root/testdata/sf0.001").collect()
    got = {(r.catalog, r.schema, r.table) for r in rows}
    assert got == {
        ("spark_catalog", "global_temp", n) for n in TABLE_NAMES
    }


def test_describe_detail_field_set(tables):
    from databricks_observe_spark.operators.catalog_ops import describe_detail
    from databricks_observe_spark.sources.tables import TABLE_NAMES

    rows = {r.name: r for r in describe_detail(tables).collect()}
    assert set(rows) == {f"testdata.main.{n}" for n in TABLE_NAMES}
    ev = rows["testdata.main.events"]
    assert ev.num_files >= 1 and ev.size_in_bytes > 0
    assert ev.location.endswith("sf0.001")
    # F4's original site: createdAt missing in this storage model, so the
    # coalesce must fall through to lastModified
    assert ev.created_at is None
    assert ev.created_or_modified_epoch == ev.last_modified_epoch is not None
    assert rows["testdata.main.orders"].format == "deltalake"


def test_column_histograms_cover_all_rows(tables):
    from databricks_observe_spark.operators.catalog_ops import (
        _PROFILE_COLS,
        column_histograms,
    )

    rows = column_histograms(tables).collect()
    n_lineitem = tables["lineitem"].count()
    by_col: dict[str, list] = {}
    for r in rows:
        by_col.setdefault(r.col, []).append(r)
    assert set(by_col) == set(_PROFILE_COLS)
    for col, grp in by_col.items():
        # buckets partition the non-null rows exactly
        assert sum(r.bucket_count for r in grp) == n_lineitem - grp[0].n_nulls
        assert grp[0].n_rows == n_lineitem
        assert all(0 <= r.bucket < 10 for r in grp)
        assert grp[0].min_r <= grp[0].max_r


def test_compaction_plan_bins_respect_target(tables):
    from databricks_observe_spark.operators.catalog_ops import (
        COMPACTION_TARGET_BYTES,
        compaction_plan,
    )

    rows = compaction_plan(tables).collect()
    assert rows and all(r.bin_id >= 0 for r in rows)
    # running-sum binning: bin id strictly derived from bytes packed
    # before the file, per table in path order
    from collections import defaultdict

    by_table = defaultdict(list)
    for r in rows:
        by_table[r.table].append(r)
    for files in by_table.values():
        files.sort(key=lambda r: r.path)
        cum = 0
        for r in files:
            assert r.bin_id == cum // COMPACTION_TARGET_BYTES
            cum += r.file_size


def test_schema_drift_all_match_on_clean_fixture(tables):
    from databricks_observe_spark.operators.catalog_ops import schema_drift
    from databricks_observe_spark.sources.catalog_model import _SCHEMAS

    rows = schema_drift(tables).collect()
    n_declared = sum(len(v) for v in _SCHEMAS.values())
    assert len(rows) == n_declared
    assert all(r.status == "match" for r in rows), [
        r for r in rows if r.status != "match"
    ]
    # the timestamp family normalizes to one storage class on both sides
    ts_rows = [r for r in rows if r.column in ("ts", "o_orderdate", "l_shipdate")]
    assert ts_rows and all(r.actual_type == "timestamp" for r in ts_rows)


def test_schema_drift_statuses_on_synthetic_drift(tables, spark):
    # a doctored declared-side must surface each non-match status
    from databricks_observe_spark.operators import catalog_ops as C

    t2 = fresh_context(
        tables,
        information_schema_columns=spark.createDataFrame(
            [
                ("testdata", "main", "region", "r_regionkey", "string", None, 1),
                ("testdata", "main", "region", "r_ghost", "int", None, 3),
            ],
            "table_catalog string, table_schema string, table_name string,"
            " column_name string, data_type string, comment string,"
            " ordinal_position int",
        ),
    )
    rows = {(r.table, r.column): r.status for r in C.schema_drift(t2).collect()}
    assert rows[("region", "r_regionkey")] == "type_drift"
    assert rows[("region", "r_ghost")] == "missing_in_storage"
    assert rows[("region", "r_name")] == "missing_in_catalog"


@pytest.mark.parametrize(
    "ts_type, status", [(pa.int64(), "type_drift"), (pa.timestamp("ns"), "match")]
)
def test_schema_drift_compares_storage_classes(tables, tmp_path, ts_type, status):
    """Types compare by storage class on both engines: ``events.ts``
    stored as int64 drifts from its declared timestamp, while a
    TIMESTAMP(NANOS) re-materialization is still a timestamp."""
    from tests.conftest import SF_DIR
    from tools.check_oracle import compare, oracle_con

    copy = tmp_path / "sf"
    shutil.copytree(SF_DIR, copy)
    events = pq.read_table(copy / "events.parquet")
    ts = events.schema.get_field_index("ts")
    pq.write_table(
        events.set_column(ts, "ts", events["ts"].cast(ts_type)), copy / "events.parquet"
    )
    t2 = fresh_context(tables, _sf_dir=str(copy))
    sdf = C.schema_drift(t2)
    rows = sdf.collect()
    assert {(r.table, r.column): r.status for r in rows}[("events", "ts")] == status
    assert compare(sdf, rows, oracle_con(str(copy)), C.SCHEMA_DRIFT_SQL) == []


def test_expectations_report_counts_partition_rows(tables):
    from databricks_observe_spark.operators import catalog_ops as C

    rows = C.expectations_report(tables).collect()
    n = tables["lineitem"].count()
    assert {r.constraint for r in rows} == {e[0] for e in C.EXPECTATIONS}
    for r in rows:
        assert r.action in ("warn", "drop")
        assert r.n_pass + r.n_fail == n
        assert 0 <= r.fail_bp <= 10000
    # the fixture data satisfies the hard domain constraints
    by_name = {r.constraint: r for r in rows}
    assert by_name["returnflag_domain"].n_fail == 0
    assert by_name["shipdate_not_null"].n_fail == 0


def test_observability_report_composes_component_truths(tables):
    """The composed observe tick must agree with each component operator
    it embeds — row counts, schema sizes, file stats, drift triage."""
    from databricks_observe_spark.operators import catalog_ops as C

    rows = {r.table: r for r in C.observability_report(tables).collect()}
    profiled = {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert set(rows) == profiled
    counts = {r.table: r.row_count for r in C.table_profiles(tables).collect()}
    files = {r.table: r for r in C.table_files_meta(tables).collect()}
    drift = [r for r in C.schema_drift(tables).collect() if r.status != "match"]
    for name, r in rows.items():
        assert r.row_count == counts[name]
        assert r.n_files == files[name].n_files
        assert r.total_bytes == files[name].total_bytes
        assert r.n_columns >= 2
        # clean fixture: no drift anywhere, so triage is compact/ok only
        assert r.health in ("ok", "compact")
    assert not drift


def test_observability_report_flags_drift_first(tables, spark):
    """Drift dominates the health triage: a doctored catalog must flip
    the affected table to 'schema_drift' regardless of file pressure."""
    from databricks_observe_spark.operators import catalog_ops as C
    from databricks_observe_spark.sources.catalog_model import (
        INFORMATION_SCHEMA_COLUMNS,
        INFORMATION_SCHEMA_COLUMNS_COLS,
    )

    doctored = [
        (cat, sch, tbl, col, "string" if (tbl, col) == ("region", "r_regionkey") else typ, cm, o)
        for (cat, sch, tbl, col, typ, cm, o) in INFORMATION_SCHEMA_COLUMNS
    ] + [("testdata", "main", "region", "r_ghost", "int", None, 3)]
    C.columns_schema(tables)  # the fixture catalog's memo, which t2 must not read
    t2 = fresh_context(
        tables,
        information_schema_columns=spark.createDataFrame(
            doctored, ", ".join(f"{c} string" if c != "ordinal_position" else f"{c} int"
                                for c in INFORMATION_SCHEMA_COLUMNS_COLS)
        ),
    )
    rows = {r.table: r for r in C.observability_report(t2).collect()}
    assert rows["region"].health == "schema_drift"
    # table_profiles' schema side reads the doctored catalog, not a memo
    # of the fixture's
    assert rows["region"].n_columns == 3
    assert all(r.health in ("ok", "compact") for tbl, r in rows.items() if tbl != "region")


def test_zone_map_plan_semantics(tables):
    from databricks_observe_spark.operators import layout as L

    rows = {r.predicate: r for r in L.zone_map_plan(tables).collect()}
    assert set(rows) == {n for n, _, _ in L.ZONE_PREDICATES}
    total = tables["lineitem"].count()
    for r in rows.values():
        assert r.rows_total == total
        assert 0 <= r.n_pruned < r.n_blocks
        assert r.rows_scanned + 0 <= r.rows_total
        assert r.rows_matching <= r.rows_scanned  # matches survive pruning
        assert 0 <= r.prune_bp < 10000
        assert 0 < r.scan_efficiency_bp <= 10000
    # the wide year predicate must prune most half-year blocks and scan
    # with perfect efficiency (year ranges align with block boundaries)
    y = rows["year_1996"]
    assert y.prune_bp >= 7000
    assert y.scan_efficiency_bp == 10000
    # the narrow month scans a superset of its matches
    m = rows["month_1997_03"]
    assert m.rows_matching < m.rows_scanned
