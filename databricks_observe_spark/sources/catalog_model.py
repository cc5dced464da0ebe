"""Catalog-shaped fixtures, derived in-engine (FIXTURES.md §2).

The reference reads these shapes from Databricks surfaces:

- ``system.information_schema.tables``  (``assets/dlt_assets.py:87-91``, S4)
- ``system.information_schema.columns`` (``assets/dlt_assets.py:159-166``, S5)
- SHOW CATALOGS/SCHEMAS/TABLES           (``table_discovery.py:17-43``, S1-S3)
- lineage-tracking REST edges            (``assets/dlt_assets.py:36-57``, S13)
- pipelines / jobs REST lists            (``pipeline_discovery.py:9-27``,
                                          ``job_discovery.py:9-19``, S8/S10)
- update/run polling streams             (``pipeline_discovery.py:30-41``,
                                          ``job_discovery.py:37-55``, S9/S12)

We rebuild them locally as deterministic DataFrames. **Single source of
truth**: the literal rows below are rendered both to Spark DataFrames
(:func:`catalog_frames`) and to DuckDB ``VALUES`` CTE SQL
(:func:`oracle_with_clause`), so the correctness oracle can never drift from
the engine. The ``updates`` stream is *derived* from the ``events`` fixture by
a pure column mapping (:func:`updates_of`, for the batch view and the stream
alike, and its DuckDB twin) so it scales with the scale factor instead of
being a fixed literal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# --- exclusion constants (semantics of assets/dlt_assets.py:28-31) ----------
EXCLUDED_CATALOGS = {""}
EXCLUDED_SCHEMAS = {"information_schema"}
# analog of SKIP_ASSETS = {workspace.default.us_customers}
SKIP_ASSETS = [("testdata", "main", "us_customers")]

# --- information_schema.tables ----------------------------------------------
# (table_catalog, table_schema, table_name, table_type, comment, data_source_format)
# Includes: >=1 NULL comment, >=1 DELTA, >=1 UNKNOWN_DATA_SOURCE_FORMAT (F3/F4),
# rows in an excluded schema and an excluded ("") catalog (P2), and the
# flagship output table that SKIP_ASSETS removes (P3).
INFORMATION_SCHEMA_TABLES = [
    ("testdata", "main", "region", "MANAGED", "TPC-H region dimension", "PARQUET"),
    ("testdata", "main", "nation", "MANAGED", "TPC-H nation dimension", "PARQUET"),
    ("testdata", "main", "customer", "MANAGED", "TPC-H customer dimension", "PARQUET"),
    ("testdata", "main", "supplier", "MANAGED", "TPC-H supplier dimension", "PARQUET"),
    ("testdata", "main", "part", "MANAGED", "TPC-H part dimension", "PARQUET"),
    ("testdata", "main", "orders", "MANAGED", "TPC-H orders fact", "DELTA"),
    ("testdata", "main", "lineitem", "MANAGED", "TPC-H lineitem fact", "DELTA"),
    ("testdata", "main", "events", "MANAGED", None, "PARQUET"),
    ("testdata", "main", "documents", "EXTERNAL TABLE", "LLM document corpus", "UNKNOWN_DATA_SOURCE_FORMAT"),
    ("testdata", "main", "embeddings", "MANAGED", "embedding vectors", "PARQUET"),
    ("testdata", "main", "us_customers", "MANAGED", "flagship output", "DELTA"),
    ("testdata", "information_schema", "tables", "SYSTEM TABLE", "info schema", "UNKNOWN_DATA_SOURCE_FORMAT"),
    ("testdata", "information_schema", "columns", "SYSTEM TABLE", "info schema", "UNKNOWN_DATA_SOURCE_FORMAT"),
    ("", "scratch", "orphan", "MANAGED", None, "PARQUET"),
]
INFORMATION_SCHEMA_TABLES_COLS = (
    "table_catalog", "table_schema", "table_name", "table_type", "comment",
    "data_source_format",
)

# --- information_schema.columns ---------------------------------------------
# Fixed layer-1 parquet schemas (FIXTURES.md §1), with ordinal for
# order-stable schema assembly (A3 / SURVEY.md §7 hard part 3).
_SCHEMAS: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "bigint"), ("c_name", "string"), ("c_nationkey", "int"),
        ("c_acctbal", "double"), ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"), ("s_name", "string"), ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"), ("p_name", "string"), ("p_brand", "string"),
        ("p_type", "string"), ("p_size", "int"), ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"), ("o_custkey", "bigint"), ("o_orderstatus", "string"),
        ("o_totalprice", "double"), ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"), ("l_partkey", "bigint"), ("l_suppkey", "bigint"),
        ("l_linenumber", "int"), ("l_quantity", "double"), ("l_extendedprice", "double"),
        ("l_discount", "double"), ("l_tax", "double"), ("l_returnflag", "string"),
        ("l_linestatus", "string"), ("l_shipdate", "timestamp"),
    ],
    "events": [
        ("event_id", "bigint"), ("ts", "timestamp"), ("user_id", "bigint"),
        ("event_type", "string"), ("value", "double"), ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"), ("text", "string"), ("lang", "string"),
        ("source", "string"), ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"), ("embedding", "array<float>"), ("label", "int"),
    ],
}

INFORMATION_SCHEMA_COLUMNS = [
    ("testdata", "main", tbl, col, typ, None, ordinal)
    for tbl, cols in _SCHEMAS.items()
    for ordinal, (col, typ) in enumerate(cols, start=1)
]
INFORMATION_SCHEMA_COLUMNS_COLS = (
    "table_catalog", "table_schema", "table_name", "column_name", "data_type",
    "comment", "ordinal_position",
)

# --- lineage edges -----------------------------------------------------------
# dst depends on src (src is upstream of dst). Mirrors the REST edge shape of
# assets/dlt_assets.py:47-55 plus the static edge of customer_assets.py:5-7
# (us_customers <- customer/nation/region). Includes a 2-node cycle reachable
# from lineitem and a self-edge on events to exercise the DA:62-69 guards.
LINEAGE_EDGES = [
    # (dst_catalog, dst_schema, dst_table, src_catalog, src_schema, src_table)
    ("testdata", "main", "nation", "testdata", "main", "region"),
    ("testdata", "main", "customer", "testdata", "main", "nation"),
    ("testdata", "main", "supplier", "testdata", "main", "nation"),
    ("testdata", "main", "orders", "testdata", "main", "customer"),
    ("testdata", "main", "lineitem", "testdata", "main", "orders"),
    ("testdata", "main", "lineitem", "testdata", "main", "part"),
    ("testdata", "main", "lineitem", "testdata", "main", "supplier"),
    ("testdata", "main", "us_customers", "testdata", "main", "customer"),
    ("testdata", "main", "us_customers", "testdata", "main", "nation"),
    ("testdata", "main", "us_customers", "testdata", "main", "region"),
    ("testdata", "main", "embeddings", "testdata", "main", "documents"),
    # cycle, reachable from lineitem via part
    ("testdata", "main", "part", "testdata", "main", "cyc_a"),
    ("testdata", "main", "cyc_a", "testdata", "main", "cyc_b"),
    ("testdata", "main", "cyc_b", "testdata", "main", "cyc_a"),
    # self-edge (must be filtered, DA:68-69)
    ("testdata", "main", "events", "testdata", "main", "events"),
]
LINEAGE_EDGES_COLS = (
    "dst_catalog", "dst_schema", "dst_table", "src_catalog", "src_schema", "src_table",
)

# --- pipelines / jobs --------------------------------------------------------
# Names need sanitization (F1: re.sub('[^a-zA-Z0-9_]+', '_')); a duplicate
# sanitized name exercises the `seen` dedup (DA:198-199).
PIPELINES = [
    ("pl-001", "Daily ETL Load"),
    ("pl-002", "dlt: bronze->silver!"),
    ("pl-003", "events ingest (v2)"),
    ("pl-004", "Daily ETL Load"),
]
PIPELINES_COLS = ("pipeline_id", "name")

JOBS = [
    (101, "nightly-refresh"),
    (102, "Weekly Report #1"),
    (103, "backfill 2024/01"),
]
JOBS_COLS = ("job_id", "name")

# --- deep lineage stress fixture --------------------------------------------
# A synthetic graph whose upstream chain is ~100 edges deep — far beyond
# the 3-4 hops of LINEAGE_EDGES — so the closure's iteration cadence is
# PROVEN at depth, not assumed (a real warehouse's dbt DAG can be this
# deep). Deterministically generated: one 100-edge chain, a side input
# every 10th node, and a 3-cycle upstream of the chain tail to prove
# cycle tolerance survives depth (transitive self-pairs through the
# cycle are part of the defined closure; only DIRECT self-edges drop).
DEEP_CHAIN_LEN = 100
LINEAGE_EDGES_DEEP = (
    [
        ("testdata", "main", f"d{i:03d}", "testdata", "main", f"d{i + 1:03d}")
        for i in range(DEEP_CHAIN_LEN)
    ]
    + [
        ("testdata", "main", f"d{i:03d}", "testdata", "main", f"side{i:03d}")
        for i in range(0, DEEP_CHAIN_LEN, 10)
    ]
    + [
        ("testdata", "main", f"d{DEEP_CHAIN_LEN:03d}", "testdata", "main", "cyc_x"),
        ("testdata", "main", "cyc_x", "testdata", "main", "cyc_y"),
        ("testdata", "main", "cyc_y", "testdata", "main", "cyc_z"),
        ("testdata", "main", "cyc_z", "testdata", "main", "cyc_x"),
    ]
)

# discovered by SHOW TABLES but missing from information_schema.tables:
# exercises the J1 left-outer defaults (kind='table', format='')
EXTRA_SHOW_OBJECTS = [("testdata", "main", "ad_hoc_view")]

_LITERALS = {
    "information_schema_tables": (INFORMATION_SCHEMA_TABLES, INFORMATION_SCHEMA_TABLES_COLS),
    "information_schema_columns": (INFORMATION_SCHEMA_COLUMNS, INFORMATION_SCHEMA_COLUMNS_COLS),
    "lineage_edges": (LINEAGE_EDGES, LINEAGE_EDGES_COLS),
    "lineage_edges_deep": (LINEAGE_EDGES_DEEP, LINEAGE_EDGES_COLS),
    "pipelines": (PIPELINES, PIPELINES_COLS),
    "jobs": (JOBS, JOBS_COLS),
}

_SPARK_DDL = {
    "information_schema_tables": (
        "table_catalog string, table_schema string, table_name string, "
        "table_type string, comment string, data_source_format string"
    ),
    "information_schema_columns": (
        "table_catalog string, table_schema string, table_name string, "
        "column_name string, data_type string, comment string, ordinal_position int"
    ),
    "lineage_edges": (
        "dst_catalog string, dst_schema string, dst_table string, "
        "src_catalog string, src_schema string, src_table string"
    ),
    "lineage_edges_deep": (
        "dst_catalog string, dst_schema string, dst_table string, "
        "src_catalog string, src_schema string, src_table string"
    ),
    "pipelines": "pipeline_id string, name string",
    "jobs": "job_id bigint, name string",
}

# --- updates stream derived from events --------------------------------------
# Pure column mapping so it scales with sf. Entities: pipelines pl-001..pl-004
# for even user_id, jobs 101..103 for odd; ~200 update ids recur per entity so
# the same (entity_id, update_id) is "polled" repeatedly in the same state —
# exactly the re-poll behavior the sensor cursor deduplicates (dlt_sensor.py:23-41).
UPDATES_STATE_CASE = (
    "CASE event_type WHEN 'purchase' THEN 'COMPLETED' WHEN 'signup' THEN 'COMPLETED' "
    "WHEN 'click' THEN 'RUNNING' WHEN 'view' THEN 'WAITING' ELSE 'FAILED' END"
)


def updates_of(events: DataFrame) -> DataFrame:
    """The events -> updates mapping, for the batch ``updates`` view and
    the completion stream alike; ``UPDATES_SQL_DUCKDB`` is its oracle."""
    return events.selectExpr(
        "CASE WHEN user_id % 2 = 0 THEN 'pipeline' ELSE 'job' END AS entity_type",
        "CASE WHEN user_id % 2 = 0 THEN concat('pl-00', CAST(1 + ((user_id % 8) div 2) AS STRING))"
        " ELSE CAST(101 + ((user_id % 6) div 2) AS STRING) END AS entity_id",
        "concat('u', CAST(event_id % 211 AS STRING)) AS update_id",
        f"{UPDATES_STATE_CASE} AS state",
        "ts",
        "event_id",
    )


UPDATES_SQL_DUCKDB = f"""
SELECT
  CASE WHEN user_id % 2 = 0 THEN 'pipeline' ELSE 'job' END AS entity_type,
  CASE WHEN user_id % 2 = 0 THEN 'pl-00' || CAST(1 + ((user_id % 8) // 2) AS VARCHAR)
       ELSE CAST(101 + ((user_id % 6) // 2) AS VARCHAR) END AS entity_id,
  'u' || CAST(event_id % 211 AS VARCHAR) AS update_id,
  {UPDATES_STATE_CASE} AS state,
  ts,
  event_id
FROM events
"""


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def values_sql(name: str) -> str:
    """Render a literal table as a DuckDB `SELECT ... FROM (VALUES ...)`."""
    rows, cols = _LITERALS[name]
    body = ",\n    ".join("(" + ", ".join(_sql_literal(v) for v in r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES\n    {body}\n) AS _t({', '.join(cols)})"


def oracle_with_clause(*names: str) -> str:
    """`WITH`-clause prefix defining catalog views for a DuckDB oracle query.

    ``updates`` (events-derived) and ``catalog_objects`` (projection +
    SHOW-only extra row) are special-cased; ``catalog_objects`` pulls in
    ``information_schema_tables`` automatically.
    """
    resolved: list[str] = []
    for n in names:
        if n == "catalog_objects" and "information_schema_tables" not in resolved:
            resolved.append("information_schema_tables")
        if n not in resolved:
            resolved.append(n)
    parts = []
    for n in resolved:
        if n == "updates":
            parts.append(f"updates AS (\n{UPDATES_SQL_DUCKDB}\n)")
        elif n == "catalog_objects":
            parts.append(f"catalog_objects AS (\n{CATALOG_OBJECTS_SQL_DUCKDB}\n)")
        else:
            parts.append(f"{n} AS (\n{values_sql(n)}\n)")
    return "WITH " + ",\n".join(parts) + "\n"


def spark_values_sql(name: str) -> str:
    """Render a literal table as Spark SQL over VALUES with explicit casts.

    A SQL VALUES list becomes a Catalyst LocalRelation: single partition,
    no Python workers, constant-folded and broadcast for free — unlike
    ``spark.createDataFrame`` which round-trips rows through pickled RDD
    slices (one task per core for a 14-row table).
    """
    rows, cols = _LITERALS[name]
    types = dict(
        (part.strip().split(" ", 1)[0], part.strip().split(" ", 1)[1])
        for part in _SPARK_DDL[name].split(",")
    )
    body = ", ".join("(" + ", ".join(_sql_literal(v) for v in r) + ")" for r in rows)
    casts = ", ".join(f"CAST({c} AS {types[c]}) AS {c}" for c in cols)
    return f"SELECT {casts} FROM (VALUES {body}) AS _t({', '.join(cols)})"


def catalog_frames(spark: SparkSession) -> dict[str, DataFrame]:
    """Build every catalog-model DataFrame and register temp views.

    The literal frames are tiny (tens of rows) — at scale they would be
    metastore scans; every consumer treats them as broadcast-joinable
    dimensions. ``updates`` is a projection over ``events`` (requires
    ``load_tables`` to have registered the ``events`` view first) so it
    inherits the fact table's partitioning and scales with input size.
    """
    out: dict[str, DataFrame] = {}
    for name in _LITERALS:
        df = spark.sql(spark_values_sql(name))
        df.createOrReplaceTempView(name)
        out[name] = df
    updates = updates_of(spark.table("events"))
    updates.createOrReplaceTempView("updates")
    out["updates"] = updates
    # catalog_objects: the SHOW CATALOGS/SCHEMAS/TABLES triple loop (S1-S3)
    # collapses to a projection of information_schema_tables, plus one object
    # visible to SHOW but absent from information_schema (exercises the
    # left-outer probe defaults of DA:110-120 / J1).
    catalog_objects = out["information_schema_tables"].select(
        F.col("table_catalog").alias("catalog"),
        F.col("table_schema").alias("schema"),
        F.col("table_name").alias("table"),
    ).union(
        spark.sql(
            "SELECT * FROM (VALUES "
            + ", ".join(
                "(" + ", ".join(_sql_literal(v) for v in r) + ")" for r in EXTRA_SHOW_OBJECTS
            )
            + ") AS _t(catalog, schema, table)"
        )
    )
    catalog_objects.createOrReplaceTempView("catalog_objects")
    out["catalog_objects"] = catalog_objects
    return out


CATALOG_OBJECTS_SQL_DUCKDB = (
    "SELECT table_catalog AS catalog, table_schema AS schema, table_name AS \"table\" "
    "FROM information_schema_tables "
    "UNION ALL SELECT 'testdata', 'main', 'ad_hoc_view'"
)
