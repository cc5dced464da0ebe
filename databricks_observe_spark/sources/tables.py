"""Parquet fixture sources.

Stands in for the reference's remote scans — ``spark.read.table`` at
``assets/customer_assets.py:11`` (S7) and the information_schema scans at
``assets/dlt_assets.py:87-91,159-166`` (S4/S5) — as local parquet reads.

Like the reference, which never scans data to learn a shape, the batch
loader and ``streaming/state.py:stream_parquet`` read with the schema of the
parquet footer (``footer_schema``): loading collects, caches and runs
nothing, and Catalyst pushes predicates and prunes columns into the parquet
reader for every downstream operator (SURVEY.md §4). The split memos
(``fan_out``) are the one exception, and only on an under-split scan.
``events.ts``'s physical type has varied across fixture
re-materializations (TIMESTAMP(NANOS) read as long, TIMESTAMP(MICROS) read
as TIMESTAMP_NTZ) — we DETECT the layout and normalize to Spark's
microsecond TIMESTAMP once at load so window/session operators and the
DuckDB oracle agree (SURVEY.md §7 hard part 4).
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from databricks_observe_spark.memo import index
from databricks_observe_spark.session import ensure_conf

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The events.ts layouts the loader detects (see the module docstring); any
# other fails with a named error, not a DATATYPE_MISMATCH deep in a plan.
_EVENTS_TS_TYPES = ("bigint", "timestamp", "timestamp_ntz")

# The text form of every timestamp a query returns, in Spark's and in
# DuckDB's spelling: both render microseconds, so the oracle hashes match.
TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def footer_schema(path: str) -> StructType:
    """The schema Spark infers for the parquet file ``path`` (or for the
    first file, by name, the glob ``path`` matches), read from its footer
    on the driver: no job, whatever the file's size. Zone-less timestamps
    map to ``timestamp_ntz`` and TIMESTAMP(NANOS) to ``bigint``, as the
    session's ``nanosAsLong`` setting reads them."""
    arrow = pq.read_schema(min(glob.glob(path), default=path))
    fields = [
        f.with_type(pa.int64())
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        else f
        for f in arrow
    ]
    return from_arrow_schema(pa.schema(fields), prefer_timestamp_ntz=True)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to Spark's microsecond TIMESTAMP regardless of
    the fixture's physical layout.

    - ``bigint``: parquet TIMESTAMP(NANOS) read via the nanosAsLong fallback
      -> integer-divide to micros (float division would drift by 1us on
      int64-sized epochs) and convert.
    - ``timestamp`` / ``timestamp_ntz``: native micros parquet timestamp ->
      cast (session timezone is UTC, so NTZ values read as UTC instants).
    - anything else: raise with the column and type NAMED, so fixture drift
      fails loudly at load, not inside query execution.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype in ("timestamp", "timestamp_ntz"):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    raise TypeError(
        f"fixture contract violation: events.ts has physical type {dtype!r}; "
        f"expected one of {_EVENTS_TS_TYPES}. The fixture layout drifted — "
        "teach normalize_events_ts the new type rather than patching queries."
    )


def check_fixture_contract(tables: dict[str, DataFrame]) -> None:
    """Fail fast, with named messages, if a re-materialized fixture carries a
    physical type the engine's operators don't expect."""
    problems: list[str] = []
    ts_type = dict(tables["events"].dtypes).get("ts")
    if ts_type != "timestamp":
        problems.append(f"events.ts normalized to {ts_type!r}, want 'timestamp'")
    od_type = dict(tables["orders"].dtypes).get("o_orderdate")
    if od_type not in ("date", "timestamp", "timestamp_ntz"):
        problems.append(
            f"orders.o_orderdate is {od_type!r}, want date/timestamp[_ntz]"
        )
    emb_type = dict(tables["embeddings"].dtypes).get("embedding")
    if emb_type not in ("array<float>", "array<double>"):
        problems.append(
            f"embeddings.embedding is {emb_type!r}, want array<float|double>"
        )
    else:
        # dimension drift would silently break every unrolled 64-term
        # vector expression (similarity oracles are generated for DIM=64):
        # the first value, read from one column chunk, fails loudly instead
        path = os.path.join(tables["_sf_dir"], "embeddings.parquet")
        batches = pq.ParquetFile(path).iter_batches(batch_size=1, columns=["embedding"])
        dims = next((len(b.column(0)[0]) for b in batches if b.num_rows), 64)
        if dims != 64:
            problems.append(
                f"embeddings.embedding has {dims} dims, engine "
                "vector expressions are generated for 64"
            )
    required = {
        "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
        "documents": {"doc_id", "text", "lang", "source", "n_chars"},
        "embeddings": {"vec_id", "embedding", "label"},
    }
    for name, cols in required.items():
        missing = cols - set(tables[name].columns)
        if missing:
            problems.append(f"{name} lost column(s) {sorted(missing)}")
    if problems:
        raise TypeError(
            "fixture contract violation(s): " + "; ".join(problems)
        )


def fan_out(df: DataFrame) -> DataFrame:
    """``df`` spread across the session's cores when its scan under-splits
    — and ONLY then; the builder of the split memos below.

    The fixtures are single-row-group parquet files, which a row-group-
    aligned reader cannot split: every downstream map stage (tokenize,
    shingle, regex scrub, Arrow decode) would run as ONE task no matter
    how many cores the session has. With fewer scan partitions than
    ``defaultParallelism``, the frame is round-robined to that width and
    materialized with ``localCheckpoint``, so the shuffle runs once, at
    build; what it holds is bounded by cores × one scan split. Otherwise
    the frame comes back unchanged: a 100 TB table scans as thousands of
    splits, so this is a no-op there — no shuffle, nothing held.
    ``rdd.getNumPartitions()`` inspects the physical plan without running
    a job, so the check itself is free.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target).localCheckpoint()


@index("documents_split")
def documents_split(t: dict[str, DataFrame]) -> DataFrame:
    """``documents`` through :func:`fan_out`, once per context: every
    CPU-bound corpus pass, index build or query, reads this frame."""
    return fan_out(t["documents"])


@index("embeddings_split")
def embeddings_split(t: dict[str, DataFrame]) -> DataFrame:
    """``embeddings`` through :func:`fan_out`, once per context."""
    return fan_out(t["embeddings"])


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every fixture table and register it as a temp view.

    Returns a dict name -> DataFrame. Idempotent: re-registering views is
    cheap and keeps `spark.sql(...)` usable everywhere.
    """
    ensure_conf(spark)
    out: dict[str, DataFrame] = {}
    out["_sf_dir"] = sf_dir  # for file-index reads (catalog_ops)
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        df = spark.read.schema(footer_schema(path)).parquet(path)
        if name == "events":
            df = normalize_events_ts(df)
        df.createOrReplaceTempView(name)
        # Also register under the session's global_temp namespace: a real,
        # catalog-visible schema that ONLY the engine writes to, so the
        # live-catalog discovery walk (operators/catalog_ops.py:
        # discovered_objects_live, S1-S3 over an actual session catalog)
        # has a deterministic namespace to enumerate.
        df.createOrReplaceGlobalTempView(name)
        out[name] = df
    check_fixture_contract(out)
    return out
