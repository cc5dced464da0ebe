"""Local SparkSession factory.

Replaces the reference's ``spark_utils.py:3-4``
(``DatabricksSession.builder.getOrCreate()``) with a plain open-source local
session, tuned for the local[N] test harness while keeping settings that are
the right defaults on a real cluster (AQE, adaptive shuffle partitions,
Arrow-accelerated Python interop, UTC session time zone).

Python workers fork from ``worker_daemon`` (``spark.python.daemon.module``),
which keeps each task from re-reading Spark's zip archives; the conf is
static, so only ``get_spark`` sessions get it, not foreign sessions. The
workers import that module from this package's parent directory, which the
session puts on their ``PYTHONPATH``: a script that found the package
through its own ``sys.path`` would otherwise start workers that cannot.

The driver JVM gets a C2 budget sized to the engine's traffic
(``JVM_OPTIONS``): a method reaches the optimizing compiler (tier 4) only
after 4x HotSpot's default invocation counts. An observe tick is a burst of
catalog, lineage and sensor queries over tiny frames, so most of its JVM
code (Catalyst rules, the DAG scheduler, py4j dispatch) runs lukewarm. At
the defaults, C2 compiler threads took ~40% of a steady pass's CPU
(``tools/cpu_split.py``, 4 vCPU, sf0.01: 0.72 of 1.90 s on observe_tick,
1.04 of 2.53 s on curation) and 16 s of the cold tick, compiling methods
that never paid the compile back. The rule leaves alone what hot code
needs: the back-edge (OSR) threshold, so a data loop still reaches C2 on
time, and tiers 1-3. A C1-only JVM is no substitute: it slowed the sf0.1
headline by more than half. The options are static, so only ``get_spark``
sessions get them, not foreign sessions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# The runtime-settable engine defaults: tune puts them on our own sessions'
# builder, ensure_conf on a session someone else created.
ENGINE_CONF = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)),
    # TIMESTAMP(NANOS) reads as bigint, as sources/tables.footer_schema
    # declares it; normalize_events_ts converts it (no-op for micros data)
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
)

# HotSpot's tier-4 invocation thresholds, each 4x its default (5000, 600,
# 15000); see the module docstring
JVM_OPTIONS = (
    "-XX:Tier4InvocationThreshold=20000",
    "-XX:Tier4MinInvocationThreshold=2400",
    "-XX:Tier4CompileThreshold=60000",
)


def tune(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply the engine defaults and ``JVM_OPTIONS`` to our own sessions'
    builder; ``ensure_conf`` sets the runtime-settable part on foreign ones."""
    for key, value in ENGINE_CONF:
        builder = builder.config(key, value)
    return (
        builder.config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", " ".join(JVM_OPTIONS))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "databricks_observe_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )


def get_spark(app_name: str = "databricks-observe-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    return tune(builder).getOrCreate()


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Set the runtime-settable engine defaults on an externally-created
    session (the verification driver owns its own SparkSession)."""
    # AQE coalesces batch shuffles regardless, but STATEFUL STREAMING
    # pins its state-store partition count to this at first checkpoint
    # and AQE never touches it — the vanilla default of 200 means 200
    # state commits per micro-batch on a 32-core box. Lift ONLY the
    # vanilla default: an explicit caller pin (e.g. the streaming
    # harness's _stream_confs, which applies before stream_parquet
    # re-runs ensure_conf) must win, not be stomped back to 32.
    try:
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass
    for key, value in ENGINE_CONF:
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # immutable in some deployments; defaults are acceptable
    return spark
