"""Control-plane semantics: trigger-and-wait polling, modeled as data.

The reference triggers a pipeline/job then polls every 5 s until a terminal
state or a 600 s timeout (ST1; ``pipeline_discovery.py:44-79``,
``job_discovery.py:22-55``). Two behaviors are preserved exactly (SURVEY.md
§2.11):

- **pipeline** polling RAISES ``TimeoutError`` on timeout
  (``pipeline_discovery.py:79``);
- **job** polling RETURNS ``"TIMEOUT"`` (``job_discovery.py:50-53``).

Side-effect POSTs (K3) are out of engine scope; a trigger is modeled as a
row in a ``run_requests`` frame and the poll loop consumes the ``updates``
stream ordered by time — so the semantics are testable without a control
plane. The poll is a DataFrame lookup per tick (a keyed point query, S11),
not a collect-the-world loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PIPELINE_TERMINAL = {"COMPLETED", "FAILED", "CANCELED"}  # pipeline_discovery.py:74
# The reference's job life-cycle vocabulary (job_discovery.py:44) —
# documentation of the source semantics only. The derived ``updates``
# stream in this repo normalizes BOTH entity types onto the pipeline
# vocabulary (sources/catalog_model.py maps event_type -> state), so
# ``wait_for_job`` defaults to PIPELINE_TERMINAL below; a deployment
# ingesting raw job states would pass ``terminal=JOB_TERMINAL``.
JOB_TERMINAL = {"TERMINATED", "SKIPPED", "INTERNAL_ERROR"}  # job_discovery.py:44
# reference cadence constant (pipeline_discovery.py:61 / job_discovery.py:55);
# the batch replay below consumes recorded update rows directly, so no 5 s
# sleep exists here — the constant documents the live-polling cadence an
# online deployment would configure on its trigger interval
POLL_INTERVAL_S = 5
DEFAULT_TIMEOUT_S = 600  # pipeline_discovery.py:44 / job_discovery.py:22


def _poll_states(updates: DataFrame, entity_id: str, after_ts=None) -> DataFrame:
    """S9/S11-shaped keyed lookup: state history for one entity, time-ordered.

    The entity_id equality predicate prunes at the source (pushed to the
    scan); only this entity's rows ever leave the executors.
    """
    df = updates.filter(F.col("entity_id") == entity_id)
    if after_ts is not None:
        df = df.filter(F.col("ts") >= after_ts)
    return df.select("entity_id", "update_id", "state", "ts").orderBy("ts")


def wait_for_pipeline(
    updates: DataFrame,
    pipeline_id: str,
    timeout_seconds: int = DEFAULT_TIMEOUT_S,
    terminal: frozenset[str] | set[str] = frozenset(PIPELINE_TERMINAL),
) -> str:
    """Replay the poll loop over the recorded updates stream.

    Walks the entity's state history in event-time order; returns the
    first terminal state observed no later than ``timeout_seconds`` after
    the first poll, else **raises TimeoutError** (pipeline semantics,
    pipeline_discovery.py:79).
    """
    rows = _poll_states(updates, pipeline_id).collect()
    if not rows:
        raise TimeoutError(
            f"pipeline {pipeline_id} did not reach a terminal state in "
            f"{timeout_seconds}s (no updates)"
        )
    t0 = rows[0].ts
    for r in rows:
        elapsed = (r.ts - t0).total_seconds()
        if elapsed > timeout_seconds:
            break
        if r.state in terminal:
            return r.state
    raise TimeoutError(
        f"pipeline {pipeline_id} did not reach a terminal state in {timeout_seconds}s"
    )


def run_output_lookup(t: dict[str, DataFrame]) -> DataFrame:
    """S11 as a registry query: the run-output point read
    (``job_discovery.py:57-65`` — ``get_run_output`` for one run id) —
    one entity's newest update row.

    The probe key is itself derived deterministically (min entity_id) so
    the query is fixture-independent. Plan shape: one stage. The non-NULL
    rows sort by (entity_id, newest ts, newest event_id) into a single
    ``TakeOrderedAndProject``: each task keeps a 1-row heap and the driver
    merges them, so ``updates`` is scanned once and nothing shuffles or
    broadcasts at any scale. At scale this is the keyed point-read every
    poll tick issues (see ``_poll_states``).
    """
    from databricks_observe_spark.operators.runs import _ts_str

    return (
        t["updates"]
        .filter(F.col("entity_id").isNotNull())
        .orderBy(F.asc("entity_id"), F.desc("ts"), F.desc("event_id"))
        .limit(1)
        .select(
            "entity_type",
            "entity_id",
            "update_id",
            "state",
            _ts_str().alias("ts"),
        )
    )


def _run_output_lookup_sql() -> str:
    from databricks_observe_spark.sources.catalog_model import oracle_with_clause
    from databricks_observe_spark.sources.tables import TS_FMT_DUCK

    # ORDER BY runs in a subquery over the RAW timestamp column, with
    # strftime applied outside — matching latest_update_per_entity's
    # pattern. (An outer ORDER BY ts would bind to the SELECT alias — the
    # formatted string — which only happens to sort correctly because the
    # fixed-width format is lexicographically order-preserving.)
    return oracle_with_clause("updates") + f"""
SELECT entity_type, entity_id, update_id, state,
       strftime(ts, '{TS_FMT_DUCK}') AS ts
FROM (
  SELECT * FROM updates
  WHERE entity_id = (SELECT MIN(entity_id) FROM updates)
  ORDER BY ts DESC, event_id DESC LIMIT 1
)
"""


def wait_for_job(
    updates: DataFrame,
    job_id: str,
    timeout_seconds: int = DEFAULT_TIMEOUT_S,
    terminal: frozenset[str] | set[str] = frozenset(PIPELINE_TERMINAL),
) -> str:
    """Job variant: same walk, but a timeout **returns "TIMEOUT"** instead
    of raising (job_discovery.py:50-53). Defaults to PIPELINE_TERMINAL
    because the derived updates stream uses the pipeline state vocabulary
    for both entity types; pass JOB_TERMINAL when ingesting raw job
    states."""
    try:
        return wait_for_pipeline(updates, job_id, timeout_seconds, terminal)
    except TimeoutError:
        return "TIMEOUT"
