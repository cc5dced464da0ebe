"""Run/update stream operators — latest-per-key, transitions, as-of, range.

Rebuilds the reference's polling/sensor computations over the ``updates``
stream (derived from ``events``; see sources/catalog_model.py):

- ``latest_update_per_entity`` — S9/S12/A6: the "max_results=1 newest
  update" REST lookup (``pipeline_discovery.py:30-41``,
  ``job_discovery.py:67-74``) as a ranking window.
- ``state_transitions`` — ST2: the sensor's first-seen-COMPLETED cursor
  diff (``sensors/dlt_sensor.py:16-41``) as a lag window: emit when state
  is COMPLETED and the previous poll of the same (entity, update) wasn't.
- ``first_completed`` — the exactly-once materialization set: earliest
  COMPLETED poll per (entity, update) (the idempotent-sink view of ST2).
- ``asof_last_error_before_purchase`` / ``signup_purchase_window`` — the
  as-of and range joins the run/event streams motivate (SURVEY.md §2.3).

Scale stance: every operator here is one shuffle on its natural key
(entity or user), with the window computed inside the sorted partition.
The as-of join deliberately avoids a join: it is a single window pass over
the unioned stream (last-non-null carry-forward), the classic Spark as-of
formulation that scales linearly and never builds a range-join blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from databricks_observe_spark.memo import index
from databricks_observe_spark.sources.catalog_model import oracle_with_clause
from databricks_observe_spark.sources.tables import TS_FMT, TS_FMT_DUCK


def _ts_str(col: str = "ts") -> F.Column:
    return F.date_format(F.col(col), TS_FMT)


def latest_update_per_entity(t: dict[str, DataFrame]) -> DataFrame:
    """Newest update per entity (deterministic tie-break on event_id)."""
    w = Window.partitionBy("entity_type", "entity_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        t["updates"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "entity_type",
            "entity_id",
            "update_id",
            "state",
            _ts_str().alias("ts"),
        )
    )


LATEST_UPDATE_PER_ENTITY_SQL = oracle_with_clause("updates") + f"""
SELECT entity_type, entity_id, update_id, state,
       strftime(ts, '{TS_FMT_DUCK}') AS ts
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY entity_type, entity_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM updates
) WHERE rn = 1
"""


def state_transitions(t: dict[str, DataFrame]) -> DataFrame:
    """ST2 batch replay: emit each poll where (entity, update) first enters
    COMPLETED — including re-entries after a non-COMPLETED poll, exactly the
    cursor semantics of dlt_sensor.py:23-41 (last_recorded != COMPLETED).

    The window keys on the FULL entity identity (entity_type, entity_id,
    update_id) — the reference's cursor key is "pid:uid" per sensor type.
    Keying on entity_id alone only worked because pipeline and job ids
    never collide in the fixtures; a shared id would interleave two
    sensors' poll streams in one lag window and wrongly suppress a
    COMPLETED emission."""
    w = Window.partitionBy("entity_type", "entity_id", "update_id").orderBy(
        "ts", "event_id"
    )
    prev = F.lag("state").over(w)
    return (
        t["updates"]
        .withColumn("prev_state", prev)
        .filter(
            (F.col("state") == "COMPLETED")
            & (F.col("prev_state").isNull() | (F.col("prev_state") != "COMPLETED"))
        )
        .select("entity_type", "entity_id", "update_id", _ts_str().alias("ts"))
    )


STATE_TRANSITIONS_SQL = oracle_with_clause("updates") + f"""
SELECT entity_type, entity_id, update_id, strftime(ts, '{TS_FMT_DUCK}') AS ts
FROM (
  SELECT *, LAG(state) OVER (PARTITION BY entity_type, entity_id, update_id
                             ORDER BY ts, event_id) AS prev_state
  FROM updates
)
WHERE state = 'COMPLETED' AND (prev_state IS NULL OR prev_state <> 'COMPLETED')
"""


def first_completed(t: dict[str, DataFrame]) -> DataFrame:
    """Exactly-once emission set: earliest COMPLETED poll per (entity,
    update). Re-polls of the same completed update collapse — the
    at-most-once key of ST4 (dlt_sensor.py:23)."""
    return (
        t["updates"]
        .filter(F.col("state") == "COMPLETED")
        .groupBy("entity_type", "entity_id", "update_id")
        .agg(
            F.min("ts").alias("completed_ts_raw"),
            F.count(F.lit(1)).alias("n_polls"),
        )
        .select(
            "entity_type",
            "entity_id",
            "update_id",
            F.date_format("completed_ts_raw", TS_FMT).alias("completed_ts"),
            "n_polls",
        )
    )


FIRST_COMPLETED_SQL = oracle_with_clause("updates") + f"""
SELECT entity_type, entity_id, update_id,
       strftime(MIN(ts), '{TS_FMT_DUCK}') AS completed_ts,
       COUNT(*) AS n_polls
FROM updates
WHERE state = 'COMPLETED'
GROUP BY entity_type, entity_id, update_id
"""


def asof_last_error_before_purchase(t: dict[str, DataFrame]) -> DataFrame:
    """As-of join: each purchase paired with the same user's most recent
    *strictly earlier* error event.

    Spark-first formulation: one window pass over the event stream with
    last(ignorenulls) over rows (-inf, -1) — no range join, no blowup; a
    single shuffle on user_id. The DuckDB oracle uses a native ASOF JOIN,
    making the two plans genuinely independent.
    """
    ev = t["events"]
    # RANGE frame on the epoch keeps only strictly-earlier rows, matching
    # the oracle's strict `p.ts > e.ts` even if an error and a purchase
    # ever share a timestamp (a rows-frame would include same-ts rows
    # nondeterministically)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    err_ts = F.last(
        F.when(F.col("event_type") == "error", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_error_ts_raw", err_ts)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            _ts_str().alias("purchase_ts"),
            F.date_format("last_error_ts_raw", TS_FMT).alias("last_error_ts"),
            (
                F.unix_timestamp(F.col("ts")) - F.unix_timestamp(F.col("last_error_ts_raw"))
            ).alias("secs_since_error"),
        )
    )


ASOF_LAST_ERROR_SQL = f"""
SELECT p.event_id, p.user_id,
       strftime(p.ts, '{TS_FMT_DUCK}') AS purchase_ts,
       strftime(e.ts, '{TS_FMT_DUCK}') AS last_error_ts,
       CAST(date_diff('second', e.ts, p.ts) AS BIGINT) AS secs_since_error
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id AND p.ts > e.ts
"""


def signup_purchase_window(t: dict[str, DataFrame]) -> DataFrame:
    """Range join: purchases by the same user within 7 days after a signup.

    Equi-key on user_id keeps this a hash join with a range residual —
    Catalyst never falls back to a nested-loop; signups with no purchase
    survive via left join.
    """
    ev = t["events"]
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", F.col("ts").alias("s_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    cond = (
        (signups.user_id == purchases.p_user)
        & (purchases.p_ts > signups.s_ts)
        & (purchases.p_ts <= signups.s_ts + F.expr("INTERVAL 7 DAYS"))
    )
    return (
        signups.join(purchases, on=cond, how="left")
        .groupBy("event_id", "user_id", "s_ts")
        .agg(
            F.count("p_ts").alias("n_purchases"),
            F.coalesce(
                F.sum(F.col("p_value").cast("decimal(18,2)")).cast("double"), F.lit(0.0)
            ).alias("purchase_value"),
        )
        .select(
            "event_id",
            "user_id",
            _ts_str("s_ts").alias("signup_ts"),
            "n_purchases",
            "purchase_value",
        )
    )


SIGNUP_PURCHASE_WINDOW_SQL = f"""
SELECT s.event_id, s.user_id,
       strftime(s.ts, '{TS_FMT_DUCK}') AS signup_ts,
       COUNT(p.ts) AS n_purchases,
       COALESCE(CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'signup') s
LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON s.user_id = p.user_id AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 7 DAY
GROUP BY s.event_id, s.user_id, s.ts
"""


def _cursor_updates(t: dict[str, DataFrame]) -> DataFrame:
    """``(k, state, us)``: the updates stream keyed as the sensor cursor
    keys it (``"pid:uid"``), event time in epoch micros."""
    return t["updates"].select(
        F.concat_ws(":", "entity_id", "update_id").alias("k"),
        "state",
        F.unix_micros("ts").alias("us"),
    )


@index("updates_mid_us")
def _updates_mid_us(t: dict[str, DataFrame]) -> int:
    """The cursor-cut instant: the midpoint of the updates' event times.
    A 1-row scalar and a pure function of the updates fixture — the same
    ship-the-parameter stance as lateness_report's max-arrival scalar;
    folding it to a literal also removes the broadcast cross join from
    the plan."""
    return _cursor_updates(t).agg(
        ((F.min("us") + F.max("us")) / F.lit(2)).cast("bigint").alias("mid")
    ).collect()[0][0]


def sensor_cursor_roundtrip(t: dict[str, DataFrame]) -> DataFrame:
    """F7: the sensor cursor as data — JSON map serialize/parse round-trip.

    The reference sensor persists its progress as a JSON map
    ``"pid:uid" -> state`` (``sensors/dlt_sensor.py:12`` ``json.loads``,
    ``:46`` ``json.dumps``). This operator rebuilds that exact cycle in
    the engine: aggregate the pre-midpoint half of the updates stream
    into one cursor row with ``to_json(map_from_entries(sort_array(...)))``,
    parse it back with ``from_json(..., map<string,string>)`` + explode,
    and diff the parsed map against the full-stream state to emit the
    keys that completed after the cursor was cut.

    Cursor value = MIN(state) per key: 'COMPLETED' sorts first in the
    state vocabulary, so MIN is 'COMPLETED' iff a completed poll was seen
    — a deterministic, engine-agnostic "has completed" marker. The oracle
    computes the same diff relationally (no JSON), so the hashes match
    exactly when — and only when — the round-trip is lossless.

    Scale: the cursor is O(active updates) (the reference's own bound);
    the one-row collect_list mirrors the sensor's single cursor document.
    The two groupBys shuffle 16-byte keys, never the event payload.
    """
    u = _cursor_updates(t)
    mid = _updates_mid_us(t)
    pre = (
        u.filter(F.col("us") <= F.lit(mid))
        .groupBy("k")
        .agg(F.min("state").alias("v"))
    )
    cursor_json = pre.agg(
        F.to_json(
            F.map_from_entries(F.sort_array(F.collect_list(F.struct("k", "v"))))
        ).alias("cursor")
    )
    parsed = cursor_json.select(
        F.explode(F.from_json(F.col("cursor"), "map<string,string>")).alias("pk", "pv")
    )
    all_kv = u.groupBy("k").agg(
        F.min("state").alias("state_now"),
        F.min(F.when(F.col("state") == "COMPLETED", F.col("us"))).alias(
            "completed_us"
        ),
    )
    return (
        all_kv.filter(F.col("state_now") == "COMPLETED")
        .join(parsed, on=F.col("k") == F.col("pk"), how="left")
        .filter(F.col("pv").isNull() | (F.col("pv") != "COMPLETED"))
        .select(
            F.col("k").alias("entity_key"),
            F.col("pv").alias("prior_state"),
            "completed_us",
        )
    )


SENSOR_CURSOR_ROUNDTRIP_SQL = oracle_with_clause("updates") + """
, u AS (
  SELECT entity_id || ':' || update_id AS k, state, epoch_us(ts) AS us FROM updates
),
m AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM u),
pre AS (
  SELECT k, MIN(state) AS v FROM u, m WHERE us <= mid GROUP BY k
),
allkv AS (
  SELECT k, MIN(state) AS state_now,
         MIN(CASE WHEN state = 'COMPLETED' THEN us END) AS completed_us
  FROM u GROUP BY k
)
SELECT a.k AS entity_key, p.v AS prior_state, a.completed_us
FROM allkv a LEFT JOIN pre p ON a.k = p.k
WHERE a.state_now = 'COMPLETED' AND (p.v IS NULL OR p.v <> 'COMPLETED')
"""


def scd2_history(t: dict[str, DataFrame]) -> DataFrame:
    """SCD2 (slowly-changing-dimension type 2) state history per entity —
    the MERGE-style history table a lakehouse keeps for each pipeline/job:
    consecutive polls in the same state collapse into one validity
    interval [valid_from, valid_to) with a version number and an
    is_current flag (valid_to NULL on the open interval).

    Classic gaps-and-islands, one shuffle on the entity key: a lag window
    marks state changes, a running sum numbers the islands, and a
    group-by per island takes the interval bounds; valid_to is the next
    island's start via lead. Mirrors the state timeline the reference
    only ever samples point-wise (pipeline_discovery.py:30-41) — here it
    is the full audited history.
    """
    w = Window.partitionBy("entity_type", "entity_id").orderBy("ts", "event_id")
    changed = (
        F.when(F.lag("state").over(w).isNull(), 1)
        .when(F.lag("state").over(w) != F.col("state"), 1)
        .otherwise(0)
    )
    islands = t["updates"].withColumn(
        "version", F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    iv = islands.groupBy("entity_type", "entity_id", "version").agg(
        # all rows in an island share one state; MIN mirrors the oracle
        F.min("state").alias("state"),
        F.min("ts").alias("from_raw"),
        F.count(F.lit(1)).alias("n_polls"),
    )
    w2 = Window.partitionBy("entity_type", "entity_id").orderBy("version")
    return iv.select(
        "entity_type",
        "entity_id",
        F.col("version").cast("int").alias("version"),
        "state",
        F.date_format("from_raw", TS_FMT).alias("valid_from"),
        F.date_format(F.lead("from_raw").over(w2), TS_FMT).alias("valid_to"),
        F.lead("from_raw").over(w2).isNull().alias("is_current"),
        "n_polls",
    )


SCD2_HISTORY_SQL = oracle_with_clause("updates") + f"""
, marked AS (
  SELECT entity_type, entity_id, state, ts, event_id,
         CASE WHEN LAG(state) OVER w IS NULL THEN 1
              WHEN LAG(state) OVER w <> state THEN 1 ELSE 0 END AS chg
  FROM updates
  WINDOW w AS (PARTITION BY entity_type, entity_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, SUM(chg) OVER (PARTITION BY entity_type, entity_id
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS version
  FROM marked
), iv AS (
  SELECT entity_type, entity_id, version,
         MIN(state) AS state, MIN(ts) AS from_raw, COUNT(*) AS n_polls
  FROM numbered GROUP BY 1, 2, 3
)
SELECT entity_type, entity_id, CAST(version AS INT) AS version, state,
       strftime(from_raw, '{TS_FMT_DUCK}') AS valid_from,
       strftime(LEAD(from_raw) OVER w2, '{TS_FMT_DUCK}') AS valid_to,
       LEAD(from_raw) OVER w2 IS NULL AS is_current,
       n_polls
FROM iv
WINDOW w2 AS (PARTITION BY entity_type, entity_id ORDER BY version)
"""
