"""Event-stream batch operators — JSON props, tumbling and session windows.

The reference has no windowed aggregation (its cadence machinery is polling
loops + cron); SURVEY.md §2.7 maps that machinery to Spark's idiomatic
time-window operators, exercised here in batch over ``events`` (the window
functions are identical in Structured Streaming — see
``databricks_observe_spark/streaming`` for the streaming forms).

Scale stance: ``events`` is the table that would be 100 TB. Every operator
is a single scan + single shuffle on (window/user) keys; JSON extraction
uses the JVM ``get_json_object`` (no Python), and aggregates are
decimal-exact so results are reproducible under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from databricks_observe_spark.functions.rounding import (
    ln_micro,
    nano_grid,
    round_half_up,
    sql_ln_micro,
    sql_nano_grid,
    sql_round_half_up,
)
from databricks_observe_spark.memo import index
from databricks_observe_spark.sources.tables import TS_FMT, TS_FMT_DUCK


def event_type_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Per-type rollup incl. a value extracted from the JSON props column
    (F8: get_json_object — schema-on-read, no UDF)."""
    ev = t["events"].withColumn(
        "k", F.get_json_object("props", "$.k").cast("bigint")
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))
        ).alias("avg_value"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


EVENT_TYPE_STATS_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


def tumbling_hourly(t: dict[str, DataFrame]) -> DataFrame:
    """Tumbling 1-hour windows per event type (ST3's cadence, made
    declarative). ``window()`` is identical under readStream + watermark."""
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


TUMBLING_HOURLY_SQL = f"""
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{TS_FMT_DUCK}') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def sliding_daily(t: dict[str, DataFrame]) -> DataFrame:
    """Sliding windows: 1-day windows advancing every 6 hours — each event
    lands in 4 windows. The window/slide expansion happens JVM-side."""
    return (
        t["events"]
        .groupBy(F.window("ts", "1 day", "6 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "n_events",
            "n_users",
        )
    )


# DuckDB oracle: expand each event into the 4 sliding windows that contain
# it (offset cross join), then aggregate — same semantics, independent plan.
SLIDING_DAILY_SQL = f"""
SELECT strftime(ws, '{TS_FMT_DUCK}') AS window_start,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM (
  SELECT e.user_id,
         time_bucket(INTERVAL 6 HOUR, e.ts) - (o.h * INTERVAL 6 HOUR) AS ws
  FROM events e CROSS JOIN (VALUES (0), (1), (2), (3)) AS o(h)
)
GROUP BY 1
"""


def user_sessions(t: dict[str, DataFrame]) -> DataFrame:
    """Session windows per user with a 2-hour inactivity gap
    (``session_window`` — the batch twin of the streaming state operator)."""
    return (
        t["events"]
        .groupBy(F.session_window("ts", "2 hours").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), TS_FMT).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


# gaps-and-islands oracle: new session when the gap to the previous event
# of the same user is >= 2h (matches session_window's merge rule: an event
# extends the session only while it lands strictly inside prev_ts + gap).
USER_SESSIONS_SQL = f"""
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
)
SELECT user_id,
       strftime(MIN(ts), '{TS_FMT_DUCK}') AS session_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sessions
GROUP BY user_id, session_id
"""


_DOW = ["Sun", "Mon", "Tue", "Wed", "Thu", "Fri", "Sat"]  # dayofweek: 1=Sun


def events_cube(t: dict[str, DataFrame]) -> DataFrame:
    """CUBE(event_type, day-of-week) counts — full grouping-sets lattice
    (§2.4 extension beyond the reference's flat GROUP BYs).

    Day name derived from ``dayofweek`` through an explicit mapping:
    ``date_format(ts, 'E')`` depends on the JVM default locale and would
    diverge from the oracle's locale-independent strftime on non-English
    deployments.
    """
    return (
        t["events"]
        .withColumn(
            "dow", F.element_at(F.array(*[F.lit(d) for d in _DOW]), F.dayofweek("ts"))
        )
        .cube("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


EVENTS_CUBE_SQL = """
SELECT event_type, strftime(ts, '%a') AS dow, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY CUBE (event_type, strftime(ts, '%a'))
"""


def user_value_zscores(t: dict[str, DataFrame]) -> DataFrame:
    """Per-user standardized event values via analytic window aggregates.

    Moments come from exact decimal sums (sum, sum-of-squares) so the
    variance is computed from order-independent quantities — `stddev_samp`
    over doubles would drift with aggregation order. Flags |z| > 3
    outliers, the classic observability signal over a metric stream.

    Degenerate-moment guard, exercised by
    ``test_zscore_constant_user_agrees_across_engines``:

    - The variance NUMERATOR is clamped at zero: ``s2 - s1*s1/n`` comes
      from two independently rounded decimal->double casts, so a
      constant-value user can yield a tiny negative double (e.g. -1e-19
      for five events of 0.01) — unclamped, Spark emits ``sqrt(neg) =
      NaN`` (flagging every event a spurious outlier) while DuckDB
      *raises* on a negative sqrt, crashing the oracle.
    - The variance and zscore divisions use ``try_divide``: under
      Spark's default ANSI mode a zero divisor (constant-value user ->
      sqrt(0); single-event user -> n-1 = 0) RAISES, where DuckDB's
      float division returns NULL. ``try_divide`` restores the NULL,
      so both engines agree: degenerate user -> NULL zscore/is_outlier.
    """
    w = Window.partitionBy("user_id")
    vdec = F.col("value").cast("decimal(18,2)")
    s1 = F.sum(vdec).over(w).cast("double")
    s2 = F.sum((vdec * vdec).cast("decimal(38,4)")).over(w).cast("double")
    n = F.count(F.lit(1)).over(w)
    mean = s1 / n
    var = F.try_divide(F.greatest(s2 - s1 * s1 / n, F.lit(0.0)), n - 1)
    z = F.try_divide(F.col("value") - mean, F.sqrt(var))
    return (
        t["events"]
        .select(
            "event_id",
            "user_id",
            "value",
            round_half_up(mean, 6).alias("user_mean"),
            round_half_up(z, 6).alias("zscore"),
            (F.abs(z) > 3).cast("int").alias("is_outlier"),
        )
    )


USER_VALUE_ZSCORES_SQL = f"""
SELECT event_id, user_id, value,
       {sql_round_half_up('s1 / n', 6)} AS user_mean,
       {sql_round_half_up('(value - s1 / n) / sqrt(greatest(s2 - s1 * s1 / n, 0) / (n - 1))', 6)} AS zscore,
       CAST(abs((value - s1 / n) / sqrt(greatest(s2 - s1 * s1 / n, 0) / (n - 1))) > 3 AS INT) AS is_outlier
FROM (
  SELECT event_id, user_id, value,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) OVER w AS DOUBLE) AS s2,
         COUNT(*) OVER w AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id)
)
"""


def high_value_events(t: dict[str, DataFrame]) -> DataFrame:
    """Filter + JSON projection: events whose props.k exceeds 90 —
    P1-shaped predicate over schema-on-read JSON."""
    ev = t["events"].withColumn(
        "k", F.get_json_object("props", "$.k").cast("bigint")
    )
    return (
        ev.filter(F.col("k") > 90)
        .select("event_id", "user_id", "event_type", "k", "value")
    )


HIGH_VALUE_EVENTS_SQL = """
SELECT event_id, user_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       value
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
"""


DEDUP_WINDOW_S = 300  # repeated (user, type) events within 5 min are dupes


def event_dedup_windowed(t: dict[str, DataFrame]) -> DataFrame:
    """Telemetry log dedup: drop an event when the same (user_id,
    event_type) fired within the previous {DEDUP_WINDOW_S} s — the
    client-retry / double-fire suppression every event pipeline runs at
    ingest.

    Contract (gap-to-previous-RAW semantics): an event is kept iff it
    starts its (user, type) partition or the gap to the immediately
    previous RAW event is >= the window. A chain of events each arriving
    within the window of its predecessor therefore collapses to its first
    event for as long as the chain continues, even past {DEDUP_WINDOW_S} s
    total — the retry-burst reading where every duplicate RESETS the
    suppression timer (anchored-to-kept dedup, where a long burst re-emits
    every window, is the other contract; this operator deliberately
    implements the reset form, and the oracle mirrors it). One lag window
    per partition — partition-parallel, no global sort.
    """
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    return (
        t["events"]
        .withColumn("gap_us", gap)
        .filter(
            F.col("gap_us").isNull()
            | (F.col("gap_us") >= DEDUP_WINDOW_S * 1_000_000)
        )
        .select("event_id", "user_id", "event_type", "ts", "value")
        .withColumn("ts", F.date_format("ts", TS_FMT))
    )


EVENT_DEDUP_WINDOWED_SQL = f"""
SELECT event_id, user_id, event_type,
       strftime(ts, '{TS_FMT_DUCK}') AS ts, value
FROM (
  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
)
WHERE gap_us IS NULL OR gap_us >= {DEDUP_WINDOW_S * 1_000_000}
"""


def value_deciles(t: dict[str, DataFrame]) -> DataFrame:
    """Per-type decile binning of the value column (ntile) — the feature-
    binning pass a feature store runs to turn a raw numeric into a
    calibrated categorical (and the shape behind equal-frequency
    histograms). One shuffle on event_type; the ntile ranks inside the
    sorted partition with event_id as the total-order tiebreak so bin
    membership is reproducible under any partitioning. Values aggregate
    as exact micro-unit integers (doubles summed in arbitrary order would
    not be engine-stable). Null placement is EXPLICIT on both sides
    (NULLS LAST): Spark's ASC default is nulls-first, DuckDB's is
    nulls-last, so an implicit ordering would silently shift decile
    membership the day a NULL value enters the table.
    """
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_last(), "event_id"
    )
    micro = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    return (
        t["events"]
        .withColumn("decile", F.ntile(10).over(w))
        .withColumn("v_micro", micro)
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("v_micro").alias("lo_micro"),
            F.max("v_micro").alias("hi_micro"),
            F.sum("v_micro").alias("sum_micro"),
        )
    )


VALUE_DECILES_SQL = """
SELECT event_type, CAST(decile AS INT) AS decile, COUNT(*) AS n_events,
       MIN(v_micro) AS lo_micro, MAX(v_micro) AS hi_micro,
       CAST(SUM(v_micro) AS BIGINT) AS sum_micro
FROM (
  SELECT event_type,
         NTILE(10) OVER (PARTITION BY event_type
                         ORDER BY value ASC NULLS LAST, event_id) AS decile,
         CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
  FROM events
)
GROUP BY 1, 2
"""


def funnel_conversion(t: dict[str, DataFrame]) -> DataFrame:
    """Ordered funnel conversion (signup -> click -> purchase): per user,
    each stage counts only if it happens strictly AFTER the previous
    stage completed — the product-analytics query every event pipeline
    answers, and a sequencing pattern plain per-type counts get wrong.

    ONE shuffle on user_id: running windows over the (ts, event_id)
    order carry the earliest qualifying prior-stage timestamp (strictly
    preceding rows, so simultaneous events never self-qualify), then a
    per-user aggregate and a tiny rollup. Counts monotonically decrease
    down the funnel by construction.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev = t["events"].select("user_id", "ts", "event_id", "event_type")
    run_s = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    ev = ev.withColumn("prior_signup", run_s)
    # strictly-after check needs BOTH the rows-frame (excludes the current
    # row) and the ts comparison (excludes same-timestamp earlier rows)
    click_ok = (
        (F.col("event_type") == "click")
        & F.col("prior_signup").isNotNull()
        & (F.col("prior_signup") < F.col("ts"))
    )
    qual_click = F.when(click_ok, F.col("ts"))
    ev = ev.withColumn("prior_click", F.min(qual_click).over(w))
    purchase_ok = (
        (F.col("event_type") == "purchase")
        & F.col("prior_click").isNotNull()
        & (F.col("prior_click") < F.col("ts"))
    )
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "signup").cast("int")).alias("did_signup"),
        F.max(click_ok.cast("int")).alias("did_click"),
        F.max(purchase_ok.cast("int")).alias("did_purchase"),
    )
    return per_user.agg(
        F.sum("did_signup").alias("n_signup"),
        F.sum("did_click").alias("n_click_after_signup"),
        F.sum("did_purchase").alias("n_purchase_after_click"),
        F.count(F.lit(1)).alias("n_users"),
    )


FUNNEL_CONVERSION_SQL = """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type,
         MIN(CASE WHEN event_type = 'signup' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_signup
  FROM events
), ev2 AS (
  SELECT *,
         MIN(CASE WHEN event_type = 'click' AND prior_signup < ts THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_click
  FROM ev
), per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS did_signup,
         MAX(CASE WHEN event_type = 'click' AND prior_signup < ts
                  THEN 1 ELSE 0 END) AS did_click,
         MAX(CASE WHEN event_type = 'purchase' AND prior_click < ts
                  THEN 1 ELSE 0 END) AS did_purchase
  FROM ev2 GROUP BY user_id
)
SELECT CAST(SUM(did_signup) AS BIGINT) AS n_signup,
       CAST(SUM(did_click) AS BIGINT) AS n_click_after_signup,
       CAST(SUM(did_purchase) AS BIGINT) AS n_purchase_after_click,
       COUNT(*) AS n_users
FROM per_user
"""


def retention_cohorts(t: dict[str, DataFrame]) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by the week of their
    FIRST event; for each later week offset, how many of that cohort were
    active — the standard growth-analytics triangle.

    Two shuffles at scale: the first-event aggregate shuffles on user_id
    and joins back co-partitioned (same key, no re-exchange), then the
    (cohort, offset) rollup shuffles its compact distinct-pairs output.
    Offsets count in exact 7-day steps from the cohort date (identical
    integer arithmetic in both engines — no week-boundary functions).
    """
    ev = t["events"].select("user_id", F.to_date("ts").alias("d"))
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    return (
        ev.join(first, on="user_id")
        .select(
            "user_id",
            "cohort_d",
            F.floor(F.datediff(F.col("d"), F.col("cohort_d")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_d", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .select(
            F.date_format("cohort_d", "yyyy-MM-dd").alias("cohort_date"),
            "week_offset",
            "n_active",
        )
    )


RETENTION_COHORTS_SQL = """
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
first AS (SELECT user_id, MIN(d) AS cohort_d FROM ev GROUP BY user_id)
SELECT strftime(f.cohort_d, '%Y-%m-%d') AS cohort_date,
       CAST(FLOOR(date_diff('day', f.cohort_d, e.d) / 7.0) AS INT) AS week_offset,
       COUNT(DISTINCT e.user_id) AS n_active
FROM ev e JOIN first f ON e.user_id = f.user_id
GROUP BY 1, 2
"""


# Simulated ingest sequence: the driver fixtures generate events already
# sorted by ts, so the stream's REAL disorder is zero; the report instead
# measures a deterministic simulated arrival order (a local shuffle of up
# to 160 positions: arrival = event_id + 40 * (event_id % 5)) — in
# production, substitute the true ingest offset (Kafka offset / file
# commit sequence). A FIXED number of blocks partitions the prefix scan
# (block size adapts to the data, so the block-maxima frame stays
# constant-sized at any event count — never O(n) through one partition).
LATENESS_NBLOCKS = 1024
_LATENESS_EDGES_S = (0, 60, 3600, 86400)  # on-time, <1m, <1h, <1d, >=1d


def _arrival(col):
    return col + F.lit(40) * (col % 5)


def _arrivals(t: dict[str, DataFrame]) -> DataFrame:
    """Events with their synthetic arrival order (:func:`_arrival`)."""
    return t["events"].select(
        "event_id",
        "event_type",
        "ts",
        _arrival(F.col("event_id")).alias("arrival"),
    )


@index("events_max_arrival")
def _max_arrival(t: dict[str, DataFrame]) -> int:
    """The largest arrival id, which sizes lateness_report's blocks: a
    1-row scalar and a pure function of the events fixture — the same
    ship-the-parameter stance as the ANN query set, one column-pruned
    scan per context instead of per call. An empty stream gives 0: its
    report is empty, and any blocking works."""
    val = _arrivals(t).agg(F.max("arrival")).collect()[0][0]
    return 0 if val is None else val


def lateness_report(t: dict[str, DataFrame]) -> DataFrame:
    """Event-time lateness histogram — the measurement that SIZES a
    watermark: for each event, how far its event time lags the maximum
    event time already seen in arrival order. A stream with p99 lateness
    under 60 s can run ``withWatermark("ts", "1 minute")`` without
    dropping data; this report is how you know.

    Scale shape — distributed prefix scan, NO data-sized single-partition
    window: arrival ids bucket into a FIXED count of blocks (size adapts
    via the max arrival — one column-pruned scalar agg); a
    block-partitioned window computes the within-block running max; the
    per-block maxima (a constant-sized <=``LATENESS_NBLOCKS``-row frame
    at ANY event count) take their exclusive prefix max through a second
    tiny window and broadcast back, so the true running max is
    ``greatest(block_prefix, within_block_running)``. No driver fold
    anywhere — the only collect is the 1-row max-arrival scalar. DuckDB
    replays it as one global window — same semantics, independent plan.
    """
    max_arrival = _max_arrival(t)
    ev = _arrivals(t).withColumn(
        # exact integer arithmetic (no double rounding at scale); DIV is
        # Spark's integral division
        "blk",
        F.expr(
            f"(arrival * {LATENESS_NBLOCKS}) DIV {int(max_arrival) + 1}"
        ),
    )
    w = (
        Window.partitionBy("blk")
        .orderBy("arrival", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev = ev.withColumn("run_in_blk", F.max("ts").over(w))
    # exclusive prefix max over the block maxima: a single-partition
    # window, but over a frame bounded by the constant LATENESS_NBLOCKS
    wp = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    pref_df = (
        ev.groupBy("blk")
        .agg(F.max("ts").alias("bmax"))
        .select("blk", F.max("bmax").over(wp).alias("prefix_ts"))
    )
    lag_s = F.floor(
        F.col("seen_max").cast("double") - F.col("ts").cast("double")
    )
    e0, e1, e2, e3 = _LATENESS_EDGES_S
    bucket = (
        F.when(F.col("seen_max").isNull() | (lag_s <= e0), "on_time")
        .when(lag_s < e1, "lt_1m")
        .when(lag_s < e2, "lt_1h")
        .when(lag_s < e3, "lt_1d")
        .otherwise("ge_1d")
    )
    return (
        ev.join(F.broadcast(pref_df), on="blk")
        .withColumn(
            # greatest() skips nulls (returns the non-null side; null only
            # when both are), which is exactly the prefix-merge semantics
            "seen_max",
            F.greatest(F.col("run_in_blk"), F.col("prefix_ts")),
        )
        .groupBy("event_type", bucket.alias("lateness_bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


LATENESS_REPORT_SQL = f"""
WITH arr AS (
  SELECT event_id, event_type, ts,
         event_id + 40 * (event_id % 5) AS arrival
  FROM events
), scanned AS (
  SELECT event_type, ts,
         MAX(ts) OVER (ORDER BY arrival, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen_max
  FROM arr
), lagged AS (
  SELECT event_type,
         CASE WHEN seen_max IS NULL
                   OR FLOOR(epoch(seen_max) - epoch(ts)) <= {_LATENESS_EDGES_S[0]}
              THEN 'on_time'
              WHEN FLOOR(epoch(seen_max) - epoch(ts)) < {_LATENESS_EDGES_S[1]} THEN 'lt_1m'
              WHEN FLOOR(epoch(seen_max) - epoch(ts)) < {_LATENESS_EDGES_S[2]} THEN 'lt_1h'
              WHEN FLOOR(epoch(seen_max) - epoch(ts)) < {_LATENESS_EDGES_S[3]} THEN 'lt_1d'
              ELSE 'ge_1d' END AS lateness_bucket
  FROM scanned
)
SELECT event_type, lateness_bucket, COUNT(*) AS n_events
FROM lagged GROUP BY 1, 2
"""


_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


def event_type_pivot(t: dict[str, DataFrame]) -> DataFrame:
    """PIVOT: the per-user activity matrix (one column per event type) —
    the wide feature frame a personalization model trains on, and the
    relational PIVOT operator class in one. The type list is declared
    (``_PIVOT_TYPES``), not inferred, so the schema is stable and no
    discovery pass runs.

    Expressed as conditional aggregation rather than ``df.pivot()``:
    with a known value list both are the same operator, but Spark's
    pivot plans TWO exchanges (a (user, type) pre-aggregate feeding a
    pivotfirst aggregate — checked), while the conditional form is one
    hash aggregate with map-side partials — a single shuffle of the
    events stream, which is the plan you want at 100 TB.
    """
    aggs = [
        F.sum(F.when(F.col("event_type") == et, 1).otherwise(0)).alias(et)
        for et in _PIVOT_TYPES
    ]
    return t["events"].groupBy("user_id").agg(*aggs)


EVENT_TYPE_PIVOT_SQL = f"""
SELECT user_id,
       {", ".join(
           f"CAST(COALESCE(SUM(CASE WHEN event_type = '{et}' THEN 1 END), 0) AS BIGINT) AS {et}"
           for et in _PIVOT_TYPES
       )}
FROM events GROUP BY user_id
"""


def range_join_incidents(t: dict[str, DataFrame]) -> DataFrame:
    """Range (interval-containment) join, done without a nested-loop plan:
    every event is attributed to each 2-hour "incident window" it falls
    inside, where a window opens at the start of any hour containing a
    severe error (``event_type = 'error' AND value > 95``).

    Spark has no native range-join operator — a raw
    ``probe.join(windows, BETWEEN-predicate)`` plans a
    BroadcastNestedLoopJoin, O(|probe| x |windows|) comparisons. This
    rebuilds it as the standard interval-bucketing decomposition: because
    every window is exactly 2 aligned hours, ``ts IN [w_start, w_start+2h)``
    iff ``date_trunc('hour', ts) IN {w_start, w_start+1h}`` — so the window
    side explodes into its (at most 2) covering hour buckets and the join
    becomes a plain equi hash join on the bucket. The containment
    predicate is kept as the join's non-equi residual (evaluated per
    joined row — cheap, and redundant only because the windows are
    bucket-aligned; it becomes load-bearing the moment window width
    stops being a whole number of buckets).

    100 TB stance: the interval side is bounded by calendar hours (~9k/year
    regardless of data volume) — broadcast it, so the JOIN itself is
    map-side with no shuffle of the event stream. What DOES shuffle is
    the output aggregate: per-window n_users is an exact COUNT DISTINCT,
    planned as the standard two-phase distinct aggregate whose first hop
    is keyed on (window, user) — distinct window-x-user cardinality, the
    honest price of an exact distinct (swap in approx_count_distinct to
    make that hop partial-aggregated HLL sketches when windows are hot);
    the window-side DISTINCT adds one hours-sized exchange. For an
    interval side too large to broadcast, the same decomposition degrades
    gracefully to a shuffled hash join on the bucket key — never a nested
    loop. Arbitrary-length intervals use the identical shape with
    ``sequence(start, end)`` generating the covering buckets.

    Reference anchor: SURVEY.md §2.7 (the reference's cadence/monitoring
    machinery rebuilt as declarative time-window operators); the
    incident-window attribution mirrors the reference's poll-loop
    "what ran while this was failing" triage question.
    """
    ev = t["events"]
    windows = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 95))
        .select(F.date_trunc("hour", "ts").alias("w_start"))
        .distinct()
    )
    buckets = windows.select(
        "w_start",
        F.explode(
            F.array(F.col("w_start"), F.col("w_start") + F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    probe = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), "ts", "user_id", "value"
    )
    hits = probe.join(F.broadcast(buckets), "bucket").where(
        (F.col("ts") >= F.col("w_start"))
        & (F.col("ts") < F.col("w_start") + F.expr("INTERVAL 2 HOURS"))
    )
    return (
        hits.groupBy("w_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w_start", TS_FMT).alias("window_start"),
            "n_events",
            "n_users",
            "sum_value",
        )
    )


RANGE_JOIN_INCIDENTS_SQL = f"""
WITH w AS (
  SELECT DISTINCT date_trunc('hour', ts) AS w_start
  FROM events
  WHERE event_type = 'error' AND value > 95
)
SELECT strftime(w.w_start, '{TS_FMT_DUCK}') AS window_start,
       COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM w JOIN events e
  ON e.ts >= w.w_start AND e.ts < w.w_start + INTERVAL 2 HOUR
GROUP BY w.w_start
"""


def time_rollup_multigrain(t: dict[str, DataFrame]) -> DataFrame:
    """Hypertable-style continuous aggregate: hour -> day -> grand-total
    grains computed in ONE pass via ROLLUP, not one job per grain.

    The timeseries-database pattern (continuous aggregates / hypertable
    rollups) maintains the same measure at several time granularities.
    Running N separate GROUP BYs scans the events stream N times; ROLLUP
    plans a single scan with an Expand (one input row fans into its three
    grain rows map-side) feeding ONE hash aggregate with partial combine —
    the scan and the shuffle are shared across every grain. ``grain`` is
    the grouping_id bitmask (0 = hour, 1 = day, 3 = grand total), the
    standard disambiguator for NULL-vs-rolled-up grouping columns.

    100 TB stance: input-proportional work is the single events scan; the
    Expand triples map-side rows BEFORE partial aggregation collapses them
    to (day x hour) cardinality, so the shuffle stays output-sized. The
    distinct-user count shares the same Expand pass (Spark plans the
    two-phase distinct aggregate inside it).

    Reference anchor: SURVEY.md §2.4/§2.7 — the reference reads per-grain
    metrics from precomputed service tables; the rebuild computes every
    grain declaratively from the raw stream.
    """
    ev = t["events"].select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.date_format(F.date_trunc("hour", "ts"), TS_FMT).alias("hour"),
        "user_id",
        "value",
    )
    return ev.rollup("day", "hour").agg(
        F.grouping_id().alias("grain"),
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


TIME_ROLLUP_MULTIGRAIN_SQL = f"""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS hour,
       CAST(GROUPING(strftime(date_trunc('day', ts), '%Y-%m-%d'),
                     strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}')) AS BIGINT)
         AS grain,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY ROLLUP (day, hour)
"""


# --- value-distribution drift (PSI) -----------------------------------------

DRIFT_SPLIT_TS = "2024-01-16 00:00:00"  # fixture midpoint (TESTDATA.md: all
# SFs span 2024-01); in production this is the snapshot boundary parameter
DRIFT_BIN_WIDTH = 50.0
DRIFT_N_BINS = 10


def drift_psi(t: dict[str, DataFrame]) -> DataFrame:
    """Population Stability Index of the per-type ``value`` distribution
    between a reference window (first half-month) and the current window —
    the data-drift monitor an observability pipeline alarms on
    (PSI < 0.1 stable, 0.1-0.25 shifting, > 0.25 drifted). The reference
    reads drift metrics off its monitoring service; the rebuild computes
    them from the raw stream (SURVEY.md §2.4 extension surface).

    ``PSI = sum_b (p_b - q_b) * ln(p_b / q_b)`` over DRIFT_N_BINS fixed
    value bins with Laplace +1 smoothing; the bin grid is generated
    per type so empty bins contribute their smoothed term instead of
    silently vanishing.

    Scale shape: the events scan collapses in ONE map-side-combinable
    :func:`ref_cur_counts` histogram — the only corpus-sized exchange;
    everything after is type-cardinality frames.

    Cross-engine determinism: p and q are nano-grid shares (exact BIGINT
    difference), ``ln`` is an ln-site (``functions/rounding.py``) taken
    of the integer nano share itself, and every PSI term is the exact
    integer product ``diff_nano * lr_micro`` (1e-15 units). Both floors
    are monotone so the term sign always matches the diff sign and the
    sum is nonnegative; ``psi_micro`` is one exact integer division.
    """
    # materialize the (types x bins)-sized aggregate ONCE: without the
    # checkpoint each consumer of the PSI tail re-plans the events scan
    counts = ref_cur_counts(t["events"], DRIFT_BIN_WIDTH, DRIFT_N_BINS)
    return psi_from_counts(counts.localCheckpoint())


def ref_cur_counts(events: DataFrame, width: float, n_bins: int) -> DataFrame:
    """The ``(event_type, bin, ref_n, cur_n)`` value histogram of the
    reference (before DRIFT_SPLIT_TS) and current windows, over
    ``n_bins`` bins of ``width`` — the one drift histogram behind
    :func:`drift_psi`, :func:`ks_drift` and the streaming drift monitor
    (``events`` may be a stream). NULL values are excluded EXPLICITLY and
    out-of-range values clamp into the edge bins (standard PSI practice)
    — without the guard a NULL/negative value lands in a phantom bin that
    inflates the window totals while contributing no term.
    """
    split = F.lit(DRIFT_SPLIT_TS).cast("timestamp_ntz")
    ev = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.least(
            F.greatest(F.floor(F.col("value") / F.lit(width)), F.lit(0)),
            F.lit(n_bins - 1),
        ).alias("bin"),
        (F.col("ts") < split).cast("int").alias("is_ref"),
    )
    return ev.groupBy("event_type", "bin").agg(
        F.sum("is_ref").alias("ref_n"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("cur_n"),
    )


def psi_from_counts(counts: DataFrame) -> DataFrame:
    """The PSI tail over a MATERIALIZED ``(event_type, bin, ref_n,
    cur_n)`` frame — shared by the batch operator (whose frame is one
    checkpointed corpus aggregate) and the streaming monitor
    (``streaming/state.py:streaming_drift_psi_query``, whose frame IS
    the complete-mode aggregation state). Everything here is
    type-cardinality work on exact integer nano/femto units.
    """
    # ONE per-type aggregate carries the totals AND the observed bins as
    # a bounded map (<= DRIFT_N_BINS entries), and the fixed grid then
    # explodes from a literal sequence with map lookups — no totals
    # branch, no cross join, no fill join back onto counts: one exchange
    # on event_type.
    per_type = counts.groupBy("event_type").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("bin").cast("long").alias("k"),
                    F.struct("ref_n", "cur_n").alias("v"),
                )
            )
        ).alias("m"),
        F.sum("ref_n").alias("ref_total"),
        F.sum("cur_n").alias("cur_total"),
    )
    filled = per_type.select(
        "event_type",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(DRIFT_N_BINS - 1).cast("long"))
        ).alias("bin"),
        "ref_total",
        "cur_total",
        "m",
    ).select(
        "event_type",
        "bin",
        "ref_total",
        "cur_total",
        F.coalesce(F.col("m")[F.col("bin")]["ref_n"], F.lit(0)).alias("ref_n"),
        F.coalesce(F.col("m")[F.col("bin")]["cur_n"], F.lit(0)).alias("cur_n"),
    )

    def _nano(cnt: str, total: str) -> F.Column:
        return nano_grid(
            (F.col(cnt) + F.lit(1)).cast("double")
            / (F.col(total) + F.lit(DRIFT_N_BINS)).cast("double")
        )

    p_nano = _nano("ref_n", "ref_total")
    q_nano = _nano("cur_n", "cur_total")
    lr_micro = ln_micro(p_nano) - ln_micro(q_nano)
    terms = filled.select(
        "event_type",
        "ref_n",
        "cur_n",
        ((p_nano - q_nano) * lr_micro).alias("term_femto"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.sum("ref_n").alias("n_ref"),
            F.sum("cur_n").alias("n_cur"),
            F.sum("term_femto").alias("psi_femto"),
        )
        .withColumn(
            "psi_micro",
            F.expr("(psi_femto + 500000000) div 1000000000"),
        )
    )


def _drift_nano_sql(cnt: str, total: str) -> str:
    # CAST(... AS BIGINT): DuckDB's FLOOR/GREATEST return DOUBLE, and the
    # terms CTE multiplies this nano-share by the micro-ln factor — for a
    # fully-drifted type diff_nano*lr_micro can reach ~2.1e16 > 2^53, where
    # a DOUBLE product rounds while Spark's int64 product stays exact.
    # Casting each factor keeps the oracle's arithmetic in exact BIGINT,
    # matching Spark's integer pipeline at any drift magnitude.
    share = f"({cnt} + 1) / CAST({total} + {DRIFT_N_BINS} AS DOUBLE)"
    return f"CAST({sql_nano_grid(share)} AS BIGINT)"


DRIFT_PSI_SQL = f"""
WITH ev AS (
  SELECT event_type,
         LEAST(GREATEST(FLOOR(value / {DRIFT_BIN_WIDTH}), 0),
               {DRIFT_N_BINS - 1}) AS bin,
         CAST(ts < TIMESTAMP '{DRIFT_SPLIT_TS}' AS INT) AS is_ref
  FROM events WHERE value IS NOT NULL
),
counts AS (
  SELECT event_type, bin,
         CAST(SUM(is_ref) AS BIGINT) AS ref_n,
         CAST(SUM(1 - is_ref) AS BIGINT) AS cur_n
  FROM ev GROUP BY 1, 2
),
totals AS (
  SELECT event_type,
         CAST(SUM(ref_n) AS BIGINT) AS ref_total,
         CAST(SUM(cur_n) AS BIGINT) AS cur_total
  FROM counts GROUP BY event_type
),
grid AS (
  SELECT t.event_type, b.bin, t.ref_total, t.cur_total
  FROM totals t CROSS JOIN (
    SELECT unnest(generate_series(0, {DRIFT_N_BINS - 1})) AS bin
  ) b
),
filled AS (
  SELECT g.event_type, g.bin, g.ref_total, g.cur_total,
         COALESCE(c.ref_n, 0) AS ref_n, COALESCE(c.cur_n, 0) AS cur_n
  FROM grid g LEFT JOIN counts c
    ON g.event_type = c.event_type AND g.bin = c.bin
),
terms AS (
  SELECT event_type, ref_n, cur_n,
         ({_drift_nano_sql('ref_n', 'ref_total')}
          - {_drift_nano_sql('cur_n', 'cur_total')})
         * (CAST({sql_ln_micro(_drift_nano_sql('ref_n', 'ref_total'))} AS BIGINT)
            - CAST({sql_ln_micro(_drift_nano_sql('cur_n', 'cur_total'))} AS BIGINT))
         AS term_femto
  FROM filled
)
SELECT event_type,
       CAST(SUM(ref_n) AS BIGINT) AS n_ref,
       CAST(SUM(cur_n) AS BIGINT) AS n_cur,
       CAST(SUM(term_femto) AS BIGINT) AS psi_femto,
       CAST((SUM(term_femto) + 500000000) // 1000000000 AS BIGINT) AS psi_micro
FROM terms GROUP BY event_type
"""


# --- value-distribution drift (two-sample Kolmogorov-Smirnov) ----------------

KS_BIN_WIDTH = 5.0  # 20x finer than the PSI bins: KS reads the ECDF shape
KS_N_BINS = 100


def ks_drift(t: dict[str, DataFrame]) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance of the per-type ``value``
    distribution between the reference and current half-month windows —
    the location/shape-shift alarm that complements :func:`drift_psi`
    (PSI sums bin reallocation and needs smoothing; KS is the max ECDF
    gap, sensitive to a median shift PSI's coarse bins can miss, and
    needs no smoothing or transcendentals at all).

    ``D = max_v |ECDF_ref(v) - ECDF_cur(v)|`` evaluated on a fixed fine
    value grid (KS_N_BINS bins — the discretized KS a monitoring system
    computes from a histogram sketch rather than a full sort; the grid is
    the published binning contract, same stance as DRIFT_BIN_WIDTH).

    Scale shape: identical to :func:`drift_psi` — the events scan
    collapses in ONE map-side-combinable :func:`ref_cur_counts` histogram
    (the only corpus-sized exchange, under the same checkpoint
    discipline); the ECDF prefix sums and the max-gap rollup run over the
    (types x KS_N_BINS) frame, which is constant-sized at any corpus
    scale, so the per-type cumulative window never sees corpus rows.

    Cross-engine determinism: no floats anywhere until the final divide —
    the gap is the exact integer cross-product form
    ``|cum_ref * n_cur - cum_cur * n_ref|`` (BIGINT-exact at any scale:
    D <= PN <= 9.2e18 needs window counts beyond 3e9 rows PER TYPE to
    overflow, and the count columns would overflow first). ``ks_micro``
    is one correctly-rounded double division of two exact integers —
    NOT the half-up integer-division form ``(2*D*1e6 + PN) div (2*PN)``,
    which silently overflows int64 once a type exceeds ~2.1e6 rows per
    window (2e6 * D > 2^63): identical on both engines because IEEE
    division of identical operands is deterministic, and a boundary flip
    would need the true ratio within ~1e-10 of a 0.5 micro boundary.
    """
    # same checkpoint discipline as drift_psi: the (types x bins)-sized
    # aggregate feeds both the ECDF window and the totals rollup — without
    # it each consumer re-plans the whole events scan
    counts = ref_cur_counts(
        t["events"], KS_BIN_WIDTH, KS_N_BINS
    ).localCheckpoint()
    # the cumulative window runs per type over the fixed bin grid — a
    # constant-sized frame; missing bins contribute zero to the prefix
    # sums, so no grid fill is needed (unlike PSI's smoothed terms)
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the per-type TOTALS ride the same type-partitioned exchange as the
    # ECDF prefix sums (an unbounded frame over the constant-sized bin
    # grid) instead of a separate aggregate branch + broadcast join, which
    # would re-compute the counts subtree and pay a broadcast-build job
    w_tot = Window.partitionBy("event_type")
    gaps = counts.select(
        "event_type",
        "ref_n",
        "cur_n",
        F.sum("ref_n").over(w).alias("cum_ref"),
        F.sum("cur_n").over(w).alias("cum_cur"),
        F.sum("ref_n").over(w_tot).alias("n_ref"),
        F.sum("cur_n").over(w_tot).alias("n_cur"),
    ).select(
        "event_type",
        "n_ref",
        "n_cur",
        F.abs(
            F.col("cum_ref") * F.col("n_cur") - F.col("cum_cur") * F.col("n_ref")
        ).alias("gap"),
    )
    return gaps.groupBy("event_type", "n_ref", "n_cur").agg(
        F.max("gap").alias("d_num")
    ).select(
        "event_type",
        "n_ref",
        "n_cur",
        "d_num",
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            F.floor(
                F.col("d_num").cast("double")
                * F.lit(1e6)
                / (
                    F.col("n_ref").cast("double")
                    * F.col("n_cur").cast("double")
                )
                + F.lit(0.5)
            ),
        ).alias("ks_micro"),
    )


KS_DRIFT_SQL = f"""
WITH ev AS (
  SELECT event_type,
         LEAST(GREATEST(FLOOR(value / {KS_BIN_WIDTH}), 0),
               {KS_N_BINS - 1}) AS bin,
         CAST(ts < TIMESTAMP '{DRIFT_SPLIT_TS}' AS INT) AS is_ref
  FROM events WHERE value IS NOT NULL
),
counts AS (
  SELECT event_type, bin,
         CAST(SUM(is_ref) AS BIGINT) AS ref_n,
         CAST(SUM(1 - is_ref) AS BIGINT) AS cur_n
  FROM ev GROUP BY 1, 2
),
cum AS (
  SELECT event_type, ref_n, cur_n,
         SUM(ref_n) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cum_ref,
         SUM(cur_n) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cum_cur
  FROM counts
),
totals AS (
  SELECT event_type,
         CAST(SUM(ref_n) AS BIGINT) AS n_ref,
         CAST(SUM(cur_n) AS BIGINT) AS n_cur
  FROM counts GROUP BY event_type
),
gaps AS (
  SELECT c.event_type, t.n_ref, t.n_cur,
         abs(c.cum_ref * t.n_cur - c.cum_cur * t.n_ref) AS gap
  FROM cum c JOIN totals t ON c.event_type = t.event_type
)
SELECT event_type, n_ref, n_cur,
       CAST(MAX(gap) AS BIGINT) AS d_num,
       CASE WHEN n_ref > 0 AND n_cur > 0 THEN
         CAST(FLOOR(CAST(MAX(gap) AS DOUBLE) * 1000000.0
                    / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))
                    + 0.5) AS BIGINT)
       END AS ks_micro
FROM gaps GROUP BY event_type, n_ref, n_cur
"""


# --- rolling-baseline rate anomaly -------------------------------------------

RATE_BASELINE_HOURS = 24  # trailing window the hourly rate is judged against
RATE_Z = 3  # alarm threshold in baseline standard deviations


def rate_anomaly(t: dict[str, DataFrame]) -> DataFrame:
    """Per-type hourly event-rate anomalies against a trailing
    24-hour baseline — the classic volume alarm (|rate - mean| > 3
    sigma over the previous day) an observability pipeline pages on;
    the rolling companion to :func:`user_value_zscores`' global moments.

    Empty hours COUNT: the hourly series is materialized on the full
    (type x hour) grid before the trailing frame runs, so a silent feed
    produces n=0 rows that both depress the baseline and can themselves
    alarm — a present-rows-only window would simply never see the
    outage. The grid is (types x hours-of-fixture)-sized: tiny, and
    generated from the checkpointed hourly aggregate's own bounds.

    Exactness at any scale: the z test is the cross-multiplied integer
    form ``(n*W - S)^2 > Z^2 * (W*SS - S^2)`` — no sqrt, no division,
    no floats — with every product in DECIMAL(38,0) (n is unbounded at
    100 TB, so n^2 and SS overflow int64; decimal keeps the comparison
    exact to 1e38 on both engines). Warm-up rows (fewer than
    RATE_BASELINE_HOURS trailing hours) and zero-variance baselines
    emit NULL, the same degenerate-moment convention as
    user_value_zscores.
    """
    counts = (
        t["events"]
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    # the GLOBAL hour bounds ride the per-type aggregate as a single-
    # partition window over the (n_types)-sized frame instead of a
    # separate scalar branch + broadcast cross join (one fewer recompute
    # of counts and one fewer broadcast-build job)
    w_all = Window.partitionBy(F.lit(1))
    grid = (
        counts.groupBy("event_type")
        .agg(F.min("h").alias("t_min"), F.max("h").alias("t_max"))
        .select(
            "event_type",
            F.min("t_min").over(w_all).alias("h_min"),
            F.max("t_max").over(w_all).alias("h_max"),
        )
        .select(
            "event_type",
            F.explode(
                F.sequence("h_min", "h_max", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    filled = grid.join(counts, on=["event_type", "h"], how="left").select(
        "event_type",
        "h",
        F.coalesce("n", F.lit(0)).cast("decimal(18,0)").alias("n"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-RATE_BASELINE_HOURS, -1)
    )
    zero = F.lit(0).cast("decimal(38,0)")
    scored = filled.select(
        "event_type",
        "h",
        "n",
        F.count(F.lit(1)).over(w).alias("base_cnt"),
        F.coalesce(F.sum("n").over(w).cast("decimal(38,0)"), zero).alias(
            "base_sum"
        ),
        F.coalesce(
            F.sum(F.col("n") * F.col("n")).over(w).cast("decimal(38,0)"),
            zero,
        ).alias("base_sumsq"),
    )
    dev = (
        F.col("n") * F.col("base_cnt") - F.col("base_sum")
    ).cast("decimal(18,0)")
    var_num = (
        F.col("base_cnt") * F.col("base_sumsq")
        - F.col("base_sum") * F.col("base_sum")
    ).cast("decimal(38,0)")
    return scored.select(
        "event_type",
        F.date_format("h", TS_FMT).alias("window_start"),
        F.col("n").cast("bigint").alias("n_events"),
        F.col("base_cnt").cast("int").alias("base_cnt"),
        F.col("base_sum").cast("bigint").alias("base_sum"),
        F.when(
            (F.col("base_cnt") == RATE_BASELINE_HOURS) & (var_num > 0),
            (dev * dev > F.lit(RATE_Z * RATE_Z) * var_num).cast("int"),
        ).alias("is_anomaly"),
    )


RATE_ANOMALY_SQL = f"""
WITH counts AS (
  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT MIN(h) AS h_min, MAX(h) AS h_max FROM counts),
grid AS (
  SELECT c.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM counts) c
  CROSS JOIN bounds
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(h_min, h_max, INTERVAL 1 HOUR)) AS h
  ) g
),
filled AS (
  SELECT g.event_type, g.h,
         CAST(COALESCE(c.n, 0) AS DECIMAL(18,0)) AS n
  FROM grid g LEFT JOIN counts c
    ON g.event_type = c.event_type AND g.h = c.h
),
scored AS (
  SELECT event_type, h, n,
         COUNT(*) OVER w AS base_cnt,
         COALESCE(CAST(SUM(n) OVER w AS DECIMAL(38,0)),
                  CAST(0 AS DECIMAL(38,0))) AS base_sum,
         COALESCE(CAST(SUM(n * n) OVER w AS DECIMAL(38,0)),
                  CAST(0 AS DECIMAL(38,0))) AS base_sumsq
  FROM filled
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN {RATE_BASELINE_HOURS} PRECEDING AND 1 PRECEDING)
)
SELECT event_type,
       strftime(h, '{TS_FMT_DUCK}') AS window_start,
       CAST(n AS BIGINT) AS n_events,
       CAST(base_cnt AS INT) AS base_cnt,
       CAST(base_sum AS BIGINT) AS base_sum,
       CASE WHEN base_cnt = {RATE_BASELINE_HOURS}
                 AND base_cnt * base_sumsq - base_sum * base_sum > 0
            THEN CAST(CAST(n * base_cnt - base_sum AS DECIMAL(18,0))
                      * CAST(n * base_cnt - base_sum AS DECIMAL(18,0))
                      > {RATE_Z * RATE_Z} * (base_cnt * base_sumsq
                                             - base_sum * base_sum) AS INT)
       END AS is_anomaly
FROM scored
"""
