"""Relational analytics core — scan/filter/join/aggregate/window/top-k.

The reference's relational surface is thin (one filter query plus
metadata SQL); these queries exercise the same primitive inventory
(SURVEY.md §2.2-2.6) at analytical complexity on the TPC-H-ish fixtures, and
double as the benchmark headliners.

Scale notes (100 TB stance):
- Only CONSTANT-sized dimensions (region, nation) carry explicit
  broadcast hints; SF-proportional sides (customer, supplier, part) are
  left to AQE's runtime size estimate — a forced broadcast on a side
  that grows with the data dies at 100 TB. Fact-fact joins (lineitem
  |x| orders) stay shuffled hash joins on their natural keys with AQE
  handling skew.
- All money arithmetic is done in DECIMAL(18,2)/(38,4) and only cast to
  DOUBLE at the end: decimal aggregation is exact and order-independent, so
  results are bit-identical across engines and across shuffle
  non-determinism — a correctness property, not just an oracle convenience.
- Aggregations are expressed as plain groupBy/agg so Catalyst emits
  partial (map-side) + final aggregates; no Python touches the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from databricks_observe_spark.functions.rounding import (
    round_half_up,
    sql_round_half_up,
)

D = "decimal(18,2)"


def _dec(c: str) -> F.Column:
    return F.col(c).cast(D)


def pricing_summary(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem (A1/A3 analog at scale).

    Pure map-side-combinable aggregation: one scan, one shuffle of 4-group
    partial aggregates.
    """
    li = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = (_dec("l_extendedprice") * (F.lit(1).cast(D) - _dec("l_discount"))).cast(
        "decimal(38,4)"
    )
    charge = (
        _dec("l_extendedprice")
        * (F.lit(1).cast(D) - _dec("l_discount"))
        * (F.lit(1).cast(D) + _dec("l_tax"))
    ).cast("decimal(38,6)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            # exact decimal sum -> double, then IEEE divide: identical in any
            # engine and under any aggregation order (decimal/decimal division
            # would round at engine-specific scales)
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def shipping_priority(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q3-shaped: segment filter -> 3-way join -> revenue top-10.

    The segment-filtered customer key set joins without a broadcast hint
    (SF-proportional side; AQE broadcasts it when it fits); lineitem |x|
    orders is the only unavoidable shuffle. Exact decimal revenue makes
    the top-10 cut deterministic across engines.
    """
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = t["lineitem"].filter(F.col("l_shipdate") > F.lit("1996-01-01"))
    revenue = (
        _dec("l_extendedprice") * (F.lit(1).cast(D) - _dec("l_discount"))
    ).cast("decimal(38,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # no broadcast hint on the filtered customer side: it is
        # SF-proportional (1/5 of all customers), so a forced broadcast
        # dies at 100 TB; AQE broadcasts it at runtime when it fits
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .withColumn("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


SHIPPING_PRIORITY_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1996-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def local_supplier_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q5-shaped: 6-way join, region filter, revenue per nation.

    region/nation broadcast (constant-sized); customer/supplier join
    without hints (SF-proportional — AQE decides). The customer-nation ==
    supplier-nation condition is applied as a post-join filter exactly as
    in TPC-H. lineitem |x| orders is the anchor shuffle.
    """
    region = t["region"].filter(F.col("r_name") == "ASIA")
    nation = t["nation"]
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1999-01-01"))
    )
    revenue = (
        _dec("l_extendedprice") * (F.lit(1).cast(D) - _dec("l_discount"))
    ).cast("decimal(38,4)")
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # customer and supplier are SF-proportional — no broadcast hints
        # (AQE decides); nation/region are constant-sized and always ship
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


LOCAL_SUPPLIER_REVENUE_SQL = """
SELECT n_name,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY n_name
"""


def top_orders_per_customer(t: dict[str, DataFrame]) -> DataFrame:
    """Ranking window (§2.5): top-3 orders by totalprice per customer.

    One shuffle on o_custkey; rank computed inside the sorted partition.
    Ties broken by o_orderkey so the cut is deterministic.
    """
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )
    return (
        t["orders"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


TOP_ORDERS_PER_CUSTOMER_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
"""


def segment_order_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Join + multi-aggregate per market segment (A1/A4/A6 composition)."""
    joined = t["orders"].join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
    return joined.groupBy("c_mktsegment").agg(
        F.countDistinct("c_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_revenue"),
        (F.sum(_dec("o_totalprice")).cast("double") / F.count(F.lit(1))).alias("avg_order_value"),
        F.max(_dec("o_totalprice")).cast("double").alias("max_order"),
        F.min(_dec("o_totalprice")).cast("double").alias("min_order"),
    )


SEGMENT_ORDER_STATS_SQL = """
SELECT c_mktsegment,
       COUNT(DISTINCT c_custkey) AS n_customers,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_order_value,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_order,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_order
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def order_priority_rollup(t: dict[str, DataFrame]) -> DataFrame:
    """ROLLUP(o_orderstatus, o_orderpriority) order counts (§2.4 extension)."""
    return (
        t["orders"]
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )


ORDER_PRIORITY_ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


def order_value_percentiles(t: dict[str, DataFrame]) -> DataFrame:
    """Exact interpolated percentiles per priority (§2.4 extension).

    Spark ``percentile`` and DuckDB ``quantile_cont`` share the
    (n-1)*p linear-interpolation definition; outputs rounded to 4 to
    absorb last-ulp interpolation differences.
    """
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            round_half_up(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
            round_half_up(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            round_half_up(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("p75"),
        )
    )


ORDER_VALUE_PERCENTILES_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       {sql_round_half_up('quantile_cont(o_totalprice, 0.25)', 4)} AS p25,
       {sql_round_half_up('quantile_cont(o_totalprice, 0.5)', 4)} AS p50,
       {sql_round_half_up('quantile_cont(o_totalprice, 0.75)', 4)} AS p75
FROM orders GROUP BY o_orderpriority
"""


def top_balance_per_nation(t: dict[str, DataFrame]) -> DataFrame:
    """Correlated scalar subquery — written as the user would write it,
    decorrelated by Catalyst into an aggregate + join (SURVEY §4
    "subquery decorrelation ... free when applicable"; plan asserted by
    tests/test_plans.py::test_correlated_subquery_decorrelates). The passed frame
    binds via spark.sql's DataFrame substitution — NOT a session temp
    view, so a caller's own frames dict resolves to the caller's data,
    never to whatever views the session last registered."""
    spark = t["customer"].sparkSession
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_nationkey, c_acctbal
        FROM {c} c
        WHERE c_acctbal = (
          SELECT MAX(c2.c_acctbal) FROM {c} c2
          WHERE c2.c_nationkey = c.c_nationkey
        )
        """,
        c=t["customer"],
    )


TOP_BALANCE_PER_NATION_SQL = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal
FROM customer c
WHERE c_acctbal = (
  SELECT MAX(c2.c_acctbal) FROM customer c2
  WHERE c2.c_nationkey = c.c_nationkey
)
"""


def dormant_customers(t: dict[str, DataFrame]) -> DataFrame:
    """NOT EXISTS -> anti-join (the P3 anti-filter family as a first-class
    relational query): customers with no orders on/after a cutoff date.

    The correlated NOT EXISTS becomes a LeftAnti hash join with the orders
    side filtered BEFORE the join (predicate pushed below the anti-join),
    so at scale only the post-cutoff slice of orders shuffles.

    Frames bind via spark.sql's DataFrame substitution (see
    top_balance_per_nation) — never session temp views.
    """
    spark = t["customer"].sparkSession
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        FROM {c} c
        WHERE NOT EXISTS (
          SELECT 1 FROM {o} o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        )
        """,
        c=t["customer"],
        o=t["orders"],
    )


DORMANT_CUSTOMERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment, c_acctbal
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
)
"""


def approx_user_counts(t: dict[str, DataFrame]) -> DataFrame:
    """HLL-sketch cardinality vs exact per event type (§2.4 extension).

    approx_count_distinct is the constant-memory scale path for
    cardinality over 100 TB; the exact column quantifies the sketch error.
    Sketch values are engine-specific -> rows-only driver check.
    """
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .withColumn(
            "rel_error",
            round_half_up(
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users"),
                4,
            ),
        )
    )


def user_count_accuracy(t: dict[str, DataFrame]) -> DataFrame:
    """Oracle-checked view of the HLL sketch: the sketch VALUE is
    engine-specific (rows-only check in ``approx_user_counts``), but its
    error BOUND is deterministic — so emit the exact cardinality plus a
    flag asserting the sketch landed within 5x its configured rsd (0.02).
    The oracle claims the flag is always 1; a sketch regression (bad rsd,
    broken agg) flips it and fails the hash."""
    base = approx_user_counts(t)
    return base.select(
        "event_type",
        "exact_users",
        (F.col("rel_error") <= 0.10).cast("int").alias("within_bound"),
    )


USER_COUNT_ACCURACY_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, 1 AS within_bound
FROM events GROUP BY event_type
"""


def percentile_sketch_accuracy(t: dict[str, DataFrame]) -> DataFrame:
    """t-digest-style quantile sketch vs exact percentile (§2.4 extension,
    the constant-memory quantile path at 100 TB).

    Like ``user_count_accuracy``: the sketch VALUE is engine-specific, but
    its error bound is checkable — emit the exact p50/p90 plus a flag
    asserting the approx_percentile(accuracy=1000) estimate landed within
    5% relative error (measured <1% on the fixtures). The oracle claims
    the flag is always 1, so a sketch regression fails the hash."""
    agg = (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.expr("approx_percentile(value, array(0.5, 0.9), 1000)").alias("ap"),
            F.expr("percentile(value, array(0.5, 0.9))").alias("ex"),
        )
    )
    # multiplicative form of |ap - ex| / |ex| <= 0.05: no division, so a
    # group whose exact percentile is 0 yields a plain False/True instead
    # of an ANSI divide-by-zero abort (Spark) vs NULL (DuckDB oracle's
    # literal 1) — the degenerate-moment rule from user_value_zscores
    ok = (
        (F.abs(F.col("ap")[0] - F.col("ex")[0]) <= 0.05 * F.abs(F.col("ex")[0]))
        & (F.abs(F.col("ap")[1] - F.col("ex")[1]) <= 0.05 * F.abs(F.col("ex")[1]))
    )
    return agg.select(
        "event_type",
        round_half_up(F.col("ex")[0], 4).alias("exact_p50"),
        round_half_up(F.col("ex")[1], 4).alias("exact_p90"),
        ok.cast("int").alias("within_bound"),
    )


PERCENTILE_SKETCH_ACCURACY_SQL = f"""
SELECT event_type,
       {sql_round_half_up('quantile_cont(value, 0.5)', 4)} AS exact_p50,
       {sql_round_half_up('quantile_cont(value, 0.9)', 4)} AS exact_p90,
       1 AS within_bound
FROM events GROUP BY event_type
"""


def returned_item_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q10-shaped: returned-item revenue ranking (top-20 customers).

    Reference parity: composite of P1 equality filters (reference:
    assets/customer_assets.py:12), the J1 left-enrichment join chain
    (assets/dlt_assets.py:92-110) and A6 top-k — at analytical complexity.

    Scale notes: lineitem |x| orders is the one fact-fact shuffle join
    (both sides pre-filtered, so AQE sizes the shuffle from the filtered
    stats); customer -> nation enrichment broadcasts the dim. The final
    top-20 is a TakeOrderedAndProject (no global sort materialization).
    """
    rev = (_dec("l_extendedprice") * (F.lit(1).cast(D) - _dec("l_discount"))).cast(
        "decimal(38,4)"
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


RETURNED_ITEM_REVENUE_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
               AS DECIMAL(38,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def nation_market_share(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q8-shaped: one nation's share of supplier revenue per year.

    Conditional aggregation (SUM of CASE) over the lineitem->supplier->
    nation enrichment chain, grouped by order year. The share divides two
    exact decimal sums only after casting to DOUBLE, so the quotient is
    bit-identical across engines and aggregation orders (SURVEY.md §7
    hard part 4 discipline).

    Scale notes: supplier/nation broadcast; the only shuffle is
    lineitem |x| orders plus the final tiny per-year aggregate, whose
    partials combine map-side.
    """
    rev = (_dec("l_extendedprice") * (F.lit(1).cast(D) - _dec("l_discount"))).cast(
        "decimal(38,4)"
    )
    zero = F.lit(0).cast("decimal(38,4)")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        # supplier is SF-proportional — no broadcast hint (AQE decides);
        # nation is constant-sized and always ships
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("n_name") == "BRAZIL", rev).otherwise(zero))
            .cast("double")
            .alias("brazil_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
        .withColumn("mkt_share", F.col("brazil_revenue") / F.col("total_revenue"))
    )


NATION_MARKET_SHARE_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
  CAST(SUM(CASE WHEN n_name = 'BRAZIL'
            THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                      AS DECIMAL(38,4))
            ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE) AS brazil_revenue,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
               AS DECIMAL(38,4))) AS DOUBLE) AS total_revenue,
  CAST(SUM(CASE WHEN n_name = 'BRAZIL'
            THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                      AS DECIMAL(38,4))
            ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE)
    / CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
               AS DECIMAL(38,4))) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY 1
"""


def urgent_order_customers(t: dict[str, DataFrame]) -> DataFrame:
    """EXISTS-style semi join: customers holding at least one urgent order.

    Complements the anti-join forms (P2/P3 denylists, dormant_customers
    NOT EXISTS): a LeftSemi hash join that probes without duplicating or
    widening rows — at scale, the semi join ships only the 8-byte key set
    of the filtered orders side, never the customer payload.
    """
    urgent = (
        t["orders"].filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    )
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


URGENT_ORDER_CUSTOMERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
"""


# --- MERGE INTO semantics, batch-expressed -----------------------------------


def _order_changes(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic change batch derived from ``orders``: key % 7 rows
    become price updates, key % 13 rows become deletes (delete wins on
    overlap, as in a CDC stream's last event), and key % 11 rows re-key
    beyond the current max as inserts. Prices travel as integer cents."""
    o = t["orders"].select("o_orderkey", "o_totalprice")
    max_key = o.agg(F.max("o_orderkey")).first()[0]
    cents = F.floor(F.col("o_totalprice") * F.lit(110.0) + F.lit(0.5))
    upd = (
        o.filter((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 13 != 0))
        .select("o_orderkey", cents.alias("new_cents"), F.lit("update").alias("op"))
    )
    dele = o.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey", F.lit(None).cast("bigint").alias("new_cents"),
        F.lit("delete").alias("op"),
    )
    ins = o.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + F.lit(max_key)).alias("o_orderkey"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).alias("new_cents"),
        F.lit("insert").alias("op"),
    )
    return upd.unionByName(dele).unionByName(ins)


def merge_upsert(t: dict[str, DataFrame]) -> DataFrame:
    """MERGE INTO semantics without Delta: apply a CDC change batch
    (update / delete / insert) to the ``orders`` base in one pass — the
    core lakehouse write primitive, expressed as a single full-outer
    join on the key (matched+update -> new value, matched+delete ->
    drop, unmatched change -> insert, unmatched base -> carry).

    At scale this is exactly how MERGE executes under the hood: one
    shuffle of both sides on the join key, rewrite of the touched
    output. Prices compare as integer cents (exact cross-engine).
    """
    base = t["orders"].select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).alias("cents"),
    )
    ch = _order_changes(t)
    joined = base.join(ch, on="o_orderkey", how="full_outer")
    return (
        joined.filter(F.coalesce(F.col("op"), F.lit("")) != "delete")
        .select(
            "o_orderkey",
            F.coalesce(F.col("new_cents"), F.col("cents")).alias("price_cents"),
            F.when(F.col("op").isNull(), "keep").otherwise(F.col("op")).alias("op"),
        )
    )


MERGE_UPSERT_SQL = """
WITH base AS (
  SELECT o_orderkey,
         CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders
), mk AS (SELECT MAX(o_orderkey) AS max_key FROM orders),
ch AS (
  SELECT o_orderkey,
         CAST(FLOOR(o_totalprice * 110.0 + 0.5) AS BIGINT) AS new_cents,
         'update' AS op
  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey, NULL, 'delete' FROM orders WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT o_orderkey + mk.max_key,
         CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT), 'insert'
  FROM orders CROSS JOIN mk WHERE o_orderkey % 11 = 0
)
SELECT COALESCE(b.o_orderkey, ch.o_orderkey) AS o_orderkey,
       COALESCE(ch.new_cents, b.cents) AS price_cents,
       COALESCE(ch.op, 'keep') AS op
FROM base b FULL OUTER JOIN ch ON b.o_orderkey = ch.o_orderkey
WHERE COALESCE(ch.op, '') <> 'delete'
"""


def balance_percent_rank(t: dict[str, DataFrame]) -> DataFrame:
    """Rank-family analytics: per-nation percent_rank and cume_dist of
    customer account balances — the distributional position every scoring
    pipeline attaches before thresholding (completes the window-function
    family next to row_number/lag/ntile). One shuffle on the nation key;
    both measures are exact rationals of rank counters, so the doubles
    agree bit-for-bit cross-engine. Balances travel as integer cents.
    """
    w = Window.partitionBy("c_nationkey").orderBy("bal_cents", "c_custkey")
    return (
        t["customer"]
        .select(
            "c_custkey",
            "c_nationkey",
            F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)).alias("bal_cents"),
        )
        .select(
            "c_custkey",
            "c_nationkey",
            "bal_cents",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
    )


BALANCE_PERCENT_RANK_SQL = """
SELECT c_custkey, c_nationkey, bal_cents,
       PERCENT_RANK() OVER w AS pr,
       CUME_DIST() OVER w AS cd
FROM (
  SELECT c_custkey, c_nationkey,
         CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_cents
  FROM customer
)
WINDOW w AS (PARTITION BY c_nationkey ORDER BY bal_cents, c_custkey)
"""


INCR_DELTA_MOD = 50  # l_orderkey % 50 == 0 rows arrive as the "new batch"


def incremental_pricing_summary(t: dict[str, DataFrame]) -> DataFrame:
    """Incremental view maintenance of the pricing summary: the base
    corpus's PARTIAL aggregates (exact decimal sums + counts — the state
    a materialized view stores) merge with the partials of a newly
    arrived batch, then finalize — no rescan of the base at update time.

    This is the algebra behind every incrementally-maintained aggregate
    at 100 TB: sums/counts are commutative monoids, so merge-of-partials
    is EXACTLY lossless — which the oracle proves by recomputing the
    summary from scratch over all rows and hash-matching. Averages
    finalize from merged sums/counts (never averaged averages). The
    base/batch split is deterministic (l_orderkey % 50).
    """
    li = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = (
        _dec("l_extendedprice") * (F.lit(1).cast(D) - _dec("l_discount"))
    ).cast("decimal(38,4)")
    charge = (
        _dec("l_extendedprice")
        * (F.lit(1).cast(D) - _dec("l_discount"))
        * (F.lit(1).cast(D) + _dec("l_tax"))
    ).cast("decimal(38,6)")

    def partials(df):
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(_dec("l_quantity")).alias("p_qty"),
            F.sum(_dec("l_extendedprice")).alias("p_price"),
            F.sum(disc_price).alias("p_disc"),
            F.sum(charge).alias("p_charge"),
            F.count(F.lit(1)).alias("p_n"),
        )

    base = partials(li.filter(F.col("l_orderkey") % INCR_DELTA_MOD != 0))
    batch = partials(li.filter(F.col("l_orderkey") % INCR_DELTA_MOD == 0))
    merged = (
        base.unionByName(batch)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("p_qty").alias("m_qty"),
            F.sum("p_price").alias("m_price"),
            F.sum("p_disc").alias("m_disc"),
            F.sum("p_charge").alias("m_charge"),
            F.sum("p_n").alias("m_n"),
        )
    )
    return merged.select(
        "l_returnflag",
        "l_linestatus",
        F.col("m_qty").cast("double").alias("sum_qty"),
        F.col("m_price").cast("double").alias("sum_base_price"),
        F.col("m_disc").cast("double").alias("sum_disc_price"),
        F.col("m_charge").cast("double").alias("sum_charge"),
        (F.col("m_qty").cast("double") / F.col("m_n")).alias("avg_qty"),
        (F.col("m_price").cast("double") / F.col("m_n")).alias("avg_price"),
        F.col("m_n").alias("count_order"),
    )


# the oracle is the FULL recompute: a hash match proves the partial-merge
# is lossless
INCREMENTAL_PRICING_SUMMARY_SQL = PRICING_SUMMARY_SQL
