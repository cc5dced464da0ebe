"""Physical-layout operators: bucketing and skew salting (SURVEY.md §4).

The two shuffle-elimination levers a 100 TB deployment leans on, made
concrete and unit-testable:

- ``write_bucketed`` / ``bucketed_join`` — co-located joins: both fact
  tables bucketed by the join key into the warehouse; the join then
  requires NO exchange (asserted in tests on the physical plan). At scale
  this converts the nightly lineitem |x| orders shuffle into a local
  zip of pre-sorted buckets.
- ``salted_join`` — skew handling when one key dominates: the hot side's
  key is salted k ways, the small side replicated k ways; results are
  identical to the plain join (tested), but the hot key's rows spread
  over k tasks instead of one straggler. AQE's skew-join handles the
  moderate case automatically; explicit salting is the heavy-hammer for
  pathological keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from databricks_observe_spark.functions.rounding import (
    round_half_up,
    sql_round_half_up,
)


def write_bucketed(
    df: DataFrame, table_name: str, key: str, buckets: int = 8
) -> None:
    """Persist as a bucketed+sorted managed table (bucket pruning and
    exchange-free joins for every downstream consumer of ``key``).

    Idempotent: drops the table and clears a stale warehouse location left
    by a previous crashed run before writing.
    """
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/{table_name.lower()}", ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table_name)
    )


def bucketed_join(
    spark, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two tables bucketed on the same key: Catalyst sees matching
    output partitionings and plans a SortMergeJoin with ZERO exchanges."""
    return spark.table(left_table).join(spark.table(right_table), on=key)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
) -> DataFrame:
    """Equi-join with the big side's key salted ``salt_buckets`` ways.

    big rows get a deterministic-per-row salt (crc32 of the full row's
    key + a partition-stable counter is overkill here: a uniform random
    salt changes no results because the small side is replicated across
    ALL salts). Output columns match ``big.join(small, key)``.
    """
    salted_big = big.withColumn(
        "_salt", (F.crc32(F.col(key).cast("string")) + F.monotonically_increasing_id()) % salt_buckets
    )
    salts = big.sparkSession.range(salt_buckets).select(
        F.col("id").cast("long").alias("_salt")
    )
    replicated_small = small.crossJoin(F.broadcast(salts))
    return (
        salted_big.join(replicated_small, on=[key, "_salt"])
        .drop("_salt")
    )


def write_partitioned(
    df: DataFrame, path: str, partition_col: str, mode: str = "overwrite"
) -> None:
    """Persist parquet partitioned by ``partition_col`` (hive-style
    directories). At 100 TB this is how fact tables land: a predicate on
    the partition column prunes directories at planning time, so a
    one-day query over a year of data reads 1/365th of the files."""
    df.write.mode(mode).partitionBy(partition_col).parquet(path)


def read_pruned(spark, path: str, partition_col: str, value) -> DataFrame:
    """Read back with a partition predicate — Catalyst resolves the
    filter against the directory layout (PartitionFilters in the scan,
    zero data files opened outside the matching partition)."""
    return spark.read.parquet(path).filter(F.col(partition_col) == value)


# --- Z-order layout keys (multi-dimensional clustering) ---------------------

ZORDER_BITS = 16
ZORDER_FILES = 16


def _interleave_sql(u_expr: str, h_expr: str, bits: int, shiftr) -> str:
    """Bit-interleave two ``bits``-wide integers into one Morton (Z-order)
    value, rendered as SQL. ``shiftr(expr, n)`` renders an arithmetic
    right-shift in the target dialect (Spark: ``shiftright(e, n)``;
    DuckDB: ``(e >> n)``); masking and the power-of-two scaling are plain
    integer arithmetic, bit-identical everywhere."""
    terms = []
    for i in range(bits):
        terms.append(f"(({shiftr(u_expr, i)} & 1) * {1 << (2 * i)})")
        terms.append(f"(({shiftr(h_expr, i)} & 1) * {1 << (2 * i + 1)})")
    return " + ".join(terms)


def zorder_key(t: dict[str, DataFrame]) -> DataFrame:
    """Z-order (Morton) clustering key over events(user_id, hour), plus the
    target-file assignment a lakehouse OPTIMIZE ZORDER write would use.

    The layout op behind multi-dimensional data skipping: interleaving the
    bits of the two filter dimensions gives one sort key whose ranges are
    small in BOTH dimensions, so min/max file stats prune point/range
    queries on either column. The file assignment mirrors the production
    write's physical shape — range-partition on a z-value PREFIX (the top
    bits), then cut each range into equal files by local z order — so the
    sort parallelizes across ranges instead of funnelling the table
    through one global window; deterministic because (zval, event_id) is
    a total order within each range.

    Both dimensions are masked to {ZORDER_BITS} bits (z-ordering operates
    on fixed-width prefixes; production picks width by column cardinality).
    """
    from pyspark.sql.window import Window

    u = f"(user_id % {1 << ZORDER_BITS})"
    h = f"(CAST(floor(unix_micros(ts) / 3600000000) AS BIGINT) % {1 << ZORDER_BITS})"
    z = _interleave_sql(u, h, ZORDER_BITS, lambda e, n: f"shiftright({e}, {n})")
    w = Window.partitionBy("zrange").orderBy("zval", "event_id")
    return (
        t["events"]
        .select("event_id", F.expr(z).alias("zval"))
        .withColumn("zrange", F.shiftright("zval", ZORDER_BITS).cast("int"))
        .withColumn("file_seq", F.ntile(ZORDER_FILES).over(w))
    )


def _zorder_sql() -> str:
    u = f"(user_id % {1 << ZORDER_BITS})"
    h = f"(CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) % {1 << ZORDER_BITS})"
    z = _interleave_sql(u, h, ZORDER_BITS, lambda e, n: f"({e} >> {n})")
    return f"""
SELECT event_id, zval, zrange,
       CAST(NTILE({ZORDER_FILES}) OVER (PARTITION BY zrange
                                        ORDER BY zval, event_id) AS INT)
         AS file_seq
FROM (SELECT event_id, {z} AS zval,
             CAST(({z}) >> {ZORDER_BITS} AS INT) AS zrange
      FROM events)
"""


ZORDER_KEY_SQL = _zorder_sql()


# --- skew diagnosis (the input to the salting decision) ---------------------

SKEW_TOP_K = 10


def skew_report(t: dict[str, DataFrame]) -> DataFrame:
    """Join-key skew diagnosis over events.user_id: the hottest
    {SKEW_TOP_K} keys with their share of the table and their skew factor
    vs the median key — the measurement that decides between AQE's
    automatic skew-join handling and an explicit ``salted_join``, and
    sizes the salt (``suggested_salt`` = how many tasks the hot key needs
    to look like a median key).

    One shuffle on the key (the same shuffle the skewed join itself would
    do); the stats side is a two-row broadcast. At 100 TB this runs as a
    sampled or sketched pass — the exact form is the oracle anchor.
    """
    from pyspark.sql.window import Window

    counts = t["events"].groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    stats = counts.agg(
        F.sum("cnt").alias("total"),
        F.expr("percentile(cnt, 0.5)").alias("median_cnt"),
    )
    # distributed top-k (TakeOrderedAndProject: per-task heaps merged on
    # the driver); the ranking window runs over the 10 survivors only
    w = Window.orderBy(F.desc("cnt"), F.asc("user_id"))
    top = (
        counts.orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(SKEW_TOP_K)
        .withColumn("rnk", F.row_number().over(w))
    )
    return top.join(F.broadcast(stats)).select(
        "rnk",
        "user_id",
        "cnt",
        round_half_up(F.col("cnt") / F.col("total"), 6).alias("share"),
        round_half_up(F.col("cnt") / F.col("median_cnt"), 6).alias("skew_factor"),
        F.ceil(F.col("cnt") / F.col("median_cnt")).cast("int").alias("suggested_salt"),
    )


SKEW_REPORT_SQL = f"""
WITH counts AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
),
stats AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total,
         quantile_cont(cnt, 0.5) AS median_cnt
  FROM counts
),
top AS (
  SELECT user_id, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id ASC) AS INT) AS rnk
  FROM counts QUALIFY rnk <= {SKEW_TOP_K}
)
SELECT rnk, user_id, cnt,
       {sql_round_half_up('cnt * 1.0 / total', 6)} AS share,
       {sql_round_half_up('cnt / median_cnt', 6)} AS skew_factor,
       CAST(CEIL(cnt / median_cnt) AS INT) AS suggested_salt
FROM top CROSS JOIN stats
"""


# --- Zone-map pruning audit (data-skipping planner) -------------------------

# Declared probe predicates on the shipdate clustering column: a wide
# year, an open-ended tail, and a narrow month — the query shapes a
# range layout is built for.
ZONE_PREDICATES = (
    ("year_1996", "1996-01-01 00:00:00", "1996-12-31 23:59:59"),
    ("tail_2000h2_on", "2000-07-01 00:00:00", "2101-01-01 00:00:00"),
    ("month_1997_03", "1997-03-01 00:00:00", "1997-03-31 23:59:59"),
)


def zone_map_plan(t: dict[str, DataFrame]) -> DataFrame:
    """Data-skipping audit: how much scan would a shipdate range layout
    prune for the declared predicate shapes? The planning companion to
    ``zorder_key``/``compaction_plan`` — quantify the win BEFORE paying
    for the layout rewrite, from one pass over the column.

    Blocks are VALUE-RANGE defined (half-year buckets of ``l_shipdate``
    — what a range-partitioned write would produce), NOT equal-count
    ntile: value blocks need no global sort, so the whole audit is one
    projection scan, a broadcast of the 3-row predicate table, and one
    tiny (predicate, block) aggregate — no single-task window anywhere
    (the lateness_report lesson). Per predicate: block prune rate from
    the block min/max zone maps, rows actually scanned vs matching in
    the surviving blocks, everything in exact integers / basis points.

    At 100 TB the same plan reads the real per-file footer min/max
    instead of computing them — this operator is the sizing for that
    layout, run on the column the files would be clustered by.

    The predicates are LITERALS, so the audit does not cross-join them
    onto the scan (which would multiply the corpus scan and the
    pre-exchange rows by the predicate count): ONE
    per-block aggregate carries a conditional-sum column per predicate,
    and the (predicate, block) rows explode from a literal struct array
    AFTER aggregation — same exact integers, one scan instead of three,
    and the exchange carries blocks x 1 rows instead of blocks x 3.
    """
    d = t["lineitem"].select(F.col("l_shipdate").alias("d"))
    block = (F.year("d") * 2 + (F.month("d") > 6).cast("int")).alias("block")
    ts = lambda s: F.lit(s).cast("timestamp")  # noqa: E731
    per_block_wide = d.groupBy(block).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("d").alias("mn"),
        F.max("d").alias("mx"),
        *[
            F.sum(
                ((F.col("d") >= ts(lo)) & (F.col("d") <= ts(hi))).cast("bigint")
            ).alias(f"matching_{i}")
            for i, (_n, lo, hi) in enumerate(ZONE_PREDICATES)
        ],
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(n).alias("predicate"),
                ts(lo).alias("lo"),
                ts(hi).alias("hi"),
                F.col(f"matching_{i}").alias("matching"),
            )
            for i, (n, lo, hi) in enumerate(ZONE_PREDICATES)
        ]
    )
    per_block = per_block_wide.select(
        "block", "n_rows", "mn", "mx", F.explode(entries).alias("e")
    ).select("block", "n_rows", "mn", "mx", "e.*")
    pruned = (F.col("mx") < F.col("lo")) | (F.col("mn") > F.col("hi"))
    return (
        per_block.groupBy("predicate")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(pruned.cast("bigint")).alias("n_pruned"),
            F.sum("n_rows").alias("rows_total"),
            F.sum(F.when(pruned, 0).otherwise(F.col("n_rows"))).alias(
                "rows_scanned"
            ),
            F.sum("matching").alias("rows_matching"),
        )
        .select(
            "predicate",
            "n_blocks",
            "n_pruned",
            F.expr("n_pruned * 10000 DIV n_blocks").alias("prune_bp"),
            "rows_total",
            "rows_scanned",
            "rows_matching",
            F.expr(
                "CASE WHEN rows_scanned = 0 THEN CAST(10000 AS BIGINT)"
                " ELSE rows_matching * 10000 DIV rows_scanned END"
            ).alias("scan_efficiency_bp"),
        )
    )


def _zone_map_sql() -> str:
    values = ", ".join(
        f"('{n}', TIMESTAMP '{lo}', TIMESTAMP '{hi}')"
        for n, lo, hi in ZONE_PREDICATES
    )
    return f"""
WITH preds AS (SELECT * FROM (VALUES {values}) AS v(predicate, lo, hi)),
per_block AS (
  SELECT p.predicate,
         year(l.l_shipdate) * 2
           + CASE WHEN month(l.l_shipdate) > 6 THEN 1 ELSE 0 END AS block,
         COUNT(*) AS n_rows,
         MIN(l.l_shipdate) AS mn,
         MAX(l.l_shipdate) AS mx,
         SUM(CASE WHEN l.l_shipdate >= p.lo AND l.l_shipdate <= p.hi
                  THEN 1 ELSE 0 END) AS matching,
         MIN(p.lo) AS lo, MAX(p.hi) AS hi
  FROM lineitem l CROSS JOIN preds p
  GROUP BY 1, 2
)
SELECT predicate,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN mx < lo OR mn > hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pruned,
       CAST(SUM(CASE WHEN mx < lo OR mn > hi THEN 1 ELSE 0 END) * 10000
            // COUNT(*) AS BIGINT) AS prune_bp,
       CAST(SUM(n_rows) AS BIGINT) AS rows_total,
       CAST(SUM(CASE WHEN mx < lo OR mn > hi THEN 0 ELSE n_rows END)
            AS BIGINT) AS rows_scanned,
       CAST(SUM(matching) AS BIGINT) AS rows_matching,
       CAST(CASE WHEN SUM(CASE WHEN mx < lo OR mn > hi THEN 0 ELSE n_rows END) = 0
                 THEN 10000
                 ELSE SUM(matching) * 10000
                      // SUM(CASE WHEN mx < lo OR mn > hi THEN 0 ELSE n_rows END)
            END AS BIGINT) AS scan_efficiency_bp
FROM per_block
GROUP BY predicate
"""


ZONE_MAP_PLAN_SQL = _zone_map_sql()
