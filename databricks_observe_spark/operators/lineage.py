"""Lineage graph operators — transitive closure + asset-spec assembly.

Rebuilds the hardest reference semantic (SURVEY.md §2.10): the recursive
upstream walk of ``get_recursive_lineage`` (``assets/dlt_assets.py:59-77``)
as a driver-orchestrated iterative BFS fixpoint over an edges DataFrame, and
the E1 asset-graph assembly (``DA:79-133``) as one declarative chain.

Reference semantics preserved exactly:
- direct self-edges are dropped before traversal (DA:68-69);
- cycles terminate (the ``visited`` set, DA:62-65) — and, notably, a node in
  a cycle IS its own transitive upstream (the reference only filters *direct*
  self-deps), so (a, a) pairs arising via a cycle are kept;
- results are deduplicated (DA:77).

Scale stance: each BFS iteration is one self-equi-join on the (catalog,
schema, table) key — a shuffle partitioned by that key. ``localCheckpoint``
truncates the lineage each round so the plan does not grow with graph depth
(SURVEY.md §7 hard part 1); a left-anti join against the accumulated closure
keeps the frontier minimal (delta iteration, not naive re-expansion). Depth
is bounded by the longest dependency chain — O(diameter) jobs, each fully
parallel — the standard Spark answer to recursive CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from databricks_observe_spark.memo import memo
from databricks_observe_spark.operators.catalog_ops import tables_enriched
from databricks_observe_spark.sources.catalog_model import SKIP_ASSETS, oracle_with_clause

_DST = ["dst_catalog", "dst_schema", "dst_table"]
_SRC = ["src_catalog", "src_schema", "src_table"]
_ALL = _DST + _SRC


# _loop_conf moved to functions/scoped_conf.py (r21): the same
# loop-scope conf now also drives the textrank power iteration. The
# lineage-specific measurements live with the call sites below.
from databricks_observe_spark.functions.scoped_conf import loop_conf as _loop_conf


def base_edges(edges: DataFrame) -> DataFrame:
    """Distinct edges with direct self-edges removed (DA:68-69)."""
    self_edge = (
        (F.col("dst_catalog") == F.col("src_catalog"))
        & (F.col("dst_schema") == F.col("src_schema"))
        & (F.col("dst_table") == F.col("src_table"))
    )
    return edges.select(*_ALL).filter(~self_edge).distinct()


def transitive_closure(edges: DataFrame, max_iters: int = 100) -> DataFrame:
    """All (dst, src) pairs where src is a direct or transitive upstream.

    Delta-iteration BFS: only the newly-discovered frontier joins the edge
    set each round; every intermediate is localCheckpoint'ed so the logical
    plan stays O(1) regardless of depth.
    """
    base = base_edges(edges).localCheckpoint()
    # pre-renamed probe side avoids self-join attribute ambiguity: the same
    # checkpointed plan appears on both sides of the join every iteration
    hop = base.select(*[F.col(c).alias(f"e_{c}") for c in _ALL])
    closure = base
    frontier = base
    for _ in range(max_iters):
        stepped = (
            frontier.join(
                hop,
                on=[
                    F.col(f"src_{k}") == F.col(f"e_dst_{k}")
                    for k in ("catalog", "schema", "table")
                ],
            )
            .select(*_DST, *[F.col(f"e_{c}").alias(c) for c in _SRC])
            .distinct()
        )
        new = stepped.join(closure, on=_ALL, how="left_anti").localCheckpoint()
        if new.isEmpty():
            break
        closure = closure.union(new).localCheckpoint()
        frontier = new
    else:
        raise RuntimeError(
            f"transitive_closure did not converge in {max_iters} iterations"
            " — graph depth exceeds the cap; raise max_iters"
        )
    return closure


def lineage_closure(t: dict[str, DataFrame]) -> DataFrame:
    # memoized: asset_specs and topo_levels (and any future consumer in the
    # same observation tick) share one fixpoint run — the closure loop is
    # the most expensive driver-orchestrated piece of the cycle
    return memo(t, "_lineage_closure", lambda: transitive_closure(t["lineage_edges"]))


# DuckDB recursive CTE oracle; UNION (not UNION ALL) dedups against the
# accumulated result, which is what terminates the cycle — same fixpoint.
LINEAGE_CLOSURE_SQL = oracle_with_clause("lineage_edges").replace(
    "WITH ", "WITH RECURSIVE ", 1
) + """
, base AS (
  SELECT DISTINCT dst_catalog, dst_schema, dst_table, src_catalog, src_schema, src_table
  FROM lineage_edges
  WHERE NOT (dst_catalog = src_catalog AND dst_schema = src_schema AND dst_table = src_table)
),
closure AS (
  SELECT dst_catalog, dst_schema, dst_table, src_catalog, src_schema, src_table FROM base
  UNION
  SELECT c.dst_catalog, c.dst_schema, c.dst_table, b.src_catalog, b.src_schema, b.src_table
  FROM closure c
  JOIN base b ON c.src_catalog = b.dst_catalog AND c.src_schema = b.dst_schema
             AND c.src_table = b.dst_table
)
SELECT DISTINCT * FROM closure
"""


def transitive_closure_doubling(
    edges: DataFrame, max_iters: int = 12, pairs_per_part: int = 200_000
) -> tuple[DataFrame, int]:
    """Closure by PATH DOUBLING: each round composes the accumulated
    closure with itself, so round k covers every path of length <= 2^k —
    a ~100-deep chain converges in ~8 rounds where single-hop BFS
    (:func:`transitive_closure`) needs ~100.

    This is the deep-graph variant: O(log depth) rounds means O(log d)
    checkpoints and driver round-trips — the cadence that survives a
    real warehouse DAG at depth. The tradeoff is classic: composing
    closure with closure can materialize more intermediate pairs per
    round than frontier BFS on DENSE graphs; lineage graphs are sparse
    and the closure itself is the output, so the intermediates are
    output-sized. Cycle-tolerant for the same reason as the BFS form
    (UNION-dedup against the accumulated set reaches the finite
    fixpoint). Returns (closure, rounds) so callers can log the cadence.
    ``pairs_per_part`` scales the measured-size partitioning (default
    one partition per 200k pairs; tests shrink it to exercise the
    width-growth re-pin on fixture-sized graphs).

    Rejected alternatives (measured r09, kept so they aren't re-tried):
    (a) fusing TWO doubling steps per job (quadrupling) to halve the job
    count — 3.20 s vs 1.85 s best-of-3 at the deep fixture: each fused
    job pays ~3x the broadcast/shuffle work (the un-checkpointed first
    step recomputes as the second step's broadcast build), and the
    per-step exchange cost, not the driver round-trip, dominates; (b)
    Spark 4.1's native WITH RECURSIVE — it supports only UNION ALL
    (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), and without UNION-dedup a
    cyclic lineage graph never reaches the fixpoint (the deep fixture's
    cyc_x/y/z triangle would hit the recursion limit, not terminate).
    """
    # Partitioning tracks the MEASURED closure size (one partition per
    # ~200k pairs, min 1) instead of inheriting the session shuffle
    # width: a metadata-sized graph otherwise pays 32 task-launch floors
    # per scan per round — at O(log d) rounds that scheduling tax WAS the
    # dominant cost (r07 merged-min 2.52 s -> 1.91 s) — while a genuinely
    # huge closure still spreads. Sizing is applied on BOTH sides of the
    # per-round dedup shuffle: the union's map side coalesces before the
    # exchange (caps shuffle-write tasks) and the post-distinct result
    # coalesces before the checkpoint, so the MATERIALIZED closure — what
    # every later round scans and broadcasts — actually has _parts(n)
    # partitions (a pre-distinct coalesce alone would leave the
    # checkpoint at the exchange's width; round-8 review finding).
    def _parts(n_pairs: int) -> int:
        return max(1, n_pairs // pairs_per_part)

    # base materializes LAZILY: its own convergence count below is the
    # first action, so the checkpoint rides that job instead of paying a
    # separate eager-materialization job (r21: one fewer scheduling floor)
    base = base_edges(edges).localCheckpoint(eager=False)
    n = base.count()
    spark = edges.sparkSession
    cur_parts = _parts(n)
    with _loop_conf(spark, cur_parts):
        closure = base.coalesce(cur_parts)
        for it in range(1, max_iters + 1):
            # the hop side is the accumulated closure — metadata-sized for
            # a lineage graph (tables x upstream sets, not data rows). It
            # deliberately does NOT broadcast: a broadcast build is its own
            # Spark job every round, while under _loop_conf the shuffle
            # join's exchanges are _parts(n) wide and execute inside the
            # convergence count's job (guide §2.4 — one job per round).
            hop = closure.select(*[F.col(c).alias(f"e_{c}") for c in _ALL])
            stepped = closure.join(
                hop,
                on=[
                    F.col(f"src_{k}") == F.col(f"e_dst_{k}")
                    for k in ("catalog", "schema", "table")
                ],
            ).select(*_DST, *[F.col(f"e_{c}").alias(c) for c in _SRC])
            # ONE job per round: the checkpoint is LAZY and materialized by
            # the convergence count's own action (vs the BFS form's anti-join
            # + isEmpty + union cadence) — at O(log d) rounds the per-round
            # driver floor IS the cost model, so the round body stays minimal.
            closure = (
                closure.union(stepped)
                .coalesce(cur_parts)
                .distinct()
                .coalesce(cur_parts)
                .localCheckpoint(eager=False)
            )
            n2 = closure.count()
            if n2 == n:
                return closure, it
            n = n2
            # Re-derive the shuffle width from each round's MEASURED
            # convergence count (r22, r21 verdict item 5 / ADVICE): the
            # closure can far outgrow the base edge set over the doubling
            # rounds (up to V^2 pairs on dense graphs), so a width pinned
            # from round 1 would push late rounds' wide shuffle joins
            # through too few partitions. The count is already collected,
            # so the re-pin is free; the outer loop_conf scope still
            # restores the caller's width on exit.
            if _parts(n) != cur_parts:
                cur_parts = _parts(n)
                spark.conf.set("spark.sql.shuffle.partitions", str(cur_parts))
        raise RuntimeError(
            f"transitive_closure_doubling did not converge in {max_iters}"
            f" rounds — graph depth exceeds 2^{max_iters}; raise max_iters"
        )


def lineage_closure_deep(t: dict[str, DataFrame]) -> DataFrame:
    """G1 at depth: the full closure of the ~100-deep synthetic lineage
    graph (sources/catalog_model.py:LINEAGE_EDGES_DEEP) via path
    doubling — the stress query that PROVES the iteration/checkpoint
    cadence scales logarithmically with depth instead of assuming it.
    The round count is logged and kept on the context
    (``_deep_closure_rounds``) for the cadence test."""
    import logging

    closure, rounds = transitive_closure_doubling(t["lineage_edges_deep"])
    t["_deep_closure_rounds"] = rounds
    logging.getLogger(__name__).info(
        "lineage_closure_deep converged in %d doubling rounds", rounds
    )
    return closure


LINEAGE_CLOSURE_DEEP_SQL = oracle_with_clause("lineage_edges_deep").replace(
    "WITH ", "WITH RECURSIVE ", 1
) + """
, base AS (
  SELECT DISTINCT dst_catalog, dst_schema, dst_table, src_catalog, src_schema, src_table
  FROM lineage_edges_deep
  WHERE NOT (dst_catalog = src_catalog AND dst_schema = src_schema AND dst_table = src_table)
),
closure AS (
  SELECT dst_catalog, dst_schema, dst_table, src_catalog, src_schema, src_table FROM base
  UNION
  SELECT c.dst_catalog, c.dst_schema, c.dst_table, b.src_catalog, b.src_schema, b.src_table
  FROM closure c
  JOIN base b ON c.src_catalog = b.dst_catalog AND c.src_schema = b.dst_schema
             AND c.src_table = b.dst_table
)
SELECT DISTINCT * FROM closure
"""


def _longest_paths_doubling(edges: DataFrame, max_iters: int = 12) -> DataFrame:
    """Longest-path table over a DAG by PATH DOUBLING: maintain
    ``(dst, src, len)`` = length of the longest known src->dst path, and
    each round compose the table with itself (max-plus semiring square),
    so round k holds every longest path of length <= 2^k — the O(log d)
    round cadence proven for the closure in
    :func:`transitive_closure_doubling`, applied to the weighted form
    (round-6 verdict perf item 3: the old per-depth-level BFS ran O(d)
    driver-coordinated rounds).

    Fixpoint: the pair count AND the total length are both monotone and
    bounded on a DAG; one 1-row aggregate per round reads both. The
    composed side broadcasts (lineage tables are metadata-sized), so each
    round's only shuffle is the per-pair max aggregate — and each round
    is ONE Spark job: the checkpoint is LAZY (eager=False) and
    materialized by the fixpoint aggregate's own action. At O(log d)
    rounds the per-round driver floor IS the cost model, so the round
    body stays minimal.
    """
    seed = (
        edges.select(*_DST, *_SRC, F.lit(1).alias("len"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_seed = seed.count()
    spark = edges.sparkSession
    cur_parts = max(1, n_seed // 200_000)
    with _loop_conf(spark, cur_parts):
        paths = seed
        sig = None
        for _ in range(max_iters):
            # no broadcast: same one-job-per-round rationale as
            # transitive_closure_doubling under _loop_conf
            hop = paths.select(
                *[F.col(c).alias(f"e_{c}") for c in _ALL],
                F.col("len").alias("e_len"),
            )
            stepped = paths.join(
                hop,
                on=[
                    F.col(f"src_{k}") == F.col(f"e_dst_{k}")
                    for k in ("catalog", "schema", "table")
                ],
            ).select(
                *_DST,
                *[F.col(f"e_src_{k}").alias(f"src_{k}") for k in ("catalog", "schema", "table")],
                (F.col("len") + F.col("e_len")).alias("len"),
            )
            paths = (
                paths.union(stepped)
                .groupBy(*_ALL)
                .agg(F.max("len").alias("len"))
                .localCheckpoint(eager=False)
            )
            row = paths.agg(
                F.count(F.lit(1)).alias("n"), F.sum("len").alias("s")
            ).first()
            if (row.n, row.s) == sig:
                return paths
            sig = (row.n, row.s)
            # same dynamic re-pin as transitive_closure_doubling (r22):
            # the longest-path table can outgrow the seed edge set, and
            # the fixpoint aggregate already materialized its row count
            if max(1, row.n // 200_000) != cur_parts:
                cur_parts = max(1, row.n // 200_000)
                spark.conf.set("spark.sql.shuffle.partitions", str(cur_parts))
        raise RuntimeError(
            f"_longest_paths_doubling did not converge in {max_iters} rounds —"
            f" longest chain exceeds 2^{max_iters}; raise max_iters"
        )


def topo_levels(t: dict[str, DataFrame], max_iters: int = 12) -> DataFrame:
    """G2 toposort: longest-upstream-chain level per node (SURVEY §2.10).

    Cycles make longest-path undefined, so nodes on a cycle — exactly
    those with a (n, n) pair in the transitive closure — are excluded
    along with their edges, mirroring how the reference's DFS guard
    simply refuses to recurse into visited nodes. Remaining DAG nodes get
    level = length of their longest upstream chain (sources = 0), via
    max-plus path doubling (:func:`_longest_paths_doubling`) — O(log d)
    driver rounds instead of the old one-join-per-depth-level loop.
    """
    closure = lineage_closure(t)
    self_pairs = closure.filter(
        (F.col("dst_catalog") == F.col("src_catalog"))
        & (F.col("dst_schema") == F.col("src_schema"))
        & (F.col("dst_table") == F.col("src_table"))
    ).select(
        F.col("dst_catalog").alias("catalog"),
        F.col("dst_schema").alias("schema"),
        F.col("dst_table").alias("table"),
    )
    # self_pairs is a filter over the already-checkpointed memoized
    # closure — cheap to recompute inside each anti-join's broadcast, so
    # no extra materialization; edges feeds only the doubling seed (the
    # first lazy-checkpoint round materializes it once).
    edges = base_edges(t["lineage_edges"])
    for side in ("dst", "src"):
        edges = edges.join(
            F.broadcast(self_pairs),
            on=[
                edges[f"{side}_catalog"] == self_pairs["catalog"],
                edges[f"{side}_schema"] == self_pairs["schema"],
                edges[f"{side}_table"] == self_pairs["table"],
            ],
            how="left_anti",
        )
    paths = _longest_paths_doubling(edges, max_iters=max_iters)
    # paths spans the same node set as the DAG edge list (doubling only
    # composes existing endpoints), so nodes derive from the final
    # checkpointed paths frame — the edge subtree is never re-executed
    nodes = (
        paths.select(
            F.col("dst_catalog").alias("catalog"),
            F.col("dst_schema").alias("schema"),
            F.col("dst_table").alias("table"),
        )
        .union(
            paths.select(
                F.col("src_catalog").alias("catalog"),
                F.col("src_schema").alias("schema"),
                F.col("src_table").alias("table"),
            )
        )
        .distinct()
    )
    levels = (
        paths.groupBy(
            F.col("dst_catalog").alias("catalog"),
            F.col("dst_schema").alias("schema"),
            F.col("dst_table").alias("table"),
        )
        .agg(F.max("len").alias("level"))
    )
    return nodes.join(levels, on=["catalog", "schema", "table"], how="left").select(
        "catalog", "schema", "table", F.coalesce("level", F.lit(0)).alias("level")
    )


TOPO_LEVELS_SQL = oracle_with_clause("lineage_edges").replace(
    "WITH ", "WITH RECURSIVE ", 1
) + """
, base AS (
  SELECT DISTINCT dst_catalog, dst_schema, dst_table, src_catalog, src_schema, src_table
  FROM lineage_edges
  WHERE NOT (dst_catalog = src_catalog AND dst_schema = src_schema AND dst_table = src_table)
),
closure AS (
  SELECT dst_catalog, dst_schema, dst_table, src_catalog, src_schema, src_table FROM base
  UNION
  SELECT c.dst_catalog, c.dst_schema, c.dst_table, b.src_catalog, b.src_schema, b.src_table
  FROM closure c
  JOIN base b ON c.src_catalog = b.dst_catalog AND c.src_schema = b.dst_schema
             AND c.src_table = b.dst_table
),
cyc AS (
  SELECT dst_catalog AS catalog, dst_schema AS schema, dst_table AS "table" FROM closure
  WHERE dst_catalog = src_catalog AND dst_schema = src_schema AND dst_table = src_table
),
dag AS (
  SELECT * FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM cyc WHERE catalog = b.dst_catalog AND schema = b.dst_schema AND "table" = b.dst_table)
    AND NOT EXISTS (SELECT 1 FROM cyc WHERE catalog = b.src_catalog AND schema = b.src_schema AND "table" = b.src_table)
),
nodes AS (
  SELECT DISTINCT dst_catalog AS catalog, dst_schema AS schema, dst_table AS "table" FROM dag
  UNION
  SELECT DISTINCT src_catalog, src_schema, src_table FROM dag
),
chains AS (
  SELECT dst_catalog AS catalog, dst_schema AS schema, dst_table AS "table", 1 AS len FROM dag
  UNION
  SELECT d.dst_catalog, d.dst_schema, d.dst_table, c.len + 1
  FROM chains c
  JOIN dag d ON d.src_catalog = c.catalog AND d.src_schema = c.schema AND d.src_table = c."table"
)
SELECT n.catalog, n.schema, n."table", COALESCE(MAX(c.len), 0) AS level
FROM nodes n
LEFT JOIN chains c ON n.catalog = c.catalog AND n.schema = c.schema AND n."table" = c."table"
GROUP BY n.catalog, n.schema, n."table"
"""


def asset_specs(t: dict[str, DataFrame]) -> DataFrame:
    """E1 assembly (DA:79-133): enriched tables + transitive deps + kinds.

    - deps: closure rows aggregated per dst into a count and a sorted
      dotted-name list (deterministic; the reference's list(set(...)));
    - kinds: sorted distinct {kind, format-kind, 'databricks'} (DA:127);
    - SKIP_ASSETS anti-filter (P3, DA:133) via broadcast left-anti join.
    """
    spark = t["lineage_edges"].sparkSession
    enriched = tables_enriched(t)
    closure = lineage_closure(t)
    deps = (
        closure.groupBy(
            F.col("dst_catalog").alias("catalog"),
            F.col("dst_schema").alias("schema"),
            F.col("dst_table").alias("table"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_upstreams"),
            F.array_join(
                F.array_sort(
                    F.collect_list(F.concat_ws(".", "src_catalog", "src_schema", "src_table"))
                ),
                ",",
            ).alias("upstreams_str"),
        )
    )
    skip = spark.sql(
        "SELECT * FROM (VALUES "
        + ", ".join("('" + "', '".join(k) + "')" for k in SKIP_ASSETS)
        + ") AS _t(catalog, schema, table)"
    )
    return (
        enriched.join(F.broadcast(skip), on=["catalog", "schema", "table"], how="left_anti")
        .join(F.broadcast(deps), on=["catalog", "schema", "table"], how="left")
        .select(
            F.concat_ws(".", "catalog", "schema", "table").alias("asset_key"),
            "kind",
            "format",
            "description",
            F.array_join(
                F.array_sort(F.array_distinct(F.array("kind", "format", F.lit("databricks")))),
                ",",
            ).alias("kinds_str"),
            F.coalesce(F.col("n_upstreams"), F.lit(0)).alias("n_upstreams"),
            F.coalesce(F.col("upstreams_str"), F.lit("")).alias("upstreams_str"),
        )
    )


ASSET_SPECS_SQL = oracle_with_clause("catalog_objects", "lineage_edges").replace(
    "WITH ", "WITH RECURSIVE ", 1
) + """
, base AS (
  SELECT DISTINCT dst_catalog, dst_schema, dst_table, src_catalog, src_schema, src_table
  FROM lineage_edges
  WHERE NOT (dst_catalog = src_catalog AND dst_schema = src_schema AND dst_table = src_table)
),
closure AS (
  SELECT dst_catalog, dst_schema, dst_table, src_catalog, src_schema, src_table FROM base
  UNION
  SELECT c.dst_catalog, c.dst_schema, c.dst_table, b.src_catalog, b.src_schema, b.src_table
  FROM closure c
  JOIN base b ON c.src_catalog = b.dst_catalog AND c.src_schema = b.dst_schema
             AND c.src_table = b.dst_table
),
enriched AS (
  SELECT d.catalog, d.schema, d."table",
         COALESCE(replace(lower(i.table_type), ' ', '_'), 'table') AS kind,
         CASE COALESCE(replace(lower(i.data_source_format), ' ', '_'), '')
              WHEN 'delta' THEN 'deltalake'
              WHEN 'unknown_data_source_format' THEN ''
              ELSE COALESCE(replace(lower(i.data_source_format), ' ', '_'), '') END AS format,
         i.comment AS description
  FROM (
    SELECT DISTINCT catalog, schema, "table" FROM catalog_objects
    WHERE lower(catalog) NOT IN ('') AND lower(schema) NOT IN ('information_schema')
  ) d
  LEFT JOIN information_schema_tables i
    ON d.catalog = i.table_catalog AND d.schema = i.table_schema AND d."table" = i.table_name
),
deps AS (
  SELECT dst_catalog AS catalog, dst_schema AS schema, dst_table AS "table",
         COUNT(*) AS n_upstreams,
         string_agg(src_catalog || '.' || src_schema || '.' || src_table, ','
                    ORDER BY src_catalog || '.' || src_schema || '.' || src_table) AS upstreams_str
  FROM (SELECT DISTINCT * FROM closure)
  GROUP BY 1, 2, 3
)
SELECT e.catalog || '.' || e.schema || '.' || e."table" AS asset_key,
       e.kind, e.format, e.description,
       array_to_string(list_sort(list_distinct([e.kind, e.format, 'databricks'])), ',') AS kinds_str,
       COALESCE(d.n_upstreams, 0) AS n_upstreams,
       COALESCE(d.upstreams_str, '') AS upstreams_str
FROM enriched e
LEFT JOIN deps d ON e.catalog = d.catalog AND e.schema = d.schema AND e."table" = d."table"
WHERE NOT (e.catalog = 'testdata' AND e.schema = 'main' AND e."table" = 'us_customers')
"""
