"""Lineage graph operators — transitive closure + asset-spec assembly.

Rebuilds the hardest reference semantic (SURVEY.md §2.10): the recursive
upstream walk of ``get_recursive_lineage`` (``assets/dlt_assets.py:59-77``)
as a path-doubling fixpoint over an edges DataFrame, and the E1
asset-graph assembly (``DA:79-133``) as one declarative chain.

Reference semantics preserved exactly:
- direct self-edges are dropped before traversal (DA:68-69);
- cycles terminate (the ``visited`` set, DA:62-65) — and, notably, a node in
  a cycle IS its own transitive upstream (the reference only filters *direct*
  self-deps), so (a, a) pairs arising via a cycle are kept;
- results are deduplicated (DA:77).

Scale stance: each round composes the accumulated closure with itself (one
self-equi-join on the (catalog, schema, table) key), so round k covers
every path of length <= 2^k and a graph of depth d converges in O(log d)
rounds. The rounds run through :func:`fixpoint`, which checkpoints each
one so the plan does not grow with depth (SURVEY.md §7 hard part 1).
Cycles terminate because the union with the accumulated closure dedups.

Rejected alternatives (measured, kept so they aren't re-tried):
(a) fusing two doubling steps per job to halve the job count — 3.20 s vs
1.85 s best-of-3 at the deep fixture: each fused job pays ~3x the
shuffle work, and the per-step exchange cost, not the driver round-trip,
dominates; (b) Spark 4.1's native WITH RECURSIVE — it supports only
UNION ALL (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), and without UNION-dedup
a cyclic lineage graph never reaches the fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from databricks_observe_spark.functions.fixpoint import fixpoint
from databricks_observe_spark.memo import index
from databricks_observe_spark.operators.catalog_ops import tables_enriched
from databricks_observe_spark.sources.catalog_model import SKIP_ASSETS, oracle_with_clause

_KEY = ("catalog", "schema", "table")
_DST = [f"dst_{k}" for k in _KEY]
_SRC = [f"src_{k}" for k in _KEY]
_ALL = _DST + _SRC


def base_edges(edges: DataFrame) -> DataFrame:
    """Distinct edges with direct self-edges removed (DA:68-69)."""
    self_edge = (
        (F.col("dst_catalog") == F.col("src_catalog"))
        & (F.col("dst_schema") == F.col("src_schema"))
        & (F.col("dst_table") == F.col("src_table"))
    )
    return edges.select(*_ALL).filter(~self_edge).distinct()


def _self_compose(paths: DataFrame) -> DataFrame:
    """``paths`` joined with itself where a path's src is another's dst;
    the second path's columns carry an ``e_`` prefix."""
    hop = paths.select(*[F.col(c).alias(f"e_{c}") for c in paths.columns])
    return paths.join(hop, on=[F.col(f"src_{k}") == F.col(f"e_dst_{k}") for k in _KEY])


def transitive_closure(edges: DataFrame) -> tuple[DataFrame, int]:
    """All (dst, src) pairs where src is a direct or transitive upstream,
    by path doubling; returns (closure, rounds)."""

    def double(closure: DataFrame) -> DataFrame:
        stepped = _self_compose(closure).select(
            *_DST, *[F.col(f"e_{c}").alias(c) for c in _SRC]
        )
        return closure.union(stepped).distinct()

    return fixpoint(base_edges(edges), double)


@index("lineage_closure")
def lineage_closure(t: dict[str, DataFrame]) -> DataFrame:
    # a declared index: asset_specs and topo_levels (and any future consumer
    # in the same observation tick) share one fixpoint run — the closure
    # loop is the most expensive driver-orchestrated piece of the cycle
    return transitive_closure(t["lineage_edges"])[0]


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


def lineage_closure_deep(t: dict[str, DataFrame]) -> DataFrame:
    """G1 at depth: the full closure of the ~100-deep synthetic lineage
    graph (sources/catalog_model.py:LINEAGE_EDGES_DEEP) — the stress query
    that PROVES the doubling cadence scales logarithmically with depth
    instead of assuming it. The round count is logged."""
    import logging

    closure, rounds = transitive_closure(t["lineage_edges_deep"])
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


def _longest_paths(edges: DataFrame) -> DataFrame:
    """Longest-path table over a DAG: ``(dst, src, len)`` = length of the
    longest src->dst path, by max-plus path doubling — each round squares
    the table, so round k holds every longest path of length <= 2^k. The
    pair count and the total length only grow, and are bounded on a DAG,
    so the signature (count, sum(len)) repeats exactly at the fixpoint."""

    def square(paths: DataFrame) -> DataFrame:
        stepped = _self_compose(paths).select(
            *_DST,
            *[F.col(f"e_{c}").alias(c) for c in _SRC],
            (F.col("len") + F.col("e_len")).alias("len"),
        )
        return paths.union(stepped).groupBy(*_ALL).agg(F.max("len").alias("len"))

    seed = edges.select(*_ALL, F.lit(1).alias("len")).distinct()
    return fixpoint(seed, square, [F.sum("len")])[0]


def topo_levels(t: dict[str, DataFrame]) -> DataFrame:
    """G2 toposort: longest-upstream-chain level per node (SURVEY §2.10).

    Cycles make longest-path undefined, so nodes on a cycle — exactly
    those with a (n, n) pair in the transitive closure — are excluded
    along with their edges, mirroring how the reference's DFS guard
    simply refuses to recurse into visited nodes. Remaining DAG nodes get
    level = length of their longest upstream chain (sources = 0), via
    max-plus path doubling (:func:`_longest_paths`) — O(log d) rounds.
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
    paths = _longest_paths(edges)
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
