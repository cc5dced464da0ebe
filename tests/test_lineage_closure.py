from __future__ import annotations

from pyspark.sql import functions as F

from databricks_observe_spark.operators.lineage import (
    asset_specs,
    base_edges,
    transitive_closure,
)


def _closure_pairs(spark, edges):
    df = spark.sql(
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"('c','s','{d}','c','s','{s}')" for d, s in edges
        )
        + ") AS t(dst_catalog,dst_schema,dst_table,src_catalog,src_schema,src_table)"
    )
    return {
        (r.dst_table, r.src_table) for r in transitive_closure(df)[0].collect()
    }


def test_chain_closure(spark):
    # a <- b <- c: a's upstreams are {b, c}
    pairs = _closure_pairs(spark, [("a", "b"), ("b", "c")])
    assert pairs == {("a", "b"), ("b", "c"), ("a", "c")}


def test_self_edge_filtered(spark):
    # direct self-edge dropped before traversal (DA:68-69)
    pairs = _closure_pairs(spark, [("a", "a"), ("a", "b")])
    assert pairs == {("a", "b")}


def test_cycle_terminates_and_includes_self(spark):
    # x <- y <- x cycle: terminates; x is its own *transitive* upstream —
    # the reference only filters direct self-deps (get_recursive_lineage,
    # dlt_assets.py:59-77), so (x, x) via the cycle is kept.
    pairs = _closure_pairs(spark, [("x", "y"), ("y", "x")])
    assert pairs == {("x", "y"), ("y", "x"), ("x", "x"), ("y", "y")}


def test_diamond_dedup(spark):
    # a <- {b, c} <- d: (a, d) appears once despite two paths (DA:77 dedup)
    pairs = _closure_pairs(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")])
    assert ("a", "d") in pairs and len(pairs) == 5


def test_asset_specs_assembly(tables):
    rows = {r.asset_key: r for r in asset_specs(tables).collect()}
    # SKIP_ASSETS anti-filter removed the flagship output (P3)
    assert "testdata.main.us_customers" not in rows
    # excluded schema rows never discovered (P2)
    assert not any("information_schema" in k for k in rows)
    # lineitem reaches the cycle through part: cyc nodes in its closure
    li = rows["testdata.main.lineitem"]
    ups = set(li.upstreams_str.split(","))
    assert {"testdata.main.cyc_a", "testdata.main.cyc_b"} <= ups
    assert li.n_upstreams == len(ups)
    # kinds: sorted distinct {kind, format-kind, databricks} (DA:127)
    assert rows["testdata.main.orders"].kinds_str == "databricks,deltalake,managed"
    # J1 left-outer defaults for the SHOW-only object (DA:110-120)
    adhoc = rows["testdata.main.ad_hoc_view"]
    assert adhoc.kind == "table" and adhoc.format == "" and adhoc.n_upstreams == 0


def test_topo_levels_dag_semantics(tables):
    from databricks_observe_spark.operators.lineage import topo_levels

    rows = {(r.catalog, r.schema, r["table"]): r.level for r in topo_levels(tables).collect()}
    # cycle nodes (cyc_a, cyc_b) are excluded; part loses its cyc_a edge
    # but stays in the DAG as a source through the lineitem<-part edge
    assert ("testdata", "main", "cyc_a") not in rows
    assert ("testdata", "main", "cyc_b") not in rows
    assert rows[("testdata", "main", "part")] == 0
    # region is a source: level 0; the chain region->nation->customer->orders->lineitem
    assert rows[("testdata", "main", "region")] == 0
    assert rows[("testdata", "main", "nation")] == 1
    assert rows[("testdata", "main", "customer")] == 2
    assert rows[("testdata", "main", "orders")] == 3
    assert rows[("testdata", "main", "lineitem")] == 4
    # us_customers sits above customer (level 2) -> 3
    assert rows[("testdata", "main", "us_customers")] == 3


def test_deep_closure_converges_logarithmically(tables):
    """The path-doubling closure must prove its cadence at depth: the
    ~100-deep chain converges in <= 8 doubling rounds (2^7 > 103), and
    the closure matches first-principles expectations for the chain,
    the side inputs, and the cycle."""
    import math

    from databricks_observe_spark.operators.lineage import transitive_closure
    from databricks_observe_spark.sources.catalog_model import DEEP_CHAIN_LEN

    # lineage_closure_deep is this closure; its rows meet the oracle in the
    # surface walk
    closure, rounds = transitive_closure(tables["lineage_edges_deep"])
    rows = closure.collect()
    assert rounds <= math.ceil(math.log2(DEEP_CHAIN_LEN + 4)) + 1, rounds

    up = {}
    for r in rows:
        up.setdefault(r.dst_table, set()).add(r.src_table)
    # d000's upstream closure: the whole chain, every side input, the cycle
    assert {f"d{i:03d}" for i in range(1, DEEP_CHAIN_LEN + 1)} <= up["d000"]
    assert {f"side{i:03d}" for i in range(0, DEEP_CHAIN_LEN, 10)} <= up["d000"]
    assert {"cyc_x", "cyc_y", "cyc_z"} <= up["d000"]
    # depth respected: d090 cannot reach below itself in the chain
    assert up["d090"] == (
        {f"d{i:03d}" for i in range(91, DEEP_CHAIN_LEN + 1)}
        | {"side090"}
        | {"cyc_x", "cyc_y", "cyc_z"}
    )
    # cycle members reach themselves transitively (only DIRECT self-edges drop)
    assert "cyc_x" in up["cyc_x"]


def test_doubling_checkpoint_partitions_track_closure_size(tables):
    """The MATERIALIZED closure (what every doubling round scans) carries
    the size-tracked partition count, not the session shuffle width."""
    from databricks_observe_spark.functions.fixpoint import ROWS_PER_PARTITION
    from databricks_observe_spark.operators.lineage import transitive_closure

    closure, _ = transitive_closure(tables["lineage_edges_deep"])
    n = closure.count()
    expect = max(1, n // ROWS_PER_PARTITION)
    assert closure.rdd.getNumPartitions() == expect


def test_doubling_width_repins_when_closure_outgrows_seed(spark, monkeypatch):
    """The loop's shuffle width must TRACK the closure as it outgrows the
    base edge set, not stay at the first iteration's value. A 64-node chain's
    closure is 64*63/2 = 2016 pairs from 63 seed edges (a 32x growth);
    with the rows-per-partition constant shrunk to 500 the width must have
    re-pinned to 2016 // 500 = 4 by the final round — observable as the
    materialized closure's partition count — while the caller's session
    width is never touched."""
    from databricks_observe_spark.functions import fixpoint
    from databricks_observe_spark.operators.lineage import transitive_closure

    monkeypatch.setattr(fixpoint, "ROWS_PER_PARTITION", 500)
    edges = spark.sql(
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"('c','s','n{i}','c','s','n{i + 1}')" for i in range(63)
        )
        + ") AS t(dst_catalog,dst_schema,dst_table,"
        "src_catalog,src_schema,src_table)"
    )
    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    closure, rounds = transitive_closure(edges)
    n = closure.count()
    assert n == 64 * 63 // 2
    assert closure.rdd.getNumPartitions() == n // 500
    assert rounds <= 8  # O(log d) cadence intact
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_width
