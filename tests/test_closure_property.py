"""Property-based check of the lineage closure against a pure-Python BFS.

The transitive closure is the hardest custom operator (a path-doubling
fixpoint loop); exercise it on arbitrary small digraphs — cycles,
self-edges, diamonds, disconnected parts — and compare against an
obviously-correct reference implementation.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from databricks_observe_spark.operators.lineage import (
    lineage_closure,
    transitive_closure,
)

NODES = list("abcdefg")

edges_strategy = st.lists(
    st.tuples(st.sampled_from(NODES), st.sampled_from(NODES)),
    min_size=1,
    max_size=12,
    unique=True,
)


def python_closure(edges: list[tuple[str, str]]) -> set[tuple[str, str]]:
    """Reference semantics (assets/dlt_assets.py:59-77): drop direct
    self-edges, then full reachability over the remaining digraph."""
    adj: dict[str, set[str]] = {}
    for d, s in edges:
        if d != s:
            adj.setdefault(d, set()).add(s)
    out: set[tuple[str, str]] = set()
    for start in adj:
        seen: set[str] = set()
        stack = list(adj[start])
        while stack:
            n = stack.pop()
            if n in seen:
                continue
            seen.add(n)
            stack.extend(adj.get(n, ()))
        out |= {(start, n) for n in seen}
    return out


def _edges_df(spark, edges: list[tuple[str, str]]):
    return spark.sql(
        "SELECT * FROM (VALUES "
        + ", ".join(f"('c','s','{d}','c','s','{s}')" for d, s in edges)
        + ") AS t(dst_catalog,dst_schema,dst_table,src_catalog,src_schema,src_table)"
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edges_strategy)
def test_closure_matches_python_reference(spark, edges):
    """The memoized registry entry point yields the reference closure."""
    t = {"lineage_edges": _edges_df(spark, edges)}
    got = {(r.dst_table, r.src_table) for r in lineage_closure(t).collect()}
    assert got == python_closure(edges)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edges_strategy)
def test_doubling_closure_equals_bfs_closure(spark, edges):
    """Path doubling must reach the same fixpoint as single-hop BFS on
    arbitrary digraphs (cycles, self-edges, diamonds, disconnected), in a
    logarithmic number of rounds."""
    closure, rounds = transitive_closure(_edges_df(spark, edges))
    got = {(r.dst_table, r.src_table) for r in closure.collect()}
    assert got == python_closure(edges)
    assert rounds <= 5  # 7-node graph: depth <= 6 < 2^3, plus confirm rounds
