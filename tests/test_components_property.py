"""Property-based check of near-dup label propagation against a pure-Python
union-find.

``connected_components`` is the min-label fixpoint behind the near-dup
clusters; exercise it on arbitrary small undirected graphs — isolated
edges, chains, cycles, self-loops, repeated and reversed edges — and
compare against an obviously-correct reference implementation.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from databricks_observe_spark.operators.dedup import connected_components

NODES = list(range(1, 13))

edges_strategy = st.lists(
    st.tuples(st.sampled_from(NODES), st.sampled_from(NODES)),
    min_size=1,
    max_size=14,
)


def python_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """node -> minimum node of its component, by union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edges_strategy)
def test_components_match_union_find(spark, edges):
    df = spark.sql(
        "SELECT * FROM (VALUES "
        + ", ".join(f"({a}, {b})" for a, b in edges)
        + ") AS t(doc_a, doc_b)"
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(df).collect()}
    assert got == python_components(edges)
