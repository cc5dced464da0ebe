"""The split memos (``sources/tables.py:fan_out``): their scale contract,
checked on plans, and the lint that keeps the corpus spread inside them.

An under-split table is spread once per context, so no operator spreads
its own input: a keyless ``repartition`` in a query is a round-robin
shuffle of the whole frame on every call.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from databricks_observe_spark.sources.tables import documents_split
from tests.test_plans import jobs_run
from tools.dump_plans import executed_plan

PACKAGE = Path(__file__).resolve().parent.parent / "databricks_observe_spark"
# the one module allowed to spread a frame, and the function that does
SPLIT_MEMO = ("sources/tables.py", "fan_out")


def test_split_memo_keeps_a_well_split_frame(spark):
    sc = spark.sparkContext
    docs = spark.range(0, 64, numPartitions=sc.defaultParallelism)
    t = {"documents": docs}
    assert jobs_run(sc, "split_memo.well_split", lambda: documents_split(t)) == 0
    assert documents_split(t) is docs


def test_split_memo_spreads_an_under_split_frame_once(spark):
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    if cores == 1:
        pytest.skip("a one-core session has no under-split frame")
    docs = spark.range(0, 64, numPartitions=1)
    t = {"documents": docs}
    split = documents_split(t)
    plan = executed_plan(split)
    assert "Scan ExistingRDD" in plan and "Exchange" not in plan
    assert split.rdd.getNumPartitions() == cores
    assert sorted(split.collect()) == sorted(docs.collect())
    assert documents_split(t) is split


def _names_a_key(arg: ast.expr) -> bool:
    """A column name, a ``F.<fn>(...)`` Column or a starred column list."""
    if isinstance(arg, ast.Starred):
        return True
    if isinstance(arg, ast.Constant):
        return isinstance(arg.value, str)
    return (
        isinstance(arg, ast.Call)
        and isinstance(arg.func, ast.Attribute)
        and isinstance(arg.func.value, ast.Name)
        and arg.func.value.id == "F"
    )


def keyless_repartitions(tree: ast.Module) -> list[tuple[int, str]]:
    """(line, top-level scope) of every ``.repartition(...)`` call whose
    arguments name no key."""
    hits = []
    for stmt in tree.body:
        scope = getattr(stmt, "name", "<module>")
        for node in ast.walk(stmt):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "repartition"
                and not any(_names_a_key(a) for a in node.args)
            ):
                hits.append((node.lineno, scope))
    return hits


def test_no_corpus_shuffle_outside_the_split_memo():
    sample = ast.parse(
        "def f(d):\n    return d.repartition(8)\n"
        'def g(d):\n    return d.repartition(8, "k"), d.repartition(F.col("k"))\n'
    )
    assert keyless_repartitions(sample) == [(2, "f")]
    paths = [
        *PACKAGE.glob("operators/*.py"),
        *PACKAGE.glob("functions/*.py"),
        *PACKAGE.glob("sources/*.py"),
    ]
    assert len(paths) > 10
    sites = [
        (path.relative_to(PACKAGE).as_posix(), line, scope)
        for path in sorted(paths)
        for line, scope in keyless_repartitions(ast.parse(path.read_text()))
    ]
    assert any((rel, scope) == SPLIT_MEMO for rel, _, scope in sites), SPLIT_MEMO
    hits = [f"{rel}:{line} ({scope})" for rel, line, scope in sites
            if (rel, scope) != SPLIT_MEMO]
    assert hits == [], "read a split memo (documents_split) instead: " + ", ".join(hits)
