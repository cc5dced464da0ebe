"""The plan table: one row of physical-operator counts per registered query.

Usage:
    python tools/dump_plans.py            # rewrite tests/plan_table.json
    python tools/dump_plans.py NAME ...   # print those queries' formatted plans

The table is measured on the tier-1 fixture, walking ``registry.queries()``
the way the ``surface`` fixture in tests/conftest.py does: one ``get_spark``
session, registry order, each executed plan read before its frame is
collected. ``tests/test_surface.py::test_plan_table`` fails when a row and
its query's plan disagree in either direction, so every plan change lands
as a one-line diff per query. The six streaming queries' rows describe the
frame the query returns (the memory-sink readback), not the plan of the
stream's micro-batches.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLE = os.path.join(ROOT, "tests", "plan_table.json")

# row-local nodes: they never move, join or aggregate rows
IGNORED = {"Project", "Filter", "ColumnarToRow", "AdaptiveSparkPlan"}

# node name at the start of a plan-tree line, after the tree drawing and
# any whole-stage-codegen id such as "*(2) ", then the rest of the line
_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)(.*)$")
_EXPR_ID = re.compile(r"#\d+L?")
_JOIN_TYPE = re.compile(
    r", (Inner|LeftOuter|RightOuter|FullOuter|LeftSemi|LeftAnti|Cross|ExistenceJoin)\b"
)


def executed_plan(sdf) -> str:
    return sdf._jdf.queryExecution().executedPlan().toString()


def _hash_keys(args: str) -> str:
    """The key list of ``hashpartitioning(<args>``, without expression
    ids or the partition count."""
    depth = 0
    for end, ch in enumerate(args):
        depth += (ch == "(") - (ch == ")")
        if depth < 0:
            break
    return _EXPR_ID.sub("", args[:end].rsplit(", ", 1)[0])


def _aggregate_mode(rest: str, child: str | None) -> str:
    # the plan string prints no aggregate mode; buffer-emitting functions
    # carry a partial_/merge_ prefix, and an aggregate without functions
    # (a DISTINCT) is final when it reads an exchange or another aggregate
    functions = re.search(r"functions=\[(.*?)\], output=", rest).group(1)
    if functions:
        partial = "partial_" in functions or "merge_" in functions
    else:
        partial = not (child == "Exchange" or (child or "").endswith("Aggregate"))
    return "partial" if partial else "final"


def plan_row(plan: str) -> dict[str, int]:
    """Sparse count of the physical node kinds in an executed-plan string.

    Exchanges count by partitioning, hash exchanges with their key list;
    joins by operator and join type; scans by source; aggregates as
    partial or final; every other node by name, except the row-local
    ``IGNORED`` ones, so a node kind nobody listed still shows up."""
    nodes = [m.groups() for m in map(_NODE.match, plan.splitlines()) if m]
    row: Counter[str] = Counter()
    for i, (node, rest) in enumerate(nodes):
        if node in IGNORED:
            continue
        kind = node
        word = re.match(r" ?(\w*)", rest).group(1)  # partitioning or source
        if node == "Exchange":
            kind = f"Exchange {word}"
            if word == "hashpartitioning":
                kind += f"({_hash_keys(rest[len(' hashpartitioning('):])})"
        elif node.endswith("Join") or node == "CartesianProduct":
            join_type = _JOIN_TYPE.search(rest)
            kind = f"{node} {join_type.group(1)}" if join_type else node
        elif node in ("FileScan", "Scan"):
            kind = f"{node} {word}"
        elif node.endswith("Aggregate"):
            child = nodes[i + 1][0] if i + 1 < len(nodes) else None
            kind = f"{node} {_aggregate_mode(rest, child)}"
        row[kind] += 1
    return dict(row)


def row_changes(old: dict[str, int], new: dict[str, int]) -> str:
    """The keys whose counts differ, as ``key: old -> new``."""
    return ", ".join(
        f"{key}: {old.get(key, 0)} -> {new.get(key, 0)}"
        for key in sorted(old.keys() | new.keys())
        if old.get(key, 0) != new.get(key, 0)
    )


def read_table() -> dict[str, dict[str, int]]:
    with open(TABLE) as f:
        return json.load(f)


def write_table(rows: dict[str, dict[str, int]]) -> None:
    lines = [
        f"{json.dumps(name)}: {json.dumps(rows[name], sort_keys=True)}"
        for name in sorted(rows)
    ]
    with open(TABLE, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")


def main(names: list[str]) -> None:
    sys.path.insert(0, ROOT)
    from databricks_observe_spark import registry
    from databricks_observe_spark.session import get_spark
    from tests.conftest import SF_DIR

    spark = get_spark("tests")
    queries = registry.queries()
    if names:
        for name in names:
            queries[name](spark, SF_DIR).explain("formatted")
        return
    rows = {}
    for name, query in queries.items():
        sdf = query(spark, SF_DIR)
        rows[name] = plan_row(executed_plan(sdf))
        sdf.collect()
    write_table(rows)
    print(f"wrote {len(rows)} rows to {os.path.relpath(TABLE, ROOT)}")


if __name__ == "__main__":
    main(sys.argv[1:])
