from __future__ import annotations

import sys
from pathlib import Path
from typing import NamedTuple

import pytest
from pyspark.sql.types import StructType

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from databricks_observe_spark import registry
from databricks_observe_spark.session import get_spark
from tools.check_oracle import compare, oracle_con
from tools.dump_plans import executed_plan

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    """The registry's own context, so the suite and the registry walk in
    the ``surface`` fixture build each index once per session."""
    return registry._ctx(spark, SF_DIR)


def fresh_context(tables: dict, **swaps) -> dict:
    """A new context over ``tables``' fixture with ``swaps`` in place of its
    tables. It keeps none of the ``_`` memos (derived indexes and folded
    scalars of the old tables), so every read builds from the swapped
    ones; ``_sf_dir`` is an input, not a memo, and stays."""
    kept = {k: v for k, v in tables.items() if not k.startswith("_") or k == "_sf_dir"}
    return {**kept, **swaps}


class Probe(NamedTuple):
    plan: str
    schema: StructType | None  # None when the query raised
    rows: list
    verdict: list[str] | None  # oracle mismatches; None for rows-only


@pytest.fixture(scope="session")
def surface(spark) -> dict[str, Probe]:
    """Every registered query built once: its executed plan (read before
    collecting), schema, collected rows and oracle verdict. Read by
    tests/test_surface.py, tests/test_output_types.py and
    tests/test_plans.py."""
    con = oracle_con(SF_DIR)
    oracles = registry.oracle_sql()
    out = {}
    for name, query in registry.queries().items():
        try:
            sdf = query(spark, SF_DIR)
            plan = executed_plan(sdf)
            rows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            out[name] = Probe("", None, [], [f"spark error: {ex}"])
            continue
        verdict = compare(sdf, rows, con, oracles[name]) if name in oracles else None
        out[name] = Probe(plan, sdf.schema, rows, verdict)
    con.close()
    return out
