"""The ``functions/rounding.py`` twins against DuckDB, and the lint that
keeps every ``ln``/``pow`` in the package on them.

The LM-score and drift oracles match bit for bit only because each
Spark-side ``nano_grid``/``ln_micro``/``pow_nano`` computes exactly what its
SQL twin computes in DuckDB. The property test compares the two with
``==``; a twin that drops the clamp, the ``+ 0.5`` or a scale factor fails
it.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from databricks_observe_spark.functions.rounding import (
    ln_micro,
    nano_grid,
    pow_nano,
    sql_ln_micro,
    sql_nano_grid,
    sql_pow_nano,
)
from databricks_observe_spark.operators.text import MIXTURE_ALPHA

PACKAGE = Path(__file__).resolve().parent.parent / "databricks_observe_spark"
ROUNDING = PACKAGE / "functions" / "rounding.py"

# mantissa in [1, 10) times 10^-12 .. 10^2: ratios from 1e-12 to 1e3, the
# ones below 5e-10 clamping to 1 nano
_ratio = st.builds(
    lambda m, e: m * 10.0**e,
    st.floats(1.0, 10.0, exclude_max=True),
    st.integers(-12, 2),
)
# the ratios always present: clamped, the clamp edge, the grid's half point
_FIXED = [1e-12, 4.9e-10, 5e-10, 1.5e-9, 1.0, 1e3]


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ratios=st.lists(_ratio, min_size=1, max_size=20),
    alpha=st.sampled_from([MIXTURE_ALPHA, 0.5, 1.5, 2.0]),
)
def test_twins_equal_duckdb(spark, ratios, alpha):
    rows = list(enumerate(_FIXED + ratios))
    got = {
        r.i: (r.nano, r.lnm, r.pwn)
        for r in spark.createDataFrame(rows, "i int, r double")
        .select(
            "i",
            nano_grid(F.col("r")).alias("nano"),
            ln_micro(F.col("r")).alias("lnm"),
            pow_nano(F.col("r"), alpha).alias("pwn"),
        )
        .collect()
    }
    with duckdb.connect() as con:
        con.register("rf", pd.DataFrame(rows, columns=["i", "r"]))
        want = {
            i: (nano, lnm, pwn)
            for i, nano, lnm, pwn in con.execute(
                f"SELECT i, {sql_nano_grid('r')}, {sql_ln_micro('r')}, "
                f"{sql_pow_nano('r', alpha)} FROM rf"
            ).fetchall()
        }
    assert got == want


# --- lint: ln/pow only in functions/rounding.py ------------------------------

_SPARK_FNS = {"log", "ln", "log10", "log2", "log1p", "pow", "power", "exp", "expm1"}
_SQL_FN = re.compile(r"\b(?:ln|log|log10|log2|pow|power|exp)\(", re.I)

# The two sites that keep their own ln, by design, named by their top-level
# def or constant:
# - tfidf_keywords: product form on an exact integer ratio
#   (test_ln_boundary.py::test_tfidf_product_grid_boundary_distance);
# - the A-ES key: floor without the + 0.5, on a 2^-52 grid
#   (test_dedup_similarity.py::test_aes_ln_floor_margin).
OWN_LN = {
    ("operators/text.py", "tfidf_keywords"),
    ("operators/text.py", "TFIDF_KEYWORDS_SQL"),
    ("operators/dedup.py", "_aes_lnu_scaled"),
    ("operators/dedup.py", "WEIGHTED_SAMPLE_TOPK_SQL"),
}


def _scope(stmt: ast.stmt) -> str:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return stmt.name
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [
        getattr(stmt, "target", None)
    ]
    names = [t.id for t in targets if isinstance(t, ast.Name)]
    return names[0] if names else "<module>"


def transcendental_sites(tree: ast.Module) -> list[tuple[int, str]]:
    """(line, top-level scope) of every ``F.<transcendental>(...)`` call and
    every string fragment calling one in SQL; docstrings are skipped."""
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
        and isinstance(node.body[0].value.value, str)
    }
    hits = []
    for stmt in tree.body:
        scope = _scope(stmt)
        for node in ast.walk(stmt):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
                and node.func.attr in _SPARK_FNS
            ):
                hits.append((node.lineno, scope))
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
            ):
                for m in _SQL_FN.finditer(node.value):
                    line = node.lineno + node.value.count("\n", 0, m.start())
                    hits.append((line, scope))
    return hits


def test_ln_pow_only_in_rounding():
    sample = ast.parse(
        'def f():\n    """ln(x) in a docstring"""\n    return F.log(c)\n'
        'S = f"FLOOR(ln({g}) * 1e6)"\n'
    )
    assert transcendental_sites(sample) == [(3, "f"), (4, "S")]
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == ROUNDING:
            continue
        rel = path.relative_to(PACKAGE).as_posix()
        for line, scope in transcendental_sites(ast.parse(path.read_text())):
            if (rel, scope) not in OWN_LN:
                hits.append(f"{rel}:{line} ({scope})")
    assert hits == [], (
        "route ln/pow through the functions/rounding.py twins: " + ", ".join(hits)
    )
