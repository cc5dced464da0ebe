"""The numpy vector kernels against their DuckDB twins, and the tiled pair
join against a brute-force reference.

Every similarity and dedup query is checkable against the DuckDB oracle only
because ``dot_rows``, ``dot_outer`` and ``sq_dist_outer`` sum their terms in
the same IEEE order as the unrolled SQL. These tests compare with ``==``,
never approximately: a kernel that sums in another order (a BLAS matmul,
``np.sum``, a pairwise tree) fails them.
"""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays
from pyspark.sql import functions as F

from databricks_observe_spark.functions.vectors import (
    dot_outer,
    dot_rows,
    dot_sql_unrolled,
    sq_dist_outer,
    sq_dist_sql_unrolled,
    tiled_cosine_pairs,
)

PACKAGE = Path(__file__).resolve().parent.parent / "databricks_observe_spark"
VECTORS = PACKAGE / "functions" / "vectors.py"

# mantissa in [-1, 1] scaled by 2^-30 .. 2^30: mixed magnitudes and signs,
# so a different summation order changes the rounded result
_element = st.builds(
    lambda m, e: m * 2.0**e,
    st.floats(-1.0, 1.0, allow_nan=False, allow_infinity=False),
    st.integers(-30, 30),
)


@st.composite
def matrix_pair(draw):
    dim = draw(st.integers(1, 64))
    m = draw(st.integers(1, 6))
    n = draw(st.integers(1, 6))
    a = draw(arrays(np.float64, (m, dim), elements=_element))
    b = draw(arrays(np.float64, (n, dim), elements=_element))
    return a, b


def _duckdb_outer(sql_twin, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(m, n) matrix of ``sql_twin('a.v', 'b.v', dim)`` evaluated by DuckDB."""
    con = duckdb.connect()
    for name, mat in (("ta", a), ("tb", b)):
        frame = pd.DataFrame({"i": range(len(mat)), "v": [list(r) for r in mat]})
        con.register(name + "_df", frame)
        con.execute(f"CREATE TABLE {name} AS SELECT i, v::DOUBLE[] AS v FROM {name}_df")
    rows = con.execute(
        f"SELECT a.i, b.i, {sql_twin('a.v', 'b.v', a.shape[1])} "
        "FROM ta a CROSS JOIN tb b"
    ).fetchall()
    out = np.empty((len(a), len(b)))
    for i, j, x in rows:
        out[i, j] = x
    return out


@settings(max_examples=60, deadline=None)
@given(pair=matrix_pair())
def test_dot_kernels_equal_duckdb_unrolled_sql(pair):
    a, b = pair
    want = _duckdb_outer(dot_sql_unrolled, a, b)
    assert (dot_outer(a, b) == want).all()
    # dot_rows on the rows of the outer product
    ai, bi = np.divmod(np.arange(len(a) * len(b)), len(b))
    assert (dot_rows(a[ai], b[bi]) == want[ai, bi]).all()


@settings(max_examples=60, deadline=None)
@given(pair=matrix_pair())
def test_sq_dist_kernel_equals_duckdb_unrolled_sql(pair):
    a, b = pair
    assert (sq_dist_outer(a, b) == _duckdb_outer(sq_dist_sql_unrolled, a, b)).all()


def test_no_accumulation_loop_outside_vectors():
    loop = re.compile(r"for d in range\(1,")
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == VECTORS:
            continue
        text = path.read_text()
        for m in loop.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            hits.append(f"{path.relative_to(PACKAGE.parent)}:{line}")
    assert hits == [], "use the functions/vectors.py kernels: " + ", ".join(hits)


# --- tiled_cosine_pairs vs brute force ---------------------------------------

_component = st.integers(-3, 3).map(float)


@st.composite
def grouped_vectors(draw):
    """Rows (g, nb, vec_id, v, nrm) for up to 4 groups of 0..7 vectors each,
    nb in 1..5 per group, plus a threshold at (or one ulp beside) the exact
    cosine of one of the pairs."""
    dim = draw(st.integers(2, 4))
    vec = st.lists(_component, min_size=dim, max_size=dim).filter(any)
    rows, vec_id = [], 0
    for g in range(draw(st.integers(1, 4))):
        nb = draw(st.integers(1, 5))
        for v in draw(st.lists(vec, max_size=7)):
            mat = np.array([v])
            rows.append((g, nb, vec_id, v, float(np.sqrt(dot_rows(mat, mat))[0])))
            vec_id += 1
    cosines = sorted(set(_reference(rows, -2.0).values()))
    threshold = draw(st.sampled_from(cosines)) if cosines else 0.5
    threshold = float(
        np.nextafter(threshold, draw(st.sampled_from([-np.inf, threshold, np.inf])))
    )
    return rows, threshold


def _reference(rows, threshold: float) -> dict[tuple[int, int, int], float]:
    """(g, a, b) -> cosine for every same-group pair a < b at or above
    ``threshold``, scored by ``dot_rows``."""
    out = {}
    for g, _, a, va, na in rows:
        for h, _, b, vb, nb in rows:
            if g == h and a < b:
                cos = float(dot_rows(np.array([va]), np.array([vb]))[0] / (na * nb))
                if cos >= threshold:
                    out[(g, a, b)] = cos
    return out


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=grouped_vectors())
def test_tiled_cosine_pairs_match_brute_force(spark, case):
    rows, threshold = case
    frame = spark.createDataFrame(
        rows, "g int, nb int, vec_id bigint, v array<double>, nrm double"
    )
    got = {
        (r.g, r.a, r.b): r.cosine
        for r in tiled_cosine_pairs(
            frame, F.col("g"), F.col("nb"), threshold
        ).collect()
    }
    assert got == _reference(rows, threshold)
