"""Dense-vector kernels with ONE summation order, and their DuckDB twins.

Every dot product and squared distance in the engine sums its per-dimension
terms left to right, ``t1 + t2 + ... + td``, in IEEE double. The numpy
kernels below are the only place that loop is written; each has a SQL twin
that renders the same sum as an unrolled expression for the DuckDB oracle:

================  =======================  ==============================
numpy kernel      shape                    DuckDB twin
================  =======================  ==============================
``dot_rows``      (n, d), (n, d) -> (n,)   ``dot_sql_unrolled``
``dot_outer``     (m, d), (n, d) -> (m, n) ``dot_sql_unrolled``
``sq_dist_outer`` (m, d), (n, d) -> (m, n) ``sq_dist_sql_unrolled``
================  =======================  ==============================

Because the operation order matches term for term, norms, cosines, bucket
signs and distances are bit-identical across the two engines and across any
partitioning; ``tests/test_vector_kernels_property.py`` checks this with
``==``. A BLAS matmul (``a @ b.T``) sums in its own order, so it may only
prefilter candidates that a kernel then rescores.

``tiled_cosine_pairs`` is the one exact all-pairs cosine threshold join
built on them.
"""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F


def dot_rows(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot products ``a[i] . b[i]``; a one-row ``b`` broadcasts."""
    acc = a[:, 0] * b[:, 0]
    for d in range(1, a.shape[1]):
        acc = acc + a[:, d] * b[:, d]
    return acc


def dot_outer(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """All dot products ``a[i] . b[j]`` as an (m, n) matrix."""
    acc = np.outer(a[:, 0], b[:, 0])
    for d in range(1, a.shape[1]):
        acc = acc + np.outer(a[:, d], b[:, d])
    return acc


def sq_dist_outer(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """All squared L2 distances ``|a[i] - b[j]|^2`` as an (m, n) matrix."""
    d0 = a[:, 0][:, None] - b[:, 0][None, :]
    acc = d0 * d0
    for d in range(1, a.shape[1]):
        dd = a[:, d][:, None] - b[:, d][None, :]
        acc = acc + dd * dd
    return acc


def dot_sql_unrolled(a: str, b: str, dim: int) -> str:
    """DuckDB twin of :func:`dot_rows` / :func:`dot_outer`."""
    terms = [f"{a}[{i}] * {b}[{i}]" for i in range(1, dim + 1)]
    return "(" + " + ".join(terms) + ")"


def norm_sql_unrolled(v: str, dim: int) -> str:
    """DuckDB twin of ``np.sqrt(dot_rows(v, v))``."""
    return f"sqrt({dot_sql_unrolled(v, v, dim)})"


def sq_dist_sql_unrolled(a: str, b: str, dim: int) -> str:
    """DuckDB twin of :func:`sq_dist_outer`."""
    terms = [f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])" for i in range(1, dim + 1)]
    return "(" + " + ".join(terms) + ")"


def hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH, as plain literals.

    Rounded to 6 decimals so that rendering them into SQL text parses to
    bit-identical doubles in any engine (strtod is correctly rounded).
    """
    rng = random.Random(seed)
    return [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(n_planes)
    ]


def tiled_cosine_pairs(
    frame: DataFrame, group: Column, n_blocks: Column, threshold: float
) -> DataFrame:
    """Exact cosine threshold self-join within each group, block-tiled.

    ``frame`` holds ``vec_id`` (bigint), ``v`` (array<double>) and ``nrm``
    (the row's L2 norm); ``group`` is an int column over it and
    ``n_blocks`` the row's block count, constant within a group. Returns
    ``g, a, b, cosine`` for every pair ``a < b`` of one group whose cosine
    is ``>= threshold``.

    Rows are hashed into ``n_blocks`` blocks per group. A row in block k is
    copied as the left side of block pairs (k, k..nb-1) and as the right
    side of (0..k, k), so every unordered block pair is one cogroup key and
    one task holds at most two blocks: no pair table, no join. Each task
    prefilters with a BLAS matmul and rescores the survivors with
    :func:`dot_rows`, so the emitted cosines are bit-identical to the SQL
    twin.
    """
    keyed = frame.select(
        group.cast("int").alias("g"),
        n_blocks.cast("int").alias("nb"),
        "vec_id",
        "v",
        "nrm",
    ).withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.col("nb")).cast("int"))

    def side(bi: Column, bj: Column) -> DataFrame:
        # re-aliased: the two sides of a self-cogroup must not share
        # attribute ids, or the right side's payload columns are pruned
        return keyed.select(
            bi.alias("bi"),
            bj.alias("bj"),
            *(F.col(c).alias(c) for c in ("g", "vec_id", "v", "nrm")),
        )

    left = side(F.col("blk"), F.explode(F.sequence(F.col("blk"), F.col("nb") - 1)))
    right = side(F.explode(F.sequence(F.lit(0), F.col("blk"))), F.col("blk"))
    thr_pre = threshold - 1e-6

    def score(key, lpdf, rpdf):
        import pandas as _pd

        la = rb = np.zeros(0, dtype=np.int64)
        cos = np.zeros(0)
        if len(lpdf) and len(rpdf):
            lids = lpdf["vec_id"].to_numpy()
            rids = rpdf["vec_id"].to_numpy()
            lmat = np.array(lpdf["v"].tolist(), dtype=np.float64)
            rmat = np.array(rpdf["v"].tolist(), dtype=np.float64)
            lnrm = lpdf["nrm"].to_numpy()
            rnrm = rpdf["nrm"].to_numpy()
            ai, bj = np.nonzero((lmat @ rmat.T) / np.outer(lnrm, rnrm) >= thr_pre)
            if key[1] == key[2]:
                # same block on both sides: keep the id-ordered half of each pair
                keep = lids[ai] < rids[bj]
                ai, bj = ai[keep], bj[keep]
            cos = dot_rows(lmat[ai], rmat[bj]) / (lnrm[ai] * rnrm[bj])
            ok = cos >= threshold
            la, rb, cos = lids[ai][ok], rids[bj][ok], cos[ok]
        return _pd.DataFrame(
            {
                "g": np.full(len(la), key[0]),
                "a": np.minimum(la, rb),
                "b": np.maximum(la, rb),
                "cosine": cos,
            }
        )

    return (
        left.groupBy("g", "bi", "bj")
        .cogroup(right.groupBy("g", "bi", "bj"))
        .applyInPandas(score, "g int, a bigint, b bigint, cosine double")
    )
