"""The one candidate layer of the similarity family.

Banded LSH gives every row one key per band; two rows are candidates when
they share the key of some band, so work follows key collisions, not n^2.
``band_members`` explodes the (band, key) memberships, ``band_candidates``
self-joins them, and ``recall_counts`` scores a pair set against its
ground truth. Candidate generation stays apart from exact verification:
callers rescore or verify the pairs and take the distinct themselves,
since a pair sharing several bands is emitted once per band.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame, functions as F


def band_members(
    df: DataFrame,
    id_col: str,
    keys: Iterable[tuple[int, Column]],
    carry: Sequence[str] = (),
) -> DataFrame:
    """``(id_col, band, key, *carry)``, one row per ``(band, key)`` pair
    of ``keys`` (columns over ``df``, all of one type; a band may repeat,
    as multiprobe keys do). One explode, so one Generate node."""
    member = F.explode(
        F.array(
            *[F.struct(F.lit(band).alias("band"), key.alias("key")) for band, key in keys]
        )
    ).alias("m")
    return df.select(id_col, *carry, member).select(id_col, "m.band", "m.key", *carry)


def band_candidates(members: DataFrame, a: str, b: str) -> DataFrame:
    """``(a, b, *carry_a, *carry_b)``: pairs of :func:`band_members` ids
    that share a (band, key), ordered ``a < b``, with each carry column
    suffixed per side. One equi-join; not distinct."""
    id_col, _, _, *carry = members.columns

    def side(name: str, suffix: str) -> DataFrame:
        return members.select(
            F.col(id_col).alias(name),
            "band",
            "key",
            *[F.col(c).alias(c + suffix) for c in carry],
        )

    return (
        side(a, "_a")
        .join(side(b, "_b"), on=["band", "key"])
        .filter(F.col(a) < F.col(b))
        .select(a, b, *[c + "_a" for c in carry], *[c + "_b" for c in carry])
    )


def recall_counts(
    truth: DataFrame,
    found: DataFrame,
    pair_cols: Sequence[str],
    by: Sequence[str] = (),
) -> DataFrame:
    """``(*by, n_true, n_found, n_hit)`` of ``found`` against ``truth``,
    pairs keyed on ``pair_cols`` and counted per ``by`` group (``by=()``:
    one global row). ``n_hit`` counts truth rows whose pair was found, so
    repeated found rows never multiply. One pass, no join: tag, union,
    group per pair, group per ``by``. The counts are coalesced to 0 since
    a global SUM over zero groups is NULL."""
    def tagged(df: DataFrame, e: int, c: int) -> DataFrame:
        return df.select(*pair_cols, F.lit(e).alias("e"), F.lit(c).alias("c"))

    per_pair = (
        tagged(truth, 1, 0)
        .union(tagged(found, 0, 1))
        .groupBy(*pair_cols)
        .agg(F.sum("e").alias("n_e"), F.sum("c").alias("n_c"))
    )
    hit = F.when((F.col("n_e") > 0) & (F.col("n_c") > 0), F.col("n_e")).otherwise(F.lit(0))
    zero = F.lit(0).cast("bigint")
    return per_pair.groupBy(*by).agg(
        F.coalesce(F.sum("n_e"), zero).alias("n_true"),
        F.coalesce(F.sum("n_c"), zero).alias("n_found"),
        F.coalesce(F.sum(hit), zero).alias("n_hit"),
    )
