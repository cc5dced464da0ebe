"""Edge semantics of rewritten operators that the oracle fixtures cannot
reach.

The differential oracle proves each operator's bulk equivalence; these
tests pin the edge paths where a restructured plan reproduces the plain
form's behaviour by explicit construction rather than by shared shape:
empty inputs, duplicate rows and missing bins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_observe_spark.functions.banding import recall_counts
from databricks_observe_spark.operators import catalog_ops as C
from tests.conftest import fresh_context


def test_table_profiles_empty_table_still_yields_zero_row(tables):
    """The fused single-aggregate count form loses empty tables at
    the groupBy; the static-name left join + coalesce must restore the
    reference COUNT(*) semantics: an empty table still profiles with
    row_count = 0."""
    t2 = fresh_context(tables, region=tables["region"].filter(F.lit(False)))
    rows = {r["table"]: r for r in C.table_profiles(t2).collect()}
    assert rows["region"].row_count == 0
    assert rows["region"].n_columns == 2  # catalog side unaffected
    assert len(rows) == 10  # every profiled table still present


def test_lsh_dedup_recall_sum_form_matches_left_semi_multiplicity(spark):
    """``recall_counts`` (the tally behind lsh_dedup_recall and ann_recall)
    counts n_hit as the EXACT-side rows that have >=1 candidate match —
    duplicate exact rows count per occurrence, duplicate candidate rows
    never multiply, and empty inputs coalesce to 0 (the vacuous recall
    path divides by n_true only when it is nonzero)."""
    exact = spark.createDataFrame(
        [(1, 2), (1, 2), (3, 4)], "doc_a bigint, doc_b bigint"
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 2), (5, 6)], "doc_a bigint, doc_b bigint"
    )
    pair = ("doc_a", "doc_b")

    got = recall_counts(exact, cand, pair).first()
    semi = exact.join(cand, on=["doc_a", "doc_b"], how="left_semi").count()
    assert got.n_true == exact.count() == 3
    assert got.n_found == cand.count() == 4
    assert got.n_hit == semi == 2

    empty = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    vac = recall_counts(empty, empty, pair).first()
    assert (vac.n_true, vac.n_found, vac.n_hit) == (0, 0, 0)


def test_psi_map_grid_fills_missing_bins(spark):
    """psi_from_counts' map-exploded grid must cover every bin of
    the fixed grid with zero-filled counts — identical totals to the old
    cross-join + left-join fill, and one output row per type."""
    from databricks_observe_spark.operators.events import psi_from_counts

    counts = spark.createDataFrame(
        [("a", 0, 10, 5), ("a", 3, 2, 8), ("b", 1, 7, 7)],
        "event_type string, bin long, ref_n long, cur_n long",
    )
    out = {r.event_type: r for r in psi_from_counts(counts).collect()}
    assert set(out) == {"a", "b"}
    assert out["a"].n_ref == 12 and out["a"].n_cur == 13
    assert out["b"].n_ref == 7 and out["b"].n_cur == 7
    # a type with identical ref/cur distributions has PSI exactly 0
    assert out["b"].psi_micro == 0
