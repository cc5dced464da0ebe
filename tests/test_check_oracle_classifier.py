"""Pin the differential-gate classifier (tools/check_oracle.py).

The pandas-surface classifier is part of the correctness gate: the
score_auc decimal-vs-float divergence lived on that surface while rows
and schema matched. These tests pin its behaviours so a refactor cannot
silently re-open them:

- mixed-type object columns classify over an evenly spaced sample of the
  cells (a divergence only in the tail is invisible to a first-cell or a
  head-slice sample);
- list-like cells recurse one level into element types (list-of-Decimal
  vs list-of-float must not collapse to an undifferentiated 'list'), over
  an evenly spaced element sample;
- both samples come from _sample_idx: the full budget and the full span,
  first and last index always included, max contiguous gap
  ceil((len-1)/(budget-1)). A ceil-step stride can spend half the budget
  and skip up to step-1 trailing cells; a floor-step stride capped at the
  budget leaves a contiguous unsampled tail block of up to about half the
  column for budget < len < 2*budget, the sort-order-correlated region
  where a divergence most likely lands;
- list recursion is depth-capped (_CLS_MAX_DEPTH), so a self-referential
  cell terminates instead of recursing forever;
- the empty-class wildcard applies only in --surface-limit sampled mode
  (full mode stays strict: None-vs-NaT on an all-null column is a real
  rendering divergence and must fail).

Pure-pandas unit tests — no SparkSession, no DuckDB, sub-second.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import numpy as np
import pandas as pd

from tools.check_oracle import _cell_cls, _pandas_cls, _sample_idx, _surface_match


class TestSampleIdx:
    """Pin the three properties _sample_idx's docstring claims."""

    def test_small_n_returns_every_index(self):
        assert _sample_idx(0, 8) == []
        assert _sample_idx(1, 8) == [0]
        assert _sample_idx(8, 8) == list(range(8))
        assert _sample_idx(1024, 1024) == list(range(1024))

    def test_full_budget_and_span_and_gap_bound(self):
        # the head-block zone budget < n < 2*budget, plus exact
        # multiples, off-by-ones, and a 100x-budget column
        for budget in (8, 1024):
            for n in (
                budget + 1,
                budget + budget // 2,  # mid failure zone
                2 * budget - 1,  # top of the failure zone
                2 * budget,
                2 * budget + 1,
                100 * budget + 7,
            ):
                idx = _sample_idx(n, budget)
                assert idx[0] == 0 and idx[-1] == n - 1, (n, budget)
                assert len(idx) == budget, (n, budget, len(idx))  # full budget
                max_gap = max(b - a for a, b in zip(idx, idx[1:]))
                assert max_gap <= math.ceil((n - 1) / (budget - 1)), (n, budget)

    def test_degenerate_budget_no_zero_division(self):
        # the linear map divides by budget-1, so budget=1 with
        # n > budget would raise ZeroDivisionError (call sites use 8 and
        # 1024; the guard keeps the helper total). A 1-index budget
        # cannot include both ends; it keeps index 0.
        assert _sample_idx(5, 1) == [0]
        assert _sample_idx(2, 1) == [0]
        assert _sample_idx(5, 0) == []
        assert _sample_idx(5, -3) == []
        # n <= budget still short-circuits before the guard
        assert _sample_idx(1, 1) == [0]
        assert _sample_idx(0, 1) == []

    def test_r13_head_concentration_gone(self):
        # a floor-stride+cap sample for n=1500, budget=1024 is cells
        # 0..1023 + 1499: indices 1024..1498 form one contiguous
        # unsampled block of 475 cells. The evenly spaced sample reaches
        # them.
        idx = _sample_idx(1500, 1024)
        assert any(1024 <= j <= 1498 for j in idx)
        assert max(b - a for a, b in zip(idx, idx[1:])) <= 2


class TestCellCls:
    def test_scalars(self):
        assert _cell_cls(Decimal("1")) == "decimal"
        assert _cell_cls(3) == "int"
        assert _cell_cls(np.int64(3)) == "int"
        assert _cell_cls(1.5) == "float"
        assert _cell_cls(np.float64(1.5)) == "float"
        assert _cell_cls("x") == "str"
        assert _cell_cls(b"x") == "bin"

    def test_bool_before_int(self):
        # Python bool subclasses int; numpy likewise — a bool cell must
        # never classify as int
        assert _cell_cls(True) == "bool"
        assert _cell_cls(np.bool_(True)) == "bool"

    def test_datetime_before_date(self):
        # datetime.datetime subclasses datetime.date
        assert _cell_cls(datetime.date(2020, 1, 1)) == "date"
        assert _cell_cls(datetime.datetime(2020, 1, 1)) == "ts"
        assert _cell_cls(pd.Timestamp("2020-01-01")) == "ts"

    def test_list_recurses_one_level(self):
        assert _cell_cls([1.0, 2.0]) == "list<float>"
        assert _cell_cls([Decimal("1")]) == "list<decimal>"
        assert _cell_cls(np.array([1.0])) == "list<float>"
        assert _cell_cls((1, 2)) == "list<int>"
        assert _cell_cls([]) == "list<?>"
        assert _cell_cls([None, 1.0]) == "list<float>"

    def test_list_tail_element_divergence_caught(self):
        # a divergent element type appearing only PAST index 8 of a
        # long list evades a head-slice element sample (the tail of a
        # 384-dim embedding is the real case)
        v = [1.0] * 383 + [Decimal("1")]
        assert _cell_cls(v) == "list<decimal,float>"
        # ...and the final element is included BY CONSTRUCTION in the
        # evenly spaced sample (_sample_idx always emits n-1), so a
        # lone divergent LAST element is always caught:
        v2 = [1.0] * 99 + [Decimal("1")]
        assert _cell_cls(v2) == "list<decimal,float>"

    def test_elem_sample_spans_the_r13_failure_zone(self):
        # for budget < len < 2*budget a floor-stride+cap sample is the
        # head `budget` elements plus the final one — len 12, budget 8
        # samples indices 0..7 + 11, so a divergent element at index 9
        # evades. _sample_idx(12, 8) =
        # {0,1,3,4,6,7,9,11}: full budget, spans the list, catches it.
        assert _sample_idx(12, 8) == [0, 1, 3, 4, 6, 7, 9, 11]
        v = [1.0] * 9 + [Decimal("1")] + [1.0] * 2
        assert _cell_cls(v) == "list<decimal,float>"

    def test_list_recursion_depth_capped(self):
        # nested lists classify through _CLS_MAX_DEPTH levels, then
        # truncate to a marker instead of recursing forever (scalars
        # classify regardless of depth — only LIST recursion is capped)
        assert _cell_cls([[1.0]]) == "list<list<float>>"
        assert _cell_cls([[[1.0]]]) == "list<list<list<float>>>"
        assert _cell_cls([[[[1.0]]]]) == "list<list<list<list<...>>>>"
        # a self-referential cell terminates
        v = [1.0]
        v.append(v)
        assert "list" in _cell_cls(v)


class TestPandasCls:
    def test_native_dtypes(self):
        assert _pandas_cls(pd.Series([1, 2])) == "int"
        assert _pandas_cls(pd.Series([1.0])) == "float"
        assert _pandas_cls(pd.Series([True, False])) == "bool"
        assert _pandas_cls(pd.Series(pd.to_datetime(["2020-01-01"]))) == "ts"

    def test_object_homogeneous(self):
        s = pd.Series([Decimal("1"), Decimal("2")], dtype=object)
        assert _pandas_cls(s) == "decimal"

    def test_nested_element_divergence_detected(self):
        # list-of-Decimal (Spark) vs list-of-float (DuckDB) must yield
        # DIFFERENT classes
        spark_like = pd.Series([[Decimal("1")], [Decimal("2")]], dtype=object)
        duck_like = pd.Series([[1.0], [2.0]], dtype=object)
        assert _pandas_cls(spark_like) == "list<decimal>"
        assert _pandas_cls(duck_like) == "list<float>"
        assert not _surface_match(_pandas_cls(spark_like), _pandas_cls(duck_like))

    def test_mixed_type_column_not_hidden_by_first_cell(self):
        s = pd.Series([1, "x"], dtype=object)
        assert _pandas_cls(s) == "mixed{int,str}"

    def test_tail_only_divergence_caught_by_strided_sample(self):
        # 1500 Decimals then ONE float: a head-slice sample of 1024 cells
        # and a first-cell classifier both say 'decimal'
        s = pd.Series([Decimal("1")] * 1500 + [1.0], dtype=object)
        assert _pandas_cls(s) == "mixed{decimal,float}"

    def test_final_cell_divergence_caught(self):
        # a lone divergent LAST cell (len 1502) — the most likely landing
        # spot for a sort-order-correlated divergence — is always
        # examined (_sample_idx always includes index n-1)
        s = pd.Series([Decimal("1")] * 1501 + [1.0], dtype=object)
        assert _pandas_cls(s) == "mixed{decimal,float}"

    def test_cell_budget_fully_spent(self):
        # a ceil-step stride spends as little as half the cell budget
        # — len 1025, budget 1024 -> ceil step 2 samples only the 513
        # even indices, so a divergent cell at an odd NON-final index
        # (513) evades. _sample_idx(1025, 1024) = {0..1022, 1024}: the
        # full 1024-index budget, and 513 is sampled.
        cells = [Decimal("1")] * 1025
        cells[513] = 1.0
        s = pd.Series(cells, dtype=object)
        assert _pandas_cls(s) == "mixed{decimal,float}"

    def test_r13_unsampled_tail_block_divergence_caught(self):
        # len 1500, budget 1024 -> floor step 1, so a floor-stride+cap
        # sample is cells 0..1023 + 1499 and a divergent cell anywhere
        # in 1024..1498 evades. Index 1200
        # sits mid-block and is on the evenly spaced sample
        # (_sample_idx(1500, 1024) contains 1200); gap bound 2.
        cells = [Decimal("1")] * 1500
        cells[1200] = 1.0
        s = pd.Series(cells, dtype=object)
        assert _pandas_cls(s) == "mixed{decimal,float}"

    def test_r12_regression_case_still_caught(self):
        # a divergent cell at index 1500 of a 2000-cell column: a
        # ceil-stride samples it, a floor-stride+cap sample misses it
        # (head block + final reaches only 1023 then 1999), and the
        # evenly spaced scheme samples it (1500 in
        # _sample_idx(2000, 1024))
        assert 1500 in _sample_idx(2000, 1024)
        cells = [Decimal("1")] * 2000
        cells[1500] = 1.0
        s = pd.Series(cells, dtype=object)
        assert _pandas_cls(s) == "mixed{decimal,float}"

    def test_empty_list_merges_into_typed_class(self):
        # [] and [1, 2] in one column are the same class
        s = pd.Series([[], [1, 2]], dtype=object)
        assert _pandas_cls(s) == "list<int>"

    def test_all_null_and_all_empty(self):
        assert _pandas_cls(pd.Series([None, None], dtype=object)) == "object-empty"
        assert _pandas_cls(pd.Series([[], []], dtype=object)) == "list<?>"


class TestSurfaceMatch:
    def test_full_mode_is_strict(self):
        # strict at the gate default: an all-null
        # object column vs a concrete class is a FAIL (None vs NaT is a
        # real pandas-surface rendering divergence)
        assert not _surface_match("object-empty", "ts")
        assert not _surface_match("list<?>", "list<float>")
        assert not _surface_match("decimal", "float")

    def test_sampled_mode_wildcards_only_empties(self):
        # in --surface-limit mode an empty class is a sampling artifact
        # (each engine limited a different row subset), not evidence
        assert _surface_match("object-empty", "ts", sampled=True)
        assert _surface_match("list<?>", "list<float>", sampled=True)
        # ...but concrete-vs-concrete divergence still fails
        assert not _surface_match("decimal", "float", sampled=True)

    def test_equal_always_matches(self):
        assert _surface_match("decimal", "decimal")
        assert _surface_match("list<float>", "list<float>", sampled=True)
