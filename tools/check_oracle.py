"""Local differential oracle check — mimics the driver's CORRECTNESS gate.

Runs every ``queries()`` entry on Spark (sf0.01 by default) and its
``oracle_sql()`` twin on DuckDB over the same parquet; :func:`compare`
holds the whole per-query comparison, which the ``surface`` fixture in
``tests/conftest.py`` runs over the registry at sf0.001 in every tier-1 run:

- column-name set and per-column type representation class (an Arrow
  DECIMAL from a DuckDB HUGEINT differs from Spark's int64 even when the
  values agree);
- row count, then an order-insensitive exact value comparison (columns
  sorted by name, rows sorted). Strict: floats must match bit-for-bit —
  the engine is built to produce exact decimal-derived doubles;
- the pandas conversion surface (``sdf.toPandas()`` vs
  ``con.execute(sql).df()`` dtype classes). DuckDB's ``.df()`` renders
  DECIMAL(38,0) as float64 while Spark's ``toPandas`` yields
  object/Decimal; the Arrow comparison above is blind to it (both
  engines surface decimal128 there). A pandas-surface mismatch is a FAIL
  even when every value matches.

Sampling contract: object columns classify over a bounded, evenly spaced
sample of cells (``_sample_idx``: first and final cell always included,
the full budget spent, every unsampled gap bounded), and list-like cells
recurse into their element types, sampled the same way, up to
``_CLS_MAX_DEPTH`` nesting levels. A divergence confined below that cap
classifies identically on both engines, so the output-type test in
``tests/test_output_types.py`` fails any registered query whose output nests
arrays or maps deeper than ``_CLS_MAX_DEPTH``.

``--surface-limit`` optionally bounds the conversion cost at larger scale
factors; it samples each engine's rows independently, so it must never
become the default (see its help text).

Usage: python tools/check_oracle.py [name ...] [--sf DIR] [--vanilla]
"""

from __future__ import annotations

import argparse
import math
import os
import re
import sys
import time

import duckdb
import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _norm_spark_dtype(dt: str) -> str:
    """Collapse a Spark simpleString dtype to a representation class."""
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt.startswith("decimal"):
        return "decimal"
    if dt.startswith("array"):
        return "list"
    if dt.startswith("timestamp"):
        return "ts"
    return {"string": "str", "boolean": "bool", "binary": "bin", "date": "date"}.get(
        dt, dt
    )


def _norm_arrow_type(t: pa.DataType) -> str:
    """Collapse an Arrow type to the same representation classes.

    DuckDB's HUGEINT (the result type of SUM over integers) surfaces as
    decimal128(38,0) in Arrow, which is what the driver's value-hash
    distinguishes from Spark's int64 — fetchall() would hide it.
    """
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_date(t):
        return "date"
    return str(t)


# how many object cells / list elements to type-classify per column —
# bounded so classification stays O(1) per column at any SF, but wide
# enough that a mixed-type column cannot hide behind its first cell
_CLS_CELL_SAMPLE = 1024
_CLS_ELEM_SAMPLE = 8


def _sample_idx(n: int, budget: int) -> list:
    """Evenly spaced sample indices over ``range(n)``.

    Properties (each one pinned in test_check_oracle_classifier.py):
    - always includes index 0 and index n-1;
    - spends the FULL budget: exactly ``budget`` distinct indices when
      n >= budget (the linear map i -> i*(n-1)//(budget-1) is strictly
      increasing once its real-valued step (n-1)/(budget-1) >= 1), and
      every index when n <= budget;
    - SPANS the range: no contiguous unsampled gap exceeds
      ceil((n-1)/(budget-1)) items.

    A divergence confined to the unsampled interior items between
    consecutive sampled indices can still evade — inherent to any
    bounded-budget sample.
    """
    if n <= budget:
        return list(range(n))
    if budget <= 1:
        # degenerate budget (the linear map below divides by budget-1);
        # keep the first-and-last invariant as far as the budget allows
        # — [0] for budget 1, [] for budget <= 0
        return [0][: max(budget, 0)]
    return sorted({i * (n - 1) // (budget - 1) for i in range(budget)})


# list-nesting levels classified before truncating: bounds recursion so
# a pathological self-referential cell cannot loop forever;
# tests/test_output_types.py fails any registered output nested deeper
_CLS_MAX_DEPTH = 3


def _cell_cls(v, _depth: int = 0) -> str:
    """Representation class of ONE cell, recursing into list-likes up to
    ``_CLS_MAX_DEPTH`` nesting levels: a list-of-Decimal vs list-of-float
    split must not collapse to an undifferentiated 'list'. The per-level
    element sample is evenly spaced across the whole list
    (``_sample_idx``), so the first and final elements are always
    classified."""
    import datetime as _dt
    import decimal as _dec

    import numpy as _np

    # bool BEFORE int: Python bool subclasses int, numpy likewise
    if isinstance(v, (bool, _np.bool_)):
        return "bool"
    if isinstance(v, _dec.Decimal):
        return "decimal"
    if isinstance(v, (int, _np.integer)):
        return "int"
    if isinstance(v, (float, _np.floating)):
        return "float"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (bytes, bytearray)):
        return "bin"
    if isinstance(v, _dt.datetime):  # datetime BEFORE date (subclass)
        return "ts"
    if isinstance(v, _dt.date):
        return "date"
    if isinstance(v, (list, tuple, _np.ndarray)):
        if _depth >= _CLS_MAX_DEPTH:
            return "list<...>"  # depth-capped, never silently scalar-typed
        seq = list(v)
        if not seq:
            return "list<?>"  # no classifiable element in this cell
        # evenly spaced sample (same scheme as the cell-level sample in
        # _pandas_cls, one level down): full budget, spans the range,
        # first and final element always examined — see _sample_idx
        sample = [seq[j] for j in _sample_idx(len(seq), _CLS_ELEM_SAMPLE)]
        elems = {_cell_cls(x, _depth + 1) for x in sample if x is not None}
        if not elems:
            return "list<?>"  # all sampled elements were None
        return "list<" + ",".join(sorted(elems)) + ">"
    return "object:" + type(v).__name__


def _pandas_cls(series) -> str:
    """Collapse a pandas column to the representation class a
    value-canonicalizing hasher would see (str/repr of the cells).

    Object columns classify over a bounded SAMPLE of non-null cells —
    evenly spaced across the whole column, first and final cell always
    included — and list-like cells recurse (depth-capped, sampled the
    same way) into element types, so a mixed-type column or an
    element-type divergence cannot evade the gate behind a leading
    well-typed cell or an unsampled tail block."""
    dt = str(series.dtype)
    if dt.startswith(("int", "uint")):
        return "int"
    if dt.startswith("float"):
        return "float"
    if dt.startswith("datetime64"):
        return "ts"
    if dt == "bool":
        return "bool"
    if dt == "object":
        nn = series.dropna()
        if len(nn) == 0:
            return "object-empty"
        # evenly spaced, not a head slice: a divergence correlated with
        # sort order (the canon sort puts high keys last) must not land
        # in an unexamined tail — see _sample_idx
        cells = list(nn.iloc[_sample_idx(len(nn), _CLS_CELL_SAMPLE)])
        classes = {_cell_cls(v) for v in cells}
        # merge element-unknown list cells into a typed list class when
        # one exists ([] and [1,2] in one column are the same class)
        if "list<?>" in classes and any(
            c.startswith("list<") and c != "list<?>" for c in classes
        ):
            classes.discard("list<?>")
        if len(classes) == 1:
            return classes.pop()
        return "mixed{" + ",".join(sorted(classes)) + "}"
    return dt


def _surface_match(a: str, b: str, sampled: bool = False) -> bool:
    """True when two pandas-surface classes are compatible.

    Strict equality in FULL mode (the sf0.01 gate default): an all-null
    object column vs an all-NaT datetime64 column (None vs NaT) is a
    real rendering divergence on the pandas surface and must FAIL. The
    'object-empty'/'list<?>' wildcard applies ONLY in sampled (--surface-limit) mode, where an empty class is a
    sampling artifact — each engine limited a different row subset — not
    evidence about the full column."""
    if a == b:
        return True
    if not sampled:
        return False
    wild = {"object-empty", "list<?>"}
    return a in wild or b in wild


def canon_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_cell(x) for x in v)
    return v


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def oracle_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table under ``sf_dir``."""
    from databricks_observe_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare(sdf, srows: list, con, sql: str, surface_limit: int = 0) -> list[str]:
    """Every way the Spark frame ``sdf`` (collected as ``srows``) differs
    from the oracle ``sql`` on ``con``; empty when they match. Checks the
    column set and type classes, the row count, the exact values, then the
    pandas surface (``surface_limit`` > 0 bounds its conversion to that
    many rows per engine)."""
    try:
        tbl = con.execute(sql).arrow()
    except Exception as ex:
        return [f"duckdb error: {ex}"]
    ocols = tbl.column_names
    orows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_columns else []
    sc, sr = canon_rows(sdf.columns, srows)
    oc, orr = canon_rows(ocols, orows)
    styp = {c: _norm_spark_dtype(re.sub(r"\s", "", d)) for c, d in sdf.dtypes}
    otyp = {c: _norm_arrow_type(tbl.schema.field(i).type) for i, c in enumerate(ocols)}
    status = []
    if sc != oc:
        status.append(f"schema spark={sc} duck={oc}")
    else:
        mism = {c: (styp[c], otyp[c]) for c in sc if styp.get(c) != otyp.get(c)}
        if mism:
            status.append(f"typerep spark-vs-duck {mism}")
    if len(sr) != len(orr):
        status.append(f"rowcount spark={len(sr)} duck={len(orr)}")
    if not status and sr != orr:
        ndiff = sum(1 for a, b in zip(sr, orr) if a != b)
        status.append(f"values differ ({ndiff}/{len(sr)} rows)")
        a, b = next((a, b) for a, b in zip(sr, orr) if a != b)
        status.append(f"  spark={a!r}\n  duck ={b!r}")
    if status:
        return status
    try:
        if surface_limit > 0:
            pdf = sdf.limit(surface_limit).toPandas()
            ddf = con.execute(f"SELECT * FROM ({sql}) LIMIT {surface_limit}").df()
        else:
            pdf = sdf.toPandas()
            ddf = con.execute(sql).df()
    except Exception as ex:  # surface the conversion error itself
        return [f"pandas-surface error: {ex}"]
    pmism = {}
    for c in pdf.columns:
        pc, dc = _pandas_cls(pdf[c]), _pandas_cls(ddf[c])
        if not _surface_match(pc, dc, sampled=surface_limit > 0):
            pmism[c] = (pc, dc)
    return [f"pandas-surface {pmism}"] if pmism else []


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a bare SparkSession like the verification driver does",
    )
    ap.add_argument(
        "--surface-limit",
        type=int,
        default=0,
        help="bound the pandas-surface CONVERSION/TRANSFER to the first "
        "N rows per engine (0 = full, the default). Scope honesty: this "
        "does NOT bound the second execution itself — an aggregate/"
        "window/join query still computes fully on both engines before "
        "LIMIT can take rows — so it only pays off for large-OUTPUT "
        "queries (passthrough/per-row shapes) where the toPandas/.df() "
        "materialization dominates. Full stays the default at the "
        "gate's sf0.01 because limiting is SAMPLED per engine — each "
        "engine limits its own (differently ordered) row subset, so a "
        "mostly-null column or a nullable int (whose pandas dtype flips "
        "int64->float64 only when the sample happens to include a null) "
        "could classify differently and flake the gate; _surface_match "
        "relaxes to wildcard-on-empty ONLY in this sampled mode. "
        "(Reusing the already-fetched Arrow table instead was rejected: "
        "Arrow's to_pandas renders DECIMAL as object-of-Decimal where "
        "DuckDB's .df() renders float64 — it would NOT reproduce the "
        ".df() surface this check exists to compare.) CONSTRAINT: "
        "sampled mode must never become the gate default as "
        "long as the two samples are unordered; if it ever is promoted, "
        "both samples must first be ordered identically (reuse the "
        "canon_rows sort keys) before limiting.",
    )
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    import __spark_entry__ as e

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]").appName("oracle-check").getOrCreate()
        )
    else:
        from databricks_observe_spark.session import get_spark

        spark = get_spark("oracle-check")
    qs, oracles = e.queries(), e.oracle_sql()
    names = args.names or list(qs)

    con = oracle_con(args.sf)
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        status = compare(sdf, srows, con, oracles[name], args.surface_limit)
        if status:
            print(f"FAIL {name}: " + "; ".join(status[:3]))
            failures.append(name)
        else:
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{len(names)-len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
