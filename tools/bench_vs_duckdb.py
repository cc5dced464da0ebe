"""Compare Spark wall-clock vs the DuckDB oracle for every registered query.

Per-query time (BOTH engines) is the min of two in-run passes — the same
steady-state protocol bench.py and tools/scale_sweep.py document (the first
pass pays whole-stage-codegen JIT for whichever queries the verification
rotation put early in the run order; that is measurement order, not query
cost, and a real cluster's JVMs are warm). BASELINE.md then takes the
per-row minimum across three serialized full runs (tools/merge_bench_runs.py)
to reject the host's noisy-neighbor episodes.

Usage: python tools/bench_vs_duckdb.py [--sf DIR] [--md]
Prints one line per query; --md emits a markdown table row format (used to
refresh the measured table in BASELINE.md).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--md", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    import __spark_entry__ as e
    from databricks_observe_spark.session import get_spark
    from databricks_observe_spark.sources.tables import TABLE_NAMES

    spark = get_spark("bench-vs-duckdb")
    qs, osql = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    qs["flagship_us_customers"](spark, args.sf).count()  # warmup

    # setup phase (timed separately, emitted as its own row): build the
    # shared derived indexes — written tables at scale — so per-query
    # numbers measure steady-state execution. The builder list is the
    # SAME function bench.py runs (setup_phase.py), so the two harnesses
    # cannot drift apart.
    from databricks_observe_spark.registry import _ctx
    from databricks_observe_spark.setup_phase import build_setup_indexes

    t0 = time.time()
    ctx = _ctx(spark, args.sf)
    build_setup_indexes(spark, ctx, args.sf)
    setup_s = time.time() - t0

    # per-query steady-state = min of two in-run passes, applied to BOTH
    # engines identically — the same documented protocol bench.py and the
    # SCALING.md sweep have always used (a real cluster's JVMs are warm;
    # the first pass pays whole-stage-codegen JIT for whichever queries
    # the rotation put early in the run order, which is measurement
    # order, not query cost)
    tot_s = tot_d = 0.0
    rows = []
    for name in qs:
        ts = float("inf")
        for _ in range(2):
            t0 = time.time()
            n = qs[name](spark, args.sf).count()
            ts = min(ts, time.time() - t0)
        td = float("nan")
        if name in osql:
            td = float("inf")
            for _ in range(2):
                t0 = time.time()
                con.execute(osql[name]).fetchall()
                td = min(td, time.time() - t0)
            tot_d += td
        tot_s += ts
        rows.append((name, ts, td, n))

    if args.md:
        print("| query | spark s | duckdb s | ratio | rows |")
        print("|---|---|---|---|---|")
        print(f"| _index setup (build-once written tables at scale)_ | "
              f"{setup_s:.2f} | — | — | |")
        for name, ts, td, n in rows:
            ratio = f"{ts / td:.1f}x" if td == td else "—"
            tds = f"{td:.2f}" if td == td else "—"
            print(f"| {name} | {ts:.2f} | {tds} | {ratio} | {n} |")
        print(f"| **steady-state total** | **{tot_s:.1f}** | **{tot_d:.1f}** | "
              f"**{tot_s / tot_d:.1f}x** | |")
        print(f"| **total incl. setup** | **{tot_s + setup_s:.1f}** | "
              f"**{tot_d:.1f}** | **{(tot_s + setup_s) / tot_d:.1f}x** | |")
    else:
        print(f"SETUP (index builds) spark={setup_s:.1f}s")
        for name, ts, td, n in rows:
            print(f"{name:32s} spark={ts:6.2f}s duck={td:6.2f}s rows={n}")
        print(f"TOTAL spark={tot_s:.1f}s (+{setup_s:.1f}s setup) duck={tot_d:.1f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
