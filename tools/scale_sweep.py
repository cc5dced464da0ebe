"""Scale-sweep: run bench.py at sf0.001 / sf0.01 / sf0.1 and report how
each headline query's steady-state wall time grows with data size.

The point is the SHAPE, not the absolute numbers: across the two
decades of fixture scale,

- a FLOOR-BOUND query (growth ~1x per 10x data) is dominated by Spark's
  per-job scheduling floor — on a real cluster that floor amortizes and
  the query costs what its data costs;
- a LINEAR query (~10x per 10x data) is rows-proportional with a
  healthy constant — the plan the 100 TB design wants;
- anything SUPER-LINEAR (>~12x per 10x) would indicate a quadratic
  candidate blow-up or a skew collapse and is flagged loudly.

Each scale factor runs in its own subprocess (fresh JVM, fresh ctx) so
no index or JIT state leaks across SFs; setup is excluded by bench.py's
own accounting.

Usage: python tools/scale_sweep.py [--out SCALING.md]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SFS = ["sf0.001", "sf0.01", "sf0.1"]


def run_bench(sf: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=f"/root/testdata/{sf}",
        SPARK_GRAFT_BENCH_ALL="1",  # full registered surface, not headline
    )
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    # bench.py prints TWO JSON lines; select the full one by KEY (it
    # carries the per-query map, the compact one carries `compact: true`)
    # rather than by line position, so reordering can't break this.
    for line in out.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        parsed = json.loads(line)
        if isinstance(parsed, dict) and "queries" in parsed:
            return parsed
    raise RuntimeError(f"no full JSON line (with 'queries') from bench.py at {sf}")


def classify(growth: float) -> str:
    if growth < 2.0:
        return "floor-bound"
    if growth < 8.0:
        return "sub-linear"
    if growth <= 12.0:
        return "linear"
    return "SUPER-LINEAR"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(ROOT, "SCALING.md"))
    args = ap.parse_args()

    results = {sf: run_bench(sf) for sf in SFS}
    names = list(results[SFS[-1]]["queries"])

    lines = [
        "# SCALING — steady-state wall time vs fixture scale",
        "",
        "Produced by `python tools/scale_sweep.py` (serialized bench.py",
        "runs, one fresh JVM per scale factor; per-query time = bench.py's",
        "min-of-two steady-state protocol, setup excluded and reported",
        "separately). `growth` = sf0.1 time / sf0.01 time for 10x the",
        "data; see tools/scale_sweep.py for the class bands.",
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | growth (10x data) | class |",
        "|---|---|---|---|---|---|",
    ]
    flagged = []
    for n in names:
        ts = [results[sf]["queries"].get(n) for sf in SFS]
        if any(t is None for t in ts):
            continue
        growth = ts[2] / ts[1] if ts[1] > 0 else float("inf")
        cls = classify(growth)
        if cls == "SUPER-LINEAR":
            flagged.append(n)
        lines.append(
            f"| {n} | {ts[0]:.3f} | {ts[1]:.3f} | {ts[2]:.3f} "
            f"| {growth:.1f}x | {cls} |"
        )
    setup = " / ".join(f"{results[sf]['setup_sec']:.1f}" for sf in SFS)
    tot = " / ".join(f"{results[sf]['value']:.1f}" for sf in SFS)
    lines += [
        "",
        f"Totals (steady): {tot} s; setup: {setup} s across "
        f"{' / '.join(SFS)}.",
        "",
    ]
    if flagged:
        lines.append(
            "**SUPER-LINEAR rows (investigate): " + ", ".join(flagged) + "**"
        )
    else:
        lines.append(
            "**No query grows super-linearly across the sweep** — no "
            "quadratic candidate blow-ups, no skew collapse; "
            "floor-bound rows are exactly the tens-of-rows outputs the "
            "per-row BASELINE.md analysis attributes to the per-job "
            "scheduling floor."
        )
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {args.out} ({len(names)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
