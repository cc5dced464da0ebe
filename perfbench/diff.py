"""Compare two traced run records query by query.

    python3 perfbench/diff.py OLD.json NEW.json

Flags every query whose deterministic counters changed: jobs, stages,
exchanges, Python-worker nodes and shuffle bytes. These repeat exactly
between runs of the same code, so a change in them is a change in the work
done, whatever the wall clock says. Each row also shows the median latency
of both records beside the counters, never alone. Records come from
``perfbench/run.py --trace 1`` (``.perfbench_runs/``). Exits 1 when any
counter changed.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import median  # noqa: E402

COUNTERS = (
    "jobs", "stages", "exchanges", "python_nodes",
    "shuffle_read_b", "shuffle_write_b",
)


def query_counters(record: dict) -> dict[str, dict]:
    """Counters of each query's first traced sample."""
    out: dict[str, dict] = {}
    for p in record["passes"]:
        for q in p.get("queries", ()):
            out.setdefault(q["name"], {c: q[c] for c in COUNTERS})
    if not out:
        raise ValueError("record has no traced pass; run with --trace 1")
    return out


def query_latency(record: dict) -> dict[str, float]:
    """Median latency (build + action) of each query over all passes."""
    samples: dict[str, list[float]] = {}
    for p in record["passes"]:
        for name, s in p.get("latency_s", {}).items():
            samples.setdefault(name, []).append(s)
        for q in p.get("queries", ()):
            samples.setdefault(q["name"], []).append(q["build_s"] + q["exec_s"])
    return {name: median(s) for name, s in samples.items()}


def diff(old: dict, new: dict) -> list[dict]:
    """One row per query in either record, with the counters that changed."""
    c_old, c_new = query_counters(old), query_counters(new)
    l_old, l_new = query_latency(old), query_latency(new)
    rows = []
    for name in sorted(set(c_old) | set(c_new)):
        a, b = c_old.get(name), c_new.get(name)
        if a is None or b is None:
            changed = {"query": (a is not None, b is not None)}
        else:
            changed = {c: (a[c], b[c]) for c in COUNTERS if a[c] != b[c]}
        rows.append({"name": name, "changed": changed,
                     "latency_s": (l_old.get(name), l_new.get(name))})
    return rows


def _fmt(x) -> str:
    return "-" if x is None else f"{x:.3f}"


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    records = []
    for path in argv:
        with open(path) as fh:
            records.append(json.load(fh))
    try:
        rows = diff(*records)
    except ValueError as ex:
        print(f"perfbench/diff.py: {ex}", file=sys.stderr)
        return 2
    print(f"{'query':32s} {'old s':>8s} {'new s':>8s}  counter changes (old -> new)")
    for row in rows:
        changes = ", ".join(f"{c} {a} -> {b}" for c, (a, b) in row["changed"].items())
        mark = "*" if row["changed"] else " "
        print(f"{mark}{row['name']:31s} {_fmt(row['latency_s'][0]):>8s} "
              f"{_fmt(row['latency_s'][1]):>8s}  {changes or 'unchanged'}")
    flagged = sum(1 for r in rows if r["changed"])
    print(f"{flagged} of {len(rows)} queries changed their counters")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
