"""Split each pass of a perfbench workload's CPU time by where it is spent.

Usage:
    python tools/cpu_split.py observe_tick [--passes 12]

Starts a ``get_spark`` session on perfbench's sf0.01 fixture and runs the
workload's queries, in the workload's order, through ``registry.queries()``,
each materialized through the ``noop`` sink as perfbench does. Prints one
line per pass (pass 0 is the cold one, which fills the lazy memos): wall
time, process-tree CPU, the driver Python's CPU, the driver JVM's CPU by
thread class read from ``/proc/<jvm>/task/*/stat`` (C1 and C2 compiler
threads, GC threads, every other live thread, and threads that ended during
the pass), the Python workers' CPU (the rest of the tree) and the JIT's
compile time from ``CompilationMXBean``. The last line is the median of the
passes after the workload's warm-up passes.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.layers import tree_cpu_s  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

DATA_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")
TICK_S = 1 / os.sysconf("SC_CLK_TCK")
COLUMNS = ("wall", "tree", "python", "C2", "C1", "GC", "jvm_other",
           "jvm_ended", "workers", "jit_ms")


def thread_class(name: str) -> str:
    if name.startswith(("C1 Compiler", "C2 Compiler")):
        return name[:2]
    if name.startswith(("GC Thread", "G1 ")):
        return "GC"
    return "jvm_other"


def jvm_cpu(pid: int) -> tuple[float, dict[int, tuple[str, float]]]:
    """The JVM's CPU seconds so far, and each live thread's (class, seconds)."""
    def ticks(path):
        with open(path) as fh:
            return sum(int(v) for v in fh.read().rsplit(")", 1)[1].split()[11:13])
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                name = fh.read().strip()
            threads[int(tid)] = (thread_class(name), ticks(f"/proc/{pid}/task/{tid}/stat") * TICK_S)
        except OSError:  # the thread ended while the table was read
            continue
    return ticks(f"/proc/{pid}/stat") * TICK_S, threads


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload", choices=sorted(WORKLOADS))
    ap.add_argument("--passes", type=int, default=12)
    args = ap.parse_args(argv)
    from databricks_observe_spark import registry
    from databricks_observe_spark.session import get_spark

    workload = WORKLOADS[args.workload]
    spark = get_spark("cpu_split")
    pid = spark.sparkContext._gateway.proc.pid
    jit = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    queries = registry.queries()
    print(f"{args.workload}: {len(workload.queries)} queries, JVM pid {pid}; CPU seconds")
    print("pass " + " ".join(f"{c:>9s}" for c in COLUMNS))
    rows = []
    try:
        for n in range(args.passes):
            t0, tree0, py0 = time.perf_counter(), tree_cpu_s(), time.process_time()
            jvm0, threads0 = jvm_cpu(pid)
            jit0 = jit.getTotalCompilationTime()
            for name in workload.queries:
                queries[name](spark, DATA_DIR).write.format("noop").mode("overwrite").save()
            jit1 = jit.getTotalCompilationTime()
            jvm1, threads1 = jvm_cpu(pid)
            py1, tree1 = time.process_time(), tree_cpu_s()
            row = dict.fromkeys(COLUMNS, 0.0)
            for tid, (cls, cpu) in threads1.items():
                row[cls] += cpu - threads0.get(tid, (cls, 0.0))[1]
            row.update(wall=time.perf_counter() - t0, tree=tree1 - tree0,
                       python=py1 - py0, jit_ms=jit1 - jit0)
            row["jvm_ended"] = jvm1 - jvm0 - sum(row[c] for c in ("C2", "C1", "GC", "jvm_other"))
            row["workers"] = row["tree"] - row["python"] - (jvm1 - jvm0)
            rows.append(row)
            print(f"{n:4d} " + " ".join(f"{row[c]:9.2f}" for c in COLUMNS), flush=True)
    finally:
        spark.stop()
    steady = rows[1 + workload.warmup_passes:]
    if steady:
        print(" med " + " ".join(
            f"{statistics.median(r[c] for r in steady):9.2f}" for c in COLUMNS))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
