"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload observe_tick --seed 1 --seconds 8 --trace 0

Run from the repository root. One run:

1. starts a session through ``session.get_spark`` at ``local[<cores>]`` with
   every engine setting at its default and prepares the fixture context;
2. runs a cold pass that collects every result for the correctness check,
   then the workload's warm-up passes, so lazy memo fills and JIT land in
   set-up (``setup_s``);
3. runs closed-loop passes over the workload's queries from one client
   thread, starting passes until ``--seconds`` have passed, each pass in an
   order drawn from ``--seed`` (the set-up passes keep the workload's
   order). Every result is fully materialised through the ``noop`` sink;
   ``count()`` would let Catalyst drop the final projections. Each query's
   latency and the CPU time of the process tree (driver, JVM, Python
   workers) during it are recorded;
4. checks the collected results against the DuckDB oracle;
5. prints one line per metric and, last, one JSON object.

With ``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1``
they are the per-layer ones: plain and traced passes alternate, and a traced
pass times the build call, the executed-plan call and the action apart and
reads Spark's job, stage and streaming accounting after each query; for
``curation`` a ``build_setup_indexes`` call on a context of its own follows
the passes. The run record, with every per-query sample, is written to
``.perfbench_runs/<workload>-seed<seed>-trace<trace>.json``; ``perfbench/diff.py``
compares two of them.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.layers import (  # noqa: E402
    ProgressCollector,
    StatusReader,
    add_into,
    aggregate_progress,
    job_floor_ms,
    jvm_peak_rss_mb,
    plan_counters,
    tree_cpu_s,
    vm_steal_ticks,
)
from perfbench.stats import median, percentile  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

FIXTURES = os.path.join(ROOT, "perfbench", "data")
DATA_DIR = os.path.join(FIXTURES, "sf0.01")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
RECORD_DIR = os.path.join(ROOT, ".perfbench_runs")
MB = 1e6

# The gated end-to-end metrics. A steady pass is gated by the CPU time the
# engine's processes spend on it, not by its wall time: on a shared 4-vCPU
# VM the host took 0-30% of the guest's CPU time, varying from minute to
# minute, and ten runs of the same code spread their wall-clock pass times
# by 30-50% of the median (quartile distance). Stolen time is charged to no
# process; CPU time still rises on a busy host (shared cores and caches),
# but ten runs spread it by 7-15%. The wall-clock pass time and query
# percentiles are printed and recorded beside it.
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}

_LAYER_UNITS = {
    "session.start_s": "s",
    "session.job_floor_ms": "ms",
    "session.jvm_peak_rss_mb": "MB",
    "engine.prepare_s": "s",
    "engine.prepare_jobs": "count",
    "setup_phase.wall_s": "s",
    "setup_phase.busy_s": "s",
    "setup_phase.overlap": "ratio",
    "setup_phase.slowest_index_s": "s",
    "setup_phase.jobs": "count",
    "setup_phase.task_s": "s",
    "setup_phase.shuffle_write_mb": "MB",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_share": "ratio",
    "catalyst.plan_s": "s",
    "catalyst.exchanges": "count",
    "catalyst.single_partition_exchanges": "count",
    "catalyst.python_nodes": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.core_busy": "ratio",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "functions.arrowmap.queries": "count",
    "functions.arrowmap.exec_s": "s",
    "streaming.state.micro_batches": "count",
    "streaming.state.trigger_p50_ms": "ms",
    "streaming.state.query_planning_s": "s",
    "streaming.state.add_batch_s": "s",
    "streaming.state.checkpoint_s": "s",
    "streaming.state.state_commit_s": "s",
    "streaming.state.state_rows": "count",
    "streaming.state.input_rows_per_s": "1/s",
    "trace.overhead_share": "ratio",
}


def per_layer_units(modules) -> dict[str, str]:
    """Every per-layer metric name -> unit, per-module ones included."""
    out = dict(_LAYER_UNITS)
    for module in sorted(modules):
        out[f"operators.{module}.build_s"] = "s"
        out[f"operators.{module}.exec_s"] = "s"
        out[f"operators.{module}.jobs"] = "count"
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def keep_writes_inside(work_dir: str) -> None:
    """Point every scratch location of the driver, the JVM and the Python
    workers below ``work_dir``. Must run before the JVM starts."""
    shutil.rmtree(work_dir, ignore_errors=True)
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # stream checkpoints use tempfile.mkdtemp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, the launcher's included: no hsperfdata under /tmp, temp
    # files next to the rest
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the engine's kernels from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Runner:
    """Runs passes over one workload's queries and counts the operations.

    Job groups label jobs only in a traced run; a plain run sets none.
    """

    def __init__(self, spark, queries, modules, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.queries = queries
        self.modules = modules
        self.trace = trace
        self.reader = StatusReader(self.sc) if trace else None
        self.listener = ProgressCollector() if trace else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes = 0

    def failure(self, name: str, what: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {what}")
        print(f"FAILED {name}: {what}", file=sys.stderr)

    def job_group(self, group: str | None) -> None:
        if not self.trace:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def group_metrics(self, *groups) -> dict:
        out: dict = {}
        for group in groups:
            add_into(out, self.reader.read(self.reader.group_jobs(group)))
        return out

    def plain_pass(self, order, data_dir) -> dict:
        """Each query's latency and the CPU time the process tree spent on
        it, with the share of the VM's CPU time the host stole meanwhile."""
        t_pass = time.perf_counter()
        steal0 = vm_steal_ticks()
        lat, cpu = {}, {}
        for name in order:
            self.attempted += 1
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                materialize(self.queries[name](self.spark, data_dir))
            except Exception:  # a failing query is counted; the run goes on
                self.failure(name, traceback.format_exc(limit=2))
                continue
            lat[name] = time.perf_counter() - t0
            cpu[name] = tree_cpu_s() - c0
        self.passes += 1
        wall = time.perf_counter() - t_pass
        steal1 = vm_steal_ticks()
        return {"traced": False, "wall_s": wall, "order": list(order),
                "latency_s": lat, "cpu_s": cpu,
                "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])}

    def collect_pass(self, order, data_dir) -> dict:
        """Each query's column names and collected rows."""
        out = {}
        for name in order:
            self.attempted += 1
            try:
                df = self.queries[name](self.spark, data_dir)
                out[name] = (df.columns, df.collect())
            except Exception:
                self.failure(name, traceback.format_exc(limit=2))
        return out

    def traced_pass(self, order, data_dir) -> dict:
        self.spark.streams.addListener(self.listener)
        t_pass = time.perf_counter()
        records = []
        try:
            for name in order:
                self.attempted += 1
                base = f"perfbench.{self.passes}.{name}"
                t = [time.perf_counter()]
                try:
                    self.job_group(base + ".build")
                    df = self.queries[name](self.spark, data_dir)
                    t.append(time.perf_counter())
                    self.job_group(base + ".plan")
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    t.append(time.perf_counter())
                    self.job_group(base + ".exec")
                    materialize(df)
                    t.append(time.perf_counter())
                except Exception:
                    self.failure(name, traceback.format_exc(limit=2))
                    continue
                finally:
                    self.job_group(None)
                rec = self.group_metrics(base + ".build")
                rec["build_jobs"] = rec["jobs"]
                add_into(rec, self.group_metrics(base + ".plan", base + ".exec"))
                rec.update(plan_counters(plan), name=name, module=self.modules[name],
                           build_s=t[1] - t[0], plan_s=t[2] - t[1], exec_s=t[3] - t[2])
                records.append(rec)
            wall = time.perf_counter() - t_pass
            progress = self.listener.drain()
        finally:
            self.spark.streams.removeListener(self.listener)
        self.passes += 1
        return {"traced": True, "wall_s": wall, "order": list(order),
                "queries": records, "stream_progress": progress}


def layer_metrics(p: dict, modules, nproc: int) -> dict:
    """Per-layer totals of one traced pass."""
    qs = p["queries"]

    def total(key, rows=qs):
        return sum(r[key] for r in rows)

    out = {
        "operators.build_s": total("build_s"),
        "operators.build_jobs": total("build_jobs"),
        "operators.build_share": total("build_s") / p["wall_s"],
        "catalyst.plan_s": total("plan_s"),
        "catalyst.exchanges": total("exchanges"),
        "catalyst.single_partition_exchanges": total("single_partition_exchanges"),
        "catalyst.python_nodes": total("python_nodes"),
        "spark.exec_s": total("exec_s"),
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.task_s": total("task_s"),
        "spark.cpu_s": total("cpu_s"),
        # task time over the cores the pass held, build and plan included
        "spark.core_busy": total("task_s") / (p["wall_s"] * nproc),
        "spark.shuffle_read_mb": total("shuffle_read_b") / MB,
        "spark.shuffle_write_mb": total("shuffle_write_b") / MB,
        "spark.spill_mb": total("spill_b") / MB,
        "spark.input_mb": total("input_b") / MB,
    }
    python = [r for r in qs if r["python_nodes"]]
    out["functions.arrowmap.queries"] = len(python)
    out["functions.arrowmap.exec_s"] = total("exec_s", python)
    for key, value in aggregate_progress(p["stream_progress"]).items():
        out[f"streaming.state.{key}"] = value
    for module in modules:
        rows = [r for r in qs if r["module"] == module]
        out[f"operators.{module}.build_s"] = total("build_s", rows)
        out[f"operators.{module}.exec_s"] = total("exec_s", rows)
        out[f"operators.{module}.jobs"] = total("jobs", rows)
    return out


def median_pass(passes, key: str) -> float:
    """A steady pass: the sum over queries of each query's median
    ``p[key][query]``. A slow sample of one query in one pass moves it less
    than it moves that pass's total."""
    names = passes[0][key]
    return sum(median(p[key][name] for p in passes) for name in names)


def measure_setup_phase(spark, runner: Runner, data_dir: str) -> dict:
    """``build_setup_indexes`` on a context of its own, after the timed
    passes, with the span of each ``setup_builders()`` entry inside it.

    The builders run overlapped on the engine's pool, so a span includes the
    time its builder waited for cores; the sum of the spans over the wall
    time is the mean number of builders in flight.
    """
    from databricks_observe_spark import setup_phase
    from databricks_observe_spark.engine import prepare

    spans: dict[str, float] = {}

    def timed(name, build):
        def run(ctx):
            t0 = time.perf_counter()
            try:
                return build(ctx)
            finally:
                spans[name] = time.perf_counter() - t0
        return run

    builders = setup_phase.setup_builders
    fresh = prepare(spark, data_dir)
    ungrouped = set(runner.reader.group_jobs(None))
    runner.job_group("perfbench.setup")
    # build_setup_indexes looks setup_builders up in its module at call time
    setup_phase.setup_builders = lambda: {
        name: timed(name, build) for name, build in builders().items()}
    try:
        t0 = time.perf_counter()
        setup_phase.build_setup_indexes(spark, fresh, data_dir)
        wall = time.perf_counter() - t0
    finally:
        setup_phase.setup_builders = builders
        runner.job_group(None)
    # the builder pool's threads carry no job group
    jobs = runner.reader.group_jobs("perfbench.setup") + sorted(
        set(runner.reader.group_jobs(None)) - ungrouped)
    m = runner.reader.read(jobs)
    return {"wall_s": wall, "busy_s": sum(spans.values()),
            "slowest_index_s": max(spans.values()), "jobs": m["jobs"],
            "task_s": m["task_s"], "shuffle_write_b": m["shuffle_write_b"],
            "index_span_s": spans}


def stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits at end of input
    gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    keep_writes_inside(WORK_DIR)
    try:
        from databricks_observe_spark import registry
        from databricks_observe_spark.session import get_spark
        from perfbench.check import Oracle, check_results
        from perfbench.workloads import query_modules
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}",
              file=sys.stderr)
        return 2
    if not os.path.isdir(DATA_DIR):
        print(f"perfbench: fixture directory {DATA_DIR} is missing", file=sys.stderr)
        return 2

    modules = query_modules()
    all_modules = sorted({modules[q] for w in WORKLOADS.values() for q in w.queries})
    rng = random.Random(args.seed)

    def shuffled():
        order = list(workload.queries)
        rng.shuffle(order)
        return order

    nproc = int(os.environ["SPARK_GRAFT_CPUS"])
    layer: dict[str, float] = {}
    setup = {"wall_s": 0.0, "busy_s": 0.0, "slowest_index_s": 0.0,
             "jobs": 0, "task_s": 0.0, "shuffle_write_b": 0}
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "seconds": args.seconds,
                    "fixture": os.path.basename(DATA_DIR), "nproc": nproc}

    t_setup = time.perf_counter()
    cpu_setup = tree_cpu_s()
    spark = get_spark("perfbench")
    try:
        layer["session.start_s"] = time.perf_counter() - t_setup
        runner = Runner(spark, registry.queries(), modules, bool(args.trace))

        t0 = time.perf_counter()
        runner.job_group("perfbench.prepare")
        registry._ctx(spark, DATA_DIR)  # the registry keeps it per session
        runner.job_group(None)
        layer["engine.prepare_s"] = time.perf_counter() - t0
        if args.trace:
            layer["engine.prepare_jobs"] = runner.group_metrics(
                "perfbench.prepare")["jobs"]

        # warm-up, in the workload's own order (the order of the cold passes
        # leaves lasting JIT state, which would otherwise differ from seed
        # to seed): the cold pass collects every result for the correctness
        # check and fills the lazy memos, then plain passes settle the JIT
        collected = runner.collect_pass(workload.queries, DATA_DIR)
        warm = [runner.plain_pass(workload.queries, DATA_DIR)
                for _ in range(workload.warmup_passes)]
        setup_s = time.perf_counter() - t_setup
        record["setup"] = {"setup_s": setup_s, "warmup": warm,
                           "cpu_s": tree_cpu_s() - cpu_setup,
                           "session_start_s": layer["session.start_s"],
                           "prepare_s": layer["engine.prepare_s"]}

        if args.trace:
            runner.job_group("perfbench.floor")
            layer["session.job_floor_ms"] = job_floor_ms(spark)
            runner.job_group(None)

        passes = []
        t_window = time.perf_counter()
        while (len(passes) < 1 + args.trace
               or time.perf_counter() - t_window < args.seconds):
            if args.trace and len(passes) % 2:
                passes.append(runner.traced_pass(shuffled(), DATA_DIR))
            else:
                passes.append(runner.plain_pass(shuffled(), DATA_DIR))
        record["passes"] = passes

        if args.trace and workload.traces_setup_phase:
            setup.update(measure_setup_phase(spark, runner, DATA_DIR))
            record["setup"]["phase"] = setup

        oracle = Oracle(DATA_DIR, FIXTURES)
        try:
            checks = check_results(collected, registry.oracle_sql(), oracle)
        finally:
            oracle.close()
        for name, verdict in checks.items():
            if verdict["status"] == "mismatch":
                runner.failure(name, "result differs from the DuckDB oracle")
        record["checks"] = checks

        if args.trace:
            layer["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark.sparkContext)
    finally:
        stop(spark)

    plain = [p for p in passes if not p["traced"]]
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        per_pass = [layer_metrics(p, all_modules, nproc) for p in traced]
        for key in per_pass[0]:
            layer[key] = median(m[key] for m in per_pass)
        layer["setup_phase.wall_s"] = setup["wall_s"]
        layer["setup_phase.busy_s"] = setup["busy_s"]
        layer["setup_phase.overlap"] = (
            setup["busy_s"] / setup["wall_s"] if setup["wall_s"] else 0.0)
        layer["setup_phase.slowest_index_s"] = setup["slowest_index_s"]
        layer["setup_phase.jobs"] = setup["jobs"]
        layer["setup_phase.task_s"] = setup["task_s"]
        layer["setup_phase.shuffle_write_mb"] = setup["shuffle_write_b"] / MB
        plain_wall = median(p["wall_s"] for p in plain)
        layer["trace.overhead_share"] = (
            median(p["wall_s"] for p in traced) - plain_wall) / plain_wall
        units = per_layer_units(all_modules)
        values = {k: layer[k] for k in units}
    else:
        units = END_TO_END
        values = {"setup_s": setup_s, "pass_cpu_s": median_pass(plain, "cpu_s")}

    # wall-clock figures: printed and recorded, not gated (see END_TO_END)
    lat = [s for p in plain for s in p["latency_s"].values()]
    p50, _ = percentile(lat, 0.5)
    p90, above = percentile(lat, 0.9)
    wall = {"pass_s": median_pass(plain, "latency_s"),
            "query_p50_s": p50, "query_p90_s": p90,
            "steal_share": median(p["steal_share"] for p in plain)}
    note = {"query_p90_s": f"  ({len(lat)} samples, {above} above)",
            "steal_share": "  (CPU time the host took from the VM)"}

    error_rate = runner.failed / runner.attempted
    record.update(metrics=values, wall=wall, attempted=runner.attempted,
                  failed=runner.failed, error_rate=error_rate,
                  errors=runner.errors)
    os.makedirs(RECORD_DIR, exist_ok=True)
    path = os.path.join(
        RECORD_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True, default=str)

    statuses = [v["status"] for v in checks.values()]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"{record['fixture']}  local[{nproc}]  {len(plain)} plain + "
          f"{len(passes) - len(plain)} traced passes of {len(workload.queries)} "
          f"queries")
    for key, value in values.items():
        print(f"{key:40s} {value:12.4f} {units[key]}")
    for key, value in wall.items():
        unit = "ratio" if key == "steal_share" else "s"
        print(f"{'wall.' + key:40s} {value:12.4f} {unit}{note.get(key, '')}")
    print(f"{'error_rate':40s} {error_rate:12.4f} ratio  "
          f"({runner.failed} of {runner.attempted} operations failed)")
    print(f"correctness: {statuses.count('match')} of {len(workload.queries)} "
          f"match the DuckDB oracle, {statuses.count('rows-only')} rows-only; "
          f"record {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
