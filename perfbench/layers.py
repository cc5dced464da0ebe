"""Readers for the engine's layers, used from outside the engine.

Each reader observes one layer through a public surface: Spark's status
store (jobs, stages, task metrics), the executed-plan string (Catalyst), a
Python ``StreamingQueryListener`` (micro-batches and state stores) and
``/proc`` (the driver JVM's memory). Nothing here sets a session conf.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.stats import median

JOB_FIELDS = (
    "jobs", "stages", "tasks", "task_s", "cpu_s",
    "shuffle_read_b", "shuffle_write_b", "spill_b", "input_b",
)

# node name at the start of a plan-tree line, after the tree drawing and
# any whole-stage-codegen id such as "*(2) "; then an exchange's partitioning
_NODE = re.compile(
    r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)( SinglePartition\b)?", re.M
)
_EXCHANGES = {"Exchange", "BroadcastExchange"}  # ReusedExchange does no work
# physical nodes that ship rows to Python workers
_PYTHON_NODES = {
    "MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "FlatMapGroupsInPandasWithState", "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF",
}


def plan_counters(plan: str) -> dict:
    """Exchange and Python-worker node counts of a physical plan string."""
    out = {"exchanges": 0, "single_partition_exchanges": 0, "python_nodes": 0}
    for m in _NODE.finditer(plan):
        node = m.group(1)
        if node in _EXCHANGES:
            out["exchanges"] += 1
            out["single_partition_exchanges"] += m.group(2) is not None
        elif node in _PYTHON_NODES:
            out["python_nodes"] += 1
    return out


class StatusReader:
    """Job and stage accounting from the SparkContext's status store.

    Jobs are found by job group. The store keeps only the most recent
    jobs and stages (1,000 of each by default), so callers read a group
    right after its action instead of at the end of a run.
    """

    def __init__(self, sc, timeout_s: float = 30.0):
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._timeout_s = timeout_s

    def group_jobs(self, group: str | None) -> list[int]:
        """Job ids of ``group``; ``None`` lists jobs that have no group."""
        return sorted(self._tracker.getJobIdsForGroup(group))

    def read(self, job_ids) -> dict:
        """Summed metrics of the given jobs, once each has ended.

        The listener bus is asynchronous, so a job may still read RUNNING
        just after its action returned; stage metrics are final once the
        job has ended.
        """
        out = dict.fromkeys(JOB_FIELDS, 0)
        stage_ids: set[int] = set()
        deadline = time.monotonic() + self._timeout_s
        for job_id in job_ids:
            info = self._tracker.getJobInfo(job_id)
            while info is not None and info.status in ("RUNNING", "UNKNOWN"):
                if time.monotonic() > deadline:
                    raise TimeoutError(f"job {job_id} still {info.status}")
                time.sleep(0.002)
                info = self._tracker.getJobInfo(job_id)
            if info is None:  # evicted from the store
                continue
            out["jobs"] += 1
            stage_ids.update(info.stageIds)
        for stage_id in sorted(stage_ids):
            stage = self._store.lastStageAttempt(stage_id)
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += stage.numCompleteTasks()
            out["task_s"] += stage.executorRunTime() / 1e3
            out["cpu_s"] += stage.executorCpuTime() / 1e9
            out["shuffle_read_b"] += stage.shuffleReadBytes()
            out["shuffle_write_b"] += stage.shuffleWriteBytes()
            out["spill_b"] += stage.diskBytesSpilled()
            out["input_b"] += stage.inputBytes()
        return out


def add_into(total: dict, part: dict) -> dict:
    for key, value in part.items():
        total[key] = total.get(key, 0) + value
    return total


def aggregate_progress(progress: list[dict]) -> dict:
    """Streaming-layer totals from ``StreamingQueryProgress`` JSON dicts.

    ``state_rows`` is the state held when each query ended: the rows of
    its state stores in its last micro-batch, summed over queries.
    """
    if not progress:
        return {
            "micro_batches": 0, "trigger_p50_ms": 0, "query_planning_s": 0,
            "add_batch_s": 0, "checkpoint_s": 0, "state_commit_s": 0,
            "state_rows": 0, "input_rows_per_s": 0,
        }

    def ms(p, key):
        return p.get("durationMs", {}).get(key, 0)

    trigger_ms = [ms(p, "triggerExecution") for p in progress]
    last_by_run: dict[str, dict] = {}
    for p in progress:
        prior = last_by_run.get(p["runId"])
        if prior is None or p["batchId"] >= prior["batchId"]:
            last_by_run[p["runId"]] = p
    input_rows = sum(p.get("numInputRows", 0) for p in progress)
    return {
        "micro_batches": len(progress),
        "trigger_p50_ms": median(trigger_ms),
        "query_planning_s": sum(ms(p, "queryPlanning") for p in progress) / 1e3,
        "add_batch_s": sum(ms(p, "addBatch") for p in progress) / 1e3,
        "checkpoint_s": sum(
            ms(p, "walCommit") + ms(p, "commitOffsets") for p in progress
        ) / 1e3,
        "state_commit_s": sum(
            op.get("commitTimeMs", 0)
            for p in progress for op in p.get("stateOperators", [])
        ) / 1e3,
        "state_rows": sum(
            op.get("numRowsTotal", 0)
            for p in last_by_run.values() for op in p.get("stateOperators", [])
        ),
        "input_rows_per_s": input_rows / (sum(trigger_ms) / 1e3)
        if sum(trigger_ms) else 0,
    }


class ProgressCollector(StreamingQueryListener):
    """Collects every micro-batch progress of the session's streams."""

    def __init__(self):
        self._lock = threading.Lock()
        self._progress: list[dict] = []
        self._started = 0
        self._ended = 0

    def onQueryStarted(self, event):
        with self._lock:
            self._started += 1

    def onQueryProgress(self, event):
        item = json.loads(event.progress.json)
        with self._lock:
            self._progress.append(item)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self._ended += 1

    def drain(self, timeout_s: float = 30.0) -> list[dict]:
        """Wait until every started stream has reported its end, then hand
        over and forget the progress collected so far."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                if self._ended >= self._started:
                    out, self._progress = self._progress, []
                    return out
            if time.monotonic() > deadline:
                raise TimeoutError("streaming listener missed a query end")
            time.sleep(0.01)


_TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by process ``root`` (default: this one) and
    every process below it: the driver, the JVM it launched and the JVM's
    Python workers. A reaped child's time is in its parent's ``cutime``.
    Time the hypervisor stole from the VM is not charged to any process."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime, stime, cutime, cstime (fields 14-17 of proc(5))
        ticks[pid] = sum(int(v) for v in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total * _TICK_S


def vm_steal_ticks() -> tuple[int, int]:
    """(stolen, all) CPU ticks of the VM so far, summed over its CPUs."""
    with open("/proc/stat") as fh:
        values = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return values[7], sum(values[:8])


def jvm_peak_rss_mb(sc) -> float:
    """Peak resident set (VmHWM) of the driver JVM that backs ``sc``."""
    pid = sc._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def job_floor_ms(spark, warm: int = 3, timed: int = 10) -> float:
    """Mean wall time of a trivial one-task job on a warm session."""
    for _ in range(warm):
        spark.range(1).count()
    t0 = time.perf_counter()
    for _ in range(timed):
        spark.range(1).count()
    return (time.perf_counter() - t0) / timed * 1e3
