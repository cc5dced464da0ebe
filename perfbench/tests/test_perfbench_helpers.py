"""Tests of the benchmark's own helpers: order statistics, the plan and
streaming-progress readers, the status-store reader and the record differ.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.diff import diff  # noqa: E402
from perfbench.layers import (  # noqa: E402
    StatusReader,
    aggregate_progress,
    plan_counters,
    tree_cpu_s,
    vm_steal_ticks,
)
from perfbench.stats import median, percentile  # noqa: E402


def test_percentile_estimate_and_count_above():
    # on 1..n the Beta weights put the q-quantile at q * n + 1/2
    value, above = percentile(range(1, 101), 0.9)
    assert value == pytest.approx(90.5, abs=0.01) and above == 10
    value, above = percentile(range(1, 101), 0.5)
    assert value == pytest.approx(50.5, abs=0.01) and above == 50
    assert percentile([3.0], 0.9) == (pytest.approx(3.0), 0)
    assert percentile([2.0] * 7, 0.9) == (pytest.approx(2.0), 0)
    # a lumpy sample: the estimate sits between the slowest query and the
    # next one instead of jumping to either
    lumpy = [0.1] * 40 + [0.8] * 5 + [1.2] * 5
    value, above = percentile(lumpy, 0.9)
    assert 0.8 < value < 1.2 and above == 5
    with pytest.raises(ValueError):
        percentile([], 0.9)
    with pytest.raises(ValueError):
        percentile([1], 1)


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5


def test_median_pass_sums_per_query_medians():
    from perfbench.run import median_pass

    passes = [
        {"cpu_s": {"a": 1.0, "b": 0.1}},
        {"cpu_s": {"a": 9.0, "b": 0.2}},  # one slow sample of "a"
        {"cpu_s": {"a": 2.0, "b": 0.3}},
    ]
    assert median_pass(passes, "cpu_s") == pytest.approx(2.0 + 0.2)


def test_tree_cpu_counts_a_child_process_and_steal_ticks_grow():
    import subprocess

    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    before = tree_cpu_s()
    steal0, all0 = vm_steal_ticks()
    subprocess.run([sys.executable, "-c", busy], check=True)
    assert tree_cpu_s() - before >= 0.25  # the reaped child's time counts
    steal1, all1 = vm_steal_ticks()
    assert 0 <= steal1 - steal0 <= all1 - all0 and all1 > all0


def test_plan_counters_count_exchanges_and_python_nodes():
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]",
        "   +- BroadcastHashJoin [k#1], [k#2], Inner, BuildRight",
        "      :- Exchange hashpartitioning(k#1, 32), ENSURE_REQUIREMENTS",
        "      :  +- MapInArrow kernel(id#0L), [k#1]",
        "      +- BroadcastExchange HashedRelationBroadcastMode",
        "         +- ReusedExchange [k#2], Exchange hashpartitioning(k#2, 32)",
        "            +- FlatMapGroupsInPandasWithState fold(k#2)",
    ])
    # a ReusedExchange names the exchange it reuses but runs no shuffle
    assert plan_counters(plan) == {
        "exchanges": 3, "single_partition_exchanges": 1, "python_nodes": 2,
    }


def _progress(run, batch, trigger, state_rows, commit, rows=10):
    return {
        "runId": run, "batchId": batch, "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger, "queryPlanning": 5,
                       "addBatch": 50, "walCommit": 7, "commitOffsets": 3},
        "stateOperators": [{"numRowsTotal": state_rows, "commitTimeMs": commit}],
    }


def test_aggregate_progress_sums_batches_and_keeps_final_state():
    progress = [
        _progress("a", 0, 100, 4, 20),
        _progress("a", 1, 300, 9, 30),
        _progress("b", 0, 200, 5, 10, rows=40),
    ]
    got = aggregate_progress(progress)
    assert got == {
        "micro_batches": 3,
        "trigger_p50_ms": 200,
        "query_planning_s": 0.015,
        "add_batch_s": 0.15,
        "checkpoint_s": 0.03,
        "state_commit_s": 0.06,
        "state_rows": 9 + 5,  # last batch of each run
        "input_rows_per_s": 60 / 0.6,
    }


def test_aggregate_progress_of_no_streams_is_zero():
    assert set(aggregate_progress([]).values()) == {0}


def _record(jobs, shuffle, latency):
    q = {"name": "q1", "build_s": latency / 2, "exec_s": latency / 2,
         "jobs": jobs, "stages": 2, "exchanges": 1, "python_nodes": 0,
         "shuffle_read_b": shuffle, "shuffle_write_b": shuffle}
    steady = {"name": "q2", "build_s": 0.1, "exec_s": 0.1, "jobs": 1,
              "stages": 1, "exchanges": 0, "python_nodes": 0,
              "shuffle_read_b": 0, "shuffle_write_b": 0}
    return {"passes": [
        {"traced": False, "latency_s": {"q1": latency, "q2": 0.2}},
        {"traced": True, "queries": [q, steady]},
    ]}


def test_differ_flags_counter_changes_not_wall_time():
    rows = {r["name"]: r for r in diff(_record(3, 100, 1.0), _record(2, 100, 1.5))}
    assert rows["q1"]["changed"] == {"jobs": (3, 2)}
    assert rows["q1"]["latency_s"] == (1.0, 1.5)
    assert rows["q2"]["changed"] == {}
    same = diff(_record(3, 100, 1.0), _record(3, 100, 9.0))
    assert all(not r["changed"] for r in same)


def test_differ_rejects_untraced_record():
    untraced = {"passes": [{"traced": False, "latency_s": {"q1": 1.0}}]}
    with pytest.raises(ValueError):
        diff(untraced, untraced)


def test_benchmark_json_lists_what_the_runner_prints():
    from perfbench.run import END_TO_END, per_layer_units
    from perfbench.workloads import WORKLOADS, query_modules

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    modules = query_modules()
    used = {modules[q] for w in WORKLOADS.values() for q in w.queries}
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units(used)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield session
    session.stop()


def test_status_reader_on_a_synthetic_job(spark):
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    reader = StatusReader(sc)
    sc.setJobGroup("perfbench-test", "synthetic shuffle")
    try:
        (spark.range(0, 10_000, numPartitions=3)
         .groupBy((F.col("id") % 7).alias("k")).count()
         .write.format("noop").mode("overwrite").save())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = reader.group_jobs("perfbench-test")
    got = reader.read(jobs)
    assert got["jobs"] == len(jobs) >= 1
    assert got["stages"] >= 2  # map side and reduce side of the shuffle
    assert got["tasks"] >= 4
    assert got["shuffle_write_b"] > 0
    assert got["shuffle_read_b"] == got["shuffle_write_b"]
    assert got["task_s"] >= 0 and got["cpu_s"] >= 0
    assert reader.read([]) == dict.fromkeys(got, 0)
