"""The fixpoint driver: loops plan on a child session and never write the
caller's confs, and the lint that keeps every session-conf write in the
few places allowed to make one."""

from __future__ import annotations

import re
import threading
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from databricks_observe_spark.engine import prepare
from databricks_observe_spark.functions import fixpoint as FP
from databricks_observe_spark.operators.dedup import _cluster_labels
from databricks_observe_spark.operators.lineage import (
    lineage_closure_deep,
    topo_levels,
    transitive_closure,
)
from databricks_observe_spark.operators.text import textrank_keywords

PACKAGE = Path(__file__).resolve().parent.parent / "databricks_observe_spark"
SF_DIR = "/root/testdata/sf0.001"
KEYS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
)

CONF_WRITE = re.compile(r"\.conf\.(?:un)?set\(")
# (file, enclosing function); None allows the whole file
ALLOWED = {
    ("session.py", None),
    ("functions/fixpoint.py", None),
    ("streaming/state.py", "_stream_confs"),
}


def _confs(session) -> dict:
    return {k: session.conf.get(k) for k in KEYS}


def _counter(spark):
    return spark.range(4).select(F.col("id").alias("x"))


def test_caller_conf_unchanged_during_and_after_loop(spark, monkeypatch):
    """The loop's settings (AQE off, auto-broadcast off, measured width)
    live on the child session only: the caller reads its own values
    inside every round, after convergence, after a round raises, and
    after the driver gives up on a loop that never converges."""
    before = _confs(spark)
    seen = []

    def step(df):
        seen.append((_confs(spark), _confs(df.sparkSession)))
        return df.select(F.least(F.col("x") + 1, F.lit(6)).alias("x"))

    out, rounds = FP.fixpoint(_counter(spark), step, [F.sum("x")])
    assert sorted(r.x for r in out.collect()) == [6, 6, 6, 6]
    assert rounds == 7 and out.sparkSession is spark
    assert all(caller == before for caller, _ in seen)
    # from round 2 on, a round's input lives on the child session
    assert seen[-1][1] == {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    assert _confs(spark) == before

    def boom(df):
        raise ValueError("boom")

    with pytest.raises(ValueError):
        FP.fixpoint(_counter(spark), boom)
    assert _confs(spark) == before

    monkeypatch.setattr(FP, "MAX_ROUNDS", 3)
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        FP.fixpoint(
            _counter(spark),
            lambda df: df.select((F.col("x") + 1).alias("x")),
            [F.sum("x")],
        )
    assert _confs(spark) == before

    # the real loop converges through the driver and leaves the caller alone
    df = spark.sql(
        "SELECT * FROM (VALUES ('c','s','b','c','s','a'), ('c','s','c','c','s','b')) "
        "AS t(dst_catalog,dst_schema,dst_table,src_catalog,src_schema,src_table)"
    )
    closure, _ = transitive_closure(df)
    assert {(r.dst_table, r.src_table) for r in closure.collect()} == {
        ("b", "a"),
        ("c", "b"),
        ("c", "a"),
    }
    assert _confs(spark) == before


def test_loops_leave_concurrent_plans_on_caller_adaptive(spark):
    """While every convergence loop runs on one thread, plans built on the
    caller's session on another thread keep AQE and the caller's width."""
    width = spark.conf.get("spark.sql.shuffle.partitions")
    t = prepare(spark, SF_DIR)
    done = threading.Event()
    failed = []

    def loops():
        try:
            lineage_closure_deep(t)
            topo_levels(t)
            _cluster_labels(t)
            textrank_keywords(t)
        except Exception as exc:  # surfaced by the main thread
            failed.append(exc)
        finally:
            done.set()

    worker = threading.Thread(target=loops)
    worker.start()
    plans, bad = 0, []
    deadline = time.monotonic() + 600
    while not done.is_set() and time.monotonic() < deadline:
        df = spark.range(64).groupBy((F.col("id") % 7).alias("k")).count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        plans += 1
        got = spark.conf.get("spark.sql.shuffle.partitions")
        if not plan.startswith("AdaptiveSparkPlan") or got != width:
            bad.append((plan.splitlines()[0], got))
    worker.join(timeout=60)
    assert not worker.is_alive() and failed == []
    assert plans > 0 and bad == [], f"{len(bad)} of {plans} plans: {bad[:3]}"


def test_no_session_conf_write_outside_allowed_places():
    assert CONF_WRITE.search('spark.conf.set("k", "v")')
    assert CONF_WRITE.search("spark.conf.unset(k)")
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        text = path.read_text()
        for m in CONF_WRITE.finditer(text):
            defs = re.findall(r"^\s*def (\w+)", text[: m.start()], re.M)
            fn = defs[-1] if defs else None
            if (rel, None) not in ALLOWED and (rel, fn) not in ALLOWED:
                line = text.count("\n", 0, m.start()) + 1
                hits.append(f"{rel}:{line} ({fn})")
    assert hits == [], (
        "session confs are shared by every thread; plan a loop on "
        "fixpoint.loop_session instead: " + ", ".join(hits)
    )
