"""``memo`` contract (Spark-free) and the lint that keeps every derived
index on it: a hand-rolled ``if "_k" not in t: t["_k"] = ...`` memo has
no in-flight guard, so two concurrent setup builders could both run it."""

import random
import re
import sys
import threading
import time
from pathlib import Path

import pytest

from databricks_observe_spark.memo import memo

PACKAGE = Path(__file__).resolve().parent.parent / "databricks_observe_spark"

# `if "_k" (not )in t` followed, inside the same top-level block, by an
# assignment to t[...]
HAND_ROLLED = re.compile(
    r'if "_\w+" (?:not )?in t\b(?:(?!\n\S).)*?\bt\[[^\]\n]+\]\s*=(?!=)', re.S
)


def _wait_blocked(threads, timeout=10.0):
    """Wait until every thread is parked in ``Future.result`` on an
    in-flight build."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        frames = sys._current_frames()
        blocked = 0
        for th in threads:
            f = frames.get(th.ident)
            while f is not None and f.f_code.co_name != "result":
                f = f.f_back
            blocked += f is not None
        if blocked == len(threads):
            return
        time.sleep(0.005)
    raise AssertionError("callers never blocked on the in-flight build")


def _thread(target, *args) -> threading.Thread:
    # daemon + bounded joins: a broken memo fails the test, never hangs it
    return threading.Thread(target=target, args=args, daemon=True)


def _join(threads):
    for th in threads:
        th.join(10)
    assert not any(th.is_alive() for th in threads), "a caller deadlocked"


def test_concurrent_callers_share_one_build():
    t: dict = {}
    calls: dict = {}
    gate = threading.Barrier(16)
    results: list[dict] = [{} for _ in range(16)]

    def build(key):
        calls[key] = calls.get(key, 0) + 1
        if key == "_k":
            time.sleep(0.05)  # every thread arrives while this build runs
        return object()

    def worker(i):
        keys = ["_k"] + [f"_k{j}" for j in range(50)]
        random.Random(i).shuffle(keys[1:])
        gate.wait()
        for key in keys:
            results[i][key] = memo(t, key, lambda: build(key))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [_thread(worker, i) for i in range(16)]
        for th in threads:
            th.start()
        _join(threads)
    finally:
        sys.setswitchinterval(interval)
    assert set(calls.values()) == {1} and len(calls) == 51
    assert all(r[key] is t[key] for r in results for key in calls)


def test_failed_build_reaches_every_waiter_and_next_call_rebuilds():
    t: dict = {}
    started, release = threading.Event(), threading.Event()
    outcomes = []

    def failing():
        started.set()
        release.wait()
        raise ValueError("boom")

    def call(build):
        try:
            outcomes.append(memo(t, "_k", build))
        except ValueError as exc:
            outcomes.append(exc)

    owner = _thread(call, failing)
    owner.start()
    assert started.wait(10)
    waiters = [_thread(call, lambda: "rebuilt") for _ in range(4)]
    for th in waiters:
        th.start()
    try:
        _wait_blocked(waiters)
    finally:
        release.set()
    _join([owner, *waiters])

    assert len(outcomes) == 5
    assert all(isinstance(o, ValueError) for o in outcomes)
    assert "_k" not in t
    assert memo(t, "_k", lambda: "rebuilt") == "rebuilt"
    assert t["_k"] == "rebuilt"


def test_build_that_waits_on_another_in_flight_build_completes():
    t: dict = {}
    b_started, b_go = threading.Event(), threading.Event()
    b_calls = []

    def build_b():
        b_calls.append(1)
        b_started.set()
        b_go.wait()
        return "B"

    def build_a():
        return "A+" + memo(t, "B", build_b)

    results = {}
    tb = _thread(lambda: results.setdefault("B", memo(t, "B", build_b)))
    ta = _thread(lambda: results.setdefault("A", memo(t, "A", build_a)))
    tb.start()
    assert b_started.wait(10)
    ta.start()
    try:
        _wait_blocked([ta])
    finally:
        b_go.set()
    _join([tb, ta])

    assert results == {"A": "A+B", "B": "B"}
    assert b_calls == [1]
    assert t == {"A": "A+B", "B": "B"}


def test_self_dependent_build_raises_instead_of_deadlocking():
    t: dict = {}
    with pytest.raises(RuntimeError, match="depends on itself"):
        memo(t, "_k", lambda: memo(t, "_k", lambda: 1))
    assert "_k" not in t


def test_no_hand_rolled_memo_in_package():
    assert HAND_ROLLED.search('    if "_x" not in t:\n        t["_x"] = f()\n')
    assert HAND_ROLLED.search('    if "_x" in t:\n        return t["_x"]\n    t["_x"] = f()\n')
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        for m in HAND_ROLLED.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            hits.append(f"{path.relative_to(PACKAGE.parent)}:{line}")
    assert hits == [], "route these through memo(t, key, build): " + ", ".join(hits)
