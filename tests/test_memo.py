"""``memo`` contract (Spark-free) and the lints that keep every derived
index on it: a hand-rolled ``if "_k" not in t: t["_k"] = ...`` memo has
no in-flight guard, so two concurrent setup builders could both run it;
an operator that calls ``memo`` itself, or writes a ``_`` key on the
context, builds something the setup phase never sees, because the setup
phase builds what ``@index`` declares."""

import random
import re
import sys
import threading
import time
from pathlib import Path

import pytest

from databricks_observe_spark.memo import INDEXES, index, memo

PACKAGE = Path(__file__).resolve().parent.parent / "databricks_observe_spark"

# `if "_k" (not )in t` followed, inside the same top-level block, by an
# assignment to t[...]
HAND_ROLLED = re.compile(
    r'if "_\w+" (?:not )?in t\b(?:(?!\n\S).)*?\bt\[[^\]\n]+\]\s*=(?!=)', re.S
)
MEMO_CALL = re.compile(r"\bmemo\(")
# a write of a derived (`_`-prefixed) key on any dict: `x["_k"] = ...`
DERIVED_WRITE = re.compile(r'\b\w+\["_\w+"\]\s*=(?!=)')
# the loader records its fixture directory; it is an input, not an index
DERIVED_WRITE_ALLOWED = {('sources/tables.py', 'out["_sf_dir"] =')}


def _scan(pattern: re.Pattern, paths) -> list[tuple[str, int, str]]:
    """``(path relative to the package, line, match)`` of every match."""
    hits = []
    for path in sorted(paths):
        text = path.read_text()
        for m in pattern.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            hits.append((str(path.relative_to(PACKAGE)), line, m.group(0)))
    return hits


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
    hits = _scan(HAND_ROLLED, PACKAGE.rglob("*.py"))
    assert hits == [], "declare these with @index(name): " + repr(hits)


def test_operators_declare_indexes_instead_of_calling_memo():
    paths = [*PACKAGE.glob("operators/*.py"), *PACKAGE.glob("functions/*.py")]
    assert len(paths) > 10
    hits = _scan(MEMO_CALL, paths)
    assert hits == [], "declare these with @index(name): " + repr(hits)


def test_no_derived_key_written_outside_memo():
    assert DERIVED_WRITE.search('        t["_n"] = nodes.count()\n')
    assert not DERIVED_WRITE.search('    if t["_n"] == 0:\n')
    hits = [
        h for h in _scan(DERIVED_WRITE, PACKAGE.rglob("*.py"))
        if (h[0], h[2]) not in DERIVED_WRITE_ALLOWED
    ]
    assert hits == [], "return these from an @index builder: " + repr(hits)


def test_index_memoizes_under_its_published_name():
    calls = []

    @index("test_memo_probe")
    def probe(t):
        calls.append(1)
        return object()

    try:
        t: dict = {}
        assert probe(t) is probe(t) is t["_test_memo_probe"]
        assert calls == [1]
        assert INDEXES["test_memo_probe"] is probe
        with pytest.raises(ValueError, match="declared twice"):
            index("test_memo_probe")(lambda t: None)
    finally:
        del INDEXES["test_memo_probe"]
