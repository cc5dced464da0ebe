"""Build-once memos on a context dict, safe under concurrent callers.

Every derived index of the engine is declared once, with :func:`index`:
the decorator memoizes the builder under its published name and records
it in :data:`INDEXES`, the table the setup phase builds from. Context
keys that start with ``_`` are derived; the rest are fixture tables.
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable, Hashable
from concurrent.futures import Future
from typing import Any

_LOCK = threading.Lock()
_IN_FLIGHT: dict[tuple[int, Hashable], tuple[Future, int]] = {}

# published index name -> memoized builder ``build(t)``, in declaration order
INDEXES: dict[str, Callable[[dict], Any]] = {}


def memo(t: dict, key: Hashable, build: Callable[[], Any]) -> Any:
    """Return ``t[key]``, running ``build()`` to fill it on first use.

    The first caller of a key runs ``build()`` inline, in its own thread;
    a caller that arrives while that build runs blocks on it and gets the
    same object. A build that raises re-raises in every waiter and leaves
    the key unset, so the next call builds again. One process-wide lock
    guards only this bookkeeping and is never held during ``build()``.
    A waiter only ever waits on a build another thread is already
    running, never on queued work, so builds that call ``memo`` for
    their own inputs cannot deadlock and need no declared dependencies.

    Lifetime: a context is scoped to ONE immutable fixture snapshot.
    Every value memoized in it — derived index frames and folded scalars
    alike — is a pure function of that snapshot. If the underlying data
    were refreshed in place, scalar memos would go silently stale against
    frames that re-scan, so a consumer that refreshes data must build a
    new context (new session or new fixture directory), never mutate the
    fixture under a live one.
    """
    slot = (id(t), key)
    with _LOCK:
        if key in t:
            return t[key]
        running = _IN_FLIGHT.get(slot)
        if running is None:
            fut: Future = Future()
            _IN_FLIGHT[slot] = (fut, threading.get_ident())
    if running is not None:
        fut, owner = running
        if owner == threading.get_ident():
            raise RuntimeError(f"memo key {key!r} depends on itself")
        return fut.result()
    try:
        value = build()
    except BaseException as exc:
        with _LOCK:
            del _IN_FLIGHT[slot]
        fut.set_exception(exc)
        raise
    with _LOCK:
        t[key] = value
        del _IN_FLIGHT[slot]
    fut.set_result(value)
    return value


def index(name: str) -> Callable:
    """Declare ``fn(t)`` as the builder of the derived index ``name``.

    The returned callable runs ``memo(t, "_" + name, lambda: fn(t))``, so
    every caller of one context shares one build, and it is recorded in
    :data:`INDEXES` under ``name``: declaring a builder is what makes the
    setup phase build it."""

    def declare(fn: Callable[[dict], Any]) -> Callable[[dict], Any]:
        # two builders under one key would each read the other's value
        if name in INDEXES:
            raise ValueError(f"index {name!r} is declared twice")
        key = "_" + name

        @functools.wraps(fn)
        def build(t: dict) -> Any:
            return memo(t, key, lambda: fn(t))

        INDEXES[name] = build
        return build

    return declare
