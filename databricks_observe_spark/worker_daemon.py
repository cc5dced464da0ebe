"""Python worker daemon that stops re-reading zip archives on every task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py:setup_spark_files``). On CPython 3.11
that makes each cached ``zipimport.zipimporter`` re-read its archive's whole
central directory. A worker holds about 16 such importers over
``pyspark.zip``, the py4j source zip and the ``spark-core`` jar, so a reused
worker spends ~0.2 s of CPU per task before any user code runs.

:func:`install` wraps ``zipimporter.invalidate_caches`` so an archive's
directory is re-read only when the archive's ``os.stat`` key
``(st_mtime_ns, st_size, st_ino)`` changed since the last read. A changed,
new or missing archive still goes through the stock method, so the
invalidation semantics are kept. Running this module installs the wrapper
and then runs ``pyspark.daemon.manager()``; the workers it forks inherit the
wrapper, and ``pyspark.daemon`` still takes the worker module from
``argv[1]``. ``session.tune`` names this module in
``spark.python.daemon.module``.

Workers can already import this package: the engine's module-level kernels
(e.g. ``operators.multimodal._extract_batches``) are pickled by reference,
so the worker's import path has to reach the package anyway.

``python -m`` imports the package ``__init__`` before this module; that
import and this module's own imports stay light (no pyspark here until
:func:`main`).
"""

from __future__ import annotations

import os
import zipimport

_STOCK = zipimport.zipimporter.invalidate_caches
# archive path -> stat key of the archive when its directory was last read
_READ_KEYS: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    archive = self.archive
    key = _stat_key(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if key is not None and cached is not None and _READ_KEYS.get(archive) == key:
        # another importer over the same archive may have re-read it
        self._files = cached
        return
    # stat before the read: a rewrite racing the read leaves a stale key,
    # which only costs one more read next time
    _STOCK(self)
    if key is not None and archive in zipimport._zip_directory_cache:
        _READ_KEYS[archive] = key
    else:
        _READ_KEYS.pop(archive, None)


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run the wrapper from the package module, not from ``__main__``, so
    # workers see one ``databricks_observe_spark.worker_daemon``
    from databricks_observe_spark.worker_daemon import main as _main

    _main()
