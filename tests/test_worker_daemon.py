"""``worker_daemon``: the zip-directory wrapper's contract (Spark-free, on a
temporary archive) and, on the ``get_spark`` session, that Python workers
fork from the engine daemon."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from databricks_observe_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def reads(monkeypatch):
    """Install the wrapper for one test and log every directory read."""
    # re-set the stock method so monkeypatch restores it afterwards
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.install()
    log = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        log.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    modules = set(sys.modules)
    yield log
    for name in set(sys.modules) - modules:
        if name.startswith("wd_"):
            del sys.modules[name]


def test_unchanged_archive_is_read_once(tmp_path, monkeypatch, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["wd_alpha"])
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("wd_alpha").NAME == "wd_alpha"

    importlib.invalidate_caches()  # the first call has no stat key yet
    n = reads.count(archive)
    importlib.invalidate_caches()
    assert reads.count(archive) == n


def test_rewritten_archive_is_reread(tmp_path, monkeypatch, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["wd_beta"])
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("wd_beta")
    importlib.invalidate_caches()
    n = reads.count(archive)

    _write_zip(archive, ["wd_beta", "wd_gamma"])
    importlib.invalidate_caches()
    assert reads.count(archive) == n + 1
    assert importlib.import_module("wd_gamma").NAME == "wd_gamma"


def test_missing_archive_behaves_as_stock(tmp_path, reads):
    def state_after(invalidate, name):
        archive = str(tmp_path / f"{name}.zip")
        _write_zip(archive, [name])
        importer = zipimport.zipimporter(archive)
        invalidate(importer)
        (tmp_path / f"{name}.zip").unlink()
        invalidate(importer)
        return importer._files, archive in zipimport._zip_directory_cache

    wrapped = state_after(worker_daemon.invalidate_caches, "wd_missing_a")
    stock = state_after(worker_daemon._STOCK, "wd_missing_b")
    assert wrapped == stock == ({}, False)


def test_get_spark_workers_fork_from_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == worker_daemon.__name__

    def probe(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        module = zipimport.zipimporter.invalidate_caches.__module__
        yield pa.record_batch({"module": pa.array([module])})

    rows = spark.range(8, numPartitions=2).mapInArrow(probe, "module string")
    assert {r.module for r in rows.collect()} == {worker_daemon.__name__}


def test_workers_import_the_daemon_without_pythonpath(tmp_path):
    """A script that finds the package only through its own ``sys.path``,
    run from another directory with ``PYTHONPATH`` unset, still gets
    Python workers that can import the engine daemon."""
    root = Path(__file__).resolve().parent.parent
    script = tmp_path / "one_arrow_map.py"
    script.write_text(textwrap.dedent(f"""
        import sys

        sys.path.insert(0, {str(root)!r})

        from databricks_observe_spark.functions.arrowmap import arrow_map
        from databricks_observe_spark.session import get_spark

        spark = get_spark("worker-import-path")
        df = arrow_map(spark.range(4, numPartitions=2), lambda it: it, "id long")
        print(sorted(r.id for r in df.collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.strip().splitlines()[-1] == "[0, 1, 2, 3]"
