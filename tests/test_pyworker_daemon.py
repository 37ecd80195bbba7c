"""The engine's Python-worker daemon: zip archives are re-read on
``importlib.invalidate_caches()`` only when they changed, and the engine
session's workers run under it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from smartpool_bigdata_spark import pyworker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def rereads(monkeypatch):
    """Install the wrapper over a counting re-read; returns the archives
    the real re-read ran for. Teardown restores the stock method."""
    real = zipimport.zipimporter.invalidate_caches
    seen: list[str] = []

    def counting(self):
        seen.append(self.archive)
        real(self)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", counting)
    pyworker_daemon.install()
    return seen


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"pwd_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("pwd_mod_a", "pwd_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def test_unchanged_zip_is_not_reread(archive, rereads):
    assert importlib.import_module("pwd_mod_a").X == 1
    importlib.invalidate_caches()  # first call: read and record the stamp
    assert rereads.count(archive) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert rereads.count(archive) == 1


def test_rewritten_zip_is_reread(archive, rereads):
    assert importlib.import_module("pwd_mod_a").X == 1
    importlib.invalidate_caches()
    _write_zip(archive, {"pwd_mod_a": "X = 1\n", "pwd_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert rereads.count(archive) == 2
    assert importlib.import_module("pwd_mod_b").Y == 2


def test_engine_session_workers_run_the_daemon(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pd.DataFrame({"wrapper": [code.co_filename]})

    conf = spark.sparkContext.getConf().get("spark.python.daemon.module")
    assert conf == pyworker_daemon.__name__
    row = spark.range(1, numPartitions=1).mapInPandas(probe, "wrapper string").first()
    assert os.path.realpath(row["wrapper"]) == os.path.realpath(pyworker_daemon.__file__)
