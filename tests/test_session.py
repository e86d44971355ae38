"""Session conf and the Python worker daemon (`xorq_spark.pyworker`)."""

from __future__ import annotations

import importlib
import os
import sys
import types
import uuid
import zipfile
import zipimport

import pytest

from xorq_spark import pyworker, session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "spark.python.daemon.module"


def _write_zip(path, module, body):
    # stored, not deflated: a different body is a different file size
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        z.writestr(f"{module}.py", body)


@pytest.fixture
def zipped_module(tmp_path, monkeypatch):
    """A module imported from a zip on sys.path, with the daemon's
    `invalidate_caches` in place and `_read_directory` calls counted."""
    name = f"zmod_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, name, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    assert importlib.import_module(name).VALUE == 1
    monkeypatch.delitem(sys.modules, name)

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return types.SimpleNamespace(
        name=name, archive=archive, reads=lambda: reads.count(archive)
    )


def test_unchanged_zip_is_read_once(zipped_module):
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zipped_module.reads() == 1


def test_rewritten_zip_is_read_again(zipped_module):
    importlib.invalidate_caches()
    _write_zip(zipped_module.archive, zipped_module.name, "VALUE = 22\n")
    importlib.invalidate_caches()
    assert zipped_module.reads() == 2
    assert importlib.import_module(zipped_module.name).VALUE == 22


def test_removed_zip_empties_the_importer(zipped_module):
    importlib.invalidate_caches()
    os.remove(zipped_module.archive)
    importlib.invalidate_caches()
    assert sys.path_importer_cache[zipped_module.archive]._files == {}


def test_workers_run_the_patched_invalidate(spark):
    def where(it):
        import zipimport

        import pandas as pd

        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in it:
            yield pd.DataFrame({"f": [code.co_filename]})

    assert spark.conf.get(DAEMON) == "xorq_spark.pyworker"
    rows = spark.range(8).repartition(4).mapInPandas(where, "f string").collect()
    assert {r.f for r in rows} == {pyworker.__file__}


def test_add_py_file_after_workers_started(spark, tmp_path):
    spark.range(4).repartition(4).mapInPandas(lambda it: it, "id long").collect()
    name = f"late_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, name, "VALUE = 7\n")
    spark.sparkContext.addPyFile(archive)

    def value(it):
        import importlib

        import pandas as pd

        v = importlib.import_module(name).VALUE
        for _ in it:
            yield pd.DataFrame({"v": [v]})

    rows = spark.range(8).repartition(4).mapInPandas(value, "v long").collect()
    assert {r.v for r in rows} == {7}


def test_daemon_conf_only_for_local_masters(monkeypatch):
    monkeypatch.chdir(ROOT)
    assert session.options("local[4]")[DAEMON] == "xorq_spark.pyworker"
    assert DAEMON not in session.options("spark://h:7077")
    assert DAEMON not in session.options("local-cluster[2,1,1024]")


def test_daemon_conf_needs_an_import_path(tmp_path, monkeypatch):
    import site

    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    monkeypatch.setattr(site, "getsitepackages", lambda: [str(tmp_path)])
    assert DAEMON not in session.options("local[4]")
    monkeypatch.setenv("PYTHONPATH", ROOT)
    assert session.options("local[4]")[DAEMON] == "xorq_spark.pyworker"


class _Builder:
    """Records the conf connect() would start a session with."""

    def __init__(self):
        self.conf = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


@pytest.mark.parametrize("how", ["extra_conf", "session_config"])
def test_user_conf_overrides_daemon(how, monkeypatch):
    monkeypatch.chdir(ROOT)
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=_Builder()))
    monkeypatch.setattr(session, "_active", None)
    user = {DAEMON: "pyspark.daemon"}
    if how == "extra_conf":
        built = session.connect(master="local[4]", extra_conf=user)
    else:
        built = session.connect(master="local[4]", session_config=session.SessionConfig(user))
    assert built.conf[DAEMON] == "pyspark.daemon"


DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def test_call_site_capture_off_by_default(spark):
    assert spark.conf.get(DEBUGGING) == "false"


def test_user_conf_turns_call_site_capture_back_on(monkeypatch):
    monkeypatch.chdir(ROOT)
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=_Builder()))
    monkeypatch.setattr(session, "_active", None)
    built = session.connect(master="local[4]", extra_conf={DEBUGGING: "true"})
    assert built.conf[DEBUGGING] == "true"
