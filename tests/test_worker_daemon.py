"""The worker daemon (`openocr_spark/worker_daemon.py`): a zip on
`sys.path` is re-read only when it changed, Spark's workers run under
it and still see files added mid-session, and a driver that imports the
package from a zip keeps Spark's own daemon."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import SparkSession

from openocr_spark import session, worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.new"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_zip_read_once_until_replaced(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_probe_a": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    for name in ("wd_probe_a", "wd_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wd_probe_a").X == 1

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory",
        lambda path: reads.append(path) or read_directory(path),
    )
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1

    _write_zip(archive, {"wd_probe_a": "X = 1\n", "wd_probe_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("wd_probe_b").Y == 2


def test_tasks_run_under_daemon_and_see_added_files(spark, tmp_path):
    py = tmp_path / "wd_added_py.py"
    py.write_text("VALUE = 'py'\n")
    archive = tmp_path / "wd_added_zip.zip"
    _write_zip(str(archive), {"wd_added_zip": "VALUE = 'zip'\n"})
    sc = spark.sparkContext
    sc.parallelize(range(4), 4).count()  # workers up before the adds
    sc.addPyFile(str(py))
    sc.addPyFile(str(archive))

    def probe(_):
        import sys

        import wd_added_py
        import wd_added_zip

        yield (sys.modules["__main__"].__spec__.name,
               wd_added_py.VALUE, wd_added_zip.VALUE, list(sys.path))

    rows = sc.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert len(rows) == 4
    for main, py_value, zip_value, path in rows:
        assert main == "openocr_spark.worker_daemon"
        assert (py_value, zip_value) == ("py", "zip")
        # sys.path[0] is the daemon's cwd, as for Spark's own daemon
        assert ROOT not in path[1:]


def _builder_conf(monkeypatch, **kwargs) -> dict:
    class Built(Exception):
        pass

    seen = {}

    def get_or_create(builder):
        seen.update(builder._options)
        raise Built

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    with pytest.raises(Built):
        session.get_spark("conf-probe", master="local[1]", **kwargs)
    return seen


def test_daemon_conf_keeps_extra_pythonpath(monkeypatch):
    conf = _builder_conf(
        monkeypatch, extra_conf={"spark.executorEnv.PYTHONPATH": "/data/py-libs"}
    )
    assert conf["spark.python.daemon.module"] == "openocr_spark.worker_daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        ["/data/py-libs", ROOT]
    )


def test_package_in_zip_keeps_stock_daemon(monkeypatch):
    monkeypatch.setattr(session.os.path, "isfile", lambda path: False)
    conf = _builder_conf(monkeypatch)
    assert "spark.python.daemon.module" not in conf
    assert "spark.executorEnv.PYTHONPATH" not in conf
