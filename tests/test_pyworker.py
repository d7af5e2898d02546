"""The engine's Python worker daemon (``pyworker.py``): the zipimporter
guard that stops each task re-reading Spark's archives, and the session's
choice between it and the stock ``pyspark.daemon``."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from etl_covid19_brasil_spark import pyworker, session

REPO = str(Path(__file__).resolve().parents[1])


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimporter re-reads lazily from 3.12 on"
)
def test_zip_guard_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"

    def write(names):
        with zipfile.ZipFile(archive, "w") as z:
            for n in names:
                z.writestr(n, "x = 1\n")

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        pyworker._guarded(zipimport.zipimporter.invalidate_caches),
    )
    write(["a.py"])
    importers = [zipimport.zipimporter(str(archive)) for _ in range(2)]
    reads.clear()
    for imp in importers * 2:  # two invalidations of two importers
        imp.invalidate_caches()
    assert len(reads) == 1
    write(["a.py", "b.py"])  # rewritten: new size and mtime
    for imp in importers:
        imp.invalidate_caches()
    assert len(reads) == 2
    assert all("b.py" in imp._files for imp in importers)


def test_daemon_module_follows_where_a_worker_can_import_the_package(
    tmp_path, monkeypatch
):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(REPO)
    assert session._daemon_module("local[4]") == "etl_covid19_brasil_spark.pyworker"
    assert session._daemon_module("local") == "etl_covid19_brasil_spark.pyworker"
    # executors elsewhere (or in local-cluster's own work dirs): unchecked
    for master in ("spark://host:7077", "yarn", "k8s://https://h:443", "local-cluster[2,1,1024]"):
        assert session._daemon_module(master) == "pyspark.daemon", master
    monkeypatch.chdir(tmp_path)
    assert session._daemon_module("local[4]") == "pyspark.daemon"
    monkeypatch.setenv("PYTHONPATH", REPO)
    assert session._daemon_module("local[4]") == "etl_covid19_brasil_spark.pyworker"


def test_test_session_runs_the_engine_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == "etl_covid19_brasil_spark.pyworker"


def test_session_outside_the_package_keeps_the_stock_daemon(tmp_path):
    """A driver that imports the package from a path its workers do not
    have still runs Python UDFs: the session keeps ``pyspark.daemon``."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from etl_covid19_brasil_spark import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        print(spark.conf.get("spark.python.daemon.module"))

        def double(batches):
            for pdf in batches:
                yield pdf * 2

        print(sorted(r.id for r in spark.range(3).mapInPandas(double, "id long").collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.splitlines()[-2:] == ["pyspark.daemon", "[0, 2, 4]"]
