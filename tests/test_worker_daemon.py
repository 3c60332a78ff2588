"""The Python worker daemon (``incubator_pulsar_spark.pydaemon``):
zip directories are re-read only when the archive changed, a driver
started anywhere can launch the daemon, and ``get_spark`` names it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from incubator_pulsar_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pydaemon_probe/__init__.py", "")
        for name in modules:
            z.writestr(f"pydaemon_probe/{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython 3.13 zipimporter drops its cache "
                           "lazily; the daemon leaves it as it is")
def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, ["a"])
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches)
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read(path))
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pydaemon_probe.a").NAME == "a"
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, ["a", "b"])
        importlib.invalidate_caches()
        assert archive in reads
        assert importlib.import_module("pydaemon_probe.b").NAME == "b"
    finally:
        for name in [m for m in sys.modules if m.startswith("pydaemon_probe")]:
            del sys.modules[name]
        sys.path_importer_cache.pop(archive, None)


_FOREIGN_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import functions as F
from incubator_pulsar_spark.session import get_spark

spark = get_spark("pydaemon-cwd", master="local[1]", shuffle_partitions=1,
                  extra_conf={{"spark.driver.memory": "1g"}})

@F.pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

print(sorted(r[0] for r in spark.range(3, numPartitions=1)
             .select(plus_one("id")).collect()))
spark.stop()
"""


def test_pandas_udf_from_foreign_cwd_without_pythonpath(tmp_path):
    """Spark starts the daemon with the driver's cwd and PYTHONPATH:
    from anywhere but the repository root, only the executor
    PYTHONPATH that get_spark sets makes the daemon importable."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = tmp_path / "driver.py"
    script.write_text(_FOREIGN_DRIVER.format(repo=REPO))
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[1, 2, 3]"


def test_session_names_the_daemon(spark):
    assert (spark.conf.get("spark.python.daemon.module")
            == "incubator_pulsar_spark.pydaemon")
    path = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert path[0] == REPO
