"""The engine's PySpark worker daemon (ticdc_spark/worker_daemon.py): lazy
zip invalidation without Spark, then the daemon live under the session."""

import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from ticdc_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

lazy_python = pytest.mark.skipif(sys.version_info >= (3, 13),
                                 reason="Python 3.13 invalidates zip importers lazily itself")


def _write_zip(path, *modules):
    with zipfile.ZipFile(path, "w") as z:
        for m in modules:
            z.writestr(f"{m}.py", "x = 1\n")


@pytest.fixture()
def lazy(monkeypatch):
    """The wrapper installed for one test; the original method restored after."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    assert worker_daemon.install_lazy_zip_invalidation()
    return lambda: worker_daemon.archive_reads


@lazy_python
def test_unchanged_archive_is_not_reread(lazy, tmp_path):
    path = str(tmp_path / "a.zip")
    _write_zip(path, "mod_a")
    imp, twin = zipimport.zipimporter(path), zipimport.zipimporter(path)
    r0 = lazy()
    imp.invalidate_caches()
    assert lazy() == r0 + 1  # the first call reads once
    imp.invalidate_caches()
    twin.invalidate_caches()
    assert lazy() == r0 + 1
    assert imp.find_spec("mod_a") is not None


@lazy_python
def test_rewritten_archive_is_reread(lazy, tmp_path):
    path = str(tmp_path / "a.zip")
    _write_zip(path, "mod_a")
    imp, twin = zipimport.zipimporter(path), zipimport.zipimporter(path)
    imp.invalidate_caches()
    r0 = lazy()
    _write_zip(path, "mod_a", "mod_b")  # new size
    imp.invalidate_caches()
    assert lazy() == r0 + 1
    assert imp.find_spec("mod_b") is not None
    twin.invalidate_caches()  # takes the re-read directory, reads nothing
    assert lazy() == r0 + 1
    assert twin.find_spec("mod_b") is not None

    st = os.stat(path)  # same size, new mtime
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    imp.invalidate_caches()
    assert lazy() == r0 + 2


@lazy_python
def test_deleted_archive_takes_the_original_path(lazy, tmp_path):
    path = str(tmp_path / "a.zip")
    _write_zip(path, "mod_a")
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()
    os.remove(path)
    imp.invalidate_caches()  # the original method: no error, nothing left
    assert imp.find_spec("mod_a") is None
    assert path not in zipimport._zip_directory_cache

    _write_zip(path, "mod_c")  # back again: read afresh
    imp.invalidate_caches()
    assert imp.find_spec("mod_c") is not None


def test_not_installed_from_python_3_13(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    installed = worker_daemon.install_lazy_zip_invalidation()
    method = zipimport.zipimporter.invalidate_caches
    monkeypatch.undo()
    assert not installed
    assert method is original


def test_package_import_leaves_pyspark_sql_out():
    code = ("import sys, ticdc_spark\n"
            "assert 'pyspark.sql' not in sys.modules, 'pyspark.sql loaded'\n"
            "assert 'ticdc_spark.session' not in sys.modules, 'session loaded'\n"
            "assert callable(ticdc_spark.get_spark)\n")
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True)
    assert p.returncode == 0, p.stderr


def test_pandas_udf_runs_under_the_engine_daemon(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import gc
        import importlib
        import json
        import sys

        wd = sys.modules.get("ticdc_spark.worker_daemon")
        daemon = getattr(sys.modules["__main__"].__spec__, "name", None)
        reads = wd.archive_reads if wd else -1
        importlib.invalidate_caches()  # what every task's set-up calls
        again = wd.archive_reads if wd else -1
        out = [daemon, reads, again - reads, gc.get_freeze_count()]
        return pd.Series([json.dumps(out)] * len(s))

    df = spark.range(1, numPartitions=1).select(probe("id").alias("p"))
    first, second = (json.loads(df.collect()[0]["p"]) for _ in range(2))
    assert spark.conf.get("spark.python.daemon.module") == "ticdc_spark.worker_daemon"
    assert first[0] == second[0] == "ticdc_spark.worker_daemon"
    # the daemon read every archive before forking: no task re-reads one
    assert first[1] == second[1] > 0
    assert first[2] == second[2] == 0
    assert first[3] > 0  # the preloaded objects are frozen out of collections
