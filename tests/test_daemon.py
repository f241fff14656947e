"""The worker daemon named by ``session.get_session``: archive re-reads
keyed on (size, mtime), and Python UDFs running under it."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from backend_spark import daemon


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the daemon leaves 3.13+ unpatched")
def test_archive_reread_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zmod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    # restored on teardown: install() patches the class in place
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p))
    monkeypatch.delitem(sys.modules, "zmod_a", raising=False)
    monkeypatch.delitem(sys.modules, "zmod_b", raising=False)
    importer = zipimport.zipimporter(archive)
    assert importer.find_spec("zmod_a") is not None
    daemon.install()
    reads.clear()

    importer.invalidate_caches()
    assert reads == [archive]  # first sight: no read recorded yet
    importer.invalidate_caches()
    other = zipimport.zipimporter(archive)  # built from the directory cache
    other.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [archive]  # unchanged: no re-read, for any importer

    _write_zip(archive, {"zmod_a.py": "X = 1\n", "zmod_b.py": "Y = 2\n"})
    importer.invalidate_caches()
    other.invalidate_caches()
    assert reads == [archive] * 2  # rewritten in place (new size): one read
    assert importer.find_spec("zmod_b") is not None and other.find_spec("zmod_b") is not None

    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importer.invalidate_caches()
    assert reads == [archive] * 3  # same size, new mtime


def test_pandas_udf_runs_under_the_daemon(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == "backend_spark.daemon"

    @F.pandas_udf("string")
    def main_module(s: pd.Series) -> pd.Series:
        import sys as worker_sys

        return s.map(lambda _: worker_sys.modules["__main__"].__spec__.name)

    rows = spark.range(3).select(main_module(F.col("id").cast("string")).alias("m")).collect()
    assert {r.m for r in rows} == {"backend_spark.daemon"}
