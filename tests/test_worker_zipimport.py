"""The package's guard on ``zipimporter.invalidate_caches``: pyspark's
worker calls ``importlib.invalidate_caches()`` on every task, and on
CPython < 3.13 that re-reads the whole directory of every zip archive
on ``sys.path`` (pyspark.zip among them).  The guard re-reads an
archive only when it changed."""

import sys
import zipfile
import zipimport

import pytest

import serd_spark  # noqa: F401 — installs the guard

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ reloads a zip directory lazily; no guard")


def _write_zip(path: str, source: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("probe_mod.py", source)


def test_invalidate_caches_rereads_only_a_changed_archive(
        tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "X = 1\n")
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()  # records the archive's stat stamp

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads == []
    assert imp.get_source("probe_mod") == "X = 1\n"

    _write_zip(archive, "X = 'rewritten'\n")
    imp.invalidate_caches()
    assert reads == [archive]
    assert imp.get_source("probe_mod") == "X = 'rewritten'\n"


@pytest.mark.spark
def test_guard_is_live_in_every_python_task(spark):
    def probe(_):
        import zipimport

        import serd_spark  # noqa: F401

        yield getattr(zipimport.zipimporter.invalidate_caches,
                      "_serd_guard", False)

    got = (spark.sparkContext.parallelize(range(8), 8)
           .mapPartitions(probe).collect())
    assert got == [True] * 8
