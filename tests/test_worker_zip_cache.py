"""Python workers re-read a zip archive's directory only when it changed.

PySpark runs ``importlib.invalidate_caches()`` at the start of every worker
call; ``session._skip_unchanged_zip_rereads`` keeps that from re-reading
unchanged archives (``pyspark.zip``, the Spark jar, the package zip)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from sqlitedataframe_spark import session

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport re-reads lazily from 3.13 on"
)


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_zip_is_not_reread_and_a_changed_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("sdf_zip_probe_a.py", "VALUE = 'a'\n")
        zf.writestr("sdf_zip_probe_pkg/__init__.py", "")
        zf.writestr("sdf_zip_probe_pkg/mod.py", "VALUE = 'pkg'\n")
    monkeypatch.syspath_prepend(archive)
    for name in ("sdf_zip_probe_a", "sdf_zip_probe_b", "sdf_zip_probe_pkg"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("sdf_zip_probe_a").VALUE == "a"
    # a sub-package gets its own importer over the same archive
    assert importlib.import_module("sdf_zip_probe_pkg.mod").VALUE == "pkg"
    monkeypatch.delitem(sys.modules, "sdf_zip_probe_pkg.mod")

    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("sdf_zip_probe_a.py", "VALUE = 'a'\n")
        zf.writestr("sdf_zip_probe_b.py", "VALUE = 'b'\n")
    importlib.invalidate_caches()
    assert importlib.import_module("sdf_zip_probe_b").VALUE == "b"
    # one read for the changed archive, shared by both of its importers
    assert reads.count(archive) == 1
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_missing_archive_goes_through_the_stdlib_path(tmp_path, monkeypatch):
    archive = tmp_path / "gone.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("sdf_zip_probe_gone.py", "VALUE = 1\n")
    importer = zipimport.zipimporter(str(archive))
    assert importer.find_spec("sdf_zip_probe_gone") is not None
    archive.unlink()
    importer.invalidate_caches()
    assert importer.find_spec("sdf_zip_probe_gone") is None
    assert str(archive) not in zipimport._zip_directory_cache


def test_stdlib_method_untouched_from_python_3_13(monkeypatch):
    def stdlib_invalidate(self):
        pass

    def stdlib_read(archive):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib_invalidate)
    monkeypatch.setattr(zipimport, "_read_directory", stdlib_read)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    session._skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is stdlib_invalidate
    assert zipimport._read_directory is stdlib_read
    # the same call below 3.13 installs the check over them
    monkeypatch.setattr(sys, "version_info", (3, 12, 1, "final", 0))
    session._skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches.__module__ == session.__name__
    assert zipimport._read_directory is not stdlib_read


def test_installed_once_per_process():
    method = zipimport.zipimporter.invalidate_caches
    assert method.__module__ == session.__name__
    session._skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is method


def test_worker_that_imports_the_package_runs_the_check(spark):
    """A Python task that unpickles anything of this package imports it, and
    with it the check."""
    import pyarrow as pa

    from sqlitedataframe_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)

    def probe(batches):
        import zipimport as zi

        import sqlitedataframe_spark.session as s

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"mod": [zi.zipimporter.invalidate_caches.__module__], "pkg": [s.__name__]}
        )

    rows = spark.range(1, numPartitions=1).mapInArrow(probe, "mod string, pkg string").collect()
    assert [(r.mod, r.pkg) for r in rows] == [(session.__name__, session.__name__)]
