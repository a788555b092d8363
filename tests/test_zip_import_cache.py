"""Importing ``fits2db_spark`` makes ``zipimporter.invalidate_caches``
re-read an archive only when it changed: PySpark invalidates the import
caches at the start of every Python task, and before CPython 3.13 that
re-read every zip archive on the worker's ``sys.path``."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import fits2db_spark

needs_eager_stdlib = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ re-reads zip archives lazily; nothing is installed"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@needs_eager_stdlib
def test_unchanged_zip_is_not_reread_and_a_changed_one_is(tmp_path, monkeypatch):
    archive = tmp_path / "probe.zip"
    _write_zip(archive, {"zip_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zip_probe_a", "zip_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zip_probe_a").X == 1
    importlib.invalidate_caches()  # the first call reads: no signature yet

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(3):
        importlib.invalidate_caches()
    assert str(archive) not in reads

    _write_zip(archive, {"zip_probe_a": "X = 1\n", "zip_probe_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module("zip_probe_b").Y == 2


@needs_eager_stdlib
def test_install_is_idempotent():
    installed = zipimport.zipimporter.invalidate_caches
    assert installed.rereads_on_change
    fits2db_spark._reread_zip_archives_on_change()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_python_workers_run_with_the_replacement(spark):
    """A task that imports program code runs with the replacement
    installed in its worker, on every CPython before 3.13."""
    import pyarrow as pa

    def probe(batches):
        import sys
        import zipimport

        import fits2db_spark  # noqa: F401

        for _ in batches:
            pass
        installed = getattr(zipimport.zipimporter.invalidate_caches, "rereads_on_change", False)
        yield pa.RecordBatch.from_arrays(
            [pa.array([installed]), pa.array([sys.version_info[1]], pa.int32())],
            ["installed", "minor"],
        )

    rows = spark.range(1).mapInArrow(probe, "installed boolean, minor int").collect()
    assert rows
    assert all(r.installed == (r.minor < 13) for r in rows)
