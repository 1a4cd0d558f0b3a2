"""Python-worker task setup: PySpark calls ``importlib.invalidate_caches()``
at the start of every task, and on CPython < 3.13 every zipimporter then
re-read its archive's whole directory (16 reads of pyspark.zip / the py4j
zip, ~0.2 s of CPU per task). Importing the package installs a stat-keyed
``zipimporter.invalidate_caches``: an unchanged archive is not re-read, a
rewritten one still is."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import hoopstat_haus_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 invalidates zip directories lazily"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "probe.zip")
    names = ["_pyworker_probe_a", "_pyworker_probe_b"]
    _write_zip(path, names[:1])
    monkeypatch.syspath_prepend(path)
    yield path, names
    sys.path_importer_cache.pop(path, None)
    for name in names:
        sys.modules.pop(name, None)


@pytest.fixture()
def reads(monkeypatch):
    """Archives whose directory is read; zipimport looks the name up at call time."""
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(zip_on_path, reads):
    path, names = zip_on_path
    assert importlib.import_module(names[0]).NAME == names[0]
    importlib.invalidate_caches()  # stamps the archive imported after install
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(zip_on_path, reads):
    path, names = zip_on_path
    importlib.import_module(names[0])
    importlib.invalidate_caches()
    _write_zip(path, names)
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [path]
    assert importlib.import_module(names[1]).NAME == names[1]


def test_deleted_archive_raises_nothing(zip_on_path):
    path, names = zip_on_path
    importlib.import_module(names[0])
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert sys.path_importer_cache[path]._files == {}


def test_install_is_idempotent():
    wrapper = zipimport.zipimporter.invalidate_caches
    assert wrapper._stat_keyed
    importlib.reload(hoopstat_haus_spark)
    hoopstat_haus_spark._reuse_unchanged_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is wrapper


def test_worker_tasks_do_not_reread_zip_directories(spark):
    def body(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        import hoopstat_haus_spark  # noqa: F401  (installs the guard)

        n = 0
        read = zipimport._read_directory

        def counting(archive):
            nonlocal n
            n += 1
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [n]})

    probe = spark.range(0, 8, 1, 8).mapInArrow(body, "reads long")
    probe.collect()  # warm-up: workers exist and have imported the package
    assert [r.reads for r in probe.collect()] == [0] * 8
