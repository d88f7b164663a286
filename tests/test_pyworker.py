"""``pyworker.install``: zip importers re-read an archive's directory only
when the archive changed, in the test process and inside Spark tasks."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from richdem_spark import pyworker

needs_eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 re-reads zip directories lazily; "
           "install() is a no-op there")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def patched(monkeypatch):
    """install() in this process; the original method comes back after
    the test."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    pyworker.install()


@pytest.fixture
def reads(monkeypatch):
    """Archives whose directory is read, in call order."""
    seen = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@needs_eager_reread
def test_unchanged_archive_is_not_reread(patched, reads, tmp_path,
                                         monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["pw_mod_a"])
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module("pw_mod_a").NAME == "pw_mod_a"

    importlib.invalidate_caches()          # first call after install
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert path not in reads

    # a rewritten archive (new size) is re-read, and its new module loads
    _write_zip(path, ["pw_mod_a", "pw_mod_b"])
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("pw_mod_b").NAME == "pw_mod_b"

    # same size, new mtime: re-read once, then not again
    reads.clear()
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(path) == 1


@needs_eager_reread
def test_install_twice_wraps_once(patched):
    wrapper = zipimport.zipimporter.invalidate_caches
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is wrapper
    original = wrapper.__wrapped__
    assert not hasattr(original, "__wrapped__")


@pytest.mark.skipif(sys.version_info < (3, 13), reason="Python >= 3.13")
def test_install_is_a_no_op_from_313(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is original


def test_driver_is_not_patched():
    """Only worker processes get the patch (the package is imported
    here without a TaskContext)."""
    assert not hasattr(zipimport.zipimporter.invalidate_caches,
                       "__wrapped__")


@needs_eager_reread
def test_no_reread_inside_a_task(spark, tmp_path):
    """A task that runs engine code finds the patch installed, and
    invalidating caches there reads no unchanged archive."""
    path = str(tmp_path / "task_mods.zip")
    _write_zip(path, ["pw_task_mod"])

    def probe(batches):
        import richdem_spark  # noqa: F401 -- as unpickled engine code does

        for _ in batches:
            pass
        seen = []
        read = zipimport._read_directory
        sys.path.insert(0, path)
        zipimport._read_directory = lambda a: seen.append(a) or read(a)
        try:
            importlib.import_module("pw_task_mod")
            importlib.invalidate_caches()
            seen.clear()
            importlib.invalidate_caches()
            importlib.invalidate_caches()
            zips = sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
        finally:
            zipimport._read_directory = read
            sys.path.remove(path)
            sys.modules.pop("pw_task_mod", None)
        wrapped = hasattr(zipimport.zipimporter.invalidate_caches,
                          "__wrapped__")
        yield pd.DataFrame({"wrapped": [wrapped], "reads": [len(seen)],
                            "zips": [zips]})

    rows = (spark.range(0, 4, numPartitions=2)
            .mapInPandas(probe, "wrapped boolean, reads int, zips int")
            .collect())
    assert len(rows) == 2
    for r in rows:
        assert r.wrapped and r.reads == 0 and r.zips >= 1, r
