"""zipcache: a zip archive's directory is re-read only when the archive changed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from core_spark import zipcache

patched = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the stdlib re-reads lazily from 3.12 on"
)


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def on_path(monkeypatch):
    """Put an archive on sys.path; forget its modules and importers afterwards."""
    added = []

    def add(archive, *modules):
        monkeypatch.syspath_prepend(str(archive))
        added.append((str(archive), modules))

    yield add
    for archive, modules in added:
        for m in modules:
            sys.modules.pop(m, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)
        zipcache._read.pop(archive, None)


def test_changed_archive_is_re_read(tmp_path, on_path):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zc_changed_a.py": "X = 1\n"})
    on_path(archive, "zc_changed_a", "zc_changed_b")
    import zc_changed_a

    assert zc_changed_a.X == 1
    importlib.invalidate_caches()  # records the archive as read
    size = os.path.getsize(archive)
    _write_zip(archive, {"zc_changed_a.py": "X = 1\n", "zc_changed_b.py": "Y = 2\n"})
    assert os.path.getsize(archive) != size
    importlib.invalidate_caches()
    import zc_changed_b

    assert zc_changed_b.Y == 2


@patched
def test_unchanged_archive_is_not_re_read(tmp_path, on_path, monkeypatch):
    archive = tmp_path / "pkg.zip"
    _write_zip(archive, {"zc_pkg/__init__.py": "", "zc_pkg/mod.py": "Z = 3\n"})
    on_path(archive, "zc_pkg", "zc_pkg.mod")
    import zc_pkg.mod

    assert zc_pkg.mod.Z == 3
    importers = [f for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter) and f.archive == str(archive)]
    assert sorted(f.prefix for f in importers) == ["", "zc_pkg" + os.sep]
    importlib.invalidate_caches()

    calls = []
    read = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert calls == []
    assert all(f._files is zipimport._zip_directory_cache[str(archive)] for f in importers)


def test_deleted_archive(tmp_path, on_path):
    archive = tmp_path / "gone.zip"
    _write_zip(archive, {"zc_gone_a.py": "A = 1\n", "zc_gone_c.py": "C = 1\n"})
    on_path(archive, "zc_gone_a", "zc_gone_c")
    import zc_gone_a  # noqa: F401

    os.remove(archive)
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        import zc_gone_c  # noqa: F401


@patched
@pytest.mark.spark
def test_workers_run_the_shared_method(spark):
    def probe(batches):
        import zipimport

        import core_spark  # noqa: F401
        import pandas as pd
        from core_spark import zipcache

        for _ in batches:
            pass
        shared = zipimport.zipimporter.invalidate_caches is zipcache.invalidate_caches
        yield pd.DataFrame({"shared": [shared]})

    df = spark.range(0, 4, numPartitions=4)
    for _ in range(2):
        rows = df.mapInPandas(probe, "shared boolean").collect()
    assert [r.shared for r in rows] == [True] * 4
