"""``worker_daemon``'s zipimporter patch: a rewritten archive is seen by the
next ``importlib.invalidate_caches()``, an unchanged one is not re-read."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from covid19_spark import worker_daemon


@pytest.fixture()
def patched(monkeypatch):
    """Install the daemon's patch for one test, counting directory reads
    per archive; the stock method comes back after."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads: dict[str, int] = {}
    read_directory = zipimport._read_directory

    def counting(archive):
        reads[archive] = reads.get(archive, 0) + 1
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    worker_daemon.install()
    yield reads


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding package ``zd_pkg`` (two modules);
    the modules imported from it are dropped after the test."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"zd_pkg/__init__.py": "", "zd_pkg/a.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m.split(".")[0] == "zd_pkg"]:
        del sys.modules[name]


def test_rewritten_archive_is_seen(patched, archive):
    from zd_pkg import a

    assert a.VALUE == 1
    importlib.invalidate_caches()  # records the archive's stamp
    _write_zip(archive, {
        "zd_pkg/__init__.py": "", "zd_pkg/a.py": "VALUE = 1\n", "zd_pkg/b.py": "VALUE = 2\n",
    })
    importlib.invalidate_caches()
    b = importlib.import_module("zd_pkg.b")
    assert b.VALUE == 2


def test_unchanged_archive_is_not_reread(patched, archive):
    import zd_pkg.a  # noqa: F401 - a second importer, for the package dir

    importers = [
        v for k, v in sys.path_importer_cache.items()
        if isinstance(v, zipimport.zipimporter) and k.startswith(archive)
    ]
    assert len(importers) == 2
    patched.clear()
    importlib.invalidate_caches()
    # the first call after install reads the archive once for both importers
    assert patched.get(archive) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert patched.get(archive) == 1
    _write_zip(archive, {"zd_pkg/__init__.py": "", "zd_pkg/a.py": "VALUE = 10\n"})
    importlib.invalidate_caches()
    assert patched.get(archive) == 2
    assert all(imp._files is importers[0]._files for imp in importers)
