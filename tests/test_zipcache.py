"""``stream_sentinel_spark.zipcache``: an unchanged zip archive's
directory is not re-read on ``importlib.invalidate_caches()`` (which
pyspark's worker calls at every task start), and a rewritten one is."""

from __future__ import annotations

import importlib
import os
import sys
import time
import zipfile
import zipimport

import pytest

import stream_sentinel_spark  # noqa: F401  (installs the helper)
from stream_sentinel_spark import zipcache

_PKG = "ss_zipcache_probe"


def _write_archive(path, extra: dict[str, str] | None = None,
                   leaf: str = "mod") -> None:
    files = {
        f"{_PKG}/__init__.py": "",
        f"{_PKG}/sub/__init__.py": "",
        f"{_PKG}/sub/leaf/__init__.py": "",
        f"{_PKG}/sub/leaf/{leaf}.py": "VALUE = 1\n",
        **(extra or {}),
    }
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in files.items():
            zf.writestr(name, body)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "probe.zip")
    _write_archive(path)
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m == _PKG or m.startswith(_PKG + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)
    zipcache._signatures.pop(path, None)


def _reads_of(archive, monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_invalidate_caches_reads_each_archive_at_most_once(archive, monkeypatch):
    if sys.version_info < (3, 13):
        assert zipimport.zipimporter.invalidate_caches is zipcache._invalidate_caches
    importlib.import_module(f"{_PKG}.sub.leaf.mod")
    importers = [
        v for k, v in sys.path_importer_cache.items()
        if k.startswith(archive) and isinstance(v, zipimport.zipimporter)
    ]
    # one importer per package level: the archive, pkg, pkg/sub, pkg/sub/leaf
    assert len(importers) >= 3
    reads = _reads_of(archive, monkeypatch)
    importlib.invalidate_caches()
    assert len(reads) <= 1, reads
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) <= 1, reads
    # every importer shares the one cached directory
    files = zipimport._zip_directory_cache[archive]
    assert all(imp._files is files for imp in importers)


def test_rewritten_archive_is_reread(archive, monkeypatch):
    importlib.import_module(f"{_PKG}.sub.leaf.mod")
    importlib.invalidate_caches()
    _write_archive(archive, {f"{_PKG}/sub/leaf/fresh.py": "VALUE = 2\n"})
    reads = _reads_of(archive, monkeypatch)
    importlib.invalidate_caches()
    assert len(reads) <= 1, reads
    fresh = importlib.import_module(f"{_PKG}.sub.leaf.fresh")
    assert fresh.VALUE == 2


def test_same_size_rewrite_with_mtime_kept_is_reread(archive, monkeypatch):
    """A rewrite that keeps the size and restores the mtime (``cp -p``,
    ``rsync -t``) still changes the ctime, so the directory is re-read."""
    importlib.import_module(f"{_PKG}.sub.leaf.mod")
    importlib.invalidate_caches()
    before = os.stat(archive)
    time.sleep(0.05)  # past one tick of the filesystem's ctime clock
    _write_archive(archive, leaf="new")  # same name length: same size
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(archive)
    assert (after.st_size, after.st_mtime_ns) == (before.st_size, before.st_mtime_ns)
    reads = _reads_of(archive, monkeypatch)
    importlib.invalidate_caches()
    assert len(reads) <= 1, reads
    assert importlib.import_module(f"{_PKG}.sub.leaf.new").VALUE == 1
