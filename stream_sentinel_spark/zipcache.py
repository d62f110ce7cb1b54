"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py:setup_spark_files``). Before
CPython 3.13, each cached ``zipimporter`` then re-reads its archive's
whole central directory — one importer per imported subpackage, most of
them into ``pyspark.zip`` (1,328 entries), so a task paid 72-77 ms for
the call in isolation and 287 ms on average inside a busy worker
(Python 3.11, 4 cores).

:func:`install` replaces ``zipimporter.invalidate_caches`` with a check
of the archive's ``(st_ino, st_size, st_mtime_ns, st_ctime_ns)``: an
unchanged archive keeps the directory already in
``zipimport._zip_directory_cache``, and every importer of that archive
shares it; a changed, new or vanished archive takes the stock path.
The ctime and inode catch rewrites that keep the size and restore the
mtime (``cp -p``, ``rsync -t``, an unpacked download): any write or
``utime`` sets the ctime, and a replacing rename changes the inode.
What goes unnoticed is a same-size, same-inode rewrite within one tick
of the filesystem's ctime clock after the archive was last checked;
importers then keep the old directory, whose offsets may not match
the new bytes. CPython 3.13 reads the directory lazily itself, so the
patch is skipped there.

The patch is process-wide: every ``zipimporter`` of the process gets
it, not only pyspark's. It is installed once per process by
``import stream_sentinel_spark`` — on the driver, in user programs and
tests as well; on a Python worker that import happens when the first
task unpickles a closure of this package, so every later task of the
(reused) worker skips the re-reads.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path → (st_ino, st_size, st_mtime_ns, st_ctime_ns) when its
#: directory was last read
_signatures: dict[str, tuple[int, int, int, int]] = {}

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _signatures.pop(self.archive, None)
        _stock_invalidate(self)
        return
    sig = (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _signatures.get(self.archive) == sig:
        self._files = files
        return
    # the stat precedes the read: a rewrite racing it leaves a
    # signature that no longer matches, so the next call re-reads
    _stock_invalidate(self)
    _signatures[self.archive] = sig


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (idempotent; a no-op on
    CPython ≥ 3.13)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
