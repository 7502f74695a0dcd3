"""PySpark worker daemon that keeps zip import caches across tasks.

`session.get_spark` names this module as `spark.python.daemon.module`, so
every Python worker forks from it.  For each task PySpark's worker runs
`setup_spark_files`, which calls `importlib.invalidate_caches()`.  Before
Python 3.13, that makes every `zipimport.zipimporter` re-read its whole
archive directory -- a warm worker holds about 16 importers over the
1,300-entry `pyspark.zip`, so each task spends about a quarter of a CPU
second before it sees a row.  Python 3.13 made the invalidation lazy.

`install()` replaces `zipimporter.invalidate_caches` with a version that
re-reads an archive only when its `(st_mtime_ns, st_size, st_ino)` differs
from the read the shared directory cache holds, or when it is missing.
New `--py-files` zips and rewritten archives are still picked up; only the
re-read of an unchanged zip goes away.  Then `pyspark.daemon.manager()`
runs unchanged.  Delete this module once the floor is Python 3.13.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> stat signature of the file when the directory now in
# zipimport._zip_directory_cache was read from it
_read_signature: dict[str, tuple[int, int, int]] = {}


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """`zipimporter.invalidate_caches` that skips an unchanged archive."""
    # stat before reading: a rewrite racing the read leaves an older
    # signature behind, so the next call reads again
    sig = _signature(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if (sig is not None and cached is not None
            and _read_signature.get(self.archive) == sig):
        self._files = cached
        return
    _stdlib_invalidate(self)
    if sig is not None and self.archive in zipimport._zip_directory_cache:
        _read_signature[self.archive] = sig
    else:
        _read_signature.pop(self.archive, None)


def install() -> None:
    """Patch `zipimporter` on Python < 3.13, then read every archive once
    so processes forked afterwards start with their signatures recorded."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    importlib.invalidate_caches()


if __name__ == "__main__":
    # run as `python -m`, this file is `__main__`; patch through the
    # importable module so workers can check which function is installed
    from mcp_ocr_server_spark import spark_daemon

    spark_daemon.install()
    from pyspark import daemon

    daemon.manager()
