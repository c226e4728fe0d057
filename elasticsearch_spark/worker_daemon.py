"""The Python worker daemon of every ``get_spark`` session
(``spark.python.daemon.module``): ``pyspark.daemon`` whose workers
re-read an import archive only when it has changed on disk.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start
of every task, and since Python 3.10 that makes each ``zipimporter``
re-read its archive's whole directory. A worker holds about 16 of
them, 12 on the 3.5 MB ``pyspark.zip``, so every Python task paid
~150-200 ms of directory parsing (BENCH/BASELINE.md "Shard placement
and the per-Python-task fixed cost"). The gate below keys each archive
on ``(st_ino, st_size, st_mtime_ns)``: an unchanged archive would read
back an identical directory, so the cached one is reused; a changed,
replaced or deleted archive (or one that cannot be stat'ed) goes
through the stock method, as before.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_read_keys: dict[str, tuple[int, int, int]] = {}  # archive -> key of its last read


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_keys.get(self.archive) == key:
        self._files = files
        return
    _stock_invalidate(self)
    if key is None:
        _read_keys.pop(self.archive, None)
    else:
        _read_keys[self.archive] = key


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # forked workers inherit the keys
    daemon.manager()
