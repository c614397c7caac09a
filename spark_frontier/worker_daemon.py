"""PySpark worker daemon whose per-task import-cache flush is cheap.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). On CPython 3.10 and
3.11 ``zipimporter.invalidate_caches`` re-parses its archive's whole
central directory, once per zipimporter, and a worker holds one per
package directory it imported from ``pyspark.zip``: ~16 parses of
1,328 entries, 0.3-0.7 s per task before it reads a row. The
replacement below re-reads an archive only when its stat stamp changed
since the last read, so a rewritten archive is still picked up. An
interpreter whose zipimporter re-reads lazily is left alone.

Run as ``spark.python.daemon.module`` (``session.WORKER_DAEMON_MODULE``):
the daemon forks every worker, so each worker inherits the patch.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_eager_invalidate = getattr(zipimport.zipimporter, "invalidate_caches", None)
# newer zipimporters read their directory lazily (``_get_files``)
EAGER_REREAD = _eager_invalidate is not None and not hasattr(
    zipimport.zipimporter, "_get_files")
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    # stat BEFORE reading: a rewrite racing the read leaves a stale
    # stamp, which only costs one more read next time
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _eager_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_stamps[self.archive] = stamp
    else:
        _read_stamps.pop(self.archive, None)


def main() -> None:
    if EAGER_REREAD:
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # one read per archive here records its stamp for every fork
        importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
