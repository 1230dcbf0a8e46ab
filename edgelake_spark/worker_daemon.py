"""Python worker daemon for sessions built by ``session.get_spark``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark/worker_util.py``, ``setup_spark_files``). On
CPython before 3.12 that makes every cached ``zipimport.zipimporter``
re-read its archive's central directory (3.12 made the re-read lazy,
gh-103200). A worker holds 16 of them: 12 over ``pyspark.zip`` (1,328
entries, 9.7 ms a read), 2 over the ``spark-core`` jar (5,359 entries,
42.8 ms) and 2 over the py4j zip, so every task paid ~0.2 s of CPU
before it ran a line of UDF code. This daemon installs an importer that
re-reads an archive only when its ``(mtime_ns, size)`` changed, then
runs PySpark's own daemon, which forks the workers.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (mtime_ns, size) when its cached directory was read
_read_at: dict = {}


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StampedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` re-reads the archive
    only when the file changed on disk since the shared directory cache
    (``zipimport._zip_directory_cache``) last read it."""

    def __init__(self, path):
        super().__init__(path)
        # first sight of the archive: the constructor has just read it
        _read_at.setdefault(self.archive, _stamp(self.archive))

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp != _read_at.get(self.archive):
            super().invalidate_caches()
            _read_at[self.archive] = stamp
        else:  # another importer over this archive may have re-read it
            self._files = zipimport._zip_directory_cache.get(self.archive, {})


def install() -> None:
    """Put :class:`StampedZipImporter` in place of the stock zipimporter
    for every path entry imported from here on. No-op on Python >= 3.12."""
    if sys.version_info >= (3, 12):
        return
    sys.path_hooks[:] = [
        StampedZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[path]


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
