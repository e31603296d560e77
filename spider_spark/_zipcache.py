"""Re-read a zip archive's directory on ``importlib.invalidate_caches()``
only when the archive changed — Python 3.13's behaviour, for 3.11/3.12.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). Before Python 3.13,
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory, once per importer. A worker holds about 16 importers over
pyspark.zip, the py4j zip and the shipped ``spider_spark`` zip, so each
Python task re-parsed about 27,000 entries: 0.2-0.4 s of CPU per task,
more than most of our pandas UDF batches cost. Python 3.13 only drops
the cached directory there and reads it again on next use.

This module is imported by ``spider_spark/__init__.py``, so it is
installed in every worker that unpickles one of our UDFs. Every
directory read records the archive's ``(st_mtime_ns, st_size)`` stamp,
keyed by archive path and so shared by all importers of the archive;
``invalidate_caches`` reads again only when the stamp on disk differs.
A rewritten (different size or mtime) or newly added zip is still
picked up.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _install() -> None:
    read_directory = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches

    def _read_stamped(archive):
        stamp = _stamp(archive)  # before the read: a write during it re-reads next time
        files = read_directory(archive)
        _stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if files is not None and stamp is not None and _stamps.get(self.archive) == stamp:
            self._files = files  # another importer of this archive may have re-read it
        else:
            reread(self)

    zipimport._read_directory = _read_stamped
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13):
    _install()
