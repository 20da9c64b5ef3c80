"""PySpark worker daemon for lucene_spark sessions.

``get_spark`` names this module as ``spark.python.daemon.module``; it runs
the stock ``pyspark.daemon`` manager, so every Python worker is still
forked from one daemon and runs ``pyspark.worker`` unchanged.

Why it exists: the worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``). On
CPython < 3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads the
whole archive directory right away, and the worker holds one zipimporter
per imported ``pyspark.zip`` subpackage, so each task re-parses the same
1300-entry directory about 16 times (~6 ms each on a 4-core host).
CPython 3.13 made the invalidation lazy. Here, on older versions only, an
archive is re-read only when its (inode, size, mtime) differs from the
read the importer holds; a rewritten archive is still re-read.

To confirm it loaded, run ``lucene_spark.daemon.gated()`` inside a task
(e.g. in ``mapInPandas``): True on CPython < 3.13 when the workers came
from this daemon.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches
# archive path -> (signature, directory dict read under that signature)
_reads: dict = {}


def _signature(path: str):
    st = os.stat(path)
    return st.st_ino, st.st_size, st.st_mtime_ns


def _gated_invalidate_caches(self) -> None:
    """zipimporter.invalidate_caches that skips the re-read when the
    archive is the one already read (importers of one archive share it)."""
    try:
        sig = _signature(self.archive)
    except OSError:
        _reads.pop(self.archive, None)
        _original(self)
        return
    seen = _reads.get(self.archive)
    if seen is not None and seen[0] == sig:
        self._files = seen[1]
        return
    _original(self)
    # signature taken before the read: a rewrite during it re-reads next time
    _reads[self.archive] = (sig, self._files)


def install() -> None:
    """Gate zip re-reads in this process (no-op on CPython >= 3.13)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _gated_invalidate_caches


def gated() -> bool:
    """Whether this process runs the gated ``invalidate_caches``."""
    return zipimport.zipimporter.invalidate_caches is _gated_invalidate_caches


if __name__ == "__main__":
    # install through the importable module, so tasks see the same gate
    # under its real name
    from lucene_spark import daemon

    daemon.install()
    from pyspark.daemon import manager

    manager()
