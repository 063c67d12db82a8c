"""Python worker daemon: ``pyspark.daemon`` with a stat-checked zip cache.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Each ``zipimporter`` on the
worker path -- one per imported pyspark subpackage in ``pyspark.zip`` --
then re-reads its archive's whole central directory, which held every task
about 270 ms before its UDF ran (Python 3.11, 4-core box).  Here an
importer re-reads only when the archive's ``(size, mtime_ns)`` changed
since it last read it; a rewritten archive, a new path entry and directory
finders behave as before.

``session.get_spark`` selects this module through ``spark.python.daemon.module``;
forked workers inherit the wrapper.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """zipimporter.invalidate_caches, skipped while the archive is unchanged."""
    stamp = _stamp(self.archive)  # taken before the read: a racing rewrite re-reads next time
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def main() -> None:
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # stamp every importer once, before the workers fork
    manager()


if __name__ == "__main__":
    # Run the package's copy, so workers see the wrapper under its module name.
    from youtubeanalyzerproject_big_data__spark import daemon

    daemon.main()
