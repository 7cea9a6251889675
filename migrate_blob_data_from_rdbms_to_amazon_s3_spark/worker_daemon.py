"""Spark's Python worker daemon, with zip archives re-read only when they
change.

Before each task PySpark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``), and on CPython 3.10+ that makes
every ``zipimport.zipimporter`` re-parse its archive's central
directory. Workers import pyspark from ``pyspark.zip`` (one importer per
imported subpackage) and the spark-core jar, so a trivial 100-row
``mapInPandas`` task ran 140-270 ms, and about 55 ms without the
re-reads (4-core host). Imported, this module replaces
``zipimporter.invalidate_caches`` with one that re-reads an
archive only when its ``(st_mtime_ns, st_size)`` differs from what that
importer instance last saw, on the instance's first call, or when
``os.stat`` fails. The stamp is per instance because several importers
share one archive, and each has its own directory copy to refresh.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module
(``pyspark.daemon`` loads only worker modules named ``pyspark*``); run as
``__main__`` it hands over to ``pyspark.daemon.manager``, whose forked
workers inherit the patch.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _reread(self)
    self._archive_stamp = stamp


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
