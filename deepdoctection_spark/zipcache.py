"""Zip importers that re-read their archive only when it changed.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start of
every task; before CPython 3.13 each ``zipimporter`` on the worker path
(pyspark.zip, py4j, the spark-core jar) then re-reads its archive's whole
directory, ~0.2 CPU-s per task. ``install`` runs when this package is
imported, which every worker does to unpickle an engine UDF, so a reused
worker re-reads an archive only when its stat differs from the last read.
"""

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
    except OSError:  # missing archive: the stock method empties the importer
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _stock_invalidate(self)
        self._read_stamp = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
