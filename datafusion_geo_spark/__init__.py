"""datafusion_geo_spark — a PySpark-native spatial + LLM-data analytics
engine with the query surface of systemxlabs/datafusion-geo (reference at
/root/reference, read-only; SURVEY.md is the blueprint).

Architecture (SURVEY.md §1.3, §7.0):
  * geometry = standard (E)WKB bytes in ordinary BinaryType columns,
  * operators = vectorized pandas UDFs over a dependency-free Python
    geometry core (no shapely/GEOS in this environment),
  * aggregation/joins/scans = Spark SQL built-ins (the reference likewise
    inherits them from DataFusion),
  * scale paths = bbox-prefilter columns + broadcast spatial joins
    (datafusion_geo_spark.operators).
"""

import os
import zipimport

from pyspark import TaskContext

from . import functions
from .functions import register_all


def _guard_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(st_mtime_ns, st_size)`` differs
    from what that importer last read (the plain re-read when the stat
    fails). PySpark's worker calls ``importlib.invalidate_caches()`` at
    the start of every task; on Python 3.11 each cached zipimporter of
    pyspark.zip then re-reads its ~1,300-entry directory (130-400 ms of
    fixed cost per task, measured on a 4-core host). Files shipped with ``addPyFile`` still load:
    they arrive as new ``sys.path`` entries (importers with no stat
    read yet) or rewrite their archive with a new mtime. Idempotent."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_keyed", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        key = (st.st_mtime_ns, st.st_size)
        if getattr(self, "_read_stat", None) != key:
            reread(self)
            self._read_stat = key

    invalidate_caches.stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# only inside a Spark task (a worker unpickling a library UDF): reused
# workers then skip the re-read on every later task; the driver's import
# machinery is left alone
if TaskContext.get() is not None:
    _guard_zip_rereads()

__version__ = "0.1.0"
__all__ = ["functions", "register_all", "__version__"]
