"""Keep the import indexes of Spark's own archives in PySpark workers.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
so that files shipped with ``addPyFile`` or ``--py-files`` become
importable. Workers import pyspark from the archives Spark puts on their
path (the zips in ``$SPARK_HOME/python/lib`` and the spark-core jar), and
``zipimporter.invalidate_caches`` re-parses its archive's whole central
directory once per cached importer: about 28,000 zip entries, 140-360 ms
of every task on a 4-core host, for archives that never change while
the worker lives.
Inside a worker, importers over those archives skip that refresh; user
archives and directories keep it, and the driver is left alone.
"""

import os
import re
import sys
import zipimport

_ARCHIVE = re.compile(r"(.+?\.(?:zip|jar))(?:%s|$)" % re.escape(os.sep))
_HOME = os.environ.get("SPARK_HOME")
_SPARK_LIB = os.path.realpath(os.path.join(_HOME, "python", "lib")) if _HOME else None


class _SparkArchiveImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        pass


def _is_spark_archive(archive: str) -> bool:
    """A jar, or a zip in ``$SPARK_HOME/python/lib``."""
    if archive.endswith(".jar"):
        return True
    return archive.endswith(".zip") and os.path.realpath(os.path.dirname(archive)) == _SPARK_LIB


def _spark_archive_hook(path: str) -> _SparkArchiveImporter:
    m = _ARCHIVE.match(path)
    if m is None or not _is_spark_archive(m.group(1)):
        raise ImportError("not a Spark archive", path=path)
    return _SparkArchiveImporter(path)


def keep_spark_archive_indexes() -> None:
    """In a PySpark worker, swap the cached importers over Spark's
    archives and hook the ones made later; elsewhere, or twice, a no-op."""
    if "pyspark.worker" not in sys.modules or _spark_archive_hook in sys.path_hooks:
        return
    for path, imp in list(sys.path_importer_cache.items()):
        if type(imp) is zipimport.zipimporter and _is_spark_archive(imp.archive):
            sys.path_importer_cache[path] = _SparkArchiveImporter(path)
    hooks = sys.path_hooks
    hooks.insert(hooks.index(zipimport.zipimporter) if zipimport.zipimporter in hooks else 0,
                 _spark_archive_hook)
