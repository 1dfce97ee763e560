"""Python worker daemon: pyspark's daemon, with zip archives re-read
only when they change.

Before every task, pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and every ``zipimporter`` on
``sys.path`` then re-reads its archive's central directory (pyspark.zip,
py4j's zip, Spark's jar): 150-230 ms per task on a reused worker. Here
a ``zipimporter`` re-reads only when its archive's ``(st_mtime_ns,
st_size)`` differs from the last read, or the stat fails. ``FileFinder``
caches are still invalidated every task, and an archive added with
``sc.addPyFile`` gets a new importer, so new and rewritten archives are
still seen. ``get_spark`` selects this module through
``spark.python.daemon.module`` in local mode.

Importing the module changes nothing; only running it as ``__main__``
installs the hook and starts ``pyspark.daemon.manager``.
"""

import os
import zipimport

_original = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _invalidate_if_changed(importer) -> None:
    try:
        st = os.stat(importer.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(importer, "_tstables_stamp", None) != stamp:
        _original(importer)
        importer._tstables_stamp = stamp


if __name__ == "__main__":
    if _original is not None:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    from pyspark.daemon import manager

    manager()
