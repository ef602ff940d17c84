"""Python worker daemon: stock ``pyspark.daemon`` behind one stat check.

``pyspark.worker`` calls ``importlib.invalidate_caches()`` at the start
of every task (``setup_spark_files``), so that files shipped with
``sc.addPyFile`` become importable. On CPython 3.11 that call makes
every ``zipimporter`` on the worker path re-read its archive's whole
central directory. Spark's worker path holds pyspark.zip, the py4j zip
and the spark-core jar behind 16 importers and ~26,700 directory
entries: 0.27-0.31 s before every Python task's first row on a 4-vCPU
VM, often more than the task's own work.

``install`` puts a check in front of ``zipimporter.invalidate_caches``:
an importer re-reads only when its archive's stat stamp differs from
the one taken before its last read, or the archive cannot be stat'ed.
An importer without a stamp (made before the check or since) re-reads
once. The check is correct on every CPython and costs one ``stat`` per
importer per task.

``session.get_spark`` runs workers through this module
(``spark.python.daemon.module``); sessions built elsewhere keep stock
pyspark. Keep "daemon" in the module name: worker-memory probes find
Spark's Python workers by it in the command line.
"""

from __future__ import annotations

import importlib
import os
import zipimport

from pyspark import daemon

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches``, skipped while the archive is unchanged."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _reread(self)
        self._archive_stamp = stamp


def install() -> None:
    """Route every zip importer's re-read through the check, and stamp
    the importers that exist now (one read each), so that workers forked
    later start stamped."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    daemon.manager()
