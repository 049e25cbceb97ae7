"""Spark's Python worker entry, without the per-task re-read of every zip
on the worker's path.

Every task's ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11 that reaches
``zipimport.zipimporter.invalidate_caches``, which re-reads the archive's
whole central directory, once per cached importer: 16 importers over the
spark-core jar (5359 entries), ``pyspark.zip`` and the py4j zip cost
0.24-0.30 CPU-s per task. Here an importer re-reads only when its
archive's ``(st_ino, st_mtime_ns, st_size)`` differs from the stamp of
this process's last read of that archive; otherwise it takes that read's
directory. A rewritten zip is still re-read, and a new path entry still
gets a fresh importer.

``pyspark.daemon`` imports this module before it forks (it accepts worker
modules named ``pyspark*`` only), so the reads made here are inherited by
every worker, and then calls :func:`main`. Run as ``python -m
pyspark_cis_worker`` (``spark.python.use.daemon=false``), the module runs
``pyspark.worker`` as ``__main__``.
"""

import os
import sys
import zipimport

# archive path -> (stamp, directory) of this process's last read of it
_READS = {}


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def _invalidate_caches(self, _reread=zipimport.zipimporter.invalidate_caches):
    stamp = _stamp(self.archive)
    last = _READS.get(self.archive)
    if last is not None and last[0] == stamp:  # a None stamp is never stored
        self._files = last[1]
        return
    _reread(self)
    if stamp is not None:
        _READS[self.archive] = (stamp, self._files)


# 3.13 reads a zip's directory lazily and keeps no eager ``_files``
if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer.invalidate_caches()

if __name__ == "__main__":
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
else:
    from pyspark.worker import main  # noqa: F401 — what pyspark.daemon calls
