"""Python-worker daemon: ``pyspark.daemon`` without the per-task zip re-read.

Every Python task starts with ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. On CPython 3.11 that calls
``zipimport.zipimporter.invalidate_caches`` on every cached zip importer,
and each call eagerly re-reads its archive's central directory. Workers
import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries)
and py4j from its own zip, through one importer per imported sub-package:
a worker that has run a UDF holds 16, so every task did 16 directory reads,
~0.23 s of worker CPU per task whatever its row count.

``main`` replaces that method with ``invalidate_caches`` below, which
re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
differs from the stamp taken before that importer's last read. A rewritten
archive is still re-read, and a zip shipped with ``addPyFile`` gets its own
importer, so Spark's import semantics are unchanged. Workers fork from this
daemon and inherit the patch. ``session.WORKER_CONF`` points
``spark.python.daemon.module`` here.

Running the module imports the package first (``python -m`` loads
``bitfilters_spark/__init__.py``), so the daemon forks with numpy, pandas,
pyarrow and ``pyspark.sql`` already loaded and a worker's first task skips
those imports too.

Those imports leave the daemon holding ~75k GC-tracked objects, and a
reused worker runs ``gc.collect()`` after every task
(``pyspark/daemon.py``): a full collection that walked every inherited
object again, 25-38 ms per task. ``main`` calls ``gc.freeze()`` just
before forking, which moves all of them into the permanent generation, so
a worker's collections walk only the objects it created itself (64 trivial
``mapInArrow`` tasks: 2.56 s of worker CPU down to 0.13 s, 4 cores;
``tools/worker_task_cost.py``). It also keeps those collections from
writing the GC header of every inherited object, which would copy each
page they sit on.
"""

from __future__ import annotations

import gc
import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    The stamp is taken before the read, so an archive rewritten during
    the read differs from it and is read again next time."""
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_bf_stamp", None):
        return
    _reread(self)
    self._bf_stamp = stamp


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # stamp the importers the imports above created, once, before forking
    importlib.invalidate_caches()
    # move everything loaded so far out of the workers' collections
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    # run the importable copy, so the installed method is
    # ``bitfilters_spark._daemon.invalidate_caches`` in every worker
    from bitfilters_spark._daemon import main as _main

    _main()
