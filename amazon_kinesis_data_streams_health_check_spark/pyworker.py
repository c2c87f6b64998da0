"""The engine's Python-worker contract: cheap per-task zip-cache invalidation.

Spark runs every Python UDF body (``mapInPandas``, ``applyInPandas``,
``applyInPandasWithState``, Python data-source reads) in a pooled worker
process, and before each task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython < 3.13 that makes every cached
``zipimport.zipimporter`` re-read its archive's whole central directory: about
19 importers in a worker, 14 of them over the 1328-entry ``pyspark.zip``, at
0.1-0.3 s per call. A stateful streaming task starts two worker invocations
(new data, then the timeout pass), so a micro-batch of the heartbeat alarm
(``streaming/stateful_alarm.py``) spent most of its time re-reading
``pyspark.zip`` and a few milliseconds in the alarm itself. CPython 3.13 made
the invalidation lazy (gh-103200).

Importing this module inside a Spark Python worker backports that once per
process: ``zipimporter.invalidate_caches`` re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` changed since that importer last read it,
and falls through to the stdlib method when the archive cannot be stat'ed.
The driver and Python >= 3.13 keep the stdlib method.

UDF closures are pickled by value, so a worker imports nothing of the engine
unless the UDF references it. Every engine UDF body therefore starts with
``pyworker.ready()``: the reference makes cloudpickle import this module on
the worker, and the call itself is a no-op once the backport is in. The
Python data sources (``sources/kinesis_sim.py``, ``sources/kinesis_put.py``)
are the exception: each module is pickled by value whole, also into
driver-side runners that cannot import the engine, so their executor-side
read and write import this module inside the method body instead.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: Python versions whose ``zipimporter.invalidate_caches`` is already lazy.
_LAZY_IN_STDLIB = sys.version_info >= (3, 13)

#: The stdlib method (unwrapped, should this module ever be re-imported).
_STDLIB_INVALIDATE = getattr(
    zipimport.zipimporter.invalidate_caches,
    "__wrapped__",
    zipimport.zipimporter.invalidate_caches,
)


def _lazy_invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive only if it changed since its last read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self.__dict__.pop("_read_signature", None)
        return _STDLIB_INVALIDATE(self)
    # Stat before reading: an archive replaced mid-read leaves the older
    # signature behind, so the next call reads it again.
    signature = (st.st_mtime_ns, st.st_size, st.st_ino)
    if self.__dict__.get("_read_signature") != signature:
        _STDLIB_INVALIDATE(self)
        self._read_signature = signature


_lazy_invalidate_caches.__wrapped__ = _STDLIB_INVALIDATE


def _on_spark_worker() -> bool:
    try:
        from pyspark.core.files import SparkFiles
    except ImportError:  # Spark Connect-only client: no worker side here
        return False
    return SparkFiles._is_running_on_worker


def ready() -> bool:
    """Install the backport if this process is a Spark Python worker on
    CPython < 3.13, at most once; return whether it is installed."""
    if hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__"):
        return True
    if _LAZY_IN_STDLIB or not _on_spark_worker():
        return False
    zipimport.zipimporter.invalidate_caches = _lazy_invalidate_caches
    return True


ready()
