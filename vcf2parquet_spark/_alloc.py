"""Per-process setup for every Python process Spark hands the engine.

:func:`worker_setup` is the one call each engine entry point makes
first, whether it runs in an executor task (the encode and decode
``mapInArrow`` functions, the ``vcfblocks`` readers' ``read`` and
writers' ``write``) or in one of Spark's DataSource planner processes
(the ``vcfblocks`` schema, reader and writer factories, filter
pushdown, read planning, job commit and abort).  It is idempotent and
costs microseconds after the first call.  It does five things:

* **Drop the cached zip importers.**  pyspark starts every task and
  every planner call with ``worker_util.setup_spark_files``, which calls
  ``importlib.invalidate_caches()``.  On Python 3.11 that makes each
  ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
  archive's central directory in pure Python.  A worker holds about 16
  of them over ``pyspark.zip`` (about 1,170 modules) and the py4j zip,
  because ``SPARK_HOME`` puts those zips on the worker ``PYTHONPATH``:
  about 0.19 core-seconds per task on a 4-core host (BENCH/BASELINE.md,
  task-cost probe).  Forgetting them makes the next
  ``invalidate_caches`` cheap.  An import that needs one again rebuilds
  it from ``zipimport._zip_directory_cache``, which still holds the
  parsed directory, so nothing is re-read and imports keep working.
  Imports recreate entries, so the drop runs on every call.
* **Freeze the live objects for the cyclic GC** (reused workers only).
  pyspark's daemon runs a full ``gc.collect()`` after every task of a
  reused worker, before the worker can read its next task.  With the
  engine, pyarrow and pyspark imported, that scan took about 59 ms per
  task; ``gc.freeze()`` moves everything alive at the start of the task
  (modules, mostly) out of the collector's view, so the collection only
  scans what the task itself created (about 0.1 ms).  Frozen objects
  are still freed by reference counting; only a reference cycle that
  was alive at a freeze and dies later is never reclaimed, in practice
  cycles in the task's deserialized function and input pipeline.
  ``SPARK_REUSE_WORKER`` is the variable the daemon reads to decide on
  reuse; processes without it, such as the driver, are left alone.
* **mallopt** (once).  glibc serves large (>= 128 KiB) allocations via
  mmap and returns them to the OS on free, so every large numpy
  temporary re-faults its pages.  On hosts where page faults are slow
  (common under sandboxed or virtualized kernels) that dominates kernel
  runtime by 10-100x.  Raising the mmap and trim thresholds keeps big
  buffers on the heap, which stays mapped and is reused.
* **Arrow system pool** (once).  pyarrow's bundled jemalloc purges dirty
  pages aggressively, so every parquet-read or IPC buffer re-faults its
  pages; the system pool routes Arrow through the glibc heap tuned
  above.
* **Arrow CPU pin** (when ``arrow_cpu > 0``): pyarrow defaults to
  ``cpu_count`` threads per worker process, so N tasks × N threads
  contend on an N-core host (see ``EncodeOptions.arrow_cpu``).

The two allocator steps are also :func:`tune_allocators`, which the
kernels package calls on import so kernel calls in the driver process
get them too.  mallopt is a no-op on non-glibc platforms.
"""

from __future__ import annotations

import ctypes
import gc
import os
import sys
import zipimport

import pyarrow as pa

_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3

_TUNED = False


def tune_allocators() -> None:
    """mallopt and the Arrow system pool, once per process."""
    global _TUNED
    if _TUNED:
        return
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt.argtypes = (ctypes.c_int, ctypes.c_int)
        libc.mallopt.restype = ctypes.c_int
        libc.mallopt(_M_MMAP_THRESHOLD, 1 << 30)
        libc.mallopt(_M_TRIM_THRESHOLD, 1 << 30)
    except OSError:
        pass                                  # not glibc
    pa.set_memory_pool(pa.system_memory_pool())
    _TUNED = True


def worker_setup(arrow_cpu: int = 0) -> None:
    """Set up this Python process for engine work (module docstring).
    Call it first in every function Spark runs in a Python process."""
    tune_allocators()
    if arrow_cpu > 0:
        pa.set_cpu_count(arrow_cpu)
        pa.set_io_thread_count(max(2, arrow_cpu))
    cache = sys.path_importer_cache
    for key in [k for k, v in list(cache.items())
                if isinstance(v, zipimport.zipimporter)]:
        cache.pop(key, None)
    if os.environ.get("SPARK_REUSE_WORKER"):
        gc.freeze()
