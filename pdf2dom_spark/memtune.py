"""Per-process tuning of the Python worker that runs the Arrow kernels.

Two things happen here, both once per worker process and both without
changing what any kernel computes.

glibc malloc (``tune_malloc``). Measured on a shared-hypervisor VM:
numpy serves every array larger than
glibc's M_MMAP_THRESHOLD (128 KB default) with a fresh mmap and returns
it with munmap on free. Each Arrow batch therefore allocates and
RELEASES tens of MB of pages back to the OS, and every next batch
re-faults them in. On shared / ballooned hypervisors a first-touch
fault storm intermittently costs 100-1000x the normal page-fault price
(measured: touching 100 MB of fresh pages swung 30 ms <-> 28 s with a
CLEAN single-thread CPU probe throughout — the stall is in the memory
subsystem, not the CPU), which shows up as multi-second noise on
queries whose arithmetic costs milliseconds.

Raising M_MMAP_THRESHOLD and M_TRIM_THRESHOLD makes glibc serve the
kernel's large arrays from the process heap and KEEP freed blocks for
reuse instead of round-tripping them through the OS: each long-lived
worker pays first-touch once, not once per batch. The cost is a higher
steady-state RSS per worker (the high-water heap stays mapped — tens
of MB per worker at the default 2000-doc Arrow batches), which is the
right trade for a long-lived executor on either this box or a real
cluster.

Runtime mallopt(2) via ctypes is used instead of MALLOC_*_ env vars so
the tune also lands in Python workers whose environment the harness
does not control (e.g. the correctness driver creates the
SparkSession). Env vars are still set by job.py and perfbench so forked
workers start tuned from their first allocation.

The PySpark worker's per-task tax (``tune_worker``). A reused Python
worker pays two fixed costs on every task, whatever the task does.
Measured on a 4-vCPU VM (Python 3.11, pyspark 4.1, workers importing
pyspark from ``pyspark.zip``): a no-op ``mapInArrow`` over 16 salted
partitions took 1.6-1.8 s wall and 4.3-4.6 s of Python-worker CPU
against a 0.4 s bare shuffle; with ``tune_worker`` at its top, 0.6 s and
0.04 s.

1. ``worker_util.setup_spark_files`` calls
   ``importlib.invalidate_caches()`` at the start of every task. On
   Python 3.11 every ``zipimport.zipimporter`` in
   ``sys.path_importer_cache`` then re-reads its archive's central
   directory: 16 re-reads of the 3.5 MB, 1,328-entry ``pyspark.zip`` per
   task, ~80% of ``pyspark.worker.main`` under cProfile. Dropping the
   cached zip importers makes that call free. Imports keep working:
   submodules resolve through their package's ``__path__``, and a finder
   is recreated from zipimport's own directory cache when one is needed.
   It is redone on every call because any later import from the zip
   caches a fresh importer, which the next task would re-read again; the
   dict scan costs microseconds.
2. After every task the daemon runs a full ``gc.collect()`` over the
   ~110k objects the imports left behind: 70-100 ms per task.
   ``gc.freeze()`` once per process moves that import-time heap out of
   the collector's reach; objects a task allocates are collected as
   before.
3. The kernel's long-lived caches (colors, page matrices) grow after
   that first freeze, and the daemon's collection re-walked them after
   every task: about 50k tracked objects, 25-30 ms per task, after 3000
   documents in one process (measured while the tokenizer still kept a
   memo of its fragments).
   ``task_done`` collects the task's garbage when a kernel generator
   ends, then freezes the survivors; the daemon's collection then costs
   0.5-1 ms.

On the same VM the pair took perfbench ``rich_extract`` (16
extraction tasks) from a median 793 to 1175 docs/s and 3.79 to 2.56 s
per job (seeds 1-10, each against the code without it).
"""

from __future__ import annotations

import gc as _gc
import os as _os
import sys as _sys
import zipimport as _zipimport

_result: bool | None = None

# glibc mallopt param numbers (glibc malloc.h; stable ABI)
_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3

# 1 GiB default: effectively "never mmap, never trim". Env-overridable
# (ADVICE r5): memory-capped deployments (YARN/k8s containers with many
# workers per executor) can lower the retained-RSS ceiling without a
# code change.
THRESHOLD_BYTES = int(_os.environ.get("PDF2DOM_MALLOC_THRESHOLD",
                                      str(1 << 30)))


def tune_malloc() -> bool:
    """Idempotent, best-effort. Returns True if mallopt was applied.

    Safe no-op on non-glibc platforms (musl stubs mallopt, macOS has
    none) — the kernels behave identically either way, only the
    allocation pattern changes. The ACTUAL first-attempt outcome is
    cached and returned on later calls (ADVICE r5: caching a hardcoded
    True made the return value untrustworthy after a failed attempt).
    """
    global _result
    if _result is not None:
        return _result
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        ok = (libc.mallopt(_M_MMAP_THRESHOLD, THRESHOLD_BYTES) == 1
              and libc.mallopt(_M_TRIM_THRESHOLD, THRESHOLD_BYTES) == 1)
    except Exception:
        ok = False
    _result = ok  # don't retry per batch either way
    return ok


def tune_worker() -> None:
    """Tuning for a Python kernel task: ``tune_malloc``, the cached zip
    importers dropped (every call) and the heap frozen (once per
    process). Every Spark kernel generator calls this before it converts
    its first input batch; see the module docstring.

    Outside a Spark task (the process that owns the SparkSession, or a
    test running a kernel directly) it does nothing: that process is not
    a reused worker, and freezing its heap would change how its own
    garbage is collected."""
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    tune_malloc()
    cache = _sys.path_importer_cache
    for path in [p for p, f in cache.items()
                 if isinstance(f, _zipimport.zipimporter)]:
        del cache[path]
    if _gc.get_freeze_count() == 0:
        _gc.freeze()


def task_done() -> None:
    """End-of-task tuning, called when a kernel generator has yielded its
    last batch: collect the task's cyclic garbage, then freeze what
    survives. The daemon's full ``gc.collect()`` after the task then walks
    only what was allocated since, instead of every cache entry the
    kernel has kept in earlier tasks; see the module docstring. Objects
    frozen here still die by reference counting, so a frozen object that
    is not in a cycle is freed as usual. Outside a Spark task it does
    nothing."""
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    _gc.collect()
    _gc.freeze()


def tuned_env(env: dict | None = None) -> dict:
    """Copy of ``env`` (default os.environ) with the malloc thresholds
    set, for launching subprocesses (spark-submit, scaling runners)
    whose workers should start tuned from their very first allocation."""
    import os

    out = dict(os.environ if env is None else env)
    out.setdefault("MALLOC_MMAP_THRESHOLD_", str(THRESHOLD_BYTES))
    out.setdefault("MALLOC_TRIM_THRESHOLD_", str(THRESHOLD_BYTES))
    return out
