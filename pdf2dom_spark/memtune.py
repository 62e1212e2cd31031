"""Per-process glibc malloc tuning for the Arrow batch kernels.

Why this exists (measured on a shared-hypervisor VM): numpy serves every array larger than
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
"""

from __future__ import annotations

import os as _os

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
_THRESHOLD_BYTES = THRESHOLD_BYTES  # back-compat alias


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
        ok = (libc.mallopt(_M_MMAP_THRESHOLD, _THRESHOLD_BYTES) == 1
              and libc.mallopt(_M_TRIM_THRESHOLD, _THRESHOLD_BYTES) == 1)
    except Exception:
        ok = False
    _result = ok  # don't retry per batch either way
    return ok


def tuned_env(env: dict | None = None) -> dict:
    """Copy of ``env`` (default os.environ) with the malloc thresholds
    set, for launching subprocesses (spark-submit, scaling runners)
    whose workers should start tuned from their very first allocation."""
    import os

    out = dict(os.environ if env is None else env)
    out.setdefault("MALLOC_MMAP_THRESHOLD_", str(_THRESHOLD_BYTES))
    out.setdefault("MALLOC_TRIM_THRESHOLD_", str(_THRESHOLD_BYTES))
    return out
