"""memtune: the once-per-worker tuning every kernel entry point applies.

Why it exists: glibc serves >128 KB allocations with mmap and returns
them with munmap on free, so each Arrow batch's numpy arrays round-trip
tens of MB of pages through the OS; on the sandbox hypervisor the
re-fault intermittently costs 100-1000x (measured 30 ms <-> 28 s for
the same 100 MB first-touch — PLANS.md round-5 addendum). These tests
pin the tuning surface, not the hypervisor behavior.
"""

import os
import subprocess
import sys

from pdf2dom_spark import memtune


def test_tune_malloc_applies_on_glibc():
    # this sandbox is glibc Linux, so mallopt must succeed (and the
    # second call must short-circuit via the idempotence flag)
    assert memtune.tune_malloc() is True
    assert memtune.tune_malloc() is True


def test_tuned_env_sets_thresholds_without_mutating_os_environ():
    before = dict(os.environ)
    env = memtune.tuned_env()
    assert env["MALLOC_MMAP_THRESHOLD_"] == str(memtune.THRESHOLD_BYTES)
    assert env["MALLOC_TRIM_THRESHOLD_"] == str(memtune.THRESHOLD_BYTES)
    assert dict(os.environ) == before
    # respects pre-set values (setdefault semantics): a deployment that
    # tunes its own thresholds is not overridden
    env2 = memtune.tuned_env({"MALLOC_MMAP_THRESHOLD_": "65536"})
    assert env2["MALLOC_MMAP_THRESHOLD_"] == "65536"


def test_tuned_process_reuses_heap_for_large_arrays():
    """End-to-end observable effect: with the thresholds raised, a
    large allocation freed and re-made comes back at the SAME heap
    address (glibc reused the block); untuned glibc mmaps it fresh.
    Run in a subprocess so this test controls the allocator state."""
    code = r"""
import ctypes
from pdf2dom_spark import memtune
assert memtune.tune_malloc()
SZ = 8 * 1024 * 1024  # far above the default 128 KB mmap threshold
addrs = set()
for _ in range(4):
    buf = ctypes.create_string_buffer(SZ)
    addrs.add(ctypes.addressof(buf))
    del buf
print(len(addrs))
"""
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True,
                         cwd=os.path.dirname(os.path.dirname(__file__)))
    assert out.returncode == 0, out.stderr
    # heap reuse: the four allocations reuse freed heap blocks instead of
    # fresh mmaps. <=2 distinct addresses tolerates one glibc bin/tcache
    # split (ADVICE r5: exact single-address reuse flaked across glibc
    # policies); 4 distinct addresses would mean mmap-per-allocation.
    assert int(out.stdout.strip()) <= 2, out.stdout


def test_tune_worker_stops_per_task_zip_rereads_and_freezes_heap(tmp_path):
    """The two per-task costs of a reused PySpark worker: the task-start
    ``importlib.invalidate_caches()`` re-reads the central directory of
    every cached zip importer (pyspark.zip in production), and the
    daemon's post-task ``gc.collect()`` scans the whole import-time heap.
    After ``tune_worker`` the first costs no directory read and the
    heap is frozen; imports from the zip keep working. Outside a Spark
    task it leaves the process alone."""
    import zipfile

    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "VALUE = 1\n")
        z.writestr("zpkg/sub/__init__.py", "")
        z.writestr("zpkg/sub/a.py", "A = 2\n")
        z.writestr("zpkg/sub/b.py", "B = 3\n")
    code = r"""
import gc, importlib, sys, zipimport
sys.path.insert(0, ARCHIVE)
import zpkg.sub.a
assert any(isinstance(f, zipimport.zipimporter)
           for f in sys.path_importer_cache.values())
from pyspark import TaskContext
from pdf2dom_spark import memtune
memtune.tune_worker()  # no task: nothing changes
assert gc.get_freeze_count() == 0
assert any(isinstance(f, zipimport.zipimporter)
           for f in sys.path_importer_cache.values())
TaskContext._setTaskContext(TaskContext())  # as pyspark.worker does
memtune.tune_worker()
reads = []
real = zipimport._read_directory
def counting(archive):
    reads.append(archive)
    return real(archive)
zipimport._read_directory = counting
importlib.invalidate_caches()
zipimport._read_directory = real
import zpkg.sub.b
print(len(reads), gc.get_freeze_count(), zpkg.VALUE + zpkg.sub.a.A + zpkg.sub.b.B)
""".replace("ARCHIVE", repr(str(archive)))
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True,
                         cwd=os.path.dirname(os.path.dirname(__file__)))
    assert out.returncode == 0, out.stderr
    reads, frozen, total = map(int, out.stdout.split())
    assert reads == 0
    assert frozen > 0
    assert total == 6


def test_kernel_tasks_leave_no_heap_for_the_daemon_collection():
    """200 extraction tasks in one worker-like loop (a fresh task context
    and unpickled kernel per task, then the daemon's full
    ``gc.collect()``): the collection finds almost nothing left to walk
    — what a task leaves is frozen when it ends — and nothing leaks: the
    frozen heap and the RSS stay flat from task 50 to task 200."""
    code = r"""
import gc, os
import cloudpickle, pyarrow as pa
from pyspark import TaskContext
from pyspark.sql.pandas.types import to_arrow_schema
from pdf2dom_spark import corpus, extract
from pdf2dom_spark.schema import DOC_SCHEMA

schema = to_arrow_schema(DOC_SCHEMA)
def doc(i):
    spans = corpus.rich_stream(f"gc{i}", " ".join(f"w{i}x{j}" for j in range(30)))
    if i % 2:  # a width table: this document takes the per-document path
        spans.append({"kind": "widths", "text": "default:500",
                      "media_ref": "widths:Nope", "offset": 999})
    return {"doc_id": f"gc{i}", "spans": spans}
batches = [pa.RecordBatch.from_pylist([doc(16 * b + i) for i in range(12)],
                                      schema=schema) for b in range(16)]
payload = cloudpickle.dumps(extract.make_extract_arrow())
def rss():
    return int(open("/proc/self/statm").read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
seen = {}
for t in range(200):
    tc = TaskContext()
    tc._partitionId = 0
    TaskContext._setTaskContext(tc)
    kernel = cloudpickle.loads(payload)
    n = sum(b.num_rows for b in kernel(iter([batches[t % 16]])))
    assert n > 0
    del kernel
    TaskContext._setTaskContext(None)
    gc.collect()
    if t + 1 in (50, 200):
        seen[t + 1] = (gc.get_freeze_count(), rss(), len(gc.get_objects()))
print(*seen[50], *seen[200])
"""
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True,
                         cwd=os.path.dirname(os.path.dirname(__file__)))
    assert out.returncode == 0, out.stderr
    f50, rss50, left50, f200, rss200, left200 = map(int, out.stdout.split())
    assert left50 < 500 and left200 < 500, (left50, left200)
    assert abs(f200 - f50) <= 100, (f50, f200)
    assert rss200 - rss50 < 16 * 2**20, (rss50, rss200)
