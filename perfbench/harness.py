"""Spark session lifecycle, memory sampling and machine probes.

One ``Harness`` owns one JVM at ``local[cores]``. ``launch`` starts a fresh
JVM, builds the session and warms the Python workers; ``close`` stops the
session, shuts the JVM and waits for it.
Everything Spark writes goes under the run's work directory.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time


def warm_partition(batches):
    """Warm-up task: import the kernel modules in the Python worker and
    extract one small document, so the timed jobs find forked, imported
    workers."""
    import pyarrow as pa

    from pdf2dom_spark import pdfread  # noqa: F401  (imported for warm-up)
    from pdf2dom_spark.corpus import rich_stream
    from pdf2dom_spark.extract import extract_doc_parts, parts_to_arrow

    for b in batches:
        parts = [extract_doc_parts("warm", rich_stream("warm", "warm up"))]
        parts_to_arrow(parts, ["warm"], None)
        yield pa.RecordBatch.from_arrays([b.column(0)], ["id"])


class Harness:
    def __init__(self, root: str, work: str, cores: int,
                 event_log: bool = False):
        self.root = root
        self.work = work
        self.cores = cores
        self.event_dir = os.path.join(work, "events") if event_log else None
        self.spark = None

    def _prepare_env(self) -> None:
        """Worker environment, set before the JVM forks: the workers import pdf2dom_spark from the checkout and inherit the
        malloc tuning job.py applies (pdf2dom_spark/memtune.py)."""
        import sys

        from pdf2dom_spark import memtune

        for d in ("tmp", "local", "warehouse", "events"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p)
        # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ.update({k: v for k, v in memtune.tuned_env().items()
                           if k.startswith("MALLOC_")})
        memtune.tune_malloc()

    def _session(self):
        from pyspark.sql import SparkSession

        from pdf2dom_spark import memtune

        w = self.work
        b = (SparkSession.builder.master(f"local[{self.cores}]")
             .appName("perfbench")
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={w}/tmp")
             .config("spark.local.dir", f"{w}/local")
             .config("spark.sql.warehouse.dir", f"{w}/warehouse")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", str(4 * self.cores))
             .config("spark.sql.adaptive.enabled", "true")
             # job.py's batch size
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
             .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
                     str(memtune.THRESHOLD_BYTES))
             .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
                     str(memtune.THRESHOLD_BYTES)))
        if self.event_dir:
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false")
                 .config("spark.eventLog.dir", f"file://{self.event_dir}"))
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def _warm(self) -> None:
        n = self.cores
        self.spark.range(4 * n, numPartitions=n).mapInArrow(
            warm_partition, "id long").count()

    def launch(self) -> float:
        """Fresh JVM + session + warm workers; returns the seconds taken."""
        self._prepare_env()
        t0 = time.perf_counter()
        self.spark = self._session()
        self._warm()
        return time.perf_counter() - t0

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid  # noqa: SLF001

    def close(self) -> None:
        """Stop the session, shut the JVM down and wait until it exits."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway  # noqa: SLF001
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001


def _children_by_parent() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def become_subreaper() -> None:
    """Make descendants orphaned while this process runs (the Python
    workers of a JVM that has exited, say) re-parent to it rather than to
    init, so that ``reap_children`` finds and waits for them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(
        pr_set_child_subreaper, 1, 0, 0, 0)


def reap_children(grace_s: float = 10.0) -> None:
    """Stop every process this one started and wait until each has ended.

    A multiprocessing resource tracker, if one was started (it ignores
    SIGTERM and would outlive this process), is stopped by closing its
    pipe. Any other child left, orphaned descendants included, gets
    SIGTERM, then SIGKILL after ``grace_s`` seconds, and is waited for."""
    import signal
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()  # noqa: SLF001
    deadline = time.monotonic() + grace_s
    termed: set[int] = set()
    while True:
        pids = _children_by_parent().get(os.getpid(), [])
        if not pids:
            return
        for pid in pids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0]:
                    continue
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                elif pid not in termed:
                    os.kill(pid, signal.SIGTERM)
                    termed.add(pid)
            except (ChildProcessError, ProcessLookupError):
                continue
        time.sleep(0.05)


def _tree_rss_bytes(root: int) -> int:
    """Summed resident memory of ``root`` and all its descendants."""
    children = _children_by_parent()
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak summed RSS of the Spark JVM plus its Python workers, sampled
    from /proc every ``period`` seconds while running. ``take_peak``
    returns the peak since the previous call."""

    def __init__(self, root_pid: int, period: float = 0.1):
        self.root_pid = root_pid
        self.period = period
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            rss = _tree_rss_bytes(self.root_pid)
            with self._lock:
                self.peak = max(self.peak, rss)
            if self._stop.wait(self.period):
                return

    def take_peak(self) -> int:
        rss = _tree_rss_bytes(self.root_pid)
        with self._lock:
            peak, self.peak = self.peak, 0
        return max(peak, rss)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor took from this machine since
    boot (all cores): run metadata only, like the probes below."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def md5_probe() -> float:
    """Single-thread CPU burn (md5 over 48 MiB), the bench.py calibration
    probe: run metadata only, never used to drop or re-take a run."""
    import hashlib

    buf = b"\xa5" * (1 << 19)
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(96):
        h.update(buf)
    h.hexdigest()
    return time.perf_counter() - t0


def fresh_page_probe() -> float:
    """First-touch of a fresh 16 MiB anonymous mapping, the bench.py alloc
    probe: run metadata only."""
    import mmap

    sz = 16 * 1024 * 1024
    t0 = time.perf_counter()
    m = mmap.mmap(-1, sz)
    for off in range(0, sz, 4096):
        m[off] = 1
    m.close()
    return time.perf_counter() - t0
