"""The traced run: per-layer spans from the benchmark's side of each call.

``Tracer.wrap`` swaps a public function of a pdf2dom_spark module for a
wrapper that records a span (id, parent, name, start, end, counts) and puts
the original back on ``restore``. The kernel layers are traced
single-process on one input batch driven through the real mapInArrow
kernel; the table layer is traced on the driver around the workload's Spark
job; Spark stage and task figures come from that job's event log.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

BATCH_DOCS = 256

# every per-layer metric of the result line, with its unit.
# pipeline.shuffle_fetch_wait_s is only printed and written to the trace
# file: in local mode there are no remote fetches and it reads 0.
UNITS = {
    "tokenizer.ms_per_doc": "ms", "tokenizer.ops_per_doc": "count",
    "interp.ms_per_doc": "ms", "interp.glyphs_per_doc": "count",
    "textpipe.ms_per_kdoc": "ms", "textpipe.glyphs_per_box": "count",
    "extract.parts_ms_per_doc": "ms", "extract.finalize_ms_per_kdoc": "ms",
    "extract.arrow_ms_per_kdoc": "ms", "extract.convert_ms_per_kdoc": "ms",
    "extract.spans_per_doc": "count", "extract.out_bytes_per_doc": "bytes",
    "pdfread.ms_per_doc": "ms", "pdfread.bytes_per_doc": "bytes",
    "pdfread.skipped_files": "count",
    "pipeline.tasks": "count", "pipeline.task_skew": "ratio",
    "pipeline.busy_frac": "ratio", "pipeline.boundary_frac": "ratio",
    "pipeline.shuffle_write_bytes": "bytes", "pipeline.scan_tasks": "count",
    "pipeline.jobs_per_run": "count", "pipeline.driver_gap_s": "s",
    "pipeline.gc_s": "s",
    "tables.files_written": "count", "tables.bytes_written": "bytes",
    "tables.lineage_rows_read": "count",
    "trace.overhead_ms": "ms", "trace.job_overhead_s": "s",
}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        """Record one span around the body (nested spans get it as parent)."""
        sp = {"id": len(self.spans),
              "parent": self._stack[-1] if self._stack else None,
              "name": name, "start": time.perf_counter()}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.perf_counter()

    def patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` until ``restore``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Record a span around every call of ``owner.attr``; ``count(args,
        result)`` returns counts stored on the span."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name) as sp:
                result = orig(*args, **kwargs)
            if count is not None:
                sp["counts"] = count(args, result)
            return result

        self.patch(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def totals(self) -> tuple[dict[str, float], dict[str, float]]:
        """Per span name: summed self time (duration minus the time its
        child spans cover; spans nest on one thread) and summed counts."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        self_t: dict[str, float] = {}
        counts: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            self_t[s["name"]] = (self_t.get(s["name"], 0.0)
                                 + s["end"] - s["start"] - c)
            for k, v in s.get("counts", {}).items():
                key = f"{s['name']}.{k}"
                counts[key] = counts.get(key, 0) + v
        return self_t, counts


# -- single-process kernel layers -------------------------------------------

def _doc_batch(docs: list[tuple[str, list]]):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdf2dom_spark.schema import DOC_SCHEMA

    return pa.RecordBatch.from_pylist(
        [{"doc_id": d, "spans": s} for d, s in docs],
        schema=to_arrow_schema(DOC_SCHEMA))


def _parse_pdfs(files: list[tuple[str, bytes]]):
    """pdf_docs_df's per-file parse, called through the module attribute so
    a wrapper sees it; unparseable files are skipped as there."""
    from pdf2dom_spark import pdfread

    docs, skipped = [], 0
    for name, data in files:
        try:
            docs.append((name, pdfread.pdf_to_spans(data)))
        except Exception:
            skipped += 1
    return docs, skipped


def _run_kernel(batch):
    from pdf2dom_spark.extract import DEFAULT_CONFIG, make_extract_arrow

    return list(make_extract_arrow(DEFAULT_CONFIG)(iter([batch])))


def _install_kernel(tr: Tracer) -> None:
    from pdf2dom_spark import extract, interp, pdfread, textpipe

    tr.wrap(pdfread, "pdf_to_spans", "pdfread",
            lambda a, r: {"bytes": len(a[0]), "files": 1})
    tr.wrap(extract, "extract_doc_parts", "extract.parts",
            lambda a, r: {"docs": 1})
    tr.wrap(extract, "doc_tokens", "tokenizer",
            lambda a, r: {"ops": len(r)})
    tr.wrap(interp.DocInterp, "run", "interp")
    tr.wrap(extract, "parts_to_arrow", "extract.arrow",
            lambda a, r: {"spans": r.num_rows, "bytes": r.nbytes})
    tr.wrap(extract, "finalize_docs", "extract.finalize")
    tr.wrap(textpipe, "boxes_core", "textpipe",
            lambda a, r: {"glyphs": len(a[0]["key"]), "boxes": len(r[1])})


def kernel_layers(workload, tracer: Tracer, reps: int = 3) -> dict:
    """Per-layer metrics of one batch of the workload's documents through
    the PDF reader and the mapInArrow extraction kernel, single process.
    Untraced and traced passes alternate; the last traced pass's spans
    are kept and the median wall difference is the tracing overhead."""
    from pdf2dom_spark.pdfwrite import spans_to_pdf

    from . import inputs

    batch = workload.layer_batch(BATCH_DOCS)
    if batch and isinstance(batch[0][1], bytes):
        pdfs = batch
        docs, _ = _parse_pdfs(pdfs)
    else:
        docs = batch
        pdfs = [(d, spans_to_pdf(d, s)) for d, s in docs
                if inputs.is_latin1(s)]
    arrow_batch = _doc_batch(docs)

    def one_pass() -> tuple[float, float]:
        t0 = time.perf_counter()
        _parse_pdfs(pdfs)
        t1 = time.perf_counter()
        _run_kernel(arrow_batch)
        return t1 - t0, time.perf_counter() - t1

    walls = {"plain": [], "traced": []}
    kernel_s = []
    for _ in range(reps):
        pdf_s, k_s = one_pass()
        walls["plain"].append(pdf_s + k_s)
        kernel_s.append(k_s)
        tracer.spans.clear()
        _install_kernel(tracer)
        t0 = time.perf_counter()
        try:
            with tracer.span("pdfread.batch"):
                _, skipped = _parse_pdfs(pdfs)
            with tracer.span("extract.kernel"):
                _run_kernel(arrow_batch)
        finally:
            tracer.restore()
        walls["traced"].append(time.perf_counter() - t0)

    self_t, counts = tracer.totals()
    n = len(docs)
    nf = len(pdfs)
    glyphs = counts.get("textpipe.glyphs", 0)
    return {
        "tokenizer.ms_per_doc": 1e3 * self_t.get("tokenizer", 0) / n,
        "tokenizer.ops_per_doc": counts.get("tokenizer.ops", 0) / n,
        "interp.ms_per_doc": 1e3 * self_t.get("interp", 0) / n,
        "interp.glyphs_per_doc": glyphs / n,
        "textpipe.ms_per_kdoc": 1e6 * self_t.get("textpipe", 0) / n,
        "textpipe.glyphs_per_box":
            glyphs / max(counts.get("textpipe.boxes", 0), 1),
        "extract.parts_ms_per_doc": 1e3 * self_t.get("extract.parts", 0) / n,
        "extract.finalize_ms_per_kdoc":
            1e6 * self_t.get("extract.finalize", 0) / n,
        "extract.arrow_ms_per_kdoc": 1e6 * self_t.get("extract.arrow", 0) / n,
        "extract.convert_ms_per_kdoc":
            1e6 * self_t.get("extract.kernel", 0) / n,
        "extract.spans_per_doc": counts.get("extract.arrow.spans", 0) / n,
        "extract.out_bytes_per_doc": counts.get("extract.arrow.bytes", 0) / n,
        "pdfread.ms_per_doc": 1e3 * self_t.get("pdfread", 0) / max(nf, 1),
        "pdfread.bytes_per_doc":
            counts.get("pdfread.bytes", 0) / max(nf, 1),
        "pdfread.skipped_files": skipped,
        "trace.overhead_ms": 1e3 * (statistics.median(walls["traced"])
                                    - statistics.median(walls["plain"])),
        "_kernel_s_per_doc": statistics.median(kernel_s) / n,
    }


# -- table layer on the driver ----------------------------------------------

def _data_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def install_tables(tr: Tracer, totals: dict) -> None:
    """Count files and bytes each table write adds and the lineage rows
    each lineage read sees (driver-side, around the Spark job)."""
    import pyarrow.parquet as pq

    from pdf2dom_spark import tables

    for attr in ("write_partitioned", "append_table"):
        orig = getattr(tables, attr)

        def counted(df, target, *a, _orig=orig, **kw):
            before = _data_files(target)
            _orig(df, target, *a, **kw)
            new = {p: s for p, s in _data_files(target).items()
                   if before.get(p) != s}
            totals["files_written"] += len(new)
            totals["bytes_written"] += sum(new.values())

        tr.patch(tables, attr, counted)

    orig_read = tables.read_table

    def read(spark, source):
        df = orig_read(spark, source)
        if source.rstrip("/").endswith("lineage"):
            totals["lineage_rows_read"] += sum(
                pq.ParquetFile(p).metadata.num_rows
                for p in _data_files(source))
        return df

    tr.patch(tables, "read_table", read)
    tr.wrap(tables, "write_partitioned", "tables.write")
    tr.wrap(tables, "append_table", "tables.append")
    tr.wrap(tables, "read_table", "tables.read")


# -- Spark event log --------------------------------------------------------

def event_metrics(event_dir: str, group: str, wall: tuple[float, float],
                  cores: int, kernel_s: float) -> dict:
    """Stage/task figures of the jobs run under ``group``. The extraction
    stage is the one with the most executor run time. ``kernel_s`` is the
    single-process kernel time for the documents that stage extracts."""
    events = []
    for dirpath, _dirs, files in os.walk(event_dir):
        for name in files:
            with open(os.path.join(dirpath, name)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    jobs, stage_ids = set(), set()
    for e in events:
        if (e["Event"] == "SparkListenerJobStart"
                and (e.get("Properties") or {}).get("spark.jobGroup.id")
                == group):
            jobs.add(e["Job ID"])
            stage_ids.update(e["Stage IDs"])
    stages: dict[int, dict] = {}
    for e in events:
        if (e["Event"] == "SparkListenerStageCompleted"
                and e["Stage Info"]["Stage ID"] in stage_ids):
            info = e["Stage Info"]
            stages[info["Stage ID"]] = {
                "start": info["Submission Time"],
                "end": info["Completion Time"], "tasks": []}
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
            stages[e["Stage ID"]]["tasks"].append(e["Task Metrics"])

    def run_ms(st):
        return [t["Executor Run Time"] for t in st["tasks"]]

    ext = max(stages.values(), key=lambda st: sum(run_ms(st)))
    ext_run = run_ms(ext)
    all_tasks = [t for st in stages.values() for t in st["tasks"]]
    covered, cur_end = 0.0, None
    for s, e in sorted((st["start"], st["end"]) for st in stages.values()):
        if cur_end is None or s > cur_end:
            covered += e - s
            cur_end = e
        elif e > cur_end:
            covered += e - cur_end
            cur_end = e
    return {
        "pipeline.tasks": len(all_tasks),
        "pipeline.task_skew": max(ext_run) / max(statistics.median(ext_run),
                                                 1),
        "pipeline.busy_frac": sum(ext_run)
        / max((ext["end"] - ext["start"]) * cores, 1),
        "pipeline.boundary_frac": 1 - 1e3 * kernel_s / max(sum(ext_run), 1),
        "pipeline.shuffle_write_bytes": sum(
            t["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            for t in all_tasks),
        "pipeline.shuffle_fetch_wait_s": sum(
            t["Shuffle Read Metrics"]["Fetch Wait Time"]
            for t in all_tasks) / 1e3,
        "pipeline.scan_tasks": sum(
            1 for t in all_tasks if t["Input Metrics"]["Bytes Read"] > 0),
        "pipeline.jobs_per_run": len(jobs),
        "pipeline.driver_gap_s": max(
            (wall[1] - wall[0]) * 1e3 - covered, 0) / 1e3,
        "pipeline.gc_s": sum(t["JVM GC Time"] for t in all_tasks) / 1e3,
    }
