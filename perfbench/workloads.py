"""The three workloads: input generation, reference binding, timed reps.

Each ``rep`` is one closed-loop repetition: its Spark jobs run one after
another, each starting when the previous one has returned. A rep times the
workload's job over all inputs at ``local[cores]`` and the same job over a
quarter of the inputs in a single task (the scaling leg), calls ``mark``
after each timed leg, and checks every output against the Spark-free
reference.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass

from . import inputs

# default input sizes (perfbench/README.md records them and why)
RICH_DOCS = 3000
PDF_FILES = 600
CKPT_DOCS = 1000


@dataclass
class Rep:
    job_s: float          # the workload's job (checkpoint: first run + resume)
    base_s: float         # the N-input leg the scaling ratio compares against
    single_s: float       # one task over a quarter of the inputs
    resume_s: float | None
    attempted: int        # docs submitted over all checked jobs
    failed: int           # docs missing; a mismatching job counts them all
    docs: int             # docs in the checked output of the job


def _checksum(df, cols):
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)),
                 F.bit_xor(F.xxhash64(*cols))).collect()[0]
    return int(row[0]), int(row[1] or 0)


def _doc_count(table) -> int:
    import pyarrow.compute as pc

    return int(pc.count_distinct(table.column("doc_id")).as_py())


class Workload:
    name = ""
    hash_cols = inputs.HASH_COLS
    # timed repetitions a run makes at least, whatever ``--seconds`` says
    min_reps = 2

    def __init__(self, seed: int, work: str, cores: int):
        self.seed = seed
        self.work = os.path.join(work, self.name)
        self.cores = cores
        self.expect: dict[str, tuple[int, int, int]] = {}
        self._refs: dict[str, tuple[str, int]] = {}

    # -- setup ---------------------------------------------------------------
    def _save_reference(self, table, quarter_ids: list[str]) -> None:
        """Reference spans of all inputs and of the quarter leg, as parquet
        the bind step hashes with the same Spark expression as the job."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        q = table.filter(pc.is_in(table.column("doc_id"),
                                  value_set=pa.array(quarter_ids)))
        for leg, t in (("full", table), ("quarter", q)):
            path = os.path.join(self.work, f"ref_{leg}.parquet")
            pq.write_table(t, path)
            self._refs[leg] = (path, _doc_count(t))

    def bind(self, spark, pin: bool) -> list[str]:
        """Hash the references; with ``pin`` also compare them with the
        values pinned for the default seed. Returns the mismatches."""
        from pyspark.sql import functions as F

        refs = None
        for leg, (path, _docs) in self._refs.items():
            df = spark.read.parquet(path).withColumn("leg", F.lit(leg))
            refs = df if refs is None else refs.unionByName(df)
        rows = refs.groupBy("leg").agg(
            F.count(F.lit(1)), F.bit_xor(F.xxhash64(*self.hash_cols))).collect()
        problems = []
        for leg, spans, csum in rows:
            self.expect[leg] = (self._refs[leg][1], int(spans), int(csum))
            want = inputs.PINNED[(self.name, leg)]
            if pin and want != self.expect[leg]:
                problems.append(f"{self.name}/{leg}: reference "
                                f"{self.expect[leg]} != pinned {want}")
        return problems

    def warm_up(self, spark) -> None:
        """One untimed repetition before the timed loop: plans compiled,
        caches filled."""
        self.rep(spark, lambda: None)

    def _check(self, leg: str, got: tuple[int, int]) -> tuple[int, int]:
        """(docs, failed docs) of one job: all-or-nothing on (count, sum)."""
        docs, spans, csum = self.expect[leg]
        return (docs, 0) if got == (spans, csum) else (0, docs)

    def main_job(self, spark) -> None:
        self._job(spark, "full")

    def rep(self, spark, mark) -> Rep:
        tf, gf = self._job(spark, "full")
        mark()
        ts, gs = self._job(spark, "quarter")
        mark()
        docs, f_full = self._check("full", gf)
        _q, f_single = self._check("quarter", gs)
        return Rep(job_s=tf, base_s=tf, single_s=ts, resume_s=None,
                   attempted=self.expect["full"][0] + self.expect["quarter"][0],
                   failed=f_full + f_single, docs=docs)


class RichExtract(Workload):
    """Rich span docs through read_table -> extract_spans -> aggregate: the
    kernel layers do nearly all the work and nothing is written."""
    name = "rich_extract"
    n_docs = RICH_DOCS

    def __init__(self, seed, work, cores):
        super().__init__(seed, work, cores)
        self.docs = inputs.rich_docs(seed, self.n_docs)
        self.quarter = inputs.quarter(self.docs)

    def generate(self, pool) -> dict:
        ref = inputs.start_reference(
            pool, [(d, d, t) for d, t in self.docs], 4 * self.cores)
        nbytes = inputs.write_docs_table(
            self.docs, os.path.join(self.work, "all"), self.cores)
        inputs.write_docs_table(
            self.quarter, os.path.join(self.work, "quarter"), 1)
        self._save_reference(inputs.reference_table(ref),
                             [d for d, _t in self.quarter])
        return {"docs": len(self.docs), "bytes": nbytes,
                "pages": inputs.count_pages(self.docs)}

    def _job(self, spark, leg: str):
        from pdf2dom_spark import tables
        from pdf2dom_spark.pipeline import extract_spans

        t0 = time.perf_counter()
        docs = tables.read_table(spark, os.path.join(
            self.work, "all" if leg == "full" else "quarter"))
        spans = extract_spans(docs, nested=False,
                              num_partitions=None if leg == "full" else 1)
        got = _checksum(spans, self.hash_cols)
        return time.perf_counter() - t0, got

    def layer_batch(self, n: int):
        from pdf2dom_spark.corpus import rich_stream

        return [(d, rich_stream(d, t)) for d, t in self.docs[:n]]


class PdfIngest(Workload):
    """Real PDF files through pdf_docs_df -> extract_spans -> aggregate:
    pdfread parsing and per-file scan overhead dominate."""
    name = "pdf_ingest"
    hash_cols = inputs.PDF_HASH_COLS

    def __init__(self, seed, work, cores):
        super().__init__(seed, work, cores)
        self.items, self.skipped = inputs.pdf_docs(seed, PDF_FILES)
        self.quarter = self.items[::4]

    def generate(self, pool) -> dict:
        ref = inputs.start_reference(pool, self.items, 4 * self.cores)
        nbytes, pages = inputs.write_pdf_files(
            self.items, os.path.join(self.work, "all"))
        inputs.write_pdf_files(self.quarter,
                               os.path.join(self.work, "quarter"))
        self._save_reference(inputs.reference_table(ref),
                             [f for f, _d, _t in self.quarter])
        return {"files": len(self.items), "bytes": nbytes, "pages": pages,
                "skipped_non_latin1": self.skipped}

    def _job(self, spark, leg: str):
        from pdf2dom_spark.pdfread import pdf_docs_df
        from pdf2dom_spark.pipeline import extract_spans

        t0 = time.perf_counter()
        if leg == "full":
            docs = pdf_docs_df(spark, os.path.join(self.work, "all"))
            spans = extract_spans(docs, nested=False)
        else:
            docs = pdf_docs_df(spark, os.path.join(self.work, "quarter"))
            spans = extract_spans(docs.coalesce(1), nested=False,
                                  num_partitions=1)
        got = _checksum(spans, self.hash_cols)
        return time.perf_counter() - t0, got

    def layer_batch(self, n: int):
        """(file name, PDF bytes) of the first ``n`` files."""
        out = []
        for name, _d, _t in self.items[:n]:
            with open(os.path.join(self.work, "all", name), "rb") as fh:
                out.append((name, fh.read()))
        return out


class CheckpointResume(RichExtract):
    """run_checkpointed with one of four partitions failed, then the resume:
    table writes, lineage aggregation, the anti-join and driver round-trips
    dominate. Same inputs as rich_extract, fewer docs."""
    name = "checkpoint_resume"
    n_docs = CKPT_DOCS
    parts = 4
    # a rep takes ~12 s on 4 vCPUs, and the median of three drops a slow
    # one (the first timed rep is often ~1.5 s slower than the next)
    min_reps = 3

    def __init__(self, seed, work, cores):
        super().__init__(seed, work, cores)
        self.fail_parts = {random.Random(seed).randrange(self.parts)}

    def generate(self, pool) -> dict:
        return {**super().generate(pool),
                "fail_parts": sorted(self.fail_parts)}

    def _verify(self, spark, out: str, stats: dict) -> tuple[int, int]:
        """Untimed check of a finished output: the spans table's
        (count, checksum), and the lineage total must agree with it."""
        from pdf2dom_spark import tables

        got = _checksum(tables.read_table(spark, f"{out}/spans"),
                        self.hash_cols)
        if stats["total_span_count"] != got[0]:
            return (-1, 0)
        return got

    def first_and_resume(self, spark, out: str):
        from pdf2dom_spark import tables
        from pdf2dom_spark.pipeline import run_checkpointed

        t0 = time.perf_counter()
        docs = tables.read_table(spark, os.path.join(self.work, "all"))
        run_checkpointed(spark, docs, out, num_partitions=self.parts,
                         fail_parts=self.fail_parts)
        t1 = time.perf_counter()
        stats = run_checkpointed(spark, docs, out, num_partitions=self.parts)
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1, stats

    def main_job(self, spark) -> None:
        out = os.path.join(self.work, "out_main")
        self.first_and_resume(spark, out)
        shutil.rmtree(out)

    def rep(self, spark, mark) -> Rep:
        out = os.path.join(self.work, "out")
        first_s, resume_s, stats = self.first_and_resume(spark, out)
        mark()
        docs, failed = self._check("full", self._verify(spark, out, stats))
        shutil.rmtree(out)
        # the scaling legs are rich_extract's jobs over this workload's docs:
        # a single-partition run_checkpointed is ~90% fixed per-job cost, and
        # its ratio to the first run swung by a quarter between runs
        scaling = super().rep(spark, mark)
        return Rep(job_s=first_s + resume_s, base_s=scaling.base_s,
                   single_s=scaling.single_s, resume_s=resume_s,
                   attempted=scaling.attempted + docs + failed,
                   failed=scaling.failed + failed, docs=docs)


WORKLOADS = {w.name: w for w in (RichExtract, PdfIngest, CheckpointResume)}
