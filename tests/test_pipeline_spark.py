"""Spark-level pipeline tests: nested schema, deterministic lineage,
checkpoint-resume idempotence under failure injection, skew handling."""

from __future__ import annotations

import contextlib
import os
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from pdf2dom_spark.corpus import build_docs_df
from pdf2dom_spark.pipeline import (extract_spans, lineage, run_checkpointed,
                                    with_part_id)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return build_docs_df(spark, SF_SMOKE, mode="rich").cache()


def test_nested_schema_and_rows(spark, docs):
    from pdf2dom_spark.schema import STYLE_FIELDS

    spans = extract_spans(docs, num_partitions=8)
    assert spans.schema["style"].dataType.typeName() == "struct"
    sample = spans.where(F.col("kind") == "text").first()
    assert sample["style"]["font_size"] is not None
    kinds = {r["kind"] for r in spans.select("kind").distinct().collect()}
    assert {"page", "text", "rect", "line", "image", "font"} <= kinds
    # nested == flat with style assembled from the style_* columns
    flat = extract_spans(docs, num_partitions=8, nested=False)
    style = F.struct(*[F.col(f"style_{f}").alias(f) for f in STYLE_FIELDS])
    assembled = flat.select("doc_id", "order", "kind", "text", "media_ref",
                            style.alias("style"), "page_no", "part_id")
    assert spans.exceptAll(assembled).count() == 0
    assert assembled.exceptAll(spans).count() == 0


def test_kernel_tunes_its_python_worker(spark, docs):
    """The kernel leaves its worker without cached zip importers (whose
    central directories every task start would re-read) and with the
    import-time heap frozen (out of the per-task gc.collect)."""

    def probe(batches):
        # one batch through the extraction kernel inside the worker,
        # then that worker's cached zip importers and frozen objects
        import gc
        import sys
        import zipimport

        import pyarrow as pa

        from pdf2dom_spark.extract import make_extract_arrow

        for _ in make_extract_arrow()(batches):
            pass
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict(
            {"zips": [zips], "frozen": [gc.get_freeze_count()]})

    rows = (docs.select("doc_id", "spans").limit(8).repartition(1)
            .mapInArrow(probe, "zips long, frozen long").collect())
    assert len(rows) == 1
    assert rows[0]["zips"] == 0
    assert rows[0]["frozen"] > 0


def test_order_is_dense_per_doc(spark, docs):
    spans = extract_spans(docs, num_partitions=8, nested=False)
    bad = (spans.groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n"),
                F.max("order").alias("mx"), F.min("order").alias("mn"),
                F.countDistinct("order").alias("d"))
           .where((F.col("mn") != 0) | (F.col("mx") != F.col("n") - 1)
                  | (F.col("d") != F.col("n"))))
    assert bad.count() == 0


def test_part_id_deterministic(spark, docs):
    a = with_part_id(docs, 16).select("doc_id", "part_id")
    b = with_part_id(docs, 16).select("doc_id", "part_id")
    assert a.exceptAll(b).count() == 0
    assert a.select("part_id").distinct().count() > 8  # spread across salts


def test_extraction_deterministic(spark, docs):
    s1 = extract_spans(docs, num_partitions=4, nested=False)
    s2 = extract_spans(docs, num_partitions=8, nested=False)
    # identical span sequences regardless of parallelism (drop part_id)
    cols = [c for c in s1.columns if c != "part_id"]
    assert s1.select(cols).exceptAll(s2.select(cols)).count() == 0
    assert s2.select(cols).exceptAll(s1.select(cols)).count() == 0


def test_lineage_reconciles(spark, docs):
    spans = extract_spans(docs, num_partitions=8, nested=False)
    lin = lineage(spans)
    tot = lin.agg(F.sum("doc_count"), F.sum("span_count")).first()
    assert tot[0] == docs.count()
    assert tot[1] == spans.count()


def _distinct_doc_lineage(spans):
    """lineage() with doc_count as countDistinct(doc_id) per part_id."""
    lin = lineage(spans)
    distinct = spans.groupBy("part_id").agg(
        F.countDistinct("doc_id").alias("doc_count"))
    return lin.drop("doc_count").join(distinct, "part_id").select(lin.columns)


def test_lineage_doc_count_is_distinct_docs(spark, docs, tmp_path):
    """doc_count counts the order == 0 spans, which equals the distinct
    doc_ids of a part because order is dense from 0 within each document:
    on the gathered extraction, on the page-split path (its renumber) and
    on an upserted table (kept spans plus fresh ones), every column of
    lineage() matches the countDistinct formulation."""
    from pdf2dom_spark.extract import DEFAULT_CONFIG
    from pdf2dom_spark.pagesplit import extract_spans_paged
    from pdf2dom_spark.pipeline import extract_gathered, upsert_docs

    out = str(tmp_path / "up")
    run_checkpointed(spark, docs, out, num_partitions=4, run_id="base")
    ids = [r.doc_id for r in docs.select("doc_id").limit(30).collect()]
    upsert_docs(spark, docs.where(F.col("doc_id").isin(ids))
                .withColumn("spans", F.reverse("spans")), out, run_id="u1")

    for spans in (extract_gathered(with_part_id(docs, 4), DEFAULT_CONFIG, 4),
                  extract_spans_paged(docs, DEFAULT_CONFIG, 4,
                                      pages_per_group=4, min_bytes=0),
                  spark.read.parquet(f"{out}/spans")):
        spans = spans.localCheckpoint(eager=True)
        got = sorted(map(tuple, lineage(spans).collect()))
        assert len(got) == 4
        assert got == sorted(map(tuple, _distinct_doc_lineage(spans)
                                 .collect()))


def test_resume_idempotent(spark, docs, tmp_path):
    out1 = str(tmp_path / "full")
    out2 = str(tmp_path / "resumed")
    # clean single run
    run_checkpointed(spark, docs, out1, num_partitions=8, run_id="full")
    # failed run (partitions 2,5 crash) then resume
    run_checkpointed(spark, docs, out2, num_partitions=8, run_id="r1",
                     fail_parts={2, 5})
    mid = spark.read.parquet(f"{out2}/lineage")
    assert mid.select("part_id").distinct().count() == 6
    stats = run_checkpointed(spark, docs, out2, num_partitions=8, run_id="r2")
    assert stats["parts_done"] == 8

    a = spark.read.parquet(f"{out1}/spans")
    b = spark.read.parquet(f"{out2}/spans")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # resumed partitions were produced by run r2, the rest by r1
    lin = spark.read.parquet(f"{out2}/lineage")
    by_run = {r["part_id"]: r["run_id"] for r in lin.collect()}
    assert by_run[2] == "r2" and by_run[5] == "r2"
    # lineage checksums identical across the two outcomes
    la = lineage(a).orderBy("part_id").collect()
    lb = lineage(b).orderBy("part_id").collect()
    assert [tuple(r) for r in la] == [tuple(r) for r in lb]


def test_resume_pins_partition_count(spark, docs, tmp_path):
    """Resuming with a different --partitions must NOT remap part_ids:
    part_id = pmod(hash(xxhash64(doc_id)), P), so a changed P would defeat
    the done-lineage anti-join and double-write every already-extracted doc
    (observed live: 8-partition run resumed at the 200 default doubled the
    table). The lineage table pins the salt modulus; resume reuses it."""
    out = str(tmp_path / "pinned")
    first = run_checkpointed(spark, docs, out, num_partitions=8,
                             run_id="r1", fail_parts={3})
    assert first["parts_done"] == 7
    # resume with a wildly different partition count — must be overridden
    stats = run_checkpointed(spark, docs, out, num_partitions=200,
                             run_id="r2")
    assert stats["parts_done"] == 8
    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.select("num_partitions").distinct().collect()[0][0] == 8
    # table is complete, not doubled
    ref = str(tmp_path / "ref")
    run_checkpointed(spark, docs, ref, num_partitions=8, run_id="full")
    a = spark.read.parquet(f"{ref}/spans")
    b = spark.read.parquet(f"{out}/spans")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@contextlib.contextmanager
def _jobs_issued(spark, group):
    """Collects the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _mtimes(root):
    return {os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, files in os.walk(root) for f in files}


def _current_lineage(spark, out):
    """Each part_id's lineage row with the largest seq, picked here from
    the raw rows (the lineage table is append-only)."""
    current = {}
    for r in spark.read.parquet(f"{out}/lineage").collect():
        if r.part_id not in current or r.seq > current[r.part_id].seq:
            current[r.part_id] = r
    return current


def test_checkpoint_resume_job_count(spark, docs, tmp_path):
    """A failed first run plus its resume is a bounded number of Spark
    jobs: lineage is collected once per run and decided on the driver, and
    the run's lineage comes from one pruned read-back. 16 jobs at P=8
    (40 before lineage moved to the driver; the span gather of
    extract_gathered is one shuffle-stage job per run); a new collect or
    a second evaluation of the lineage aggregate breaks this bound."""
    docs.count()  # the cached fixture is materialized outside the count
    out = str(tmp_path / "jobs")
    with _jobs_issued(spark, "ckpt-job-count") as jobs:
        run_checkpointed(spark, docs, out, num_partitions=8, run_id="r1",
                         fail_parts={2, 5})
        stats = run_checkpointed(spark, docs, out, num_partitions=8,
                                 run_id="r2")
    assert stats["parts_done"] == 8
    assert len(jobs) <= 16, jobs


def test_checkpoint_resume_job_count_one_lineage_shuffle(spark, docs,
                                                        tmp_path):
    """The same failed run plus resume as test_checkpoint_resume_job_count
    issues 14 jobs, 2 fewer than the 16 of a distinct-count lineage
    aggregate: each run's read-back aggregate has one shuffle stage, so
    it is 2 jobs (stage + collect), not 3."""
    docs.count()
    out = str(tmp_path / "jobs")
    with _jobs_issued(spark, "ckpt-job-count-arrow") as jobs:
        run_checkpointed(spark, docs, out, num_partitions=8, run_id="r1",
                         fail_parts={2, 5})
        stats = run_checkpointed(spark, docs, out, num_partitions=8,
                                 run_id="r2")
    assert stats["parts_done"] == 8
    assert len(jobs) <= 14, jobs


@contextlib.contextmanager
def _local_zone(zone):
    """The driver's local time zone (``TZ`` + ``time.tzset()``) set to
    ``zone`` inside the block, both restored after it."""
    prev = os.environ.get("TZ")
    os.environ["TZ"] = zone
    time.tzset()
    try:
        yield
    finally:
        if prev is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = prev
        time.tzset()


def test_lineage_timestamps_survive_a_non_utc_driver(spark, docs, tmp_path):
    """completed_at is the driver's wall clock when the driver's zone is
    not the session's: lineage frames are built through Arrow, where a
    naive datetime would be read in the session zone (UTC here) and land
    4-5 hours off in New York. An upsert appends rows only for the parts
    it touches, so every other part's current row must stay unchanged in
    every column, completed_at included."""
    from pdf2dom_spark.pipeline import upsert_docs

    small = docs.limit(40).localCheckpoint(eager=True)
    out = str(tmp_path / "tz")
    conf = spark.conf
    prev_zone = conf.get("spark.sql.session.timeZone")
    conf.set("spark.sql.session.timeZone", "UTC")
    try:
        with _local_zone("America/New_York"):
            t0 = datetime.now()
            run_checkpointed(spark, small, out, num_partitions=8,
                             run_id="r1", fail_parts={3})
            run_checkpointed(spark, small, out, num_partitions=8,
                             run_id="r2")
            t1 = datetime.now()
            before = _current_lineage(spark, out)
            assert sorted(before) == list(range(8))
            assert all(t0 <= r.completed_at <= t1 for r in before.values())

            updated = (with_part_id(small, 8).where(F.col("part_id") == 3)
                       .drop("part_id").withColumn("spans",
                                                    F.reverse("spans")))
            assert upsert_docs(spark, updated, out,
                               run_id="u1")["parts_touched"] == 1
            t2 = datetime.now()
            after = _current_lineage(spark, out)
            assert sorted(after) == list(range(8))
            for pid in range(8):
                if pid != 3:
                    assert after[pid] == before[pid], pid
            assert after[3].run_id == "u1"
            assert t1 <= after[3].completed_at <= t2
    finally:
        conf.set("spark.sql.session.timeZone", prev_zone)


def test_noop_resume_short_circuits(spark, docs, tmp_path):
    """Resuming a complete output reads lineage and returns: no
    extraction, no write, no lineage append. Its jobs are the schema
    inference of the parquet lineage table and the collect of its rows."""
    out = str(tmp_path / "noop")
    first = run_checkpointed(spark, docs, out, num_partitions=8,
                             run_id="r1")
    before = _mtimes(out)
    with _jobs_issued(spark, "ckpt-noop") as jobs:
        stats = run_checkpointed(spark, docs, out, num_partitions=8,
                                 run_id="r2")
    assert len(jobs) <= 2, jobs
    assert _mtimes(out) == before
    assert stats["span_count"] == 0
    assert stats["parts_done"] == 8
    assert stats["total_span_count"] == first["total_span_count"]


def test_zero_lineage_rows_for_empty_and_docless_parts(spark, docs,
                                                       tmp_path):
    """Ids are fixed before extraction, so a part_id whose docs all have
    empty spans arrays and a part_id with no docs at all each get one
    explicit zero lineage row, and the resume after is a no-op."""
    salted = with_part_id(docs.limit(12), 16).localCheckpoint(eager=True)
    present = {r.part_id for r in salted.select("part_id").collect()}
    emptied = min(present)
    docless = set(range(16)) - present
    assert docless, "need a part_id without docs for this test"
    small = salted.withColumn(
        "spans", F.when(F.col("part_id") == emptied,
                        F.expr("slice(spans, 1, 0)"))
        .otherwise(F.col("spans"))).drop("part_id")

    out = str(tmp_path / "zero")
    stats = run_checkpointed(spark, small, out, num_partitions=16,
                             run_id="r1")
    assert stats["parts_done"] == 16
    lin = {r.part_id: r for r in
           spark.read.parquet(f"{out}/lineage").collect()}
    assert sorted(lin) == list(range(16))
    for pid in docless | {emptied}:
        row = lin[pid]
        assert (row.doc_count, row.span_count, row.checksum) == (0, 0, 0)
        assert row.run_id == "r1" and row.num_partitions == 16
    assert not os.path.exists(f"{out}/spans/part_id={emptied}")

    before = _mtimes(out)
    again = run_checkpointed(spark, small, out, num_partitions=16,
                             run_id="r2")
    assert again["span_count"] == 0 and again["parts_done"] == 16
    assert _mtimes(out) == before


def test_unreadable_lineage_raises(spark, docs, tmp_path):
    """A lineage table that exists but cannot be read is an error, not
    "no lineage": the run must raise instead of re-extracting everything
    and appending duplicate lineage rows."""
    out = tmp_path / "corrupt"
    (out / "lineage").mkdir(parents=True)
    (out / "lineage" / "part-00000.snappy.parquet").write_bytes(
        b"not a parquet file")
    with pytest.raises(Exception):
        run_checkpointed(spark, docs, str(out), num_partitions=8,
                         run_id="r1")
    assert not (out / "spans").exists()


def test_resume_idempotent_paged(spark, docs, tmp_path):
    """Failure-injection resume THROUGH the page-split path (VERDICT r2 #4):
    the monster-doc defense must be reachable from the production entry
    point and yield a bit-equal final table."""
    out1 = str(tmp_path / "full")
    out2 = str(tmp_path / "paged")
    run_checkpointed(spark, docs, out1, num_partitions=8, run_id="full")
    # min_bytes=0: force every doc through the split machinery (the corpus
    # classes where the split is exact — tests/test_pagesplit.py)
    run_checkpointed(spark, docs, out2, num_partitions=8, run_id="p1",
                     fail_parts={1, 6}, split_min_bytes=0,
                     pages_per_group=4)
    stats = run_checkpointed(spark, docs, out2, num_partitions=8,
                             run_id="p2", split_min_bytes=0,
                             pages_per_group=4)
    assert stats["parts_done"] == 8
    a = spark.read.parquet(f"{out1}/spans")
    b = spark.read.parquet(f"{out2}/spans")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    lin = spark.read.parquet(f"{out2}/lineage")
    by_run = {r["part_id"]: r["run_id"] for r in lin.collect()}
    assert by_run[1] == "p2" and by_run[6] == "p2"


def test_skew_docs_exist_and_balanced(spark, docs):
    # the rich corpus has a deterministic skew tail; salting must keep the
    # max-partition share bounded
    spans = extract_spans(docs, num_partitions=8, nested=False)
    per_doc = spans.groupBy("doc_id").count()
    mx = per_doc.agg(F.max("count")).first()[0]
    med = per_doc.approxQuantile("count", [0.5], 0.01)[0]
    assert mx > 5 * med  # skew is real
    per_part = spans.groupBy("part_id").count().collect()
    counts = [r["count"] for r in per_part]
    assert max(counts) < 3.5 * (sum(counts) / len(counts))


# --- Iceberg-or-parquet table routing (pdf2dom_spark.tables) -----------------

def test_tables_fallback_and_identifier_routing(spark, tmp_path):
    from pdf2dom_spark import tables

    # sandbox has no Iceberg runtime: detection must be False, not an error
    assert tables.iceberg_available(spark) is False
    assert tables.is_table_identifier("lake.db.documents") is True
    assert tables.is_table_identifier("/data/docs.parquet") is False
    assert tables.is_table_identifier("docs.parquet") is False

    # catalog identifier without a runtime -> loud, actionable error
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="Iceberg"):
        tables.read_table(spark, "lake.db.documents")

    # parquet path round-trip through the same API the pipeline uses
    from pyspark.sql import functions as F
    df = spark.range(10).withColumn("part_id", (F.col("id") % 2).cast("int"))
    tables.write_partitioned(df, f"{tmp_path}/t", "part_id", spark)
    back = tables.read_table(spark, f"{tmp_path}/t")
    assert back.count() == 10
    # partition-replacing semantics: rewriting part 0 leaves part 1 intact
    df0 = spark.range(3).withColumn("part_id", F.lit(0).cast("int"))
    tables.write_partitioned(df0, f"{tmp_path}/t", "part_id", spark)
    counts = dict(tables.read_table(spark, f"{tmp_path}/t")
                  .groupBy("part_id").count().collect())
    assert counts == {0: 3, 1: 5}


def test_bare_dirname_is_a_path_not_a_table(spark, tmp_path):
    """'bench_out'-style relative dirs must route to parquet, not Iceberg
    (code-review regression)."""
    import os
    from pdf2dom_spark import tables
    from pyspark.sql import functions as F

    assert tables.is_table_identifier("bench_out") is False
    assert tables.is_table_identifier("lake.db.spans") is True
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        df = spark.range(4).withColumn("part_id", (F.col("id") % 2).cast("int"))
        tables.write_partitioned(df, "bench_out", "part_id", spark)
        assert tables.read_table(spark, "bench_out").count() == 4
    finally:
        os.chdir(cwd)


def test_ingest_doc_ids_are_relative_to_input_root(spark, tmp_path):
    """Real-PDF ingest names a file by its path under the input root (the
    glob's leading components with no glob character): same-named files
    in two directories stay two documents, files directly under a given
    directory keep their bare names, and archives name their members
    ``<container>/<member>`` the same way."""
    import zipfile

    from pdf2dom_spark.corpus import oracle_stream
    from pdf2dom_spark.pdfread import pdf_archive_docs_df, pdf_docs_df
    from pdf2dom_spark.pdfwrite import spans_to_pdf

    pdf = spans_to_pdf("x", oracle_stream("x", "two words"))
    for sub in ("a", "b c"):
        (tmp_path / sub).mkdir()
        (tmp_path / sub / "x.pdf").write_bytes(pdf)
        with zipfile.ZipFile(tmp_path / sub / "batch.zip", "w") as zf:
            zf.writestr("x.pdf", pdf)

    def ids(df):
        return sorted(r["doc_id"] for r in df.select("doc_id").collect())

    assert ids(pdf_docs_df(spark, f"{tmp_path}/*")) == ["a/x.pdf",
                                                        "b c/x.pdf"]
    assert ids(pdf_docs_df(spark, str(tmp_path / "a"))) == ["x.pdf"]
    assert ids(pdf_docs_df(spark, str(tmp_path / "a" / "x.pdf"))) == [
        "x.pdf"]
    assert ids(pdf_archive_docs_df(spark, f"{tmp_path}/*",
                                   suffix="*.zip")) == [
        "a/batch.zip/x.pdf", "b c/batch.zip/x.pdf"]
    assert ids(pdf_archive_docs_df(spark, str(tmp_path / "a"),
                                   suffix="*.zip")) == ["batch.zip/x.pdf"]


def test_upsert_docs_equals_full_rerun(spark, docs, tmp_path):
    """Incremental re-extraction: after updating a subset of documents,
    upsert_docs must produce exactly the table a full re-run over the
    updated corpus would — touching only the affected partitions — and
    lineage checksums must describe the merged table."""
    from pdf2dom_spark.pipeline import upsert_docs

    out = str(tmp_path / "u")
    run_checkpointed(spark, docs, out, num_partitions=8, run_id="base")

    # new versions for ~1/10th of the corpus: swap their payload with
    # another doc's spans (deterministic, genuinely different)
    ids = [r.doc_id for r in docs.select("doc_id").limit(20).collect()]
    updated = (docs.where(F.col("doc_id").isin(ids))
               .withColumn("spans", F.reverse("spans")))
    stats = upsert_docs(spark, updated, out, run_id="up1")
    assert stats["docs_updated"] == len(ids)
    assert 0 < stats["parts_touched"] <= 8

    # ground truth: full fresh run over the updated corpus
    full_docs = (docs.where(~F.col("doc_id").isin(ids))
                 .unionByName(updated))
    ref = str(tmp_path / "ref")
    run_checkpointed(spark, full_docs, ref, num_partitions=8, run_id="full")

    a = spark.read.parquet(f"{ref}/spans")
    b = spark.read.parquet(f"{out}/spans")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # the current lineage rows still reconcile with the merged table
    lin = [(r.part_id, r.checksum)
           for r in _current_lineage(spark, out).values()]
    fresh = lineage(b).select("part_id", "checksum")
    assert sorted(lin) == sorted(map(tuple, fresh.collect()))
    # resume over the upserted table is still a no-op
    stats2 = run_checkpointed(spark, full_docs, out, num_partitions=8,
                              run_id="noop")
    assert stats2["span_count"] == 0


def test_upsert_inserts_new_docs(spark, docs, tmp_path):
    """Upsert with brand-new doc_ids inserts them (partition rebuild keeps
    every existing doc); upsert without a prior run fails loudly."""
    from pyspark.sql import Row

    from pdf2dom_spark.pipeline import upsert_docs

    out = str(tmp_path / "ins")
    run_checkpointed(spark, docs, out, num_partitions=8, run_id="base")
    base_count = spark.read.parquet(f"{out}/spans").count()

    tmpl = docs.limit(1).collect()[0]
    new = spark.createDataFrame(
        [Row(doc_id="brand-new-doc-1", spans=tmpl.spans),
         Row(doc_id="brand-new-doc-2", spans=tmpl.spans)],
        schema=docs.select("doc_id", "spans").schema)
    stats = upsert_docs(spark, new, out, run_id="ins1")
    assert stats["docs_updated"] == 2

    after = spark.read.parquet(f"{out}/spans")
    assert after.where(F.col("doc_id") == "brand-new-doc-1").count() > 0
    assert after.select("doc_id").distinct().count() == docs.count() + 2
    assert after.count() > base_count

    # no prior run -> loud failure, not silent table creation
    with pytest.raises(Exception):
        upsert_docs(spark, new, str(tmp_path / "missing"), run_id="boom")


def test_upsert_empties_partition(spark, docs, tmp_path):
    """An affected partition whose every doc updates to a zero-span version
    must end EMPTY on disk (dynamic overwrite alone never touches it) with
    an explicit zero lineage row — not stale spans + a dropped lineage
    row (ADVICE r3)."""
    from pdf2dom_spark.pipeline import upsert_docs

    small = docs.limit(10).localCheckpoint(eager=True)
    out = str(tmp_path / "zu")
    run_checkpointed(spark, small, out, num_partitions=64, run_id="base")

    solo = (with_part_id(small, 64).groupBy("part_id")
            .agg(F.count(F.lit(1)).alias("n"), F.first("doc_id").alias("d"))
            .where(F.col("n") == 1).first())
    assert solo is not None, "need a single-doc partition for this test"
    target_part, target_doc = int(solo.part_id), solo.d

    updated = (small.where(F.col("doc_id") == target_doc)
               .withColumn("spans", F.expr("slice(spans, 1, 0)")))
    stats = upsert_docs(spark, updated, out, run_id="up-empty")
    assert stats["docs_updated"] == 1

    after = spark.read.parquet(f"{out}/spans")
    assert after.where(F.col("part_id") == target_part).count() == 0
    assert after.where(F.col("doc_id") == target_doc).count() == 0
    rows = spark.read.parquet(f"{out}/lineage").where(
        F.col("part_id") == target_part).collect()
    assert sorted(r.seq for r in rows) == [0, 1]
    row = _current_lineage(spark, out)[target_part]
    assert row.run_id == "up-empty" and row.span_count == 0

    # resume over the upserted table is still a no-op (lineage complete)
    full_docs = (small.where(F.col("doc_id") != target_doc)
                 .unionByName(updated))
    stats2 = run_checkpointed(spark, full_docs, out, num_partitions=64,
                              run_id="noop")
    assert stats2["span_count"] == 0


def test_upsert_rejects_unsupported_lineage(spark, docs, tmp_path):
    """Upsert against an output whose lineage lacks num_partitions (a
    table written by something other than run_checkpointed) fails with a
    clear error, not an opaque AnalysisException (ADVICE r3)."""
    from pdf2dom_spark.pipeline import upsert_docs

    out = str(tmp_path / "badlin")
    spark.range(3).selectExpr("id as part_id", "id as seq") \
        .write.parquet(f"{out}/lineage")
    with pytest.raises(ValueError, match="num_partitions"):
        upsert_docs(spark, docs.limit(1), out, run_id="nope")


def test_other_part_scheme_lineage_refused(spark, docs, tmp_path):
    """An output whose lineage has no part_scheme column (written before
    part_id followed the shuffle's placement) or names another formula is
    refused by both resume and upsert, never remapped: its part_ids would
    not match the ones this version computes. A lineage with no seq
    column (written before lineage became append-only) is refused too:
    its rows cannot be ordered."""
    from pdf2dom_spark.pipeline import PART_SCHEME, upsert_docs
    from pdf2dom_spark.schema import LINEAGE_SCHEMA

    row = {c: 0 for c in LINEAGE_SCHEMA.names}
    row.update(run_id="old", completed_at=None, num_partitions=4)
    old_cols = [c for c in LINEAGE_SCHEMA.names if c != "part_scheme"]
    cases = {
        "missing": (spark.createDataFrame([row], LINEAGE_SCHEMA)
                    .select(old_cols), "no part_scheme column"),
        "other": (spark.createDataFrame(
            [{**row, "part_scheme": "pmod(xxhash64(doc_id), P)"}],
            LINEAGE_SCHEMA), "pmod\\(xxhash64"),
        "no_seq": (spark.createDataFrame(
            [{**row, "part_scheme": PART_SCHEME}], LINEAGE_SCHEMA)
            .drop("seq"), "no seq column"),
    }
    for name, (lin, msg) in cases.items():
        out = tmp_path / name
        lin.write.parquet(str(out / "lineage"))
        lineage_files = sorted((out / "lineage").iterdir())
        with pytest.raises(ValueError, match=msg):
            run_checkpointed(spark, docs, str(out), num_partitions=4,
                             run_id="r")
        with pytest.raises(ValueError, match=msg):
            upsert_docs(spark, docs.limit(1), str(out), run_id="u")
        assert not (out / "spans").exists()
        assert sorted((out / "lineage").iterdir()) == lineage_files


def test_gathered_width_is_independent_of_parts(spark, docs):
    """``extract_gathered`` extracts on ``extraction_width`` tasks (4 on
    local[4]) and gathers the spans into P: at P=8 the docs exchange has
    4 partitions, the spans exchange 8, and task i holds part_id i."""
    import re

    from pdf2dom_spark.extract import DEFAULT_CONFIG
    from pdf2dom_spark.pipeline import extract_gathered

    spans = extract_gathered(with_part_id(docs, 8), DEFAULT_CONFIG, 8)
    plan = spans._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(doc_id#\d+, 4\)", plan), plan
    assert re.search(r"hashpartitioning\(xxhash64\(doc_id#\d+, 42\), 8\)",
                     plan), plan
    assert spans.where(
        F.spark_partition_id() != F.col("part_id")).count() == 0
    assert spans.select("part_id").distinct().count() == 8


def test_one_task_writes_one_part(spark, docs, tmp_path):
    """part_id is the shuffle's task index (of extract_salted's doc
    shuffle and extract_gathered's span shuffle), so every write puts one
    file in each part_id dir it touches: a failed first run, its resume and
    an upsert leave exactly one file per dir (the upsert's rewrite
    replaces the dir), and so does a run on the split path. The first run,
    its resume and the upsert also each append one lineage file. The
    task check also covers the split path's renumber exchange, which adaptive
    execution would otherwise coalesce into one task on this small
    corpus."""
    import glob

    from pdf2dom_spark.extract import DEFAULT_CONFIG
    from pdf2dom_spark.pagesplit import extract_spans_paged
    from pdf2dom_spark.pipeline import (extract_gathered, extract_salted,
                                        upsert_docs)

    one_part = with_part_id(docs, 4).where(F.col("part_id") == 1)
    gathered = extract_gathered(one_part, DEFAULT_CONFIG, 4)
    for spans in (extract_salted(with_part_id(docs, 4), DEFAULT_CONFIG, 4),
                  gathered,
                  extract_spans_paged(docs, DEFAULT_CONFIG, 4,
                                      pages_per_group=4, min_bytes=0)):
        assert spans.where(
            F.spark_partition_id() != F.col("part_id")).count() == 0
    # run_checkpointed's extraction: the docs of one pending part spread
    # over all 4 tasks on doc_id, not onto that part's one task
    extracted = gathered._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in extracted, extracted

    def files_per_dir(out):
        return {d: len(glob.glob(f"{d}/*.parquet"))
                for d in glob.glob(f"{out}/spans/part_id=*")}

    def lineage_files(out):
        return set(glob.glob(f"{out}/lineage/*.parquet"))

    out = str(tmp_path / "one")
    run_checkpointed(spark, docs, out, num_partitions=4, run_id="r1",
                     fail_parts={1})
    assert sorted(files_per_dir(out).values()) == [1, 1, 1]
    first = lineage_files(out)
    assert len(first) == 1
    run_checkpointed(spark, docs, out, num_partitions=4, run_id="r2")
    assert sorted(files_per_dir(out).values()) == [1, 1, 1, 1]
    resumed = lineage_files(out)
    assert first < resumed and len(resumed) == 2
    ids = [r.doc_id for r in docs.select("doc_id").limit(40).collect()]
    upsert_docs(spark, docs.where(F.col("doc_id").isin(ids))
                .withColumn("spans", F.reverse("spans")), out, run_id="u1")
    assert sorted(files_per_dir(out).values()) == [1, 1, 1, 1]
    # the upsert appends one lineage file and leaves the earlier ones
    upserted = lineage_files(out)
    assert resumed < upserted and len(upserted) == 3

    split = str(tmp_path / "split")
    run_checkpointed(spark, docs, split, num_partitions=4, run_id="s1",
                     split_min_bytes=0, pages_per_group=4)
    assert sorted(files_per_dir(split).values()) == [1, 1, 1, 1]


def _assert_lineage_describes(spark, out, spans, num_partitions):
    """Every part's current lineage row equals lineage(spans) for it, in
    every aggregate column (a zero row for a part with no spans)."""
    want = {r.part_id: r for r in lineage(spans).collect()}
    current = _current_lineage(spark, out)
    assert sorted(current) == list(range(num_partitions))
    cols = lineage(spans).columns
    for pid, row in current.items():
        expect = (tuple(want[pid]) if pid in want
                  else (pid,) + (0,) * (len(cols) - 1))
        assert tuple(row[c] for c in cols) == expect, pid


def test_upsert_failed_before_lineage_append_reruns(spark, docs, tmp_path,
                                                   monkeypatch):
    """An upsert that fails after its spans overwrite and before its
    lineage append leaves the rewritten spans under the old lineage rows.
    Running the same upsert again gives the spans a full re-run over the
    updated corpus gives, current lineage rows that describe them, and a
    resume after it is a no-op."""
    from pdf2dom_spark import tables
    from pdf2dom_spark.pipeline import upsert_docs

    out = str(tmp_path / "crash")
    run_checkpointed(spark, docs, out, num_partitions=8, run_id="base")
    before = sorted(map(tuple, spark.read.parquet(f"{out}/lineage")
                        .collect()))
    ids = [r.doc_id for r in docs.select("doc_id").limit(20).collect()]
    updated = (docs.where(F.col("doc_id").isin(ids))
               .withColumn("spans", F.reverse("spans")))

    append = tables.append_table

    def fail_once(*args, **kwargs):
        monkeypatch.setattr(tables, "append_table", append)
        raise RuntimeError("injected lineage append failure")

    monkeypatch.setattr(tables, "append_table", fail_once)
    with pytest.raises(RuntimeError, match="injected"):
        upsert_docs(spark, updated, out, run_id="u1")
    assert tables.append_table is append
    assert sorted(map(tuple, spark.read.parquet(f"{out}/lineage")
                      .collect())) == before

    stats = upsert_docs(spark, updated, out, run_id="u2")
    assert stats["docs_updated"] == len(ids)

    full_docs = (docs.where(~F.col("doc_id").isin(ids))
                 .unionByName(updated))
    ref = str(tmp_path / "ref")
    run_checkpointed(spark, full_docs, ref, num_partitions=8, run_id="full")
    a = spark.read.parquet(f"{ref}/spans")
    b = spark.read.parquet(f"{out}/spans")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    _assert_lineage_describes(spark, out, b, 8)
    assert {r.run_id for r in _current_lineage(spark, out).values()
            if r.seq == 1} == {"u2"}

    mtimes = _mtimes(out)
    again = run_checkpointed(spark, full_docs, out, num_partitions=8,
                             run_id="noop")
    assert again["span_count"] == 0 and again["parts_done"] == 8
    assert again["total_span_count"] == b.count()
    assert _mtimes(out) == mtimes


def test_latest_lineage_row_wins(spark, docs, tmp_path):
    """Lineage is append-only: a part rewritten by two upserts holds three
    rows with increasing seq, its largest-seq row describes its spans,
    and a resume counts only each part's current row."""
    from pdf2dom_spark.pipeline import upsert_docs

    by_part: dict[int, list] = {}
    for r in with_part_id(docs, 8).select("doc_id", "part_id").collect():
        by_part.setdefault(r.part_id, []).append(r.doc_id)
    first_ids = by_part[2][:2] + by_part[5][:2]
    second_ids = by_part[5][2:4] + by_part[6][:2]

    out = str(tmp_path / "latest")
    run_checkpointed(spark, docs, out, num_partitions=8, run_id="base")
    for run_id, ids in (("u1", first_ids), ("u2", second_ids)):
        upsert_docs(spark, docs.where(F.col("doc_id").isin(ids))
                    .withColumn("spans", F.reverse("spans")), out,
                    run_id=run_id)

    spans = spark.read.parquet(f"{out}/spans")
    rows = spark.read.parquet(f"{out}/lineage").collect()
    shared = sorted((r.seq, r.run_id) for r in rows if r.part_id == 5)
    assert shared == [(0, "base"), (1, "u1"), (2, "u2")]
    _assert_lineage_describes(spark, out, spans, 8)

    total = spans.count()
    # summing every row would count the rewritten parts more than once
    assert sum(r.span_count for r in rows) > total
    stats = run_checkpointed(spark, docs, out, num_partitions=8,
                             run_id="noop")
    assert stats["parts_done"] == 8 and stats["span_count"] == 0
    assert stats["total_span_count"] == total


def test_upsert_refuses_parts_without_lineage(spark, docs, tmp_path):
    """An upsert touching a part that failed and was not resumed yet is
    refused before it writes: a lineage row for that part would mark it
    done with only the updated documents in it."""
    from pdf2dom_spark.pipeline import upsert_docs

    out = str(tmp_path / "gap")
    run_checkpointed(spark, docs, out, num_partitions=8, run_id="r1",
                     fail_parts={3})
    before = _mtimes(out)
    gap = with_part_id(docs, 8).where(F.col("part_id") == 3).drop("part_id")
    with pytest.raises(ValueError, match=r"part_id\(s\) \[3\]"):
        upsert_docs(spark, gap.limit(2), out, run_id="u1")
    assert _mtimes(out) == before


def test_ingest_reads_nested_input_directories(spark, tmp_path):
    """A root whose PDFs (and archives) sit only in subdirectories is read
    recursively, each file named by its path under the root."""
    import zipfile

    from pdf2dom_spark.corpus import oracle_stream
    from pdf2dom_spark.pdfread import pdf_archive_docs_df, pdf_docs_df
    from pdf2dom_spark.pdfwrite import spans_to_pdf

    pdf = spans_to_pdf("x", oracle_stream("x", "two words"))
    root = tmp_path / "ingest"
    for sub in ("a", "b c", "b c/deep"):
        (root / sub).mkdir(parents=True)
        (root / sub / "x.pdf").write_bytes(pdf)
        with zipfile.ZipFile(root / sub / "batch.zip", "w") as zf:
            zf.writestr("x.pdf", pdf)

    def ids(df):
        return sorted(r["doc_id"] for r in df.select("doc_id").collect())

    assert ids(pdf_docs_df(spark, str(root))) == [
        "a/x.pdf", "b c/deep/x.pdf", "b c/x.pdf"]
    assert ids(pdf_archive_docs_df(spark, str(root), suffix="*.zip")) == [
        "a/batch.zip/x.pdf", "b c/batch.zip/x.pdf",
        "b c/deep/batch.zip/x.pdf"]


def _executions(spark, description):
    """The SQL executions run under ``sc.setJobDescription(description)``,
    in run order: per execution its final plan's nodes top-down as
    (name, description) pairs, and per Exchange node its records-written
    metric."""
    jvm = spark.sparkContext._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for e in sorted((execs.apply(i) for i in range(execs.size())),
                    key=lambda e: e.executionId()):
        if e.description() != description:
            continue
        values = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            store.executionMetrics(e.executionId()))
        nodes = store.planGraph(e.executionId()).allNodes()
        plan, written = [], []
        for j in range(nodes.size()):
            n = nodes.apply(j)
            plan.append((n.name().strip(), n.desc()))
            metrics = n.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() == "shuffle records written":
                    written.append((j, int(values.get(m.accumulatorId())
                                           .replace(",", ""))))
        out.append((plan, dict(written)))
    return out


def _python_nodes(plan) -> list[str]:
    return [n for n, _d in plan
            if "Python" in n or "InPandas" in n or "InArrow" in n]


def test_pdf_resume_parses_only_pending_files(spark, tmp_path):
    """Real-PDF ingest makes doc_id on the JVM, so a resume's part_id
    filter runs below the only Python node: a resume of one failed part
    of four parses only that part's files (the docs exchange writes one
    record per pending file), the resumed output equals a one-shot run,
    and an upsert's id collect runs no Python at all."""
    from pdf2dom_spark.corpus import oracle_stream
    from pdf2dom_spark.pdfread import pdf_docs_df
    from pdf2dom_spark.pdfwrite import spans_to_pdf
    from pdf2dom_spark.pipeline import upsert_docs

    def write(d, ids, words):
        d.mkdir()
        for i in ids:
            (d / f"d{i}.pdf").write_bytes(spans_to_pdf(
                f"d{i}", oracle_stream(f"d{i}", f"{words} of doc {i}")))

    write(tmp_path / "pdfs", range(12), "the words")
    docs = pdf_docs_df(spark, str(tmp_path / "pdfs"))
    failed = 1
    n_failed = (with_part_id(docs, 4).where(F.col("part_id") == failed)
                .count())
    assert n_failed > 0

    one, out = str(tmp_path / "one"), str(tmp_path / "resumed")
    run_checkpointed(spark, docs, one, num_partitions=4, run_id="one")
    run_checkpointed(spark, docs, out, num_partitions=4, run_id="r1",
                     fail_parts={failed})
    sc = spark.sparkContext
    sc.setJobDescription("pdf-resume")
    try:
        stats = run_checkpointed(spark, docs, out, num_partitions=4,
                                 run_id="r2")
    finally:
        sc.setJobDescription(None)
    assert stats["parts_done"] == 4

    [(plan, written)] = [e for e in _executions(spark, "pdf-resume")
                         if any(n == "Scan binaryFile" for n, _d in e[0])]
    names = [n for n, _d in plan]
    assert "MapInPandas" not in names
    assert _python_nodes(plan) == ["MapInArrow"]
    scan = names.index("Scan binaryFile")
    docs_exchange = max(j for j, n in enumerate(names[:scan])
                        if n == "Exchange")
    assert names.index("MapInArrow") < docs_exchange
    filters = [j for j, (n, d) in enumerate(plan)
               if n == "Filter" and "pmod(hash(xxhash64(" in d]
    assert filters and all(docs_exchange < j < scan for j in filters)
    assert _python_nodes(plan[min(filters):scan]) == []
    assert written[docs_exchange] == n_failed

    a = spark.read.parquet(f"{one}/spans")
    b = spark.read.parquet(f"{out}/spans")
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    write(tmp_path / "updated", (0, 1), "new words")
    sc.setJobDescription("pdf-upsert")
    try:
        up = upsert_docs(spark, pdf_docs_df(spark, str(tmp_path / "updated")),
                         out, run_id="u1")
    finally:
        sc.setJobDescription(None)
    assert up["docs_updated"] == 2
    # the first execution to scan the files is the updated-id collect
    id_collect = next(plan for plan, _w in _executions(spark, "pdf-upsert")
                      if any(n == "Scan binaryFile" for n, _d in plan))
    assert _python_nodes(id_collect) == []
    assert "Exchange" not in [n for n, _d in id_collect]


def test_paged_extraction_parses_pdf_input(spark, tmp_path):
    """The page-split path parses a ``pdf`` input in a stage of its own
    (its size route reads ``spans``): written multi-page oracle PDFs,
    every one split per page, extract to the unsplit spans."""
    from pdf2dom_spark.corpus import oracle_stream
    from pdf2dom_spark.pagesplit import extract_spans_paged
    from pdf2dom_spark.pdfread import pdf_docs_df
    from pdf2dom_spark.pdfwrite import spans_to_pdf

    src = tmp_path / "pdfs"
    src.mkdir()
    for i in range(6):
        words = " ".join(f"w{i}x{k}" for k in range(40 * (i % 3) + 30))
        (src / f"d{i}.pdf").write_bytes(
            spans_to_pdf(f"d{i}", oracle_stream(f"d{i}", words)))
    docs = pdf_docs_df(spark, str(src))
    paged = extract_spans_paged(docs, num_partitions=4, pages_per_group=1,
                                min_bytes=0)
    plain = extract_spans(docs, num_partitions=4, nested=False)
    assert paged.count() == plain.count() > 0
    assert paged.exceptAll(plain).count() == 0
    assert plain.exceptAll(paged).count() == 0
