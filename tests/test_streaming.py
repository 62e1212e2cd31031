"""Structured Streaming: the same extraction kernel over readStream must
produce exactly the batch result, and the foreachBatch lineage sink must
be replay-safe."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf2dom_spark.corpus import build_docs_df
from pdf2dom_spark.pipeline import extract_spans
from pdf2dom_spark.streaming import extract_spans_stream
from tests.conftest import SF_SMOKE


def test_stream_extraction_matches_batch(spark, tmp_path):
    docs = build_docs_df(spark, SF_SMOKE, mode="rich").limit(120).cache()
    docs_dir = str(tmp_path / "docs")
    docs.write.parquet(docs_dir)

    q = extract_spans_stream(spark, docs_dir, str(tmp_path / "out"),
                             str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    streamed = spark.read.parquet(str(tmp_path / "out"))
    batch = extract_spans(docs, num_partitions=8, nested=False)
    cols = [c for c in batch.columns if c != "part_id"]
    assert streamed.count() == batch.count()
    assert streamed.select(cols).exceptAll(batch.select(cols)).count() == 0


def test_stream_lineage_sink_matches_batch_and_replays(spark, tmp_path):
    """foreachBatch lineage sink: final table equals the batch extraction,
    lineage accounts for every span, and a replayed batch_id is a no-op
    (effectively-once under foreachBatch's at-least-once contract)."""
    from pdf2dom_spark.streaming import (_lineage_batch_writer,
                                         extract_spans_stream_lineage)

    docs = build_docs_df(spark, SF_SMOKE, mode="rich").limit(120).cache()
    docs_dir = str(tmp_path / "docs")
    docs.write.parquet(docs_dir)
    out = str(tmp_path / "out")

    q = extract_spans_stream_lineage(spark, docs_dir, out,
                                     str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    streamed = spark.read.parquet(f"{out}/spans")
    batch = extract_spans(docs, num_partitions=8, nested=False)
    cols = [c for c in batch.columns if c != "part_id"]
    assert streamed.count() == batch.count()
    assert streamed.select(cols).exceptAll(batch.select(cols)).count() == 0

    lin = spark.read.parquet(f"{out}/lineage")
    total = lin.agg(F.sum("span_count")).collect()[0][0]
    assert total == batch.count()
    n_before = streamed.count()
    batches = sorted(r.batch_id for r in
                     lin.select("batch_id").distinct().collect())

    # replaying an already-committed batch_id must change nothing
    writer = _lineage_batch_writer(spark, out, num_partitions=8)
    writer(docs.limit(10), batches[0])
    assert spark.read.parquet(f"{out}/spans").count() == n_before
    assert (spark.read.parquet(f"{out}/lineage")
            .where(F.col("batch_id") == batches[0]).count()
            == lin.where(F.col("batch_id") == batches[0]).count())

    # a NEW batch_id appends its own partitions + lineage
    writer(docs.limit(10), 9999)
    extra = extract_spans(docs.limit(10), num_partitions=8,
                          nested=False).count()
    assert spark.read.parquet(f"{out}/spans").count() == n_before + extra
    assert (spark.read.parquet(f"{out}/lineage")
            .where(F.col("batch_id") == 9999).count() > 0)


def test_stream_lineage_sink_restart_is_noop(spark, tmp_path):
    """Restarting the drained stream with the same checkpoint must add no
    batches, no spans, and no lineage rows (checkpoint + lineage compose)."""
    from pdf2dom_spark.streaming import extract_spans_stream_lineage

    docs = build_docs_df(spark, SF_SMOKE, mode="rich").limit(60).cache()
    docs_dir = str(tmp_path / "docs")
    docs.write.parquet(docs_dir)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = extract_spans_stream_lineage(spark, docs_dir, out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(f"{out}/spans").count()
    l1 = spark.read.parquet(f"{out}/lineage").count()

    q2 = extract_spans_stream_lineage(spark, docs_dir, out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out}/spans").count() == n1
    assert spark.read.parquet(f"{out}/lineage").count() == l1


def test_stream_lineage_sink_crash_window_replay(spark, tmp_path, monkeypatch):
    """The documented crash window: spans written, lineage append dies,
    foreachBatch replays the batch. The replay must dynamic-overwrite the
    same (batch_id, part_id) partitions — one copy of every span, one
    lineage row set."""
    from pdf2dom_spark import tables
    from pdf2dom_spark.streaming import _lineage_batch_writer

    docs = build_docs_df(spark, SF_SMOKE, mode="rich").limit(40).cache()
    out = str(tmp_path / "o")
    writer = _lineage_batch_writer(spark, out, num_partitions=8)

    real_append = tables.append_table

    def dying_append(df, target, spark_=None):
        raise RuntimeError("injected crash before lineage commit")

    monkeypatch.setattr(tables, "append_table", dying_append)
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="injected crash"):
        writer(docs, 7)
    monkeypatch.setattr(tables, "append_table", real_append)

    # spans landed but no lineage: replay must not duplicate
    n_orphan = spark.read.parquet(f"{out}/spans").count()
    assert n_orphan > 0
    writer(docs, 7)  # replay
    spans = spark.read.parquet(f"{out}/spans")
    assert spans.count() == n_orphan  # same rows, overwritten in place
    assert spans.select("doc_id", "order").distinct().count() == n_orphan
    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.where(F.col("batch_id") == 7).count() > 0
    total = lin.agg(F.sum("span_count")).collect()[0][0]
    assert total == n_orphan


def test_stream_lineage_sink_starts_over_dead_first_append(spark, tmp_path):
    """A first lineage append that died leaves ``lineage/`` holding only
    ``_temporary/``, which is no table yet. The next batch must commit its
    spans and one lineage batch instead of failing to read that dir."""
    from pdf2dom_spark.streaming import _lineage_batch_writer

    docs = build_docs_df(spark, SF_SMOKE, mode="rich").limit(40).cache()
    out = tmp_path / "o"
    (out / "lineage" / "_temporary" / "0").mkdir(parents=True)
    writer = _lineage_batch_writer(spark, str(out), num_partitions=8)
    writer(docs, 0)

    want = extract_spans(docs, num_partitions=8, nested=False).count()
    assert want > 0
    assert spark.read.parquet(f"{out}/spans").count() == want
    lin = spark.read.parquet(f"{out}/lineage")
    assert {r.batch_id for r in lin.select("batch_id").distinct().collect()} \
        == {0}
    assert lin.agg(F.sum("span_count")).collect()[0][0] == want


def test_pdf_file_stream_matches_batch_ingest(spark, tmp_path):
    """Streaming binaryFile ingest of real PDFs == the batch ingest +
    extraction, through the same lineage sink; a second availableNow run
    with NO new files processes nothing (checkpointed file tracking),
    and a newly dropped file arrives incrementally."""
    import os
    import shutil

    import pytest as _pytest

    res = "/root/reference/src/test/resources"
    if not os.path.isdir(res):
        _pytest.skip("reference fixtures not present")
    from pdf2dom_spark.pdfread import pdf_docs_df
    from pdf2dom_spark.pipeline import run_checkpointed
    from pdf2dom_spark.streaming import extract_pdf_stream_lineage

    src = tmp_path / "drop"
    src.mkdir()
    for f in ("text-rendering-mode-stroke.pdf", "images.pdf"):
        shutil.copy(f"{res}/{f}", src / f)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    q = extract_pdf_stream_lineage(spark, str(src), out, ckpt,
                                   num_partitions=2)
    q.awaitTermination()
    got = spark.read.parquet(f"{out}/spans")
    out_batch = str(tmp_path / "out_batch")
    run_checkpointed(spark, pdf_docs_df(spark, str(src)), out_batch,
                     num_partitions=2)
    want = spark.read.parquet(f"{out_batch}/spans")
    cols = [c for c in got.columns if c not in ("part_id", "batch_id")]
    assert (got.select(cols).exceptAll(want.select(cols)).count() == 0
            and want.select(cols).exceptAll(got.select(cols)).count() == 0)
    n1 = got.count()

    # replay with no new files: nothing re-processed
    q = extract_pdf_stream_lineage(spark, str(src), out, ckpt,
                                   num_partitions=2)
    q.awaitTermination()
    assert spark.read.parquet(f"{out}/spans").count() == n1

    # drop one more file: only IT is processed
    shutil.copy(f"{res}/3-page-document.pdf", src / "late.pdf")
    q = extract_pdf_stream_lineage(spark, str(src), out, ckpt,
                                   num_partitions=2)
    q.awaitTermination()
    spans2 = spark.read.parquet(f"{out}/spans")
    assert spans2.where("doc_id = 'late.pdf'").count() > 0
    assert spans2.count() > n1
    assert spans2.select("doc_id").distinct().count() == 3
