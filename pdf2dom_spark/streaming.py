"""Structured Streaming surface.

The reference is strictly batch (one document per JVM invocation,
PDFToHTML.java:73-77), and the north rule's checkpoint-resume is batch too —
but a 100 TB ingest pipeline usually *arrives* as a stream. This module runs
the identical extraction kernel over ``readStream`` so the same code serves
both modes:

  - ``extract_spans_stream`` — file-source stream of DOC_SCHEMA parquet ->
    the same ``mapInArrow`` extraction (stateless, so it composes with any
    trigger) -> parquet sink with checkpointLocation. ``availableNow`` gives
    exactly-once batch-backfill semantics; the same query with a continuous
    trigger is the live-ingest path.
  - ``extract_spans_stream_lineage`` / ``extract_pdf_stream_lineage`` — the
    same extraction through a replay-safe foreachBatch sink that writes
    ``(batch_id, part_id)`` partitions plus lineage rows, from DOC_SCHEMA
    parquet or from a directory of real .pdf files.

Scale notes: the streaming extraction keeps the salting property by
running the batch path's ``pipeline.extract_salted`` (the
``repartition(P, xxhash64(doc_id))`` shuffle + kernel) inside each
micro-batch; no state store is needed (extraction is per-document
independent)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import memtune
from .extract import DEFAULT_CONFIG, ExtractConfig
from .schema import DOC_SCHEMA, SPAN_FLAT_SCHEMA

# the lineage sink's spans table: the kernel's columns plus the batch_id
# partition column (read back with this schema, no inference job)
_BATCH_SPAN_SCHEMA = T.StructType(
    SPAN_FLAT_SCHEMA.fields + [T.StructField("batch_id", T.LongType())])


def extract_spans_stream(spark: SparkSession, docs_dir: str,
                         out_dir: str, checkpoint_dir: str,
                         cfg: ExtractConfig = DEFAULT_CONFIG,
                         num_partitions: int = 8):
    """Start an availableNow streaming extraction; returns the query."""
    stream = (spark.readStream.schema(DOC_SCHEMA)
              .option("maxFilesPerTrigger", 4)
              .parquet(docs_dir))
    # deterministic part_id column (lineage invariant — without it the
    # kernel falls back to the unstable TaskContext partition index)
    from .pipeline import extract_salted, with_part_id
    spans = extract_salted(with_part_id(stream, num_partitions), cfg,
                           num_partitions)
    return (spans.writeStream
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def _lineage_batch_writer(spark: SparkSession, out_dir: str,
                          cfg: ExtractConfig = DEFAULT_CONFIG,
                          num_partitions: int = 8):
    """The foreachBatch body of ``extract_spans_stream_lineage``, exposed so
    tests can replay a batch_id directly. Contract per micro-batch:

    1. If lineage rows for this ``batch_id`` exist, the batch was fully
       committed by an earlier attempt — skip (foreachBatch is
       at-least-once; this makes the sink effectively-once).
    2. Extract with the same salted shape as ``pipeline.extract_spans``.
    3. Dynamic-overwrite ``(batch_id, part_id)`` partitions: each batch owns
       its own partition space, so a replayed attempt replaces exactly its
       own files and can never clobber other batches.
    4. Append per-partition lineage (doc/span counts + bit_xor checksum)
       tagged with the batch_id — the same table the batch job's
       checkpoint-resume reads.

    Crash windows: after (3) before (4) -> replay overwrites the same
    partitions and appends lineage once; after (4) before the stream
    checkpoint commit -> replay sees lineage and skips. Either way the
    final table is identical."""
    from . import tables
    from .pipeline import extract_salted, lineage, with_part_id

    spans_dir = f"{out_dir}/spans"
    lineage_dir = f"{out_dir}/lineage"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        # existence is the same path rule as run_checkpointed: a dir left
        # holding only _temporary by a first append that died is "no
        # lineage yet"; a lineage table that exists but cannot be read
        # raises (taking it for "not committed" would re-append lineage
        # rows and double-count span totals)
        if tables.table_exists(spark, lineage_dir):
            lin_tbl = tables.read_table(spark, lineage_dir)
            if "batch_id" not in lin_tbl.columns:
                raise ValueError(
                    f"{lineage_dir} has no batch_id column — this output "
                    "was created by a batch run; streaming into it would "
                    "mix incompatible lineage schemas (use a fresh output "
                    "dir)")
            if lin_tbl.where(F.col("batch_id") == bid).limit(1).count():
                return
        spans = extract_salted(with_part_id(batch_df, num_partitions), cfg,
                               num_partitions)
        spans = spans.withColumn("batch_id", F.lit(bid))
        tables.write_partitioned(spans, spans_dir, ["batch_id", "part_id"],
                                 spark)
        # lineage from the read-back pruned to THIS batch's partitions
        # (static partition prune — never a scan of the cumulative table)
        written = tables.read_partitions(spark, spans_dir, _BATCH_SPAN_SCHEMA,
                                         "batch_id", [bid])
        lin = (lineage(written.drop("batch_id"))
               .withColumn("batch_id", F.lit(bid))
               .withColumn("completed_at", F.current_timestamp()))
        tables.append_table(lin, lineage_dir, spark)

    return write_batch


def extract_spans_stream_lineage(spark: SparkSession, docs_dir: str,
                                 out_dir: str, checkpoint_dir: str,
                                 cfg: ExtractConfig = DEFAULT_CONFIG,
                                 num_partitions: int = 8):
    """Streaming extraction through the SAME idempotent partitioned-write +
    lineage contract as the batch ``pipeline.run_checkpointed`` — the
    live-ingest twin of the north rule's checkpoint-resume: a foreachBatch
    sink whose batches land as (batch_id, part_id) partitions with lineage
    rows, replay-safe under foreachBatch's at-least-once semantics."""
    stream = (spark.readStream.schema(DOC_SCHEMA)
              .option("maxFilesPerTrigger", 4)
              .parquet(docs_dir))
    writer = _lineage_batch_writer(spark, out_dir, cfg, num_partitions)
    return (stream.writeStream
            .foreachBatch(writer)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def extract_pdf_stream_lineage(spark: SparkSession, pdf_dir: str,
                               out_dir: str, checkpoint_dir: str,
                               cfg: ExtractConfig = DEFAULT_CONFIG,
                               num_partitions: int = 8,
                               password: bytes = b""):
    """Live ingest of REAL .pdf files: a streaming ``binaryFile`` source
    watches the directory (new files are discovered incrementally and
    tracked in the checkpoint, so a restart never re-parses processed
    files), each micro-batch parses its files in the same narrow
    mapInPandas as the batch ``pdf_docs_df``, and extraction lands
    through the identical replay-safe foreachBatch lineage sink. The
    drop-a-directory-of-crawled-PDFs deployment shape — no parquet
    staging step."""
    from pyspark.sql.types import (BinaryType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    bin_schema = StructType([
        StructField("path", StringType()),
        StructField("modificationTime", TimestampType()),
        StructField("length", LongType()),
        StructField("content", BinaryType()),
    ])

    def parse_batch(it):
        import os

        import pandas as pd

        from .pdfread import pdf_to_spans
        memtune.tune_worker()
        for batch in it:
            ids, spans = [], []
            for path, content in zip(batch["path"], batch["content"]):
                try:
                    spans.append(pdf_to_spans(bytes(content),
                                              password=password))
                    ids.append(os.path.basename(str(path)))
                except Exception:
                    continue  # unparseable/locked file: skip
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype=object),
                                "spans": pd.Series(spans, dtype=object)})

    stream = (spark.readStream.format("binaryFile").schema(bin_schema)
              .option("pathGlobFilter", "*.pdf")
              .option("maxFilesPerTrigger", 64)
              .load(pdf_dir)
              .select("path", "content")
              .mapInPandas(parse_batch, DOC_SCHEMA))
    writer = _lineage_batch_writer(spark, out_dir, cfg, num_partitions)
    return (stream.writeStream
            .foreachBatch(writer)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
