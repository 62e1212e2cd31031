"""Spark-level wiring: salted extraction, lineage, checkpoint-resume.

Scale design (the 10^12-doc / 1000-executor story, tested at local[32]):

- **One document shuffle.** ``extract_spans`` has one exchange: the
  salted ``repartition(W, xxhash64(doc_id))`` that defuses skew from
  giant multi-page documents (BASELINE.json north_star). Extraction
  itself is one narrow ``mapInArrow`` kernel (``extract_salted``), and
  the nested ``style`` struct is a JVM projection over its flat output.
  ``run_checkpointed`` spreads the docs on ``doc_id`` instead and adds
  one exchange of the spans on the salt key (``extract_gathered``), so a
  resume of a few parts runs on every task and still writes one file
  per part. The lineage aggregate is one partial-agg and one exchange
  over the written output (``doc_count`` counts the ``order == 0``
  spans, so no distinct-count stage). (Monster documents optionally fan
  out per page-group first — pagesplit.py.)
- **Width from cores and bytes, parts from the output.** The extraction
  width W (tasks that run the kernel) is ``extraction_width``: one task
  per core, or one per ``TASK_BYTES`` of the optimizer's input estimate
  when that is more. It is not ``spark.sql.shuffle.partitions``: more
  tasks than cores only adds per-task cost around the kernel. The part
  count P of a written output (``num_partitions`` of
  ``run_checkpointed``, the ``part_id`` modulus) is its layout, recorded
  in lineage; ``extract_gathered`` extracts on W tasks and gathers the
  spans into P. An explicit ``num_partitions`` of ``extract_spans``
  sets W.
- **Deterministic partitioning, one task per part.** ``part_id`` is a
  *column* (``pmod(hash(xxhash64(doc_id)), P)``) and, by construction,
  also the runtime partition index: ``F.hash`` is the Murmur3 (seed 42)
  that Spark's hash partitioning applies to the shuffle key
  ``xxhash64(doc_id)``. Lineage/resume is stable across schedulers,
  cluster sizes and retries, and every task writes exactly one
  ``part_id`` directory, so a run adds one file per part (no compaction
  job). The formula is recorded in lineage (``part_scheme``); an output
  written under another formula is refused, never remapped.
- **Idempotent writes.** Output is written partitioned by ``part_id`` with
  dynamic partition overwrite: re-running a failed partition replaces exactly
  its own files (Iceberg overwrite-by-partition in production; parquet
  dynamic overwrite in this sandbox).
- **Resume = driver-side lineage + literal pruning.** The lineage table
  is append-only: every run and every upsert appends one row per part_id
  it wrote, numbered by the output's run sequence ``seq``, and a part's
  current row is its row with the largest ``seq``. It is collected once
  (P rows plus one per part an upsert rewrote) and every decision over it
  is made on the driver: pending ids are ``range(P) - done``, the docs are
  filtered with a literal ``part_id IN (...)``, and the run's lineage
  comes from one pruned read-back of only its own partitions. No join, no
  scan of the docs to find pending ids, no re-read of the lineage table.
  The new lineage rows go back to the JVM as one Arrow table
  (``_lineage_frame``): no Python worker, no shuffle, one file per
  append. ``run_checkpointed`` and ``upsert_docs`` share this reader and
  this tail.
- **Real PDFs are parsed in the kernel.** ``pdfread.pdf_docs_df`` yields
  (doc_id, pdf bytes) with doc_id made on the JVM, so ``with_part_id``
  and a resume's pending filter run before any parse, and the one
  extraction kernel parses the bytes it is handed.
- **Bounded kernel calls.** An Arrow batch holds up to
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` documents, whatever
  their size; the kernel cuts it into zero-copy slices of at most
  ``extract.SLICE_BYTES`` of content (a larger document is a slice of
  its own), so one call's working set follows that budget, not the
  batch.
"""

from __future__ import annotations

import uuid
from collections import namedtuple
from datetime import datetime

import numpy as np
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from .extract import DEFAULT_CONFIG, ExtractConfig, make_extract_arrow
from .schema import LINEAGE_SCHEMA, SPAN_FLAT_SCHEMA, STYLE_FIELDS


# the part_id formula, recorded in every lineage row: an output's part_ids
# are only meaningful under the formula that wrote them
PART_SCHEME = "pmod(hash(xxhash64(doc_id)), P)"


def salt_key() -> Column:
    """The shuffle key of every spans-producing exchange: the raw 64-bit
    hash, so a task's rows are exactly one ``part_id``."""
    return F.xxhash64(F.col("doc_id"))


def with_part_id(docs: DataFrame, num_partitions: int) -> DataFrame:
    """Deterministic salt: ``pmod(hash(xxhash64(doc_id)), P)`` — the
    partition index that ``repartition(P, salt_key())`` gives a row
    (Spark's hash partitioning is ``pmod(murmur3(key, 42), P)``, and
    ``F.hash`` is that Murmur3)."""
    return docs.withColumn(
        "part_id",
        F.pmod(F.hash(salt_key()), F.lit(num_partitions)))


# input bytes one extraction task is sized for (SCALE.md, "Sizing"): the
# split size of Spark's own file scans (spark.sql.files.maxPartitionBytes)
TASK_BYTES = 128 * 1024 * 1024


def extraction_width(docs: DataFrame) -> int:
    """The number of extraction tasks for ``docs``: one per core
    (``defaultParallelism``), or one per ``TASK_BYTES`` of the optimizer's
    size estimate when that asks for more. A file scan estimates its
    file bytes (a ``localCheckpoint`` keeps its input's estimate); a frame
    built in Python estimates little and gets the core count. A frame
    with no estimate (Spark reports ``spark.sql.defaultSizeInBytes``,
    Long.MaxValue by default) gets the core count too."""
    spark = docs.sparkSession
    cores = spark.sparkContext.defaultParallelism
    est = int(docs._jdf.queryExecution().optimizedPlan().stats()
              .sizeInBytes())
    if est >= int(spark.conf.get("spark.sql.defaultSizeInBytes",
                                 str(2**63 - 1))):
        return cores
    return max(cores, -(-est // TASK_BYTES))


def _require_positive(**values: int) -> None:
    for name, v in values.items():
        if v < 1:
            raise ValueError(f"{name} must be >= 1, got {v}")


def extract_salted(salted: DataFrame, cfg: ExtractConfig,
                   num_partitions: int) -> DataFrame:
    """The one salted extraction: ``salted`` already carries the
    ``part_id`` column (``with_part_id``); shuffle it into
    ``num_partitions`` tasks on the raw 64-bit hash, then run the flat
    ``mapInArrow`` kernel. Task ``i`` holds exactly the rows with
    ``part_id == i``.

    The shuffle key is the raw hash, not the p-valued part_id: hashing
    only p distinct values into p partitions leaves ~37% of tasks empty
    and piles 2-3 part_ids onto others (Poisson occupancy). The raw hash
    balances by law of large numbers, and ``with_part_id`` applies the
    shuffle's own placement to it."""
    return (salted.repartition(num_partitions, salt_key())
            .mapInArrow(make_extract_arrow(cfg), SPAN_FLAT_SCHEMA))


def extract_gathered(salted: DataFrame, cfg: ExtractConfig,
                     num_partitions: int) -> DataFrame:
    """``run_checkpointed``'s extraction of the pending parts: the docs
    spread over ``extraction_width(salted)`` tasks on ``doc_id``, a
    placement independent of ``part_id``, so a run of a few pending parts
    (a resume) still keeps every core busy; the spans then gather on
    ``salt_key()`` into ``num_partitions`` (P) tasks, so write task ``i``
    holds exactly ``part_id == i``. With ``extract_salted`` alone, k
    pending parts would extract on k tasks, and the run's time would
    follow the size of its largest part. The width W and the part count
    P are independent: P is the output's layout, pinned by lineage; W
    follows the cores and the input bytes of this run."""
    return (salted.repartition(extraction_width(salted), F.col("doc_id"))
            .mapInArrow(make_extract_arrow(cfg), SPAN_FLAT_SCHEMA)
            .repartition(num_partitions, salt_key()))


def extract_spans(docs: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG,
                  num_partitions: int | None = None,
                  nested: bool = True) -> DataFrame:
    """documents -> ordered spans. The salted repartition into
    ``num_partitions`` tasks (default ``extraction_width(docs)``) is the
    only shuffle; extraction is narrow from there on.

    ``nested=True`` gives SPAN_SCHEMA: the flat kernel output with the
    ``style_*`` columns folded into the ``style`` struct by a JVM-side
    projection (nothing nested crosses Arrow)."""
    p = num_partitions or extraction_width(docs)
    _require_positive(num_partitions=p)
    flat = extract_salted(with_part_id(docs, p), cfg, p)
    if not nested:
        return flat
    style = F.struct(*[F.col(f"style_{f}").alias(f) for f in STYLE_FIELDS])
    return flat.select("doc_id", "order", "kind", "text", "media_ref",
                       style.alias("style"), "page_no", "part_id")


def lineage(spans: DataFrame) -> DataFrame:
    """Per-partition lineage + metrics rows (north rule): partition id, doc
    count, span count, per-kind breakdown, max document size, and an
    order-insensitive checksum. bit_xor keeps the checksum overflow-free
    and commutative, so it is insensitive to within-partition ordering.

    ``doc_count`` is the number of documents with at least one span,
    counted as the spans with ``order == 0``: ``order`` is dense from 0
    within each document on every write path (the kernel's, and
    pagesplit's ``row_number() - 1`` renumber), so this equals
    ``countDistinct(doc_id)``. Every metric is then a map-side-combinable
    aggregate — one exchange, where a distinct count needs two."""
    return spans.groupBy("part_id").agg(
        *[F.expr(a) for a in _LINEAGE_AGGS])


# lineage()'s aggregates as SQL text: about 60 py4j round trips to build
# them, where the same Column expressions took about 500 (~0.2 s per run);
# the plan is the same
_LINEAGE_AGGS = (
    "sum(CAST(`order` = 0 AS BIGINT)) AS doc_count",
    "count(1) AS span_count",
    *[f"sum(CAST(kind = '{k}' AS BIGINT)) AS n_{k}"
      for k in ("text", "page", "rect", "line", "image", "font", "meta")],
    "max(`order`) + 1 AS max_doc_spans",
    "bit_xor(xxhash64(doc_id, `order`, kind, text, media_ref)) AS checksum",
)


def table_targets(out_dir: str) -> tuple[str, str]:
    """(spans, lineage) targets of an output: ``<out>_spans`` /
    ``<out>_lineage`` tables in an Iceberg catalog namespace, or the
    ``spans/`` and ``lineage/`` dirs of a parquet output."""
    from . import tables

    if tables.is_table_identifier(out_dir):
        return f"{out_dir}_spans", f"{out_dir}_lineage"
    return f"{out_dir}/spans", f"{out_dir}/lineage"


# the lineage fields the write paths read from a part's current row
_Current = namedtuple("_Current", "part_id num_partitions seq span_count")


def _prior_lineage(spark: SparkSession, lineage_dir: str) -> list | None:
    """The current lineage rows, collected once: each part_id's row with
    the largest ``seq`` (``completed_at`` follows the driver's clock,
    which can go backwards), as ``_Current`` tuples. None when no lineage table exists; any other read
    failure raises, as an unreadable table taken for "no lineage" would
    re-extract everything. A table lacking a ``LINEAGE_SCHEMA`` column
    (one written before ``seq``, too: footer inference over mixed schemas
    picks one file's) or naming another part_id formula is refused: its
    part_ids would not match the ones this version computes."""
    from . import tables

    if not tables.table_exists(spark, lineage_dir):
        return None
    prior = tables.read_table(spark, lineage_dir)
    missing = [c for c in LINEAGE_SCHEMA.names if c not in prior.columns]
    if missing:
        raise ValueError(
            f"{lineage_dir} has no {', '.join(missing)} column"
            f"{'s' * (len(missing) > 1)} — it was not written by this "
            "version's run_checkpointed; resume or upsert it with the "
            "version that wrote it, or re-run into a fresh output")
    # one Arrow collect; only the current rows (<= P) become Python rows
    table = prior.toArrow()
    other = (set(table.column("part_scheme").unique().to_pylist())
             - {PART_SCHEME})
    if other:
        raise ValueError(
            f"{lineage_dir} was written under part_id scheme(s) "
            f"{sorted(map(str, other))}, not {PART_SCHEME}; re-run into a "
            "fresh output")
    # in descending seq (of equal seqs, the last read first), each
    # part_id keeps its first row
    part_id = table.column("part_id").to_numpy()
    o = np.lexsort((table.column("seq").to_numpy(), part_id))[::-1]
    last = o[np.unique(part_id[o], return_index=True)[1]]
    current = table.select(list(_Current._fields)).take(last)
    return [_Current(*r) for r in
            zip(*(c.to_pylist() for c in current.columns))]


def _pinned_modulus(rows: list) -> int | None:
    """The salt modulus P recorded in lineage (None if none recorded)."""
    return max((r.num_partitions for r in rows
                if r.num_partitions is not None), default=None)


_LineageRow = Row(*LINEAGE_SCHEMA.names)
# lineage()'s aggregates: the columns between part_id and run_id
_STAT_COLS = LINEAGE_SCHEMA.names[1:LINEAGE_SCHEMA.names.index("run_id")]


def _lineage_frame(spark: SparkSession, rows: list) -> DataFrame:
    """Lineage rows (tuples in ``LINEAGE_SCHEMA`` order) as a one-partition
    DataFrame, built through a pyarrow table: the rows reach the JVM as
    Arrow batches, so no Python worker runs, and ``coalesce(1)`` keeps
    them in one task (one file per write) without a shuffle.

    Timestamps are converted the way the Row path converts them
    (``TimestampType.toInternal``: a naive datetime is the driver's local
    time) and passed as UTC instants; a naive Arrow timestamp would be
    read in the session time zone instead."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(LINEAGE_SCHEMA)
    columns = []
    for f, col in zip(LINEAGE_SCHEMA.fields, zip(*rows)):
        if f.needConversion():
            # completed_at holds one value per run: convert each distinct
            # value once, not once per row (mktime dominated the whole
            # conversion at 2^18 rows)
            internal = {v: f.toInternal(v) for v in set(col)}
            col = [internal[v] for v in col]
        columns.append(col)
    table = pa.Table.from_arrays(
        [pa.array(col, a.type) for col, a in zip(columns, schema)],
        schema=schema)
    return spark.createDataFrame(table, LINEAGE_SCHEMA).coalesce(1)


def _append_lineage(spark: SparkSession, out_dir: str, part_ids: list,
                    prior_rows: list, run_id: str,
                    num_partitions: int) -> list[Row]:
    """The lineage tail of both write paths, once the spans of
    ``part_ids`` are written: one read-back of ONLY those partitions
    (static pruning: O(this run's output), never O(table)), its
    ``lineage(...)`` rows collected once, and one row per id appended
    under the output's next ``seq``. An id with no spans (its docs
    extract to nothing, or it has none) gets a zero row (checksum 0), so
    it counts as done. Returns the appended rows."""
    from . import tables

    spans_dir, lineage_dir = table_targets(out_dir)
    written = tables.read_partitions(spark, spans_dir, SPAN_FLAT_SCHEMA,
                                     "part_id", part_ids)
    stats = {r.part_id: r for r in lineage(written).collect()}
    seq = max((r.seq for r in prior_rows), default=-1) + 1
    now = datetime.now()
    rows = [_LineageRow(p, *(stats[p][c] if p in stats else 0
                             for c in _STAT_COLS),
                        run_id, now, num_partitions, PART_SCHEME, seq)
            for p in sorted(part_ids)]
    # one file per run, appended from an Arrow-built frame: a Row-built
    # one pickles every row through a Python-worker task first
    tables.append_table(_lineage_frame(spark, rows), lineage_dir, spark)
    return rows


def _run_stats(run_id: str, prior_rows: list, new_rows: list) -> dict:
    # cumulative size comes from the current lineage rows (one per done
    # part_id; new_rows are for parts not done before), never from a
    # count() scan of the cumulative spans table
    rows = prior_rows + new_rows
    return {
        "run_id": run_id,
        "parts_done": len({r.part_id for r in rows}),
        "span_count": sum(r.span_count for r in new_rows),  # THIS run's
        "total_span_count": sum(r.span_count or 0 for r in rows),
    }


def run_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    num_partitions: int = 32,
    run_id: str | None = None,
    fail_parts: set[int] | None = None,
    split_min_bytes: int | None = None,
    pages_per_group: int = 8,
) -> dict:
    """One checkpointed run: extract only partitions that have no lineage row
    yet, write them idempotently, append lineage. Returns run stats.

    The lineage table is read once; the pinned modulus, the done set and
    the prior span total all come from its current rows on the driver.
    Pending ids are ``range(P) - done - fail_parts``, every one of which
    gets a lineage row (zero if it has no spans). With nothing pending the
    run reads lineage and returns: no extraction, no write. An output
    whose lineage records another ``part_id`` formula, or lacks a column,
    is refused.

    ``fail_parts`` injects a failure for those part_ids (the partition is
    neither extracted nor written, and gets no lineage row) to test resume.

    ``split_min_bytes`` (opt-in) routes extraction through the page-split
    path (pagesplit.extract_spans_paged): documents whose content streams
    exceed the threshold fan out per ``pages_per_group`` pages so one
    monster document cannot become one task's working set. The split path
    is bit-equal on the supported corpus classes (tests/test_pagesplit.py)
    and pays one extra per-document window renumber.
    """
    from . import tables

    _require_positive(num_partitions=num_partitions,
                      pages_per_group=pages_per_group)
    run_id = run_id or uuid.uuid4().hex[:12]
    spans_dir, lineage_dir = table_targets(out_dir)
    prior_rows = _prior_lineage(spark, lineage_dir) or []

    # part_id = pmod(hash(xxhash64(doc_id)), P): resuming with a different
    # P would remap every part_id and double-write already-extracted
    # documents — so the salt modulus is pinned by the first run's lineage
    # and reused
    stored = _pinned_modulus(prior_rows)
    if stored is not None and stored != num_partitions:
        import warnings
        warnings.warn(
            f"resume: ignoring num_partitions={num_partitions}; the "
            f"salt modulus is pinned to {stored} by this output's "
            "lineage", stacklevel=2)
        num_partitions = stored

    # ids this run is responsible for, fixed BEFORE extraction: an id whose
    # docs all extract to zero spans (or that has no docs) still gets a
    # lineage row — otherwise resume would re-extract it forever
    done = {r.part_id for r in prior_rows}
    processed = sorted(set(range(num_partitions)) - done
                       - set(fail_parts or ()))
    if not processed:
        return _run_stats(run_id, prior_rows, [])

    pending = with_part_id(docs, num_partitions)
    if len(processed) < num_partitions:
        pending = pending.where(tables.in_filter("part_id", processed))
    if split_min_bytes is not None:
        # monster-doc defense: page-group fan-out (does its own salting +
        # renumber; part_id is the same with_part_id column either way)
        from .pagesplit import extract_spans_paged
        spans = extract_spans_paged(
            pending.drop("part_id"), cfg, num_partitions,
            pages_per_group=pages_per_group, min_bytes=split_min_bytes)
    else:
        spans = extract_gathered(pending, cfg, num_partitions)

    tables.write_partitioned(spans, spans_dir, "part_id", spark)
    new_rows = _append_lineage(spark, out_dir, processed, prior_rows,
                               run_id, num_partitions)
    return _run_stats(run_id, prior_rows, new_rows)


def upsert_docs(
    spark: SparkSession,
    updated_docs: DataFrame,
    out_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    run_id: str | None = None,
) -> dict:
    """Incremental re-extraction (the MERGE INTO of the spans table): given
    changed/new document versions, re-extract ONLY them and replace their
    spans in place.

    Dynamic partition overwrite replaces whole ``part_id`` partitions, and a
    partition holds unrelated documents too — so each affected partition is
    rebuilt as (existing spans minus updated doc_ids) UNION (fresh spans),
    overwritten, and given a new lineage row by ``run_checkpointed``'s
    tail. Cost is O(affected partitions), never O(table): the read-backs
    prune on a literal part_id IN list, and other partitions' files and
    lineage rows are untouched. A failure before the append leaves the old
    rows current; the same upsert run again rebuilds the same parts. A
    part with no lineage row (failed, not resumed) is refused. On Iceberg
    the same shape is a MERGE INTO with write.delete.mode=copy-on-write
    at partition granularity.
    """
    import pyarrow as pa

    from . import tables

    run_id = run_id or uuid.uuid4().hex[:12]
    spans_dir, lineage_dir = table_targets(out_dir)
    prior_rows = _prior_lineage(spark, lineage_dir)
    if prior_rows is None:
        raise ValueError(
            f"{lineage_dir} does not exist — upsert needs the output of a "
            "run_checkpointed run")
    num_partitions = _pinned_modulus(prior_rows)
    if num_partitions is None:
        raise ValueError(
            f"{lineage_dir} has only null num_partitions values — cannot "
            "recover the salt modulus; this target does not support upsert")

    salted = with_part_id(updated_docs, num_partitions)
    # the updated ids and their part_ids, one narrow scan: the affected
    # ids, the doc count and the anti-join's broadcast side
    part_of = dict(salted.select("doc_id", "part_id").collect())
    affected = sorted(set(part_of.values()))
    if not affected:
        return {"run_id": run_id, "parts_touched": 0, "docs_updated": 0}
    present = {r.part_id for r in prior_rows}
    if not present.issuperset(affected):
        raise ValueError(
            f"{lineage_dir} has no lineage row for part_id(s) "
            f"{sorted(set(affected) - present)} — resume the output before "
            "upserting into it")
    updated_ids = spark.createDataFrame(
        pa.table({"doc_id": pa.array(list(part_of), pa.string())}))

    fresh = extract_salted(salted, cfg, min(num_partitions, len(affected)))
    existing = tables.read_partitions(spark, spans_dir, SPAN_FLAT_SCHEMA,
                                      "part_id", affected)
    kept = existing.join(F.broadcast(updated_ids), "doc_id", "left_anti")
    # the one exchange that puts part_id i in task i (fresh's tasks hold
    # several part_ids, and a scan task of `existing` packs files of
    # several part dirs)
    merged = (kept.select(fresh.columns).unionByName(fresh)
              .repartition(num_partitions, salt_key()))
    # one materialization: the overwrite deletes the very files `existing`
    # reads, and the emptied-part check below must not re-run extraction
    merged = merged.localCheckpoint(eager=True)
    tables.write_partitioned(merged, spans_dir, "part_id", spark)

    # dynamic overwrite only touches partitions PRESENT in `merged`: an
    # affected partition whose every doc updated to a zero-span version
    # keeps its stale files — delete them before the lineage read-back
    emptied = sorted(set(affected) - {
        r.part_id for r in merged.select("part_id").distinct().collect()})
    if emptied:
        if tables.is_table_identifier(out_dir):
            spark.sql(f"DELETE FROM {spans_dir} WHERE part_id IN "
                      f"({','.join(str(p) for p in emptied)})")
        else:
            import shutil
            for pid in emptied:
                shutil.rmtree(f"{spans_dir}/part_id={pid}",
                              ignore_errors=True)

    _append_lineage(spark, out_dir, affected, prior_rows, run_id,
                    num_partitions)
    return {"run_id": run_id, "parts_touched": len(affected),
            "docs_updated": len(part_of)}
