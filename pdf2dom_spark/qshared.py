"""Shared scaffolding for the driver-gate query modules.

The query registry is split by domain (qkernel / qunits, merged in
queries.py); these helpers are the pieces the two modules share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import memtune
from .extract import ExtractConfig
from .schema import SPAN_FLAT_SCHEMA


# the flat columns the closed-form oracle projections read — queries that
# only need these can have the kernel prune its OUTPUT boundary to them
ORACLE_COLS = [
    "doc_id", "order", "kind", "text", "media_ref", "page_no",
    "style_left", "style_top", "style_width", "style_height",
    "style_line_height", "style_font_size", "style_color",
    "style_font_family",
]
RICH_LITE_COLS = ORACLE_COLS + [
    "style_stroke_color", "style_word_spacing", "style_letter_spacing",
]


def _extract_flat(spark: SparkSession, sf_dir: str,
                  cfg: ExtractConfig | None = None,
                  mode: str = "oracle",
                  where: str | None = None,
                  columns: list[str] | None = None) -> DataFrame:
    """ONE shuffle of the SMALL (doc_id, text) rows on the raw 64-bit hash
    (pmod into p values would leave ~1/e of tasks empty — Poisson
    occupancy), then ONE fused Python kernel that synthesizes the span
    stream and extracts it in the same worker call. Fusing matters: two
    chained Python nodes run in one stage but pay a full Arrow round-trip
    of the nested spans payload between them (worker -> JVM -> worker) —
    measured 34% of the sf0.1 query wall time. The kernel is mapInArrow
    end-to-end (r6): building the output RecordBatch directly from the
    finalize arrays skips pandas frame construction + per-column
    to_numeric coercion — measured 2x on the output half of the kernel."""
    from .corpus import stream_fn
    from .extract import docs_to_arrow_spans

    p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if mode != "rich":
        # uniform-size corpora: one task per core schedules in a single
        # wave (measured -0.4s/query at sf1 vs the 2x over-partitioned
        # default). The "rich" mode keeps the 2x over-partitioning — its
        # deterministic skew tail (SKEW_MOD giants) needs the smoothing.
        # defaultParallelism is the cluster's total cores, so the choice
        # stays scale-adaptive rather than a local[32] constant.
        p = min(p, spark.sparkContext.defaultParallelism)
    kcfg = cfg or ExtractConfig()
    sgen = stream_fn(mode)
    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if where:
        # routing predicate over the RAW source columns — pushed to the
        # parquet scan (the paged-tail deployment shape)
        src = src.where(where)
    src = (src.select("doc_id", "text")
           .repartition(p, F.xxhash64("doc_id")))

    if columns is None:
        out_schema = SPAN_FLAT_SCHEMA
    else:
        from pyspark.sql import types as T
        want = set(columns)
        out_schema = T.StructType(
            [f for f in SPAN_FLAT_SCHEMA.fields if f.name in want])

    def kernel(batches):
        memtune.tune_worker()
        for b in batches:
            names = b.schema.names
            doc_ids = [str(d) for d in
                       b.column(names.index("doc_id")).to_pylist()]
            texts = b.column(names.index("text")).to_pylist()
            yield docs_to_arrow_spans(
                doc_ids, [sgen(did, text) for did, text in zip(doc_ids, texts)],
                kcfg, columns)

    return src.mapInArrow(kernel, out_schema)


def _doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id-only source, salted on the raw 64-bit hash — the shared
    scaffold of the synthesize-inside-the-query kernel gates."""
    p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id").repartition(p, F.xxhash64("doc_id")))


def _synth_spans(spark: SparkSession, sf_dir: str, spans_for) -> DataFrame:
    """Flat spans of a synthesized-per-id corpus: ``spans_for(i)`` builds
    doc ``i``'s input span list inside the worker, and the same
    ``mapInArrow`` call extracts it with the default config (null
    ``part_id``) — the shared kernel of the synthesize-and-extract gates
    over ``_doc_ids``."""
    from .extract import docs_to_arrow_spans

    def kernel(batches):
        memtune.tune_worker()
        for b in batches:
            ids = [int(d) for d in b.column(0).to_pylist()]
            yield docs_to_arrow_spans([str(i) for i in ids],
                                      [spans_for(i) for i in ids])

    return _doc_ids(spark, sf_dir).mapInArrow(kernel, SPAN_FLAT_SCHEMA)


def make_reg(registry: dict, oracles: dict):
    """Domain-module @_reg decorator bound to that module's tables."""
    def _reg(name: str, sql: str | None):
        def deco(fn):
            registry[name] = fn
            if sql is not None:
                oracles[name] = sql
            return fn
        return deco
    return _reg
