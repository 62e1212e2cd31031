"""Shared Spark schemas.

The input shape is fixed by BASELINE.json ``input_hint``:
``documents(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)``.

The output shape mirrors the reference's DOM as a flat ordered span table
(reference builds a W3C DOM, ``PDFDomTree.java:222-297``; DOM order is
appendChild order, i.e. content-stream order — we materialize it as the
``order`` column).

Floats are float32 throughout to match the reference's ``float`` geometry
(``PDFBoxTree.java:118-129``, ``TextMetrics.java:12``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: interleaved text + media documents
# ---------------------------------------------------------------------------

IN_SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),       # 'text' | 'image' | 'rect'
        T.StructField("text", T.StringType(), True),        # content-stream fragment / image meta
        T.StructField("media_ref", T.StringType(), True),   # stable payload ref for kind='image'
        T.StructField("offset", T.IntegerType(), False),    # input order within the document
    ]
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(IN_SPAN_STRUCT), False),
    ]
)

# Real-PDF ingest rows (pdfread.pdf_docs_df): the file's bytes, parsed into
# DOC_SCHEMA spans inside the extraction kernel (extract.extract_batch)
PDF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("pdf", T.BinaryType(), False),
    ]
)


def doc_batch(doc_ids, spans):
    """Documents as Python lists -> one DOC_SCHEMA Arrow batch."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.RecordBatch.from_pydict(
        {"doc_id": [str(d) for d in doc_ids], "spans": list(spans)},
        schema=to_arrow_schema(DOC_SCHEMA))


# ---------------------------------------------------------------------------
# Output: ordered span sequence (the checked invariant is
# (kind, text, media_ref, order) per doc_id)
# ---------------------------------------------------------------------------

STYLE_STRUCT = T.StructType(
    [
        # identity fields of BoxStyle.equals (BoxStyle.java:366-405)
        T.StructField("font_family", T.StringType(), True),
        T.StructField("font_size", T.FloatType(), True),
        T.StructField("font_weight", T.StringType(), True),
        T.StructField("font_style", T.StringType(), True),
        T.StructField("word_spacing", T.FloatType(), True),
        T.StructField("letter_spacing", T.FloatType(), True),
        T.StructField("color", T.StringType(), True),
        T.StructField("stroke_color", T.StringType(), True),
        # non-identity presentation fields
        T.StructField("line_height", T.FloatType(), True),
        T.StructField("left", T.FloatType(), True),
        T.StructField("top", T.FloatType(), True),
        T.StructField("width", T.FloatType(), True),
        T.StructField("height", T.FloatType(), True),
        # line/rect presentation extras (HtmlDivLine.java:69-83,
        # PDFDomTree.java:337-397)
        T.StructField("angle", T.FloatType(), True),
        T.StructField("stroke_width", T.FloatType(), True),
    ]
)

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("order", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),  # page|text|rect|line|image|font
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("style", STYLE_STRUCT, True),
        T.StructField("page_no", T.IntegerType(), True),
        T.StructField("part_id", T.IntegerType(), True),
    ]
)

# Flat (struct-free) variant used by the kernel and by SQL-oracle queries.
SPAN_FLAT_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in SPAN_SCHEMA.fields if f.name != "style"]
    + [T.StructField(f"style_{f.name}", f.dataType, True) for f in STYLE_STRUCT.fields]
)

# One lineage row per part_id a run or an upsert wrote: pipeline.lineage()'s
# aggregates plus the run that produced them, the salt modulus and formula
# (pipeline.PART_SCHEME) that define part_id, and ``seq``, the run's
# position in the output's history (0, then 1 + the largest earlier seq).
# The table is append-only; a part's current row is its largest-seq row.
LINEAGE_SCHEMA = T.StructType(
    [T.StructField("part_id", T.IntegerType())]
    + [T.StructField(c, T.LongType()) for c in (
        "doc_count", "span_count", "n_text", "n_page", "n_rect", "n_line",
        "n_image", "n_font", "n_meta")]
    + [
        T.StructField("max_doc_spans", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("completed_at", T.TimestampType()),
        T.StructField("num_partitions", T.IntegerType()),
        T.StructField("part_scheme", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)

STYLE_FIELDS = [f.name for f in STYLE_STRUCT.fields]
