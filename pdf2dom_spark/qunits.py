"""Unit-level parity gates: font classification and used-name de-dup,
line/page transforms, rect recognition, CSS/HTML renderer serialization,
rich-corpus structure, the lineage aggregate shape, and the composed
end-to-end corpus pipeline gate."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .qshared import _extract_flat, _synth_spans, make_reg

REGISTRY: dict = {}
ORACLES: dict[str, str] = {}
_reg = make_reg(REGISTRY, ORACLES)

from .corpus import build_docs_df
from .fonts import (CSS_FONT_FAMILY, CSS_FONT_STYLE, CSS_FONT_WEIGHT,
                    PD_FONT_TYPE)

_FAM_RE = "([^+^-]*)[+-]([^+]*)"

@_reg("font_family_parse", f"""
WITH f AS (SELECT DISTINCT 'ABCDEF+' || source || '-Oblique' AS name
           FROM documents)
SELECT name,
       CASE WHEN regexp_extract(name, '{_FAM_RE}', 1) <> '' OR
                 regexp_extract(name, '{_FAM_RE}', 2) <> ''
            THEN replace(regexp_extract(name, '{_FAM_RE}', 1) || ' ' ||
                         regexp_extract(name, '{_FAM_RE}', 2), '+', ' ')
            ELSE replace(name, '+', ' ') END AS family
FROM f
""")
def font_family_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("ABCDEF+"), F.col("source"), F.lit("-Oblique"))
        .alias("name")).distinct()
    g1 = F.regexp_extract("name", _FAM_RE, 1)
    g2 = F.regexp_extract("name", _FAM_RE, 2)
    fam = F.when((g1 != "") | (g2 != ""),
                 F.replace(F.concat(g1, F.lit(" "), g2), F.lit("+"), F.lit(" "))
                 ).otherwise(F.replace(F.col("name"), F.lit("+"), F.lit(" ")))
    return d.select("name", fam.alias("family"))


# 1g. font weight/style classification (P6; PDFBoxTree.java:719-735)
def _ws_case_sql() -> str:
    whens = " ".join(
        f"WHEN instr(lower(name), '{k}') > 0 THEN '{w}|{s}'"
        for k, w, s in zip(PD_FONT_TYPE, CSS_FONT_WEIGHT, CSS_FONT_STYLE))
    return f"CASE {whens} ELSE 'normal|normal' END"

@_reg("font_weight_style", f"""
WITH f AS (SELECT DISTINCT source || '-BoldItalic' AS name FROM documents
           UNION ALL SELECT DISTINCT source || '-italic' AS name FROM documents
           UNION ALL SELECT DISTINCT source AS name FROM documents)
SELECT name,
       string_split({_ws_case_sql()}, '|')[1] AS weight,
       string_split({_ws_case_sql()}, '|')[2] AS style
FROM f
""")
def font_weight_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    names = (d.select(F.concat("source", F.lit("-BoldItalic")).alias("name")).distinct()
             .unionAll(d.select(F.concat("source", F.lit("-italic")).alias("name")).distinct())
             .unionAll(d.select(F.col("source").alias("name")).distinct()))
    expr_w = None
    expr_s = None
    for k, w, s in zip(PD_FONT_TYPE, CSS_FONT_WEIGHT, CSS_FONT_STYLE):
        cond = F.instr(F.lower("name"), k) > 0
        expr_w = F.when(cond, w) if expr_w is None else expr_w.when(cond, w)
        expr_s = F.when(cond, s) if expr_s is None else expr_s.when(cond, s)
    return names.select(
        "name",
        expr_w.otherwise("normal").alias("weight"),
        expr_s.otherwise("normal").alias("style"))


# 1h. known-family projection (P5; PDFBoxTree.java:756-764)
def _known_case_sql() -> str:
    whens = " ".join(
        f"WHEN instr(lower(name), '{fam.lower().replace(' ', '')}') > 0 "
        f"THEN '{fam}'"
        for fam in CSS_FONT_FAMILY)
    return f"CASE {whens} ELSE '' END"

@_reg("known_family_map", f"""
WITH f AS (SELECT DISTINCT 'X' || source || 'ArialMT' AS name FROM documents
           UNION ALL SELECT DISTINCT source || '-TimesNewRomanPSMT' AS name FROM documents
           UNION ALL SELECT DISTINCT source AS name FROM documents)
SELECT name, {_known_case_sql()} AS family FROM f
""")
def known_family_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    names = (d.select(F.concat(F.lit("X"), F.col("source"), F.lit("ArialMT")).alias("name")).distinct()
             .unionAll(d.select(F.concat("source", F.lit("-TimesNewRomanPSMT")).alias("name")).distinct())
             .unionAll(d.select(F.col("source").alias("name")).distinct()))
    expr = None
    for fam in CSS_FONT_FAMILY:
        cond = F.instr(F.lower("name"), fam.lower().replace(" ", "")) > 0
        expr = F.when(cond, fam) if expr is None else expr.when(cond, fam)
    return names.select("name", expr.otherwise("").alias("family"))


# 1i. line classification (G10; HtmlDivLine.java:24-93)
@_reg("line_classify", """
WITH seg AS (
  SELECT CAST(event_id AS BIGINT) AS seg_id,
         CAST(event_id % 300 AS DOUBLE) AS x1,
         CAST((event_id * 7) % 300 AS DOUBLE) AS y1,
         CAST(event_id % 300 + (event_id % 3) * 50 AS DOUBLE) AS x2,
         CAST((event_id * 7) % 300 + (event_id % 5) * 25 AS DOUBLE) AS y2
  FROM events
),
c AS (
  SELECT *, ABS(x2 - x1) AS w, ABS(y2 - y1) AS h FROM seg
),
k AS (
  SELECT *, (h < 0.5) AS horiz, (w < 0.5) AS vert FROM c
)
SELECT seg_id,
       CASE WHEN vert THEN 'v' WHEN horiz THEN 'h' ELSE 'slant' END AS cls,
       ROUND(CASE WHEN vert THEN 0 WHEN horiz THEN w
                  ELSE sqrt((x1-x2)*(x1-x2) + (y1-y2)*(y1-y2)) END, 3) AS width_pt,
       ROUND(CASE WHEN vert THEN h ELSE 0 END, 3) AS height_pt,
       ROUND(CASE WHEN horiz OR vert THEN LEAST(x1, x2)
                  ELSE ABS((x2+x1)/2) - (CASE WHEN vert THEN 0 WHEN horiz THEN w
                       ELSE sqrt((x1-x2)*(x1-x2) + (y1-y2)*(y1-y2)) END)/2 END, 3) AS left_pt,
       ROUND(CASE WHEN horiz OR vert THEN 0
                  ELSE degrees(atan((y2-y1)/(x2-x1))) END, 3) AS angle_deg
FROM k
""")
def line_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    seg = ev.select(
        F.col("event_id").cast("long").alias("seg_id"),
        (F.col("event_id") % 300).cast("double").alias("x1"),
        ((F.col("event_id") * 7) % 300).cast("double").alias("y1"),
        (F.col("event_id") % 300 + (F.col("event_id") % 3) * 50).cast("double").alias("x2"),
        ((F.col("event_id") * 7) % 300 + (F.col("event_id") % 5) * 25).cast("double").alias("y2"))
    w = F.abs(F.col("x2") - F.col("x1"))
    h = F.abs(F.col("y2") - F.col("y1"))
    horiz = h < 0.5
    vert = w < 0.5
    slant_w = F.sqrt((F.col("x1") - F.col("x2")) ** 2 + (F.col("y1") - F.col("y2")) ** 2)
    width = F.when(vert, 0.0).when(horiz, w).otherwise(slant_w)
    return seg.select(
        "seg_id",
        F.when(vert, "v").when(horiz, "h").otherwise("slant").alias("cls"),
        F.round(width, 3).alias("width_pt"),
        F.round(F.when(vert, h).otherwise(0.0), 3).alias("height_pt"),
        F.round(F.when(horiz | vert, F.least("x1", "x2"))
                 .otherwise(F.abs((F.col("x2") + F.col("x1")) / 2) - width / 2),
                3).alias("left_pt"),
        F.round(F.when(horiz | vert, 0.0)
                 .otherwise(F.degrees(F.atan(
                     (F.col("y2") - F.col("y1")) / (F.col("x2") - F.col("x1"))))),
                3).alias("angle_deg"))


# 1j. page rotation transform (M2; PDFBoxTree.java:831-855). Spark applies the
# rotate-matrix trig; the oracle uses the closed forms per rotation.
@_reg("page_transform_quadrants", """
SELECT CAST(n_nationkey AS INT) AS pt_id,
       CAST(n_nationkey % 4 * 90 AS INT) AS rot,
       ROUND(CASE n_nationkey % 4
             WHEN 0 THEN n_nationkey * 20.0
             WHEN 1 THEN (n_nationkey % 7) * 100.0
             WHEN 2 THEN 612.0 - n_nationkey * 20.0
             ELSE 792.0 - (n_nationkey % 7) * 100.0 END, 2) AS dev_x,
       ROUND(CASE n_nationkey % 4
             WHEN 0 THEN 792.0 - (n_nationkey % 7) * 100.0
             WHEN 1 THEN n_nationkey * 20.0
             WHEN 2 THEN (n_nationkey % 7) * 100.0
             ELSE 612.0 - n_nationkey * 20.0 END, 2) AS dev_y
FROM nation
""")
def page_transform_quadrants(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").cast("int").alias("pt_id"),
        (F.col("n_nationkey") * 20.0).alias("x"),
        ((F.col("n_nationkey") % 7) * 100.0).alias("y"),
        (F.col("n_nationkey") % 4 * 90).cast("int").alias("rot"))
    w, h = F.lit(612.0), F.lit(792.0)
    # flip: (x, h - y); then rotate by rot; then rotation-dependent translate
    fx, fy = F.col("x"), h - F.col("y")
    rad = F.radians(F.col("rot").cast("double"))
    rx = fx * F.cos(rad) - fy * F.sin(rad)
    ry = fx * F.sin(rad) + fy * F.cos(rad)
    tx = (F.when(F.col("rot") == 90, h).when(F.col("rot") == 180, w)
           .otherwise(F.lit(0.0)))
    ty = (F.when(F.col("rot") == 180, h).when(F.col("rot") == 270, w)
           .otherwise(F.lit(0.0)))
    return n.select(
        "pt_id", "rot",
        F.round(rx + tx, 2).alias("dev_x"),
        F.round(ry + ty, 2).alias("dev_y"))


# 2b. G12 line-width transform under the cross-engine gate (previously
# pytest-only): per-doc synthesized streams draw one horizontal, slanted,
# or vertical line under a diagonal cm scale; the kernel's
# transformWidth (w * sqrt((a^2 + d^2) / 2), PDFBox
# PDFStreamEngine.transformWidth) and the full HtmlDivLine placement math
# (graphics.line_record) are compared to their closed forms.

@_reg("line_width_transform", """
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         1.0 + (doc_id % 5) * 0.5 AS a,
         1.0 + (doc_id % 3) * 0.25 AS d,
         0.5 + (doc_id % 4) AS s,
         CAST(100 + (doc_id % 7) * 10 AS DOUBLE) AS x1,
         doc_id % 3 AS sel
  FROM documents
),
g AS (
  SELECT doc_id, sel,
         x1 * a AS X1, 792 - 100 * d AS Y1,
         CASE WHEN sel < 2 THEN 300 * a ELSE x1 * a END AS X2,
         792 - CASE WHEN sel = 0 THEN 100 ELSE 180 END * d AS Y2,
         GREATEST(s * sqrt((a * a + d * d) / 2), 0.5) AS sw
  FROM p
),
m AS (
  SELECT *, sqrt((X2 - X1) * (X2 - X1) + (Y2 - Y1) * (Y2 - Y1)) AS hyp
  FROM g
)
SELECT doc_id,
       ROUND(CASE WHEN sel = 1 THEN ABS((X2 + X1) / 2) - hyp / 2
                  ELSE LEAST(X1, X2) END, 2) AS left_pt,
       ROUND(CASE WHEN sel = 1 THEN ABS((Y2 + Y1) / 2) - sw / 2
                  ELSE LEAST(Y1, Y2) END, 2) AS top_pt,
       ROUND(CASE WHEN sel = 0 THEN ABS(X2 - X1)
                  WHEN sel = 1 THEN hyp ELSE 0.0 END, 2) AS width_pt,
       ROUND(CASE WHEN sel = 2 THEN ABS(Y2 - Y1) ELSE 0.0 END, 2)
           AS height_pt,
       ROUND(sw, 2) AS stroke_width,
       ROUND(CASE WHEN sel = 1
                  THEN degrees(atan((Y2 - Y1) / (X2 - X1)))
                  ELSE 0.0 END, 2) AS angle,
       '#0000e5' AS stroke_color
FROM m
""")
def line_width_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    def spans_for(i):
        a = 1.0 + (i % 5) * 0.5
        d = 1.0 + (i % 3) * 0.25
        s = 0.5 + (i % 4)
        x1 = 100 + (i % 7) * 10
        sel = i % 3
        x2 = 300 if sel < 2 else x1
        y2 = 100 if sel == 0 else 180
        frag = (f"612 792 0 PG q {a:g} 0 0 {d:g} 0 0 cm {s:g} w "
                f"0 0 0.9 RG {x1:g} 100 m {x2:g} {y2:g} l S Q")
        return [{"kind": "text", "text": frag, "media_ref": None,
                 "offset": 0}]

    flat = _synth_spans(spark, sf_dir, spans_for)
    return (flat.where(F.col("kind") == "line").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(F.col("style_left").cast("double"), 2).alias("left_pt"),
        F.round(F.col("style_top").cast("double"), 2).alias("top_pt"),
        F.round(F.col("style_width").cast("double"), 2).alias("width_pt"),
        F.round(F.col("style_height").cast("double"), 2).alias("height_pt"),
        F.round(F.col("style_stroke_width").cast("double"), 2)
            .alias("stroke_width"),
        F.round(F.col("style_angle").cast("double"), 2).alias("angle"),
        F.col("style_stroke_color").alias("stroke_color")))


# M9 CSS serialization (BoxStyle.toString, BoxStyle.java:88-114) through
# the REAL renderer: extraction output -> render_html.text_css per span,
# value-hash-checked against the closed-form CSS strings DuckDB builds
# from the mono-grid oracle geometry with REAL->VARCHAR shortest-repr
# casts (the conditional omissions — normal weight/style, zero spacings,
# default color, transparent stroke — all exercise their negative arms).
@_reg("render_css_text", """
WITH w0 AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest(string_split(text,' ')) AS word,
         generate_subscripts(string_split(text,' '), 1) AS sidx
  FROM documents WHERE length(text) > 0
),
w AS (
  SELECT doc_id, word,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY sidx) - 1 AS widx
  FROM w0 WHERE word <> ''
),
n AS (SELECT doc_id, COUNT(*) AS nw FROM w GROUP BY doc_id),
ws AS (
  SELECT w.doc_id, word, widx,
         CAST(widx // 40 + 1 AS INT) AS page_no,
         CAST((widx % 40) // 8 AS INT) AS line_no,
         CAST(widx % 8 AS INT) AS pos,
         CAST(widx % 40 AS INT) AS i,
         CAST(LEAST(n.nw - 40 * (widx // 40), 40) AS INT) AS m
  FROM w JOIN n ON w.doc_id = n.doc_id
)
SELECT doc_id,
       CAST((page_no - 1) * 43
            + CASE WHEN i < m - 1 THEN 1 + i ELSE m + 2 END AS INT) AS ord,
       'top:' || CAST(CAST(64 + 14.0 * line_no AS REAL) AS VARCHAR)
       || 'pt;left:' || CAST(CAST(72
           + 5.0 * COALESCE(SUM(LENGTH(word)) OVER
                 (PARTITION BY doc_id, page_no, line_no ORDER BY widx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + 5.0 * pos AS REAL) AS VARCHAR)
       || 'pt;line-height:10.0pt;font-family:Mono;font-size:10.0pt;width:'
       || CAST(CAST(5.0 * LENGTH(word) AS REAL) AS VARCHAR) || 'pt;' AS css
FROM ws
""")
def render_css_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import types as T

    from .render_html import text_css

    flat = _extract_flat(spark, sf_dir, mode="oracle")
    text = flat.where(F.col("kind") == "text")

    def kernel(batches):
        for pdf in batches:
            recs = pdf.to_dict("records")
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "ord": pdf["order"].astype("int32"),
                "css": [text_css(r) for r in recs],
            })

    return text.mapInPandas(kernel, T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("ord", T.IntegerType()),
        T.StructField("css", T.StringType()),
    ]))


# F3 @font-face emission (PDFDomTree.createFontFace, PDFDomTree.java:
# 473-492) cross-engine: the REAL render_html.font_face_css runs over the
# kernel's font spans (forms corpus — per-page F0/F1 registrations merge
# back to one used name, exercising the font-table de-dup upstream of the
# rule) and the oracle rebuilds the exact rule string: quote style, src
# url quoting, trailing semicolons — the format a browser actually parses.
@_reg("render_font_faces", """
WITH w0 AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest(string_split(text,' ')) AS word,
         generate_subscripts(string_split(text,' '), 1) AS sidx
  FROM documents WHERE length(text) > 0
),
w AS (
  SELECT doc_id, word,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY sidx) - 1 AS widx
  FROM w0 WHERE word <> ''
),
pg AS (
  SELECT doc_id, CAST(widx // 4 + 1 AS INT) AS page_no, COUNT(*) AS m
  FROM w GROUP BY doc_id, widx // 4
)
SELECT doc_id, CAST(SUM(m + 2) AS INT) AS ord,
       '@font-face {font-family:"Mono";src:url(''font:Mono'');}' AS css
FROM pg GROUP BY doc_id
""")
def render_font_faces(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import types as T

    from .render_html import font_face_css

    flat = _extract_flat(spark, sf_dir, mode="forms")
    fonts = flat.where(F.col("kind") == "font")

    def kernel(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "ord": pdf["order"].astype("int32"),
                "css": [font_face_css(t, m) for t, m in
                        zip(pdf["text"], pdf["media_ref"])],
            })

    return fonts.mapInPandas(kernel, T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("ord", T.IntegerType()),
        T.StructField("css", T.StringType()),
    ]))


# M8 length formatting (BoxStyle.formatLength, BoxStyle.java:132-136)
# cross-engine: the renderer's Java-Float.toString semantics (shortest
# round-trip float32 repr) run through the REAL render_html.fmt_len in an
# Arrow kernel; DuckDB's REAL->VARCHAR cast implements the same
# shortest-repr algorithm, so the oracle checks the exact CSS strings.
# Inputs stay in positional-notation range (page coordinates).
@_reg("render_css_lengths", """
SELECT CAST(n_nationkey AS INT) AS css_id,
       CAST(CAST((n_nationkey * 17 + 3) / 7.0 AS REAL) AS VARCHAR) || 'pt'
           AS css_len
FROM nation
""")
def render_css_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import types as T

    from .render_html import fmt_len

    n = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").cast("int").alias("css_id"),
        ((F.col("n_nationkey") * 17 + 3) / 7.0).alias("v"))

    def kernel(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "css_id": pdf["css_id"],
                "css_len": [fmt_len(float(v)) for v in pdf["v"]],
            })

    return n.mapInPandas(kernel, T.StructType([
        T.StructField("css_id", T.IntegerType()),
        T.StructField("css_len", T.StringType()),
    ]))


# exact distribution moments: quantize-then-sum keeps n / Σx / Σx² as
# exact integers (associative under any partial-agg order), from which
# mean/variance/stddev derive deterministically downstream — the float
# `stddev` aggregate itself is summation-order-dependent cross-engine.

# Structure oracle for the FULL rich corpus: per-doc counts of every
# non-text span kind are closed-form in h = first-8-bytes-of-md5(doc_id)
# arithmetic (corpus.rich_stream's page/graphics selectors) — so the one
# remaining rows-only query's page structure, graphics mix, metadata
# titles, and crucially the 12x SKEW TAIL (h % 37 == 0 docs) are
# value-hash-gated cross-engine even though per-glyph text geometry is
# not SQL-expressible. The hash parses exactly via 16 per-position HUGEINT
# constants (16^k literals — power() in DOUBLE is inexact past 2^53).
_H16 = " + ".join(
    f"CAST(instr('0123456789abcdef', substr(h16, {i + 1}, 1)) - 1 "
    f"AS HUGEINT) * {16 ** (15 - i)}"
    for i in range(16))

@_reg("rich_structure", f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS h16,
         GREATEST(len(list_filter(string_split(text, ' '), w -> w <> '')),
                  1) AS w
  FROM documents
),
hashed AS (
  SELECT doc_id, ({_H16}) AS h, w FROM base
),
sized AS (
  SELECT doc_id, h,
         (w * (CASE WHEN h % 37 = 0 THEN 12 ELSE 1 END) + 23) // 24
             AS n_pages
  FROM hashed
),
pages AS (
  SELECT doc_id, h, n_pages, unnest(generate_series(0, n_pages - 1)) AS p
  FROM sized
)
SELECT doc_id,
  CAST(MAX(n_pages) AS BIGINT) AS n_page,
  CAST(MAX(CASE WHEN h % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_meta,
  CAST(SUM(CASE WHEN (h + p) % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rect,
  CAST(SUM(CASE WHEN (h + p) % 5 IN (1, 4) THEN 1 ELSE 0 END) AS BIGINT)
      AS n_line,
  CAST(SUM(CASE WHEN (h + p) % 5 IN (2, 3) THEN 1 ELSE 0 END) AS BIGINT)
      AS n_image
FROM pages GROUP BY doc_id
""")
def rich_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = _extract_flat(spark, sf_dir, mode="rich",
                         columns=["doc_id", "kind"])
    return flat.groupBy(F.col("doc_id").cast("long").alias("doc_id")).agg(
        *[F.sum((F.col("kind") == k).cast("long")).alias(f"n_{k}")
          for k in ("page", "meta", "rect", "line", "image")])


# O7 document skeleton / title / global style under the cross-engine gate
# (previously pytest-only): the REAL renderer (render_html_df ->
# render_doc_html, the endDocument transposition of PDFDomTree.java:
# 165-174 title override + createFontFaces) runs over the rich corpus and
# the skeleton is counted back out of the HTML with JVM string functions;
# the oracle derives title, page-div, graphics-div, img, and @font-face
# counts from the same md5 arithmetic rich_structure uses. Text-box
# counts stay rows-only by design (box splits are per-glyph geometry).

@_reg("render_doc_skeleton", f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS h16,
         GREATEST(len(list_filter(string_split(text, ' '), w -> w <> '')),
                  1) AS w
  FROM documents
),
hashed AS (
  SELECT doc_id, ({{_H16_}}) AS h, w FROM base
),
sized AS (
  SELECT doc_id, h,
         (w * (CASE WHEN h % 37 = 0 THEN 12 ELSE 1 END) + 23) // 24
             AS n_pages
  FROM hashed
),
pages AS (
  SELECT doc_id, h, n_pages, unnest(generate_series(0, n_pages - 1)) AS p
  FROM sized
)
SELECT doc_id,
  CASE WHEN MAX(h) % 7 = 3 THEN 'Document ' || CAST(doc_id AS VARCHAR)
       ELSE 'PDF Document' END AS title,
  CAST(MAX(n_pages) AS BIGINT) AS n_page_divs,
  CAST(SUM(CASE WHEN (h + p) % 5 IN (0, 1, 4) THEN 1 ELSE 0 END)
       AS BIGINT) AS n_graphic_divs,
  CAST(SUM(CASE WHEN (h + p) % 5 IN (2, 3) THEN 1 ELSE 0 END) AS BIGINT)
      AS n_imgs,
  CAST(COUNT(DISTINCT (h + p) % 7)
       + CASE WHEN MAX(h) % 5 = 0
              AND SUM(CASE WHEN (h + p) % 7 = 1 THEN 1 ELSE 0 END) = 0
              THEN 1 ELSE 0 END AS BIGINT) AS n_font_faces
FROM pages GROUP BY doc_id
""".replace("{_H16_}", _H16))
def render_doc_skeleton(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .render_html import render_html_df

    flat = _extract_flat(spark, sf_dir, mode="rich")
    html = render_html_df(flat)

    def occ(lit: str):
        return (F.size(F.split(F.col("html"), F.lit(lit), -1)) - 1
                ).cast("long")

    return html.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.regexp_extract("html", "<title>([^<]*)</title>", 1).alias("title"),
        occ('<div id="page_').alias("n_page_divs"),
        occ('class="r"').alias("n_graphic_divs"),
        occ("<img ").alias("n_imgs"),
        occ("@font-face").alias("n_font_faces"))


# row_number de-dup naming (F1 usedName analog; FontTable.java:77-88)
@_reg("window_rownum_dedup", """
WITH r AS (
  SELECT p_brand, CAST(p_partkey AS BIGINT) AS p_partkey,
         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_partkey) AS rn
  FROM part
)
SELECT p_brand AS brand, p_partkey,
       CASE WHEN rn = 1 THEN p_brand ELSE p_brand || CAST(rn - 1 AS VARCHAR) END AS used_name
FROM r WHERE rn <= 3
""")
def window_rownum_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = spark.read.parquet(f"{sf_dir}/part.parquet")
    win = Window.partitionBy("p_brand").orderBy("p_partkey")
    r = pt.select("p_brand", F.col("p_partkey").cast("long").alias("p_partkey"),
                  F.row_number().over(win).alias("rn"))
    used = F.when(F.col("rn") == 1, F.col("p_brand")).otherwise(
        F.concat(F.col("p_brand"), (F.col("rn") - 1).cast("string")))
    return r.where(F.col("rn") <= 3).select(
        F.col("p_brand").alias("brand"), "p_partkey", used.alias("used_name"))


# rect recognition as a relational op (G9; PDFBoxTree.java:325-348):
# synthesize 4-segment paths from events, test 2-distinct-x / 2-distinct-y
@_reg("rect_detect", """
WITH seg AS (
  SELECT CAST(event_id // 4 AS BIGINT) AS path_id,
         CAST(event_id % 4 AS INT) AS seg_no,
         -- even paths form axis-aligned rects, odd paths get a slanted edge
         CAST(CASE event_id % 4 WHEN 0 THEN 10 WHEN 1 THEN 60
              WHEN 2 THEN 60 ELSE 10 END
              + CASE WHEN event_id % 8 >= 4 AND event_id % 4 = 1
                     THEN 5 ELSE 0 END AS DOUBLE) AS x1,
         CAST(CASE event_id % 4 WHEN 0 THEN 20 WHEN 1 THEN 20
              WHEN 2 THEN 90 ELSE 90 END AS DOUBLE) AS y1
  FROM events
),
p AS (
  SELECT path_id,
         COUNT(DISTINCT x1) AS nx, COUNT(DISTINCT y1) AS ny,
         MIN(x1) AS minx, MIN(y1) AS miny, MAX(x1) AS maxx, MAX(y1) AS maxy,
         COUNT(*) AS nseg
  FROM seg GROUP BY path_id
)
SELECT path_id,
       (nseg = 4 AND nx = 2 AND ny = 2) AS is_rect,
       CASE WHEN nseg = 4 AND nx = 2 AND ny = 2 THEN minx END AS rx,
       CASE WHEN nseg = 4 AND nx = 2 AND ny = 2 THEN miny END AS ry,
       CASE WHEN nseg = 4 AND nx = 2 AND ny = 2 THEN maxx - minx END AS rw,
       CASE WHEN nseg = 4 AND nx = 2 AND ny = 2 THEN maxy - miny END AS rh
FROM p
""")
def rect_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    seg_no = F.col("event_id") % 4
    x_skew = F.when((F.col("event_id") % 8 >= 4) & (seg_no == 1), 5).otherwise(0)
    seg = ev.select(
        (F.col("event_id") / 4).cast("long").alias("path_id"),
        (F.when(seg_no.isin(1, 2), 60).otherwise(10) + x_skew)
        .cast("double").alias("x1"),
        F.when(seg_no.isin(0, 1), 20).otherwise(90).cast("double").alias("y1"))
    p = seg.groupBy("path_id").agg(
        F.countDistinct("x1").alias("nx"), F.countDistinct("y1").alias("ny"),
        F.min("x1").alias("minx"), F.min("y1").alias("miny"),
        F.max("x1").alias("maxx"), F.max("y1").alias("maxy"),
        F.count(F.lit(1)).alias("nseg"))
    is_rect = (F.col("nseg") == 4) & (F.col("nx") == 2) & (F.col("ny") == 2)
    box = {"rx": F.col("minx"), "ry": F.col("miny"),
           "rw": F.col("maxx") - F.col("minx"), "rh": F.col("maxy") - F.col("miny")}
    return p.select("path_id", is_rect.alias("is_rect"),
                    *(F.when(is_rect, v).alias(k) for k, v in box.items()))


# lineage aggregation shape (per-partition counters + checksums)
@_reg("lineage_agg", """
SELECT CAST(doc_id % 16 AS INT) AS part_id,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(md5(text)) AS checksum_lo, MAX(md5(text)) AS checksum_hi
FROM documents GROUP BY 1
""")
def lineage_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # digest projected once; min+max aggregates share it
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars", F.md5("text").alias("h"))
    return (d.groupBy((F.col("doc_id") % 16).cast("int").alias("part_id"))
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.min("h").alias("checksum_lo"),
                 F.max("h").alias("checksum_hi")))


# ---------------------------------------------------------------------------
# rows-only (non-SQL-expressible): full interleaved corpus extraction
# ---------------------------------------------------------------------------

@_reg("extract_spans_rich", None)
def extract_spans_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = _extract_flat(spark, sf_dir, mode="rich",
                         columns=["doc_id", "order", "kind", "text",
                                  "media_ref", "page_no"])
    return flat.select(
        "doc_id", F.col("order").cast("int").alias("ord"), "kind", "text",
        "media_ref", F.col("page_no").cast("int").alias("page_no"))


# ---------------------------------------------------------------------------
# End-to-end training-data pipeline gate: the REAL extraction kernel feeds
# the downstream corpus stages — rebuild each document's text from its
# extracted word spans, quality-filter short docs, exact-dedup the rebuilt
# texts (keeper = min doc_id per md5), shard by a doc-hash hex char, and
# pack survivors into fixed-token bins per shard. One
# value-hash gate over the COMPOSITION: proves extraction output drives
# filtering/dedup/packing with no seams, not just each stage alone. The
# oracle replays the chain off the closed-form word stream. 100 TB shape:
# kernel (one shuffle + one fused Python stage) -> two hash aggregates ->
# a 16-way partitioned running sum; no join wider than the doc list.
# ---------------------------------------------------------------------------

_E2E_SQL = """
WITH w0 AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest(string_split(text,' ')) AS word,
         generate_subscripts(string_split(text,' '), 1) AS sidx
  FROM documents WHERE length(text) > 0
),
w AS (
  SELECT doc_id, word,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY sidx) - 1 AS widx
  FROM w0 WHERE word <> ''
),
reb AS (
  SELECT CAST(doc_id AS BIGINT) AS did,
         string_agg(word, ' ' ORDER BY widx) AS rtext,
         COUNT(*) AS ntok
  FROM w GROUP BY doc_id
),
q AS (SELECT * FROM reb WHERE ntok >= 24),
k AS (SELECT *, MIN(did) OVER (PARTITION BY md5(rtext)) AS keeper FROM q),
s AS (
  SELECT did, ntok,
         substr(md5('pk|' || CAST(did AS VARCHAR)), 1, 1) AS shard
  FROM k WHERE did = keeper
)
SELECT did AS doc_id, CAST(ntok AS INT) AS tokens, shard,
       CAST(FLOOR(COALESCE(SUM(ntok) OVER (PARTITION BY shard
                   ORDER BY did ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) / 512) AS INT) AS bin_id
FROM s
"""


@_reg("corpus_pipeline_e2e", _E2E_SQL)
def corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = _extract_flat(spark, sf_dir, mode="oracle",
                         columns=["doc_id", "order", "kind", "text"])
    reb = (flat.where(F.col("kind") == "text")
           .groupBy("doc_id")
           .agg(F.array_sort(F.collect_list(
                    F.struct(F.col("order").alias("o"),
                             F.col("text").alias("t")))).alias("ws"))
           .select(F.col("doc_id").cast("long").alias("did"),
                   F.concat_ws(" ", F.transform(
                       F.col("ws"), lambda x: x["t"])).alias("rtext"),
                   F.size("ws").alias("ntok")))
    q = reb.where(F.col("ntok") >= 24)
    wk = Window.partitionBy(F.md5("rtext"))
    s = (q.withColumn("keeper", F.min("did").over(wk))
         .where(F.col("did") == F.col("keeper"))
         .select("did", "ntok",
                 F.substring(F.md5(F.concat(
                     F.lit("pk|"), F.col("did").cast("string"))), 1, 1)
                 .alias("shard")))
    wp = (Window.partitionBy("shard").orderBy("did")
          .rowsBetween(Window.unboundedPreceding, -1))
    return s.select(
        F.col("did").alias("doc_id"),
        F.col("ntok").cast("int").alias("tokens"), "shard",
        F.floor(F.coalesce(F.sum("ntok").over(wp), F.lit(0)) / 512)
        .cast("int").alias("bin_id"))
