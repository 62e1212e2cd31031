"""Full-kernel driver gates: the synthetic corpora through the REAL
extraction pipeline (tokenize -> interpret -> chunk -> finalize) against
closed-form DuckDB oracles. queries.py merges this registry first, in
registration order, then qunits'."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import memtune
from .extract import ExtractConfig
from .qshared import (ORACLE_COLS, RICH_LITE_COLS, _doc_ids,
                      _extract_flat, _synth_spans, make_reg)
from .schema import SPAN_FLAT_SCHEMA

REGISTRY: dict = {}
ORACLES: dict[str, str] = {}
_reg = make_reg(REGISTRY, ORACLES)

# ---------------------------------------------------------------------------
# 1a. FULL kernel vs closed-form SQL on the mono-grid corpus
# ---------------------------------------------------------------------------

# ORACLE WORD DOMAIN: words are assumed free of mid-word combining marks.
# A dropped (uncontained) diacritic leaves its advance behind, and the
# resulting >1pt gap splits the box in the kernel EXACTLY like the
# reference (processTextPosition stores lastDia without updating lastText,
# so the next glyph's distx exceeds the threshold) — behavior pinned by
# test_dia_gap_splits_box; the per-word grid oracle deliberately does not
# model it.
# Per-page emission order (PDFBoxTree.java:208,639-644 — the last box of a
# page flushes only at the page's end-of-stream, AFTER that page's graphics):
# page span, word boxes 0..m-2, rect, image, last word box. Stride per full
# page (m=40) is 43 spans; the trailing font span sits at nw + 3*np.
_ORACLE_SPANS_SQL = """
WITH w0 AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest(string_split(text,' ')) AS word,
         generate_subscripts(string_split(text,' '), 1) AS sidx
  FROM documents WHERE length(text) > 0
),
w AS (
  -- the kernel drops empty words (repeated/leading/trailing spaces):
  -- filter + renumber so widx matches the kernel's word stream
  SELECT doc_id, word,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY sidx) - 1 AS widx
  FROM w0 WHERE word <> ''
),
n AS (SELECT doc_id, COUNT(*) AS nw,
             CAST(CEIL(COUNT(*) / 40.0) AS INT) AS np
      FROM w GROUP BY doc_id),
ws AS (
  SELECT w.doc_id, word, widx,
         CAST(widx // 40 + 1 AS INT) AS page_no,
         CAST((widx % 40) // 8 AS INT) AS line_no,
         CAST(widx % 8 AS INT) AS pos,
         CAST(widx % 40 AS INT) AS i,
         CAST(LEAST(n.nw - 40 * (widx // 40), 40) AS INT) AS m
  FROM w JOIN n ON w.doc_id = n.doc_id
),
boxes AS (
  SELECT doc_id,
         CAST((page_no - 1) * 43
              + CASE WHEN i < m - 1 THEN 1 + i ELSE m + 2 END AS INT) AS ord,
         'text' AS kind, word AS text, CAST(NULL AS VARCHAR) AS media_ref,
         page_no,
         ROUND(72 + 5.0 * COALESCE(SUM(LENGTH(word)) OVER
               (PARTITION BY doc_id, page_no, line_no ORDER BY widx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + 5.0 * pos, 2) AS left_pt,
         ROUND(64 + 14.0 * line_no, 2) AS top_pt,
         ROUND(5.0 * LENGTH(word), 2) AS width_pt,
         CAST(NULL AS DOUBLE) AS height_pt,
         CAST(10.0 AS DOUBLE) AS line_height,
         CAST(10.0 AS DOUBLE) AS font_size,
         '#000000' AS color, 'Mono' AS font_family
  FROM ws
),
pg AS (
  SELECT doc_id, CAST(p AS INT) AS p,
         CAST(LEAST(nw - 40 * (p - 1), 40) AS INT) AS m
  FROM (SELECT doc_id, nw, unnest(generate_series(1, np)) AS p FROM n)
),
pages AS (
  SELECT doc_id, CAST((p - 1) * 43 AS INT) AS ord, 'page' AS kind,
         CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS media_ref,
         p AS page_no,
         CAST(NULL AS DOUBLE) AS left_pt, CAST(NULL AS DOUBLE) AS top_pt,
         CAST(612.0 AS DOUBLE) AS width_pt, CAST(792.0 AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, CAST(NULL AS VARCHAR) AS font_family
  FROM pg
),
rects AS (
  SELECT doc_id, CAST((p - 1) * 43 + m AS INT) AS ord, 'rect' AS kind,
         CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS media_ref,
         p AS page_no,
         CAST(100 + 10 * ((p - 1) % 5) AS DOUBLE) AS left_pt,
         CAST(722.0 AS DOUBLE) AS top_pt,
         CAST(80 + 5 * (p % 3) AS DOUBLE) AS width_pt,
         CAST(20.0 AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         '#3f7fbf' AS color, CAST(NULL AS VARCHAR) AS font_family
  FROM pg
),
imgs AS (
  SELECT doc_id, CAST((p - 1) * 43 + m + 1 AS INT) AS ord, 'image' AS kind,
         CAST(NULL AS VARCHAR) AS text,
         'sha:' || md5(doc_id || ':' || CAST(p AS VARCHAR)) AS media_ref,
         p AS page_no,
         CAST(200 + 10 * (p % 4) AS DOUBLE) AS left_pt,
         CAST(402.0 AS DOUBLE) AS top_pt,
         CAST(120.0 AS DOUBLE) AS width_pt, CAST(90.0 AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, CAST(NULL AS VARCHAR) AS font_family
  FROM pg
),
fonts AS (
  SELECT doc_id, CAST(nw + 3 * np AS INT) AS ord, 'font' AS kind,
         'Mono' AS text, 'font:Mono' AS media_ref, CAST(NULL AS INT) AS page_no,
         CAST(NULL AS DOUBLE) AS left_pt, CAST(NULL AS DOUBLE) AS top_pt,
         CAST(NULL AS DOUBLE) AS width_pt, CAST(NULL AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, CAST(NULL AS VARCHAR) AS font_family
  FROM n
)
SELECT * FROM boxes UNION ALL SELECT * FROM pages UNION ALL
SELECT * FROM rects UNION ALL SELECT * FROM imgs UNION ALL SELECT * FROM fonts
"""

def _oracle_proj(flat: DataFrame) -> DataFrame:
    return flat.select(
        "doc_id",
        F.col("order").cast("int").alias("ord"),
        "kind", "text", "media_ref",
        F.col("page_no").cast("int").alias("page_no"),
        F.round(F.col("style_left").cast("double"), 2).alias("left_pt"),
        F.round(F.col("style_top").cast("double"), 2).alias("top_pt"),
        F.round(F.col("style_width").cast("double"), 2).alias("width_pt"),
        F.round(F.col("style_height").cast("double"), 2).alias("height_pt"),
        F.round(F.col("style_line_height").cast("double"), 2).alias("line_height"),
        F.round(F.col("style_font_size").cast("double"), 2).alias("font_size"),
        F.col("style_color").alias("color"),
        F.col("style_font_family").alias("font_family"),
    )


@_reg("extract_spans_oracle", _ORACLE_SPANS_SQL)
def extract_spans_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _oracle_proj(_extract_flat(spark, sf_dir, mode="oracle",
                                      columns=ORACLE_COLS))


# 1a-flags. P4 graphics/image disable flags under the cross-engine gate:
# the kernel never creates rect/line/image records, the remaining records
# keep their relative order and renumber densely — the oracle filters the
# same closed form and re-ranks ord (previously pytest-only).

@_reg("extract_spans_nographics", f"""
WITH f AS (
  SELECT * FROM ({_ORACLE_SPANS_SQL}) WHERE kind NOT IN ('rect', 'image')
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ord) - 1
            AS INT) AS ord,
       kind, text, media_ref, page_no, left_pt, top_pt, width_pt,
       height_pt, line_height, font_size, color, font_family
FROM f
""")
def extract_spans_nographics(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = _extract_flat(
        spark, sf_dir, mode="oracle", columns=ORACLE_COLS,
        cfg=ExtractConfig(disable_graphics=True, disable_images=True))
    return _oracle_proj(flat)


# 1a-ignore. S9 ignore-resource handler under the cross-engine gate: image
# spans keep their slot and geometry but emit an EMPTY src
# (PDFDomTree.java:435-438, IgnoreResourceHandler) — previously
# pytest-only.

@_reg("extract_spans_ignore_images", f"""
SELECT doc_id, ord, kind, text,
       CASE WHEN kind = 'image' THEN '' ELSE media_ref END AS media_ref,
       page_no, left_pt, top_pt, width_pt, height_pt, line_height,
       font_size, color, font_family
FROM ({_ORACLE_SPANS_SQL})
""")
def extract_spans_ignore_images(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    flat = _extract_flat(spark, sf_dir, mode="oracle", columns=ORACLE_COLS,
                         cfg=ExtractConfig(image_handler="ignore"))
    return _oracle_proj(flat)


# 1a-rich. FULL kernel vs closed-form SQL on the rich-lite corpus: every
# "rich" text feature with derivable geometry — Tr stroke-only rendering
# mode, Tw/Tc sticky spacing, TJ kerning splits, RTL reverse, diacritic
# merge, mid-line style-change splits — plus per-page rect + image.
# Per-line variant v = (global line index) % 9; see corpus.rich_lite_stream.
# Emission order per page: page, rect, image, line, boxes 0..nb-1; font last.
_RICH_LITE_SQL = """
WITH wr AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest(string_split(text,' ')) AS word,
         generate_subscripts(string_split(text,' '), 1) AS sidx
  FROM documents WHERE length(text) > 0
),
w0 AS (
  -- kernel drops empty words: filter + renumber to match its word stream
  SELECT doc_id, word,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY sidx) - 1 AS widx
  FROM wr WHERE word <> ''
),
b AS (
  SELECT doc_id, word, widx,
         CAST(widx // 24 + 1 AS INT) AS p,
         CAST((widx % 24) // 4 AS INT) AS li,
         CAST(widx % 4 AS INT) AS k,
         widx // 4 AS lid,
         LENGTH(word) AS L
  FROM w0
),
lw AS (
  SELECT doc_id, lid, COUNT(*) AS m, SUM(L) AS tot,
         CASE WHEN COUNT(*) = 4 THEN CAST(lid % 9 AS INT) ELSE 0 END AS v
  FROM b GROUP BY doc_id, lid
),
lines AS (
  SELECT doc_id, lid, m, tot, v,
         CAST(lid // 6 + 1 AS INT) AS p,
         CAST(lid % 6 AS INT) AS li,
         m + CASE WHEN v IN (4, 5) THEN 1 ELSE 0 END AS nb_line
  FROM lw
),
lineoff AS (
  SELECT *, COALESCE(SUM(nb_line) OVER (PARTITION BY doc_id, p ORDER BY li
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS loff
  FROM lines
),
pages0 AS (SELECT doc_id, p, SUM(nb_line) AS nb FROM lines GROUP BY doc_id, p),
pageoff AS (
  SELECT *, COALESCE(SUM(nb + 4) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS poff
  FROM pages0
),
g AS (
  SELECT b.*, lw.v, lo.loff, po.poff,
         COALESCE(SUM(b.L) OVER (PARTITION BY b.doc_id, b.lid ORDER BY b.k
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
         SUM(CASE WHEN b.k <= 1 THEN b.L ELSE 0 END)
             OVER (PARTITION BY b.doc_id, b.lid) AS cum2
  FROM b
  JOIN lw USING (doc_id, lid)
  JOIN lineoff lo ON lo.doc_id = b.doc_id AND lo.lid = b.lid
  JOIN pageoff po ON po.doc_id = b.doc_id AND po.p = b.p
),
wordboxes AS (
  SELECT doc_id, CAST(poff + 4 + loff + k AS INT) AS ord,
         'text' AS kind, word AS text, CAST(NULL AS VARCHAR) AS media_ref,
         p AS page_no,
         ROUND(CASE WHEN v = 2 THEN 72 + 5.5 * cum + 7.0 * k
               WHEN v = 3 AND k >= 2 THEN 72 + 5.0 * (cum + k - 1) + 2.5
               WHEN v = 6 AND k = 3 THEN 72 + 5.0 * (cum + 2)
               WHEN v = 7 THEN 72 + 6.0 * (cum + k)
               WHEN v = 8 AND k >= 2 THEN 72 + 5.0 * (cum - cum2 + k - 2)
               ELSE 72 + 5.0 * (cum + k) END, 2) AS left_pt,
         CAST(64 + 16 * li
              + CASE WHEN v = 8 AND k >= 2 THEN 24 ELSE 0 END AS DOUBLE)
             AS top_pt,
         ROUND(CASE WHEN v = 2 THEN 5.5 * L WHEN v = 7 THEN 6.0 * L
               ELSE 5.0 * L END, 2) AS width_pt,
         CAST(NULL AS DOUBLE) AS height_pt,
         CAST(10.0 AS DOUBLE) AS line_height,
         CAST(CASE WHEN v = 7 THEN 12.0 ELSE 10.0 END AS DOUBLE) AS font_size,
         CASE WHEN v = 1 THEN 'rgba(0,0,0,0)'
              WHEN v = 6 AND k = 3 THEN '#7f0000'
              ELSE '#000000' END AS color,
         CASE WHEN v = 1 THEN '#000000' ELSE 'rgba(0,0,0,0)' END AS stroke_color,
         CAST(CASE WHEN v = 2 THEN 1.5 ELSE 0.0 END AS DOUBLE) AS wsp,
         CAST(CASE WHEN v = 2 THEN 0.5 ELSE 0.0 END AS DOUBLE) AS lsp,
         'Mono' AS font_family
  FROM g
),
extras AS (
  SELECT lo.doc_id, CAST(po.poff + 4 + lo.loff + lo.m AS INT) AS ord,
         'text' AS kind,
         CASE WHEN lo.v = 4 THEN reverse('שלום')
              ELSE 'e' || chr(769) END AS text,
         CAST(NULL AS VARCHAR) AS media_ref, lo.p AS page_no,
         CAST(CASE WHEN lo.v = 4 THEN 72 + 5.0 * (lo.tot + 3)
              ELSE 300.0 END AS DOUBLE) AS left_pt,
         CAST(CASE WHEN lo.v = 4 THEN 64 + 16 * lo.li
              ELSE 72 + 16 * lo.li END AS DOUBLE) AS top_pt,
         CAST(CASE WHEN lo.v = 4 THEN 20.0 ELSE 5.0 END AS DOUBLE) AS width_pt,
         CAST(NULL AS DOUBLE) AS height_pt,
         CAST(10.0 AS DOUBLE) AS line_height, CAST(10.0 AS DOUBLE) AS font_size,
         '#000000' AS color, 'rgba(0,0,0,0)' AS stroke_color,
         CAST(0.0 AS DOUBLE) AS wsp, CAST(0.0 AS DOUBLE) AS lsp,
         'Mono' AS font_family
  FROM lineoff lo JOIN pageoff po ON po.doc_id = lo.doc_id AND po.p = lo.p
  WHERE lo.v IN (4, 5)
),
pagespans AS (
  SELECT doc_id, CAST(poff AS INT) AS ord, 'page' AS kind,
         CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS media_ref,
         p AS page_no, CAST(NULL AS DOUBLE) AS left_pt,
         CAST(NULL AS DOUBLE) AS top_pt,
         CAST(612.0 AS DOUBLE) AS width_pt, CAST(792.0 AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, CAST(NULL AS VARCHAR) AS stroke_color,
         CAST(NULL AS DOUBLE) AS wsp, CAST(NULL AS DOUBLE) AS lsp,
         CAST(NULL AS VARCHAR) AS font_family
  FROM pageoff
),
rects AS (
  SELECT doc_id, CAST(poff + 1 AS INT) AS ord, 'rect' AS kind,
         CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS media_ref,
         p AS page_no,
         CAST(100 + 10 * ((p - 1) % 5) AS DOUBLE) AS left_pt,
         CAST(722.0 AS DOUBLE) AS top_pt,
         CAST(80 + 5 * (p % 3) AS DOUBLE) AS width_pt,
         CAST(20.0 AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         '#3f7fbf' AS color, CAST(NULL AS VARCHAR) AS stroke_color,
         CAST(NULL AS DOUBLE) AS wsp, CAST(NULL AS DOUBLE) AS lsp,
         CAST(NULL AS VARCHAR) AS font_family
  FROM pageoff
),
imgs AS (
  SELECT doc_id, CAST(poff + 2 AS INT) AS ord, 'image' AS kind,
         CAST(NULL AS VARCHAR) AS text,
         'sha:' || md5(doc_id || ':rl:' || CAST(p AS VARCHAR)) AS media_ref,
         p AS page_no,
         CAST(200 + 10 * (p % 4) AS DOUBLE) AS left_pt,
         CAST(402.0 AS DOUBLE) AS top_pt,
         CAST(120.0 AS DOUBLE) AS width_pt, CAST(90.0 AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, CAST(NULL AS VARCHAR) AS stroke_color,
         CAST(NULL AS DOUBLE) AS wsp, CAST(NULL AS DOUBLE) AS lsp,
         CAST(NULL AS VARCHAR) AS font_family
  FROM pageoff
),
linespans AS (
  SELECT doc_id, CAST(poff + 3 AS INT) AS ord, 'line' AS kind,
         CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS media_ref,
         p AS page_no,
         CAST(100 + 5 * (p % 4) AS DOUBLE) AS left_pt,
         CAST(312.0 AS DOUBLE) AS top_pt,
         CAST(200.0 AS DOUBLE) AS width_pt, CAST(0.0 AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, '#19334c' AS stroke_color,
         CAST(NULL AS DOUBLE) AS wsp, CAST(NULL AS DOUBLE) AS lsp,
         CAST(NULL AS VARCHAR) AS font_family
  FROM pageoff
),
gd AS (
  -- trailing graphics-only rotated page: base ordinal after all text pages,
  -- rot = (90,180,270)[np % 3], page_no = np + 1
  SELECT doc_id, CAST(SUM(nb + 4) AS INT) AS base,
         CAST(MAX(p) + 1 AS INT) AS gpno,
         CAST(CASE (MAX(p)) % 3 WHEN 0 THEN 90 WHEN 1 THEN 180 ELSE 270 END
              AS INT) AS rot
  FROM pages0 GROUP BY doc_id
),
gpages AS (
  SELECT doc_id, base AS ord, 'page' AS kind,
         CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS media_ref,
         gpno AS page_no, CAST(NULL AS DOUBLE) AS left_pt,
         CAST(NULL AS DOUBLE) AS top_pt,
         CAST(CASE WHEN rot = 180 THEN 612.0 ELSE 792.0 END AS DOUBLE)
             AS width_pt,
         CAST(CASE WHEN rot = 180 THEN 792.0 ELSE 612.0 END AS DOUBLE)
             AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, CAST(NULL AS VARCHAR) AS stroke_color,
         CAST(NULL AS DOUBLE) AS wsp, CAST(NULL AS DOUBLE) AS lsp,
         CAST(NULL AS VARCHAR) AS font_family
  FROM gd
),
grects AS (
  -- user rect (100,50)+(80,20) through the quadrant transform
  SELECT doc_id, base + 1 AS ord, 'rect' AS kind,
         CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS media_ref,
         gpno AS page_no,
         CAST(CASE rot WHEN 90 THEN 50 WHEN 180 THEN 432 ELSE 722 END
              AS DOUBLE) AS left_pt,
         CAST(CASE rot WHEN 90 THEN 100 WHEN 180 THEN 50 ELSE 432 END
              AS DOUBLE) AS top_pt,
         CAST(CASE rot WHEN 180 THEN 80 ELSE 20 END AS DOUBLE) AS width_pt,
         CAST(CASE rot WHEN 180 THEN 20 ELSE 80 END AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         '#3f7fbf' AS color, CAST(NULL AS VARCHAR) AS stroke_color,
         CAST(NULL AS DOUBLE) AS wsp, CAST(NULL AS DOUBLE) AS lsp,
         CAST(NULL AS VARCHAR) AS font_family
  FROM gd
),
gimgs AS (
  -- image placed at cm(120,0,0,90,200,300): user box (200,300)-(320,390)
  SELECT doc_id, base + 2 AS ord, 'image' AS kind,
         CAST(NULL AS VARCHAR) AS text,
         'sha:' || md5(doc_id || ':rlg') AS media_ref,
         gpno AS page_no,
         CAST(CASE rot WHEN 90 THEN 300 WHEN 180 THEN 292 ELSE 402 END
              AS DOUBLE) AS left_pt,
         CAST(CASE rot WHEN 90 THEN 200 WHEN 180 THEN 300 ELSE 292 END
              AS DOUBLE) AS top_pt,
         CAST(CASE rot WHEN 180 THEN 120 ELSE 90 END AS DOUBLE) AS width_pt,
         CAST(CASE rot WHEN 180 THEN 90 ELSE 120 END AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, CAST(NULL AS VARCHAR) AS stroke_color,
         CAST(NULL AS DOUBLE) AS wsp, CAST(NULL AS DOUBLE) AS lsp,
         CAST(NULL AS VARCHAR) AS font_family
  FROM gd
),
glines AS (
  -- user segment (150,480)-(350,480): vertical under 90/270, horizontal 180
  SELECT doc_id, base + 3 AS ord, 'line' AS kind,
         CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS media_ref,
         gpno AS page_no,
         CAST(CASE rot WHEN 90 THEN 480 WHEN 180 THEN 262 ELSE 312 END
              AS DOUBLE) AS left_pt,
         CAST(CASE rot WHEN 90 THEN 150 WHEN 180 THEN 480 ELSE 262 END
              AS DOUBLE) AS top_pt,
         CAST(CASE rot WHEN 180 THEN 200 ELSE 0 END AS DOUBLE) AS width_pt,
         CAST(CASE rot WHEN 180 THEN 0 ELSE 200 END AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, '#19334c' AS stroke_color,
         CAST(NULL AS DOUBLE) AS wsp, CAST(NULL AS DOUBLE) AS lsp,
         CAST(NULL AS VARCHAR) AS font_family
  FROM gd
),
gcmykrects AS (
  -- device-CMYK fill 0.2/0.4/0.6/0.1 k -> naive device formula #b7895b;
  -- user rect (150,120)+(100,40) through the quadrant transform
  SELECT doc_id, base + 4 AS ord, 'rect' AS kind,
         CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS media_ref,
         gpno AS page_no,
         CAST(CASE rot WHEN 90 THEN 120 WHEN 180 THEN 362 ELSE 632 END
              AS DOUBLE) AS left_pt,
         CAST(CASE rot WHEN 90 THEN 150 WHEN 180 THEN 120 ELSE 362 END
              AS DOUBLE) AS top_pt,
         CAST(CASE rot WHEN 180 THEN 100 ELSE 40 END AS DOUBLE) AS width_pt,
         CAST(CASE rot WHEN 180 THEN 40 ELSE 100 END AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         '#b7895b' AS color, CAST(NULL AS VARCHAR) AS stroke_color,
         CAST(NULL AS DOUBLE) AS wsp, CAST(NULL AS DOUBLE) AS lsp,
         CAST(NULL AS VARCHAR) AS font_family
  FROM gd
),
gcmyklines AS (
  -- device-CMYK stroke 0.6/0.2/0/0.2 K -> #51a3cc; user segment
  -- (150,200)-(350,200)
  SELECT doc_id, base + 5 AS ord, 'line' AS kind,
         CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS media_ref,
         gpno AS page_no,
         CAST(CASE rot WHEN 90 THEN 200 WHEN 180 THEN 262 ELSE 592 END
              AS DOUBLE) AS left_pt,
         CAST(CASE rot WHEN 90 THEN 150 WHEN 180 THEN 200 ELSE 262 END
              AS DOUBLE) AS top_pt,
         CAST(CASE rot WHEN 180 THEN 200 ELSE 0 END AS DOUBLE) AS width_pt,
         CAST(CASE rot WHEN 180 THEN 0 ELSE 200 END AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, '#51a3cc' AS stroke_color,
         CAST(NULL AS DOUBLE) AS wsp, CAST(NULL AS DOUBLE) AS lsp,
         CAST(NULL AS VARCHAR) AS font_family
  FROM gd
),
fonts AS (
  SELECT doc_id, CAST(SUM(nb + 4) + 6 AS INT) AS ord, 'font' AS kind,
         'Mono' AS text, 'font:Mono' AS media_ref, CAST(NULL AS INT) AS page_no,
         CAST(NULL AS DOUBLE) AS left_pt, CAST(NULL AS DOUBLE) AS top_pt,
         CAST(NULL AS DOUBLE) AS width_pt, CAST(NULL AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, CAST(NULL AS VARCHAR) AS stroke_color,
         CAST(NULL AS DOUBLE) AS wsp, CAST(NULL AS DOUBLE) AS lsp,
         CAST(NULL AS VARCHAR) AS font_family
  FROM pages0 GROUP BY doc_id
)
SELECT * FROM wordboxes UNION ALL SELECT * FROM extras
UNION ALL SELECT * FROM pagespans UNION ALL SELECT * FROM rects
UNION ALL SELECT * FROM imgs UNION ALL SELECT * FROM linespans
UNION ALL SELECT * FROM gpages UNION ALL SELECT * FROM grects
UNION ALL SELECT * FROM gimgs UNION ALL SELECT * FROM glines
UNION ALL SELECT * FROM gcmykrects UNION ALL SELECT * FROM gcmyklines
UNION ALL SELECT * FROM fonts
"""

@_reg("extract_spans_rich_lite", _RICH_LITE_SQL)
def extract_spans_rich_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = _extract_flat(spark, sf_dir, mode="rich_lite",
                         columns=RICH_LITE_COLS)
    return flat.select(
        "doc_id",
        F.col("order").cast("int").alias("ord"),
        "kind", "text", "media_ref",
        F.col("page_no").cast("int").alias("page_no"),
        F.round(F.col("style_left").cast("double"), 2).alias("left_pt"),
        F.round(F.col("style_top").cast("double"), 2).alias("top_pt"),
        F.round(F.col("style_width").cast("double"), 2).alias("width_pt"),
        F.round(F.col("style_height").cast("double"), 2).alias("height_pt"),
        F.round(F.col("style_line_height").cast("double"), 2).alias("line_height"),
        F.round(F.col("style_font_size").cast("double"), 2).alias("font_size"),
        F.col("style_color").alias("color"),
        F.col("style_stroke_color").alias("stroke_color"),
        F.round(F.col("style_word_spacing").cast("double"), 2).alias("wsp"),
        F.round(F.col("style_letter_spacing").cast("double"), 2).alias("lsp"),
        F.col("style_font_family").alias("font_family"),
    )


# 1a-rot. FULL kernel vs closed-form SQL on the rotated-page TEXT corpus
# (PDFBoxTree.java:822-855): TextPosition.getX/getY is the page transform of
# the glyph's device origin — rot0 (x, h-y); rot90 (y, x); rot180 (w-x, y);
# rot270 (h-y, w-x) — while getWidth stays the un-rotated device-x
# displacement, so on rotated pages every glyph is its own box (disty=5>1 on
# 90/270, distx=-10<-6 on 180). One Mono-10 line per page at Tm(72,700);
# rotation cycles with the page index (corpus.rot_text_stream).
# top = getY - ascent (ascent = 0.8 * size = 8).

_ROT_TEXT_SQL = """
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
ws AS (
  SELECT doc_id, word, widx,
         CAST(widx // 4 + 1 AS INT) AS page_no,
         CAST(widx % 4 AS INT) AS j,
         COALESCE(SUM(LENGTH(word)) OVER (PARTITION BY doc_id, widx // 4
             ORDER BY widx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) + (widx % 4) AS pre
  FROM w
),
pg AS (
  SELECT doc_id, page_no,
         ((page_no - 1) % 4) * 90 AS rot,
         COUNT(*) AS m, SUM(LENGTH(word)) AS nchars
  FROM ws GROUP BY doc_id, page_no
),
pgo AS (
  SELECT doc_id, page_no, rot,
         m, CASE WHEN rot = 0 THEN m ELSE nchars END AS nb,
         CAST(COALESCE(SUM(CASE WHEN rot = 0 THEN m ELSE nchars END + 1)
             OVER (PARTITION BY doc_id ORDER BY page_no
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS INT) AS base
  FROM pg
),
pages AS (
  SELECT doc_id, base AS ord, 'page' AS kind,
         CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS media_ref,
         page_no,
         CAST(NULL AS DOUBLE) AS left_pt, CAST(NULL AS DOUBLE) AS top_pt,
         CASE WHEN rot IN (90, 270) THEN 792.0 ELSE 612.0 END AS width_pt,
         CASE WHEN rot IN (90, 270) THEN 612.0 ELSE 792.0 END AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, CAST(NULL AS VARCHAR) AS font_family
  FROM pgo
),
b0 AS (
  SELECT ws.doc_id, CAST(p.base + 1 + ws.j AS INT) AS ord, 'text' AS kind,
         ws.word AS text, CAST(NULL AS VARCHAR) AS media_ref, ws.page_no,
         ROUND(72 + 5.0 * ws.pre, 2) AS left_pt, 84.0 AS top_pt,
         ROUND(5.0 * LENGTH(ws.word), 2) AS width_pt,
         CAST(NULL AS DOUBLE) AS height_pt,
         10.0 AS line_height, 10.0 AS font_size,
         '#000000' AS color, 'Mono' AS font_family
  FROM ws JOIN pgo p USING (doc_id, page_no) WHERE p.rot = 0
),
gly0 AS (
  SELECT ws.doc_id, ws.page_no, p.rot, p.base, ws.word, ws.pre, ws.j,
         unnest(generate_series(1, LENGTH(ws.word))) AS gi
  FROM ws JOIN pgo p USING (doc_id, page_no)
  WHERE p.rot <> 0
),
bg AS (
  SELECT doc_id,
         CAST(base + 1 + (pre - j) + gi - 1 AS INT) AS ord, 'text' AS kind,
         substr(word, gi, 1) AS text, CAST(NULL AS VARCHAR) AS media_ref,
         page_no,
         ROUND(CASE rot WHEN 90 THEN 700.0
               WHEN 180 THEN 612.0 - (72 + 5.0 * (pre + gi - 1))
               ELSE 92.0 END, 2) AS left_pt,
         ROUND(CASE rot WHEN 90 THEN (72 + 5.0 * (pre + gi - 1)) - 8.0
               WHEN 180 THEN 692.0
               ELSE 612.0 - (72 + 5.0 * (pre + gi - 1)) - 8.0 END, 2) AS top_pt,
         5.0 AS width_pt, CAST(NULL AS DOUBLE) AS height_pt,
         10.0 AS line_height, 10.0 AS font_size,
         '#000000' AS color, 'Mono' AS font_family
  FROM gly0
),
fonts AS (
  SELECT doc_id, CAST(SUM(nb + 1) AS INT) AS ord, 'font' AS kind,
         'Mono' AS text, 'font:Mono' AS media_ref, CAST(NULL AS INT) AS page_no,
         CAST(NULL AS DOUBLE) AS left_pt, CAST(NULL AS DOUBLE) AS top_pt,
         CAST(NULL AS DOUBLE) AS width_pt, CAST(NULL AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, CAST(NULL AS VARCHAR) AS font_family
  FROM pgo GROUP BY doc_id
)
SELECT * FROM pages UNION ALL SELECT * FROM b0
UNION ALL SELECT * FROM bg UNION ALL SELECT * FROM fonts
"""


@_reg("extract_spans_rot_text", _ROT_TEXT_SQL)
def extract_spans_rot_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _oracle_proj(_extract_flat(spark, sf_dir, mode="rot_text",
                                      columns=ORACLE_COLS))


# 1a-forms. FULL kernel vs closed-form SQL on the form-XObject corpus
# (PDFBoxTree.java:394-404; PDFBox showForm): a header form defined once per
# doc, invoked on every page via /F1 Do — expansion runs inline under an
# implicit q/Q, so the form's Mono-8 font + 0.25/0.5/0.75 fill are isolated
# from the Mono-10 black body (corpus.forms_stream). Per page: page span,
# header box (flushed when the body starts), body word boxes.

_FORMS_SQL = """
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
ws AS (
  SELECT doc_id, word, widx,
         CAST(widx // 4 + 1 AS INT) AS page_no,
         CAST(widx % 4 AS INT) AS j,
         COALESCE(SUM(LENGTH(word)) OVER (PARTITION BY doc_id, widx // 4
             ORDER BY widx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) + (widx % 4) AS pre
  FROM w
),
pg AS (
  SELECT doc_id, page_no, COUNT(*) AS m FROM ws GROUP BY doc_id, page_no
),
pgo AS (
  SELECT doc_id, page_no, m,
         CAST(COALESCE(SUM(m + 2) OVER (PARTITION BY doc_id ORDER BY page_no
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
           AS base
  FROM pg
),
pages AS (
  SELECT doc_id, base AS ord, 'page' AS kind,
         CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS media_ref,
         page_no,
         CAST(NULL AS DOUBLE) AS left_pt, CAST(NULL AS DOUBLE) AS top_pt,
         612.0 AS width_pt, 792.0 AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, CAST(NULL AS VARCHAR) AS font_family
  FROM pgo
),
hdrs AS (
  SELECT doc_id, CAST(base + 1 AS INT) AS ord, 'text' AS kind,
         'hdr' || doc_id AS text, CAST(NULL AS VARCHAR) AS media_ref, page_no,
         72.0 AS left_pt, 25.6 AS top_pt,
         ROUND(4.0 * LENGTH('hdr' || doc_id), 2) AS width_pt,
         CAST(NULL AS DOUBLE) AS height_pt,
         8.0 AS line_height, 8.0 AS font_size,
         '#3f7fbf' AS color, 'Mono' AS font_family
  FROM pgo
),
body AS (
  SELECT ws.doc_id, CAST(p.base + 2 + ws.j AS INT) AS ord, 'text' AS kind,
         ws.word AS text, CAST(NULL AS VARCHAR) AS media_ref, ws.page_no,
         ROUND(72 + 5.0 * ws.pre, 2) AS left_pt, 84.0 AS top_pt,
         ROUND(5.0 * LENGTH(ws.word), 2) AS width_pt,
         CAST(NULL AS DOUBLE) AS height_pt,
         10.0 AS line_height, 10.0 AS font_size,
         '#000000' AS color, 'Mono' AS font_family
  FROM ws JOIN pgo p USING (doc_id, page_no)
),
fonts AS (
  SELECT doc_id, CAST(SUM(m + 2) AS INT) AS ord, 'font' AS kind,
         'Mono' AS text, 'font:Mono' AS media_ref, CAST(NULL AS INT) AS page_no,
         CAST(NULL AS DOUBLE) AS left_pt, CAST(NULL AS DOUBLE) AS top_pt,
         CAST(NULL AS DOUBLE) AS width_pt, CAST(NULL AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, CAST(NULL AS VARCHAR) AS font_family
  FROM pgo GROUP BY doc_id
)
SELECT * FROM pages UNION ALL SELECT * FROM hdrs
UNION ALL SELECT * FROM body UNION ALL SELECT * FROM fonts
"""


@_reg("extract_spans_forms", _FORMS_SQL)
def extract_spans_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _oracle_proj(_extract_flat(spark, sf_dir, mode="forms",
                                      columns=ORACLE_COLS))


# 1a-enc. FULL kernel vs closed-form SQL on the font-encoding corpus: a
# kind='cmap' span remaps Mono codes a/e/o -> Greek at show time (PDFBox
# font-encoding/ToUnicode resolution, PDFBoxTree.java:592-656). Advances
# stay keyed by the RAW glyph code (Mono: geometry unchanged); the span
# text is the decoded unicode — the oracle is the plain grid + translate().

_ENC_SQL = """
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
ws AS (
  SELECT doc_id, word, widx,
         CAST(widx // 4 + 1 AS INT) AS page_no,
         CAST(widx % 4 AS INT) AS j,
         COALESCE(SUM(LENGTH(word)) OVER (PARTITION BY doc_id, widx // 4
             ORDER BY widx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) + (widx % 4) AS pre
  FROM w
),
pg AS (
  SELECT doc_id, page_no, COUNT(*) AS m FROM ws GROUP BY doc_id, page_no
),
pgo AS (
  SELECT doc_id, page_no, m,
         CAST(COALESCE(SUM(m + 1) OVER (PARTITION BY doc_id ORDER BY page_no
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
           AS base
  FROM pg
),
pages AS (
  SELECT doc_id, base AS ord, 'page' AS kind,
         CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS media_ref,
         page_no,
         CAST(NULL AS DOUBLE) AS left_pt, CAST(NULL AS DOUBLE) AS top_pt,
         612.0 AS width_pt, 792.0 AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, CAST(NULL AS VARCHAR) AS font_family
  FROM pgo
),
body AS (
  SELECT ws.doc_id, CAST(p.base + 1 + ws.j AS INT) AS ord, 'text' AS kind,
         translate(ws.word, 'aeo', 'αεο') AS text,
         CAST(NULL AS VARCHAR) AS media_ref, ws.page_no,
         ROUND(72 + 5.0 * ws.pre, 2) AS left_pt, 84.0 AS top_pt,
         ROUND(5.0 * LENGTH(ws.word), 2) AS width_pt,
         CAST(NULL AS DOUBLE) AS height_pt,
         10.0 AS line_height, 10.0 AS font_size,
         '#000000' AS color, 'Mono' AS font_family
  FROM ws JOIN pgo p USING (doc_id, page_no)
),
fonts AS (
  SELECT doc_id, CAST(SUM(m + 1) AS INT) AS ord, 'font' AS kind,
         'Mono' AS text, 'font:Mono' AS media_ref, CAST(NULL AS INT) AS page_no,
         CAST(NULL AS DOUBLE) AS left_pt, CAST(NULL AS DOUBLE) AS top_pt,
         CAST(NULL AS DOUBLE) AS width_pt, CAST(NULL AS DOUBLE) AS height_pt,
         CAST(NULL AS DOUBLE) AS line_height, CAST(NULL AS DOUBLE) AS font_size,
         CAST(NULL AS VARCHAR) AS color, CAST(NULL AS VARCHAR) AS font_family
  FROM pgo GROUP BY doc_id
)
SELECT * FROM pages UNION ALL SELECT * FROM body
UNION ALL SELECT * FROM fonts
"""


@_reg("extract_spans_encoded", _ENC_SQL)
def extract_spans_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _oracle_proj(_extract_flat(spark, sf_dir, mode="enc",
                                      columns=ORACLE_COLS))


# 1a-paged. The page-split (monster-doc) path against the SAME closed-form
# oracle as the unsplit mono-grid kernel: puts pagesplit.extract_spans_paged
# under the cross-engine value-hash gate, not just the pytest equality gate.

@_reg("extract_spans_paged_oracle", _ORACLE_SPANS_SQL)
def extract_spans_paged_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .corpus import build_groups_df
    from .pagesplit import extract_groups

    # page-groups are uniform by construction: single-wave task count
    p = min(int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
            spark.sparkContext.defaultParallelism)
    # synthesis+split fused into one Python stage (corpus.build_groups_df):
    # the production scan->split shape — the generic DOC_SCHEMA entry point
    # (pagesplit.extract_spans_paged) stays bit-equal via tests/test_pagesplit
    groups = build_groups_df(spark, sf_dir, mode="oracle", pages_per_group=2,
                             min_bytes=0, num_partitions=p)
    flat = extract_groups(groups, ExtractConfig(), num_partitions=p,
                          columns=ORACLE_COLS)
    return _oracle_proj(flat)


# 1a-tail. The same split path in its PRODUCTION deployment shape: the
# routing predicate rides the SOURCE scan (pushed to parquet), the
# sub-threshold majority takes the plain unsplit kernel, and only the
# size tail pays the page-group fan-out + renumber. Output is
# routing-invariant, so the oracle is identical to the unsplit kernel's.
#
# Routing re-tuned at sf1 (VERDICT r4 "Next" #4, BENCH/PAGED_SF1.md):
# the r4 threshold of 400 chars routed 46% of corpus BYTES through the
# split machinery (max doc length is only 577 — this corpus has no
# true monsters), giving 2.05x unsplit at sf1. Threshold 500 (top ~9% of
# docs / 15.5% of bytes) + pages_per_group=2 measured 1.18x unsplit at
# sf1 — the production contract (only the tail pays) holds when the
# tail IS a tail. Re-tuned AGAIN after the round-5b batched kernel
# (thr 500 -> 530, top ~3% of docs / 6% of bytes): the 1.5-2x faster
# unsplit kernel raised the split machinery's RELATIVE cost to ~3x, so
# the break-even doc size moved up with it — the threshold is a
# deployment knob that tracks kernel speed. What remains above 1.0x is
# BRANCH-FIXED Spark overhead, not byte cost (BENCH/paged_sf1.py: a
# threshold routing ZERO docs still pays ~1.3s for the extra stages),
# and it amortizes with scale: 1.32x at 10x replication, 1.025x at 40x
# (clean probes both). The everything-splits stress shape stays gated
# separately (extract_spans_paged_oracle).

@_reg("extract_spans_paged_tail", _ORACLE_SPANS_SQL)
def extract_spans_paged_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .corpus import build_groups_df
    from .pagesplit import extract_groups

    # both branches carry uniform-size work: single-wave task count
    p = min(int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
            spark.sparkContext.defaultParallelism)
    cfg = ExtractConfig()
    # sub-threshold branch: the FUSED synthesize+extract kernel (one
    # Python stage, like the unsplit gate) — the former build_docs_df ->
    # extract_spans chain paid a full Arrow round-trip of the nested
    # spans payload between two Python stages on ~97% of the corpus (r6)
    small_flat = _extract_flat(spark, sf_dir, cfg=cfg, mode="oracle",
                               where="length(text) < 530",
                               columns=ORACLE_COLS)
    big_groups = build_groups_df(spark, sf_dir, mode="oracle",
                                 pages_per_group=2, min_bytes=0,
                                 num_partitions=p,
                                 where="length(text) >= 530")
    # the tail branch holds ~20% of the corpus: partition it proportionally
    # (production sizing targets bytes/partition, not a global constant)
    big_flat = extract_groups(big_groups, cfg, num_partitions=max(8, p // 4),
                              columns=ORACLE_COLS)
    return _oracle_proj(small_flat.unionByName(
        big_flat.select(small_flat.columns)))


# 1b. page-range gate (S2; PDFBoxTree.java:200-210 — 1-based, inclusive)
@_reg("extract_page_range", """
WITH w0 AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest(string_split(text,' ')) AS word,
         generate_subscripts(string_split(text,' '), 1) AS sidx
  FROM documents WHERE length(text) > 0
),
w AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY sidx) - 1 AS widx
  FROM w0 WHERE word <> ''
)
SELECT doc_id,
       CAST(SUM(CASE WHEN widx < 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
       CAST(1 AS BIGINT) AS n_page
FROM w GROUP BY doc_id
""")
def extract_page_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = _extract_flat(spark, sf_dir,
                         cfg=ExtractConfig(start_page=1, end_page=1),
                         mode="oracle", columns=["doc_id", "kind"])
    return flat.groupBy("doc_id").agg(
        F.sum(F.when(F.col("kind") == "text", 1).otherwise(0)).alias("n_text"),
        F.sum(F.when(F.col("kind") == "page", 1).otherwise(0)).alias("n_page"),
    )


# 1c. chunk-merge as pure window SQL (gaps-and-islands; SURVEY.md §2.h):
# lag-based split predicate -> running-sum box id -> ordered concat + metrics
@_reg("chunk_islands_sql", """
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest(string_split(text,' ')) AS word,
         generate_subscripts(string_split(text,' '), 1) - 1 AS widx
  FROM documents WHERE length(text) > 0
),
g AS (
  SELECT doc_id, word, widx,
         5.0 * LENGTH(word) AS xw,
         CASE WHEN widx % 5 = 0 THEN 0.5 ELSE 2.0 END AS gap,
         10.0 + 2.0 * ((widx // 7) % 2) AS fs
  FROM w
),
p AS (
  SELECT *, 72 + COALESCE(SUM(xw + gap) OVER
             (PARTITION BY doc_id ORDER BY widx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS x
  FROM g
),
s AS (
  SELECT *, CASE WHEN LAG(widx) OVER win IS NULL
                   OR gap > 1.0
                   OR fs <> LAG(fs) OVER win
            THEN 1 ELSE 0 END AS split
  FROM p WINDOW win AS (PARTITION BY doc_id ORDER BY widx)
),
i AS (
  SELECT *, SUM(split) OVER (PARTITION BY doc_id ORDER BY widx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS box_id
  FROM s
)
SELECT doc_id, CAST(box_id AS INT) AS box_id,
       string_agg(word, '' ORDER BY widx) AS text,
       ROUND(MIN(x), 2) AS left_pt,
       ROUND(MAX(x + xw) - MIN(x), 2) AS width_pt,
       CAST(COUNT(*) AS BIGINT) AS n_glyphs
FROM i GROUP BY doc_id, box_id
""")
def chunk_islands_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    # repartition the COMPACT docs by doc_id before exploding: the window
    # functions and the (doc_id, box_id) aggregate all reuse that
    # partitioning, so the exploded word rows never hit an exchange
    p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .where(F.length("text") > 0)
            .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
            .repartition(p, "doc_id"))
    w = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("widx", "word"))
    g = w.select(
        "doc_id", "word", "widx",
        (5.0 * F.length("word")).alias("xw"),
        F.when(F.col("widx") % 5 == 0, 0.5).otherwise(2.0).alias("gap"),
        (10.0 + 2.0 * ((F.col("widx") / 7).cast("int") % 2)).alias("fs"))
    win = Window.partitionBy("doc_id").orderBy("widx")
    run = Window.partitionBy("doc_id").orderBy("widx").rowsBetween(
        Window.unboundedPreceding, -1)
    p = g.withColumn(
        "x", F.lit(72.0) + F.coalesce(
            F.sum(F.col("xw") + F.col("gap")).over(run), F.lit(0.0)))
    s = p.withColumn(
        "split",
        F.when(F.lag("widx").over(win).isNull()
               | (F.col("gap") > 1.0)
               | (F.col("fs") != F.lag("fs").over(win)), 1).otherwise(0))
    cur = Window.partitionBy("doc_id").orderBy("widx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    i = s.withColumn("box_id", (F.sum("split").over(cur) - 1).cast("int"))
    return i.groupBy("doc_id", "box_id").agg(
        F.array_join(F.transform(
            F.array_sort(F.collect_list(F.struct("widx", "word"))),
            lambda st: st.word), "").alias("text"),
        F.round(F.min("x"), 2).alias("left_pt"),
        F.round(F.max(F.col("x") + F.col("xw")) - F.min("x"), 2).alias("width_pt"),
        F.count(F.lit(1)).alias("n_glyphs"))


# 1d. scalar parity: RTL reverse (P8; PDFBoxTree.java:666-669)
@_reg("rtl_reverse", """
-- codepoint-order reversal (Java StringBuilder.reverse semantics, matching
-- Spark F.reverse); DuckDB's bare reverse() is grapheme-cluster based and
-- would keep combining marks attached to their base
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       array_to_string(list_reverse(string_split(text, '')), '') AS rev
FROM documents
""")
def rtl_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.reverse("text").alias("rev"))


# 1e. color hex formatting (M6; PDFBoxTree.java:915-930 int truncation)
@_reg("color_hex", """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       printf('#%02x%02x%02x',
              CAST(doc_id * 37 % 256 AS INT),
              CAST(doc_id * 59 % 256 AS INT),
              CAST(doc_id * 83 % 256 AS INT)) AS hex
FROM documents
""")
def color_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.format_string(
            "#%02x%02x%02x",
            (F.col("doc_id") * 37 % 256).cast("int"),
            (F.col("doc_id") * 59 % 256).cast("int"),
            (F.col("doc_id") * 83 % 256).cast("int")).alias("hex"))


@_reg("cos_coercion", """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       chr(CAST(65 + doc_id % 26 AS INT))
       || chr(CAST(66 + doc_id % 25 AS INT))
       || '()\\'
       || 'A' || chr(CAST(67 + doc_id % 24 AS INT)) || chr(255) AS text
FROM documents
""")
def cos_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    def spans_for(i):
        c1 = 65 + i % 26
        c2 = 66 + i % 25
        c3 = 67 + i % 24
        lit = (chr(c1) + "\\" + format(c2, "03o")
               + "\\(" + "\\)" + "\\\\")
        frag = ("612 792 0 PG BT /Mono 10 Tf 1 0 0 1 72 700 Tm "
                f"({lit}) Tj <41{c3:02x}ff> Tj ET")
        return [{"kind": "text", "text": frag, "media_ref": None,
                 "offset": 0}]

    flat = _synth_spans(spark, sf_dir, spans_for)
    return flat.where(F.col("kind") == "text").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")


# 1e-embed. S7 embed resource handler under the cross-engine gate
# (previously pytest-only): the kernel runs with image_handler="embed"
# (the ExtractConfig default), which must pass the image XObject's media_ref through UNCHANGED
# (EmbedAsBase64Handler keeps the payload inline,
# PDFDomTree.java:431-434); the data-URI is then assembled JVM-side from
# deterministic per-ref bytes — concat + base64(unhex(md5(ref))) — so the
# value hash covers both the handler passthrough and the base64 codec
# against DuckDB's to_base64/unhex/md5.

@_reg("resource_embed_datauri", """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'data:image/png;base64,'
       || to_base64(unhex(md5('media:' || doc_id))) AS data_uri
FROM documents
""")
def resource_embed_datauri(spark: SparkSession, sf_dir: str) -> DataFrame:
    def spans_for(i):
        return [
            {"kind": "text", "text": "612 792 0 PG",
             "media_ref": None, "offset": 0},
            {"kind": "image", "text": f"64 48 Im{i % 7}",
             "media_ref": f"media:{i}", "offset": 1},
        ]

    flat = _synth_spans(spark, sf_dir, spans_for)
    return (flat.where(F.col("kind") == "image")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.concat(F.lit("data:image/png;base64,"),
                             F.base64(F.unhex(F.md5(F.col("media_ref")))))
                    .alias("data_uri")))


# 1e-dup. P2/P3 vestigial-filter discovery under the cross-engine gate:
# the reference's duplicate-overlap suppression and position sort are
# DEAD CODE (processTextPosition overridden without super,
# PDFBoxTree.java:158,592-656) — so a show sequence B, A, B where the two
# B's overlap EXACTLY and A sits above them must come out as THREE boxes
# in stream order, duplicates intact, never re-sorted by position. The
# oracle enumerates that order in closed form; any suppression (2 rows)
# or position sort (A first) breaks the value hash.

@_reg("dup_overlap_stream_order", """
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, o.ord,
       CASE WHEN o.ord = 1
            THEN 'A' || chr(CAST(65 + d.doc_id % 26 AS INT))
            ELSE 'B' || chr(CAST(65 + d.doc_id % 26 AS INT)) END AS text
FROM documents d
CROSS JOIN (SELECT unnest([0, 1, 2]) AS ord) o
""")
def dup_overlap_stream_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    def spans_for(i):
        c = chr(65 + i % 26)
        frag = ("612 792 0 PG BT /Mono 10 Tf "
                f"1 0 0 1 72 700 Tm (B{c}) Tj "
                f"1 0 0 1 72 750 Tm (A{c}) Tj "
                f"1 0 0 1 72 700 Tm (B{c}) Tj ET")
        return [{"kind": "text", "text": frag, "media_ref": None,
                 "offset": 0}]

    flat = _synth_spans(spark, sf_dir, spans_for)
    w = Window.partitionBy("doc_id").orderBy("order")
    return (flat.where(F.col("kind") == "text")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    (F.row_number().over(w) - 1).cast("int").alias("ord"),
                    "text"))


# 1e-raster. G11 filled-path rasterizer under the cross-engine gate
# (previously pytest-only): each doc fills a right triangle
# (m/l/l/h f -> PathDrawer polygon, PathDrawer.java:43-136) with
# raster_paths=True; the kernel decodes ITS OWN emitted
# data:image/png;base64 URI (stdlib PNG reader) and reports the filled
# pixel count + int-truncated canvas bounds. The oracle replays the
# even-odd pixel-center scanline in closed form — per row r the span is
# [0, a - ((r+0.5)/b)*a), so the count is ceil(X-0.5) clamped at 0 —
# with IEEE-identical double arithmetic (validated exhaustively over the
# leg-size grid before registration). Any drift in polygon vertexing,
# bounds truncation, scanline sampling, or the PNG codec breaks the
# value hash.

@_reg("raster_fill_counts", """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  CAST(20 + doc_id % 13 AS DOUBLE) AS a,
                  CAST(10 + doc_id % 7 AS DOUBLE) AS b
           FROM documents),
rows AS (SELECT doc_id, a, b, r
         FROM d, generate_series(0, 15) g(r)
         WHERE r < CAST(b AS BIGINT))
SELECT doc_id, CAST(a AS INT) AS w, CAST(b AS INT) AS h,
       CAST(SUM(GREATEST(0, CAST(ceil((a + ((r + 0.5) / b) * (0 - a))
                                      - 0.5) AS BIGINT)))
            AS BIGINT) AS filled_px
FROM rows GROUP BY doc_id, a, b
""")
def raster_fill_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyspark.sql.types as T

    src = _doc_ids(spark, sf_dir)
    cfg = ExtractConfig(raster_paths=True)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("filled_px", T.LongType()),
    ])
    arrow_schema = pa.schema([("doc_id", pa.int64()), ("w", pa.int32()),
                              ("h", pa.int32()), ("filled_px", pa.int64())])

    def kernel(batches):
        memtune.tune_worker()
        import base64

        from .extract import docs_to_arrow_spans
        from .raster import decode_png_rgba

        for batch in batches:
            ids, spans = [], []
            for doc_id in batch.column(0).to_pylist():
                i = int(doc_id)
                a, b = 20 + i % 13, 10 + i % 7
                frag = (f"612 792 0 PG 72 700 m {72 + a} 700 l "
                        f"72 {700 - b} l h f")
                ids.append(str(i))
                spans.append([{"kind": "text", "text": frag,
                               "media_ref": None, "offset": 0}])
            flat = docs_to_arrow_spans(ids, spans, cfg).to_pydict()
            out = {"doc_id": [], "w": [], "h": [], "filled_px": []}
            for did, kind, ref, w, h in zip(
                    flat["doc_id"], flat["kind"], flat["media_ref"],
                    flat["style_width"], flat["style_height"]):
                if kind != "image":
                    continue
                png = base64.b64decode(ref.split(",", 1)[1])
                arr = decode_png_rgba(png)
                out["doc_id"].append(int(did))
                out["w"].append(int(w))
                out["h"].append(int(h))
                out["filled_px"].append(int((arr[:, :, 3] == 255).sum()))
            yield pa.RecordBatch.from_pydict(out, schema=arrow_schema)

    return src.mapInArrow(kernel, schema)


# 1f. font family parse (F1; FontTable.java:31,105-118)


# 1a-file. The REAL FILE chain directly under the driver gate (VERDICT r4
# #7): each doc's oracle content is written as an actual PDF FILE by
# pdfwrite.spans_to_pdf (xref, Flate-compressed content streams, image
# XObjects, fonts), re-ingested byte-blind by pdfread (xref parse ->
# inflate -> tokenize), and extracted by the same kernel — then value-
# hash-matched against the SAME closed-form oracle the synthetic path
# uses. Until r5 this chain was only transitively gated via pytest
# round-trips; this row makes file->spans first-class cross-engine
# evidence. 100 TB shape: identical to the flagship — one compact
# (doc_id, text) shuffle, ONE fused Python stage (write+parse+extract
# all in the same worker call), spans written where produced.

@_reg("extract_spans_realfile", _ORACLE_SPANS_SQL)
def extract_spans_realfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyspark.sql.types as T

    from .extract import extract_batch
    from .pdfwrite import oracle_pdf_bytes

    # uniform per-doc work (oracle corpus): single-wave task count, like
    # _extract_flat's non-rich modes
    p = min(int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
            spark.sparkContext.defaultParallelism)
    src = (spark.read.parquet(f"{sf_dir}/documents.parquet")
           .select("doc_id", "text")
           .repartition(p, F.xxhash64("doc_id")))

    def kernel(batches):
        memtune.tune_worker()
        for b in batches:
            doc_ids = [str(d) for d in b.column("doc_id").to_pylist()]
            pdfs = [oracle_pdf_bytes(did, text) for did, text in
                    zip(doc_ids, b.column("text").to_pylist())]
            # PDF_SCHEMA rows: the kernel parses them, then extracts
            yield extract_batch(pa.RecordBatch.from_pydict(
                {"doc_id": doc_ids, "pdf": pdfs}), columns=ORACLE_COLS)

    _want = set(ORACLE_COLS)
    return _oracle_proj(src.mapInArrow(
        kernel, T.StructType(
            [f for f in SPAN_FLAT_SCHEMA.fields if f.name in _want])))
