"""Vectorized text-box pipeline: glyph frame -> text-box spans (pure numpy).

Reimplements the reference's mutable-accumulator chunking
(``processTextPosition`` PDFBoxTree.java:592-656, ``finishBox``
PDFBoxTree.java:661-679, ``TextMetrics`` TextMetrics.java:15-55) as the
gaps-and-islands pattern over a columnar glyph frame: lagged comparisons
produce a boolean ``split`` flag, box starts become index arrays, and box
finalization is segmented reduction (``np.maximum.reduceat`` et al.) — the
same partial-aggregate shape Spark's window + hash-agg would give, executed
in numpy inside the Arrow UDF (no per-row Python, no pandas groupby
overhead).

Rules, with the reference's exact constants:
  - whitespace glyphs are dropped entirely (PDFBoxTree.java:599) — they never
    reach the text buffer, so explicit space glyphs split words into separate
    boxes whenever the space advance exceeds 1pt;
  - pending diacritic merges into the following base glyph that contains it
    (PDFBoxTree.java:595-605);
  - split iff ``lastText == null || distx > 1.0 || distx < -6.0 ||
    |disty| > 1.0 || RTL-flip`` with ``distx = x - (last.x + last.width)``,
    ``disty = y - last.y`` (PDFBoxTree.java:623-633);
  - additional split when the 8-field style identity changes
    (PDFBoxTree.java:635-637; equality BoxStyle.java:366-405 — color,
    strokeColor, fontFamily, fontSize(=getXScale), fontStyle, fontWeight,
    letterSpacing, wordSpacing; NOT position/lineHeight);
  - page end forces a flush (PDFBoxTree.java:208) but does NOT refresh
    ``curstyle`` when the next glyph would not otherwise split — the new box
    inherits the stale previous style (mirrored bug-for-bug);
  - finishBox: concat glyphs, reverse when the first buffered char is RTL
    (PDFBoxTree.java:666-669), left = metrics.x, top = baseline - max ascent
    (with bbox fallback when ascent == 0, TextMetrics.java:41-47),
    line-height = bottom - top (TextMetrics.java:134-136), width telescopes
    to ``last.x + last.width - first.x`` (TextMetrics.java:30).
"""

from __future__ import annotations

import numpy as np

from . import fonts as fontmod

# The 8-field style identity (BoxStyle.java:366-405: xscale, word/letter
# spacing, color, strokeColor, fontFamily, fontWeight, fontStyle) is
# precomputed per show as the integer ``style_id`` column of
# interp.glyph_frame; the chunker compares only that.

# box output columns (style_* naming matches SPAN_FLAT_SCHEMA)
BOX_STYLE_MAP = {
    "style_font_family": "font_family",
    "style_font_weight": "font_weight",
    "style_font_style": "font_style",
    "style_font_size": "xscale",
    "style_word_spacing": "word_spacing",
    "style_letter_spacing": "letter_spacing",
    "style_color": "color",
    "style_stroke_color": "stroke_color",
}


def merge_diacritics(gl: dict, gdoc: np.ndarray) -> tuple[dict, np.ndarray]:
    """Pending-diacritic merge (PDFBoxTree.java:595-605) + whitespace drop
    (PDFBoxTree.java:599), columnar. ``gdoc`` is the per-glyph document
    index of a batched frame: a pending diacritic never merges across a
    document boundary (each document's interpreter starts fresh)."""
    is_dia = gl["is_dia"]
    is_ws = gl["is_ws"]
    if not is_dia.any():
        keep = ~is_ws
        if keep.all():
            return gl, gdoc
        return {k: v[keep] for k, v in gl.items()}, gdoc[keep]
    # restrict to diacritics + non-whitespace glyphs (ws rows are inert:
    # they neither merge nor clear the pending diacritic). Only the four
    # columns the merge decision reads are gathered on this sub-selection;
    # the surviving rows ((is_dia | ~is_ws) & ~is_dia == ~is_ws & ~is_dia)
    # are then selected from the ORIGINAL frame in one pass.
    sel = np.nonzero(is_dia | ~is_ws)[0]
    d = is_dia[sel]
    x, w = gl["x"][sel], gl["width"][sel]
    sdoc = gdoc[sel]
    prev_dia = np.empty_like(d)
    prev_dia[0] = False
    prev_dia[1:] = d[:-1]
    centers = x + w / 2
    contains = np.zeros(len(d), dtype=bool)
    contains[1:] = ((centers[:-1] >= x[1:]) & (centers[:-1] <= x[1:] + w[1:])
                    & (sdoc[1:] == sdoc[:-1]))
    merge = prev_dia & ~d & contains
    if merge.any():
        uni = gl["unicode"]
        for i in np.nonzero(merge)[0].tolist():
            j = sel[i]
            uni[j] = uni[j] + uni[sel[i - 1]]
    keep = ~is_ws & ~is_dia
    return {k: v[keep] for k, v in gl.items()}, gdoc[keep]


def boxes_core(gl0: dict, gdoc0: np.ndarray,
               flushes: list[dict]) -> tuple[dict, np.ndarray]:
    """Many documents' glyphs -> ONE global box frame + per-box doc
    index, in doc-major order. ``gl0``/``gdoc0``: a batch-global glyph
    frame and its per-glyph doc index (``interp.glyph_frame``).

    The gaps-and-islands chunking is per-document by definition; the
    batch forces a split at every document boundary (``lastText ==
    null`` at each interpreter start), so the lagged comparisons,
    segmented reductions and text joins all run once per Arrow batch
    instead of once per document. Every rule below is the per-document
    rule with an explicit same-document guard where a lagged comparison
    could otherwise cross a boundary."""
    if len(gl0["key"]) == 0:
        return _empty_boxes(), np.empty(0, dtype=np.int64)
    any_dia = bool(gl0["is_dia"].any())

    gl, gdoc = merge_diacritics(gl0, gdoc0)
    n = len(gl["key"])
    if n == 0:
        return _empty_boxes(), np.empty(0, dtype=np.int64)

    x = gl["x"]
    y = gl["y"]
    w = gl["width"]
    rtl = gl["rtl"]
    page = gl["page_no"]

    doc_changed = np.zeros(n, dtype=bool)
    doc_changed[1:] = gdoc[1:] != gdoc[:-1]

    # T1: geometric split (float32 arithmetic like the reference)
    split = np.empty(n, dtype=bool)
    split[0] = True  # lastText == null
    distx = (x[1:] - (x[:-1] + w[:-1])).astype(np.float32)
    disty = (y[1:] - y[:-1]).astype(np.float32)
    split[1:] = (distx > 1.0) | (distx < -6.0) | (np.abs(disty) > 1.0)
    split[1:] |= rtl[1:] != rtl[:-1]
    # T2: style-identity split — one int comparison per glyph (the 8-field
    # identity is precomputed per show in interp.glyph_frame, with
    # float32-rounded numerics)
    sidv = gl["style_id"]
    split[1:] |= sidv[1:] != sidv[:-1]
    # document boundary = fresh interpreter (lastText == null)
    split |= doc_changed

    page_changed = np.zeros(n, dtype=bool)
    page_changed[1:] = page[1:] != page[:-1]
    start = split | page_changed
    inherit = page_changed & ~split  # stale-curstyle case (never at a
    #                                  doc boundary: split is forced there)

    starts = np.nonzero(start)[0]
    nb = len(starts)
    lasts = np.concatenate((starts[1:] - 1, [n - 1]))

    # segmented aggregates (TextMetrics.java:28-55)
    ascent = np.maximum.reduceat(gl["ascent"], starts)
    descent = np.minimum.reduceat(gl["descent"], starts)
    bx = x[starts]
    baseline = y[starts]
    bwidth = x[lasts] + w[lasts] - bx
    ys_first = gl["yscale"][starts]
    bbox_asc = fontmod.BBOX_ASCENT / 1000.0 * ys_first
    bbox_desc = fontmod.BBOX_DESCENT / 1000.0 * ys_first
    top = np.where(ascent != 0, baseline - ascent, baseline - bbox_asc)
    bottom = np.where(descent != 0, baseline - descent, baseline - bbox_desc)
    line_height = bottom - top

    # ordered concat + RTL reverse by first buffered char. The per-glyph
    # ``rtl`` column IS ``bidirectional(first char) in _RTL_BIDI`` for every
    # glyph (diacritic merges append the mark to the base, never prepend,
    # so a merged glyph's first char keeps the base flag) — the per-box
    # unicodedata call collapses to one precomputed lookup.
    uni = gl["unicode"]
    texts = np.empty(nb, dtype=object)
    bounds = np.append(starts, n)
    rtl_first = rtl[starts]
    if not any_dia:
        # fast path: every glyph is one char, so one global join + O(1)
        # string slices per box (beats per-box object-array joins)
        all_text = "".join(uni.tolist())
        for i in range(nb):
            t = all_text[bounds[i]:bounds[i + 1]]
            texts[i] = t[::-1] if rtl_first[i] else t
    else:
        # merged diacritics make some glyphs multi-char: slice ONE global
        # join at per-glyph CHAR offsets instead of joining per box
        ulist = uni.tolist()
        clens = np.fromiter((len(u) for u in ulist), dtype=np.int64,
                            count=n)
        coffs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(clens, out=coffs[1:])
        all_text = "".join(ulist)
        cb = coffs[bounds]
        for i in range(nb):
            t = all_text[cb[i]:cb[i + 1]]
            texts[i] = t[::-1] if rtl_first[i] else t

    # emission key: next box's start glyph if on the same page (of the
    # same document), else this page's end-of-stream flush
    # (PDFBoxTree.java:639-644,208)
    start_keys = gl["key"][starts]
    pages = page[starts].astype(np.int64)
    box_doc = gdoc[starts]
    flush_keys = np.array(
        [flushes[int(d)].get(int(p), 2**62)
         for d, p in zip(box_doc, pages)], dtype=np.int64)
    emit = flush_keys
    if nb > 1:
        same_page = (pages[1:] == pages[:-1]) & (box_doc[1:] == box_doc[:-1])
        emit[:-1] = np.where(same_page, start_keys[1:], flush_keys[:-1])

    out = {
        "key": emit.astype(np.int64),
        "page_no": pages,
        "kind": np.full(nb, "text", dtype=object),
        "text": texts,
        "media_ref": np.full(nb, None, dtype=object),
        "style_line_height": line_height.astype(np.float64),
        "style_left": bx.astype(np.float64),
        "style_top": top.astype(np.float64),
        "style_width": bwidth.astype(np.float64),
        "style_height": np.full(nb, np.nan),
        "style_angle": np.full(nb, np.nan),
        "style_stroke_width": np.full(nb, np.nan),
    }
    for out_col, src in BOX_STYLE_MAP.items():
        out[out_col] = gl[src][starts].copy()
    # stale-style inheritance: rare; patch forward from the previous box
    # (an inherit box is never its document's first box — split is forced
    # at doc boundaries — so i-1 is always a same-document box)
    if inherit.any():
        inh_mask = inherit[starts]
        for i in np.nonzero(inh_mask)[0]:
            if i == 0:
                continue
            for out_col in BOX_STYLE_MAP:
                out[out_col][i] = out[out_col][i - 1]
    return out, box_doc


def _empty_boxes() -> dict:
    cols = ["key", "page_no", "kind", "text", "media_ref",
            "style_line_height", "style_left", "style_top", "style_width",
            "style_height", "style_angle", "style_stroke_width",
            *BOX_STYLE_MAP.keys()]
    return {c: np.array([], dtype=object) for c in cols}
