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
    keeps the stale previous style. That needs no code: such a glyph has
    the previous glyph's ``style_id``, which is keyed on exactly the eight
    style fields (the three numbers rounded to float32, the width the
    output stores), so the stale style equals the box's own;
  - finishBox: concat glyphs (a merged mark right after its base), reverse
    when the first buffered char is RTL (PDFBoxTree.java:666-669), so a
    reversed box's marks precede their bases; left = metrics.x,
    top = baseline - max ascent
    (with bbox fallback when ascent == 0, TextMetrics.java:41-47),
    line-height = bottom - top (TextMetrics.java:134-136), width telescopes
    to ``last.x + last.width - first.x`` (TextMetrics.java:30).
"""

from __future__ import annotations

import numpy as np

from . import fonts as fontmod
from .interp import page_key

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


def merge_diacritics(gl: dict, gdoc: np.ndarray
                     ) -> tuple[np.ndarray, np.ndarray]:
    """Pending-diacritic merge (PDFBoxTree.java:595-605) + whitespace drop
    (PDFBoxTree.java:599), columnar. Returns the indices of the kept
    glyphs (neither whitespace nor diacritic) and, per kept glyph, the
    code point of the diacritic merged into it (0: none).

    A diacritic is pending until the next non-whitespace glyph: that
    glyph takes it when it is no diacritic and contains the diacritic's
    center; a diacritic replaces a pending one, which is dropped.
    Whitespace glyphs are inert: they neither merge nor clear the pending
    diacritic. ``gdoc`` is the per-glyph document index of a batched
    frame: a pending diacritic never merges across a document boundary
    (each document's interpreter starts fresh)."""
    is_dia = gl["is_dia"]
    is_ws = gl["is_ws"]
    sel = np.flatnonzero(is_dia | ~is_ws)
    d = is_dia[sel]
    # (diacritic, next non-whitespace glyph) pairs where that glyph is no
    # diacritic; x, width, doc and code are read at these pairs only
    pair = np.flatnonzero(d[:-1] & ~d[1:])
    mk, base = sel[pair], sel[pair + 1]
    x, w = gl["x"], gl["width"]
    center = x[mk] + w[mk] / 2
    ok = ((center >= x[base]) & (center <= x[base] + w[base])
          & (gdoc[mk] == gdoc[base]))
    kept = np.flatnonzero(~(is_ws | is_dia))
    mark = np.zeros(len(kept), dtype=np.uint32)
    mark[np.searchsorted(kept, base[ok])] = gl["code"][mk[ok]]
    return kept, mark


def boxes_core(gl: dict, gdoc: np.ndarray, flushes: tuple,
               show_str: dict) -> tuple[dict, np.ndarray]:
    """Many documents' glyphs -> ONE global box frame + per-box doc
    index, in doc-major order. ``gl``/``gdoc``: a batch-global glyph
    frame and its per-glyph doc index (``interp.glyph_frame``);
    ``flushes``: the batch's ``interp.flush_table``; ``show_str``: the
    per-show string style columns (``ChunkFrame.obj``) that the frame's
    ``show`` column indexes. String columns come out as pyarrow string
    arrays, numbers as numpy arrays.

    The gaps-and-islands chunking is per-document by definition; the
    batch forces a split at every document boundary (``lastText ==
    null`` at each interpreter start), so the lagged comparisons,
    segmented reductions and text joins all run once per Arrow batch
    instead of once per document. Every rule below is the per-document
    rule with an explicit same-document guard where a lagged comparison
    could otherwise cross a boundary."""
    import pyarrow as pa

    kept, mark = merge_diacritics(gl, gdoc)
    n = len(kept)
    x = gl["x"][kept]
    y = gl["y"][kept]
    w = gl["width"][kept]
    rtl = gl["rtl"][kept]
    page = gl["page_no"][kept]
    doc = gdoc[kept]

    doc_changed = np.zeros(n, dtype=bool)
    doc_changed[1:] = doc[1:] != doc[:-1]

    # T1: geometric split (float32 arithmetic like the reference)
    split = np.ones(n, dtype=bool)  # [0]: lastText == null
    distx = (x[1:] - (x[:-1] + w[:-1])).astype(np.float32)
    disty = (y[1:] - y[:-1]).astype(np.float32)
    split[1:] = (distx > 1.0) | (distx < -6.0) | (np.abs(disty) > 1.0)
    split[1:] |= rtl[1:] != rtl[:-1]
    # T2: style-identity split — one int comparison per glyph (the 8-field
    # identity is precomputed per show in interp.glyph_frame, with
    # float32-rounded numerics)
    sidv = gl["style_id"][kept]
    split[1:] |= sidv[1:] != sidv[:-1]
    # document boundary = fresh interpreter (lastText == null)
    split |= doc_changed

    page_changed = np.zeros(n, dtype=bool)
    page_changed[1:] = page[1:] != page[:-1]
    starts = np.flatnonzero(split | page_changed)
    nb = len(starts)
    bounds = np.append(starts, n)
    lasts = bounds[1:] - 1
    first = kept[starts]  # each box's first glyph in the frame

    # segmented aggregates (TextMetrics.java:28-55)
    ascent = np.maximum.reduceat(gl["ascent"][kept], starts)
    descent = np.minimum.reduceat(gl["descent"][kept], starts)
    bx = x[starts]
    baseline = y[starts]
    bwidth = x[lasts] + w[lasts] - bx
    ys_first = gl["yscale"][first]
    bbox_asc = fontmod.BBOX_ASCENT / 1000.0 * ys_first
    bbox_desc = fontmod.BBOX_DESCENT / 1000.0 * ys_first
    top = np.where(ascent != 0, baseline - ascent, baseline - bbox_asc)
    bottom = np.where(descent != 0, baseline - descent, baseline - bbox_desc)
    line_height = bottom - top

    # emission key: next box's start glyph if on the same page (of the
    # same document), else this page's end-of-stream flush
    # (PDFBoxTree.java:639-644,208)
    pages = page[starts].astype(np.int64)
    box_doc = doc[starts]
    emit = _flush_keys(flushes, box_doc, pages)
    same_page = (pages[1:] == pages[:-1]) & (box_doc[1:] == box_doc[:-1])
    emit[:-1] = np.where(same_page, gl["key"][first[1:]], emit[:-1])

    sidx = gl["show"][first]
    out = {
        "key": emit,
        "page_no": pages,
        "kind": pa.repeat("text", nb),
        "text": _box_texts(gl["code"][kept], mark, bounds, rtl[starts]),
        "media_ref": pa.nulls(nb, pa.string()),
        "style_line_height": line_height.astype(np.float64),
        "style_left": bx.astype(np.float64),
        "style_top": top.astype(np.float64),
        "style_width": bwidth.astype(np.float64),
        "style_height": np.full(nb, np.nan),
        "style_angle": np.full(nb, np.nan),
        "style_stroke_width": np.full(nb, np.nan),
    }
    for out_col, src in BOX_STYLE_MAP.items():
        out[out_col] = (pa.array(show_str[src][sidx], type=pa.string())
                        if src in show_str else gl[src][first])
    return out, box_doc


def _box_texts(code: np.ndarray, mark: np.ndarray, bounds: np.ndarray,
               rtl_first: np.ndarray):
    """Box strings as ONE pyarrow string array: the kept glyphs' code
    points (``bounds``: each box's first glyph, then the glyph count),
    each merged mark right after its base, every box whose first glyph
    is RTL reversed (the per-glyph ``rtl`` flag is the bidi class of the
    glyph's own code point; a merge appends the mark, so it never changes
    a box's first char), then one UTF-32 decode."""
    import pyarrow as pa

    has = mark != 0
    coff = np.zeros(len(code) + 1, dtype=np.int64)
    np.cumsum(1 + has, out=coff[1:])
    cps = np.empty(int(coff[-1]), dtype="<u4")
    cps[coff[:-1]] = code
    cps[coff[:-1][has] + 1] = mark[has]
    cb = coff[bounds]
    # one reversal index over the RTL boxes' code points
    rb = np.flatnonzero(rtl_first)
    s, e = cb[rb], cb[rb + 1]
    ln = e - s
    src = np.arange(int(ln.sum())) + np.repeat(s - (np.cumsum(ln) - ln), ln)
    cps[src] = cps[np.repeat(s + e - 1, ln) - src]
    utf8 = cps.tobytes().decode("utf-32-le").encode("utf-8")
    boff = np.zeros(len(cps) + 1, dtype=np.int64)
    np.cumsum(1 + (cps >= 0x80).astype(np.int64) + (cps >= 0x800)
              + (cps >= 0x10000), out=boff[1:])
    return pa.LargeStringArray.from_buffers(
        len(cb) - 1, pa.py_buffer(boff[cb]),
        pa.py_buffer(utf8)).cast(pa.string())


def _flush_keys(flushes: tuple, box_doc: np.ndarray,
                pages: np.ndarray) -> np.ndarray:
    """Each box's page flush key (2**62: the page has none), by one
    sorted search of its (doc, page) in the flush table."""
    have, fkey = flushes
    want = page_key(box_doc, pages)
    i = np.searchsorted(have, want)
    hit = i < len(have)
    hit[hit] = have[i[hit]] == want[hit]
    out = np.full(len(want), 2**62, dtype=np.int64)
    out[hit] = fkey[i[hit]]
    return out
