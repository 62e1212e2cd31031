"""Kernel unit tests (no Spark): tokenizer, fonts, split rules, metrics,
transforms — assertions transposed from the reference's semantics with
file:line citations."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pdf2dom_spark import fonts
from pdf2dom_spark.interp import (DocInterp, color_hex, doc_tokens,
                                  page_transform, apply_pts, _to_rectangle)
from pdf2dom_spark.tokenizer import tokenize


# --- tokenizer ----------------------------------------------------------------

def test_tokenize_basic():
    ops = tokenize("BT /F1 12 Tf 1 0 0 1 72 720 Tm (Hi) Tj ET")
    assert [o for o, _ in ops] == ["BT", "Tf", "Tm", "Tj", "ET"]
    assert ops[1][1] == ["F1", 12.0]
    assert ops[3][1] == ["Hi"]


def test_tokenize_escapes_and_tj_array():
    ops = tokenize(r"[ (a\(b\)) -120 (c\\d) ] TJ")
    assert ops[0][0] == "TJ"
    assert ops[0][1][0] == ["a(b)", -120.0, "c\\d"]


def test_tokenize_star_ops_and_quotes():
    ops = tokenize("T* (x) ' 1 2 (y) \" f* B* b*")
    assert [o for o, _ in ops] == ["T*", "'", '"', "f*", "B*", "b*"]


# --- fonts ----------------------------------------------------------------------

def test_find_font_family_subset_prefix():
    # FontTable.java:105-118: group(1)+' '+group(2), '+' -> ' '
    assert fonts.find_font_family("EKCFJL+Omsym2") == "EKCFJL Omsym2"
    assert fonts.find_font_family("Arial-Bold") == "Arial Bold"
    assert fonts.find_font_family("Mono") == "Mono"


def test_known_family_and_weight_style():
    # PDFBoxTree.java:756-764, 719-735
    assert fonts.find_known_font_family("XYZArialMT") == "Arial"
    assert fonts.find_known_font_family("TimesNewRomanPSMT") == "Times New Roman"
    assert fonts.find_known_font_family("Unknown") == ""
    # 'bold' wins over 'bolditalic' (loop order, mirrored bug)
    assert fonts.font_weight_style("X-BoldItalic") == ("bold", "normal")
    assert fonts.font_weight_style("X-Italic") == ("normal", "italic")
    assert fonts.font_weight_style("Plain") == ("normal", "normal")


def test_font_table_dedup_naming():
    # FontTable.java:77-88: name, name1, name2...
    t = fonts.FontTable()
    t.add_entry("A+Sub")
    t.add_entry("B+Sub")  # same family string? no: 'B Sub' differs
    t.add_entry("A+Sub")  # duplicate key -> ignored
    assert [e["used_name"] for e in t.entries] == ["A Sub", "B Sub"]
    t2 = fonts.FontTable()
    t2.add_entry("X+F")
    t2.add_entry("X-F")   # same family 'X F' -> suffix
    assert [e["used_name"] for e in t2.entries] == ["X F", "X F1"]
    t2.add_entry("Bad-T1")  # unsupported Type1 skipped (PDFBoxTree.java:390)
    assert len(t2.entries) == 2


# --- geometry -------------------------------------------------------------------

@pytest.mark.parametrize("rot,pt,expect", [
    (0, (0, 0), (0, 792)),       # PDF origin -> bottom-left of display
    (0, (10, 792), (10, 0)),
    (90, (0, 0), (0, 0)),        # derived from PDFBoxTree.java:831-855
    (90, (612, 0), (0, 612)),
    (180, (0, 0), (612, 0)),
    (270, (0, 0), (792, 612)),
])
def test_page_transform(rot, pt, expect):
    m = page_transform(612, 792, rot)
    out = apply_pts(m, np.array([pt], dtype=float))[0]
    assert out == pytest.approx(expect, abs=1e-9)


def test_to_rectangle():
    # PDFBoxTree.java:325-348
    rect = [(0, 0, 10, 0), (10, 0, 10, 5), (10, 5, 0, 5), (0, 5, 0, 0)]
    assert _to_rectangle(rect) == [0, 0, 10, 5]
    assert _to_rectangle(rect[:3]) is None
    slanted = [(0, 0, 10, 1), (10, 1, 10, 5), (10, 5, 0, 5), (0, 5, 0, 0)]
    assert _to_rectangle(slanted) is None


def test_color_hex_truncation():
    # PDFBoxTree.java:915-930: (int)(0.999*255) = 254 -> #fe
    assert color_hex((0.999, 0.0, 1.0)) == "#fe00ff"
    assert color_hex((0.502, 0, 1)) == "#8000ff"


# --- split rules end-to-end through the interpreter ------------------------------

def _boxes(stream: str):
    from pdf2dom_spark.extract import extract_doc
    rows = extract_doc("t", [{"kind": "text", "text": stream,
                              "media_ref": None, "offset": 0}])
    return [r for r in rows if r["kind"] == "text"]


PG = "612 792 0 PG "


def test_split_thresholds_exact():
    # PDFBoxTree.java:632: distx > 1.0 splits, distx == 0.9 does not;
    # 'ab' in Mono 10pt is 10pt wide
    b = _boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm (ab) Tj "
               "1 0 0 1 110.9 700 Tm (cd) Tj ET")
    assert [x["text"] for x in b] == ["abcd"]
    b = _boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm (ab) Tj "
               "1 0 0 1 111.1 700 Tm (cd) Tj ET")
    assert [x["text"] for x in b] == ["ab", "cd"]
    # negative overlap: > -6.0 merges, < -6.0 splits
    b = _boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm (ab) Tj "
               "1 0 0 1 104.1 700 Tm (cd) Tj ET")
    assert [x["text"] for x in b] == ["abcd"]
    b = _boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm (ab) Tj "
               "1 0 0 1 103.8 700 Tm (cd) Tj ET")
    assert [x["text"] for x in b] == ["ab", "cd"]
    # disty
    b = _boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm (ab) Tj "
               "1 0 0 1 110 700.9 Tm (cd) Tj ET")
    assert [x["text"] for x in b] == ["abcd"]
    b = _boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm (ab) Tj "
               "1 0 0 1 110 701.1 Tm (cd) Tj ET")
    assert [x["text"] for x in b] == ["ab", "cd"]


def test_style_change_splits():
    # PDFBoxTree.java:635-637 + BoxStyle identity (BoxStyle.java:366-405)
    b = _boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm (ab) Tj "
               "0.5 0 0 rg (cd) Tj ET")
    assert [(x["text"], x["style_color"]) for x in b] == [
        ("ab", "#000000"), ("cd", "#7f0000")]
    # lineHeight is NOT identity -> no split on pure size-independent change
    b = _boxes(PG + "BT /Mono 10 Tf 0.5 Tw 1 0 0 1 100 700 Tm (ab) Tj ET")
    assert b[0]["style_word_spacing"] == pytest.approx(0.5)


def test_word_spacing_sticky_across_Q():
    # the reference's style.wordSpacing is set on Tw and never restored on Q
    # (PDFBoxTree.java:425-428); a Tw inside q..Q leaks into later boxes
    b = _boxes(PG + "BT /Mono 10 Tf q 2 Tw Q 1 0 0 1 100 700 Tm (ab) Tj ET")
    assert b[0]["style_word_spacing"] == pytest.approx(2.0)


def test_whitespace_dropped_and_word_split():
    # PDFBoxTree.java:599: space glyphs never enter the buffer; the 2.5pt
    # space advance (Mono 10pt) exceeds 1.0 -> box per word
    b = _boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm (ab cd) Tj ET")
    assert [x["text"] for x in b] == ["ab", "cd"]
    # at 4pt mono the space advance is 2.0 > 1.0 still splits; with TJ
    # kerning pulling back it merges
    b = _boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm [ (ab) -30 (cd) ] TJ ET")
    # -30/1000*10 = -0.3pt -> distx = -0.3 -> merge
    assert [x["text"] for x in b] == ["abcd"]


def test_rtl_reverse_and_flip_split():
    # PDFBoxTree.java:666-669 + directionality split at :633
    b = _boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm (ab) Tj (שלום) Tj ET")
    assert [x["text"] for x in b] == ["ab", "םולש"]


def test_diacritic_merge():
    # PDFBoxTree.java:595-605
    from pdf2dom_spark.corpus import dia_frag
    b = _boxes(PG + "BT /Mono 10 Tf " + dia_frag(100, 700) + " ET")
    assert [x["text"] for x in b] == ["é"]


def test_merged_diacritic_in_rtl_box():
    # the mark merges after its base (lamed + qamats); the RTL box is then
    # reversed as one string, so the mark comes first
    b = _boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm (ש) Tj "
               "1 0 0 1 105 700 Tm (ָ) Tj "
               "1 0 0 1 105 700 Tm (ל) Tj ET")
    assert [x["text"] for x in b] == ["ָלש"]


def test_supplementary_plane_chars_in_ltr_and_rtl_boxes():
    # 4-byte UTF-8 chars: MATHEMATICAL BOLD CAPITAL A (LTR) and two
    # Phoenician letters (RTL), next to 1- and 2-byte chars in the same
    # boxes; the direction flips split the boxes
    b = _boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm "
               "(a\U0001d400b) Tj (א\U00010900\U00010901) Tj (c) Tj ET")
    assert [x["text"] for x in b] == [
        "a\U0001d400b", "\U00010901\U00010900א", "c"]


def test_second_of_two_diacritics_merges():
    # a diacritic replaces the pending one: the grave merges into 'e', the
    # acute before it is dropped
    b = _boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm (́) Tj "
               "1 0 0 1 100 700 Tm (̀) Tj "
               "1 0 0 1 100 700 Tm (e) Tj ET")
    assert [x["text"] for x in b] == ["è"]


def test_glyph_frame_holds_only_numbers():
    from pdf2dom_spark.corpus import dia_frag
    from pdf2dom_spark.extract import batch_parts, extract_doc_parts
    from pdf2dom_spark.interp import chunk_frame, glyph_frame
    from pdf2dom_spark.schema import doc_batch

    spans = [{"kind": "text", "media_ref": None, "offset": 0,
              "text": PG + "BT /Mono 10 Tf " + dia_frag(100, 700)
              + " (a b) Tj ET"}]
    _recs, shows, _flush = extract_doc_parts("t", spans)
    for chunks in (chunk_frame([shows]),
                   batch_parts(doc_batch(["t"], [spans])).chunks):
        frame, gdoc = glyph_frame(chunks)
        assert len(frame["key"]) == 5  # mark, e, a, space, b
        assert [c for c, v in frame.items() if v.dtype == object] == []
        assert gdoc.dtype != object


def test_metrics_formulas():
    # TextMetrics.java:28-55: width telescopes, top = baseline - max ascent,
    # lineHeight = bottom - top
    b = _boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm (abcd) Tj ET")
    assert b[0]["style_left"] == pytest.approx(100.0)
    assert b[0]["style_width"] == pytest.approx(20.0)
    assert b[0]["style_top"] == pytest.approx(92.0 - 8.0)  # baseline 92
    assert b[0]["style_line_height"] == pytest.approx(10.0)


def test_page_gate_one_based():
    # PDFBoxTree.java:200-210 with getCurrentPageNo() 1-based
    from pdf2dom_spark.extract import ExtractConfig, extract_doc
    stream = " ".join(PG + f"BT /Mono 10 Tf 1 0 0 1 72 700 Tm (#{k}) Tj ET"
                      for k in (1, 2, 3))
    spans = [{"kind": "text", "text": stream, "media_ref": None, "offset": 0}]
    rows = extract_doc("d", spans, ExtractConfig(start_page=0, end_page=1))
    texts = [r["text"] for r in rows if r["kind"] == "text"]
    assert texts == ["#1"]
    rows = extract_doc("d", spans, ExtractConfig(start_page=2, end_page=3))
    texts = [r["text"] for r in rows if r["kind"] == "text"]
    assert texts == ["#2", "#3"]


def test_rendering_mode_stroke_only_box():
    # Tr 1 -> transparent fill + stroke color (PDFBoxTree.java:766-791)
    b = _boxes(PG + "BT /Mono 10 Tf 1 0 1 RG 1 Tr 1 0 0 1 100 700 Tm (x) Tj ET")
    assert b[0]["style_color"] == "rgba(0,0,0,0)"
    assert b[0]["style_stroke_color"] == "#ff00ff"


def test_cm_scale_affects_fontsize_and_width():
    # fontSize = getXScale (PDFBoxTree.java:713) includes CTM scaling
    b = _boxes(PG + "q 2 0 0 2 0 0 cm BT /Mono 10 Tf 1 0 0 1 50 350 Tm (ab) Tj ET Q")
    assert b[0]["style_font_size"] == pytest.approx(20.0)
    assert b[0]["style_width"] == pytest.approx(20.0)
    assert b[0]["style_left"] == pytest.approx(100.0)


def test_interp_graphics_events_and_order():
    spans = [{"kind": "text", "text": PG +
              "BT /Mono 10 Tf 1 0 0 1 100 700 Tm (aa) Tj ET "
              "0 0 0 rg 10 10 5 5 re f "
              "BT 1 0 0 1 100 650 Tm (bb) Tj ET",
              "media_ref": None, "offset": 0}]
    from pdf2dom_spark.extract import extract_doc
    rows = extract_doc("d", spans)
    kinds = [r["kind"] for r in rows]
    # box 'aa' flushes when 'bb' starts -> AFTER the rect (appendChild order)
    assert kinds == ["page", "rect", "text", "text", "font"]
    assert rows[2]["text"] == "aa"
