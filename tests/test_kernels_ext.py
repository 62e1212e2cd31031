"""Extended kernel tests: the less-travelled operators (Tz, Ts, ', ",
TJ kerning splits, gray/CMYK/scn colors, fill+stroke paints, TL/TD/T*,
q/Q nesting, page-state reset)."""

from __future__ import annotations

import pytest

from pdf2dom_spark.extract import extract_doc

PG = "612 792 0 PG "


def rows(stream: str):
    return extract_doc("t", [{"kind": "text", "text": stream,
                              "media_ref": None, "offset": 0}])


def boxes(stream: str):
    return [r for r in rows(stream) if r["kind"] == "text"]


def test_tz_horizontal_scaling():
    # Tz 200 doubles advances and getXScale (PDF 32000 9.3.4)
    b = boxes(PG + "BT /Mono 10 Tf 200 Tz 1 0 0 1 100 700 Tm (ab) Tj ET")
    assert b[0]["style_width"] == pytest.approx(20.0)
    assert b[0]["style_font_size"] == pytest.approx(20.0)  # getXScale


def test_ts_rise_moves_baseline():
    b = boxes(PG + "BT /Mono 10 Tf 5 Ts 1 0 0 1 100 700 Tm (ab) Tj ET")
    # rise lifts the baseline by 5 in user space -> device y drops by 5
    assert b[0]["style_top"] == pytest.approx(792 - 705 - 8)


def test_quote_operators_advance_leading():
    b = boxes(PG + "BT /Mono 10 Tf 14 TL 1 0 0 1 100 700 Tm "
              "(one) Tj (two) ' ET")
    # ' = T* then Tj: second box one leading (14pt) below
    assert [x["text"] for x in b] == ["one", "two"]
    assert b[1]["style_top"] - b[0]["style_top"] == pytest.approx(14.0)
    assert b[1]["style_left"] == pytest.approx(100.0)


def test_doublequote_sets_spacing():
    b = boxes(PG + "BT /Mono 10 Tf 14 TL 1 0 0 1 100 700 Tm "
              '(x) Tj 2 0.5 (y) " ET')
    # " aw ac s: updates the TRUE text state (advances) but NOT the sticky
    # Pdf2Dom style fields — PDFBoxTree's switch matches only literal
    # Tw/Tc operators (PDFBoxTree.java:425-434) and PDFBox's
    # ShowTextLineAndSpace never dispatches them (corrected in round 4;
    # this test previously pinned the unfaithful transposition)
    assert b[-1]["style_word_spacing"] == pytest.approx(0.0)
    assert b[-1]["style_letter_spacing"] == pytest.approx(0.0)
    # the next-line move (T*-equivalent) still happened
    assert b[-1]["style_top"] - b[0]["style_top"] == pytest.approx(14.0)


def test_tj_positive_kern_splits():
    # positive TJ displacement -> -(n)/1000*fs = gap; -300 -> +3pt gap > 1
    b = boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm [ (ab) -300 (cd) ] TJ ET")
    assert [x["text"] for x in b] == ["ab", "cd"]
    assert b[1]["style_left"] == pytest.approx(113.0)


def test_td_td_tstar_leading():
    b = boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm (a) Tj "
              "0 -20 TD (b) Tj T* (c) Tj ET")
    # TD sets leading=20 and moves; T* repeats the move
    tops = [x["style_top"] for x in b]
    assert tops[1] - tops[0] == pytest.approx(20.0)
    assert tops[2] - tops[1] == pytest.approx(20.0)


def test_gray_and_cmyk_colors():
    b = boxes(PG + "BT /Mono 10 Tf 0.5 g 1 0 0 1 100 700 Tm (a) Tj ET")
    assert b[0]["style_color"] == "#7f7f7f"
    b = boxes(PG + "BT /Mono 10 Tf 0 1 1 0 k 1 0 0 1 100 700 Tm (a) Tj ET")
    assert b[0]["style_color"] == "#ff0000"  # naive (1-c)(1-k)
    b = boxes(PG + "BT /Mono 10 Tf 0.2 0.4 0.6 sc 1 0 0 1 100 700 Tm (a) Tj ET")
    assert b[0]["style_color"] == "#336699"


def test_fill_and_stroke_rect_has_both_colors():
    r = [x for x in rows(PG + "2 w 0.5 0 0 rg 0 0 1 RG "
                         "100 100 50 20 re B") if x["kind"] == "rect"]
    assert r[0]["style_color"] == "#7f0000"
    assert r[0]["style_stroke_color"] == "#0000ff"
    # stroke-width compensation (PDFDomTree.java:337-368): lw=2 -> offset 1
    assert r[0]["style_left"] == pytest.approx(99.0)
    assert r[0]["style_width"] == pytest.approx(48.0)


def test_close_and_paint_ops():
    # s closes the subpath before stroking -> triangle = 3 lines
    out = rows(PG + "1 w 0 0 0 RG 100 100 m 200 100 l 150 180 l s")
    lines = [x for x in out if x["kind"] == "line"]
    assert len(lines) == 3
    # b closes + fills + strokes: 4 segments from a rect-shaped path -> rect
    out = rows(PG + "0.5 0 0 rg 0 0 1 RG 1 w "
               "100 100 m 200 100 l 200 150 l 100 150 l b")
    rects = [x for x in out if x["kind"] == "rect"]
    assert len(rects) == 1
    assert rects[0]["style_color"] == "#7f0000"
    assert rects[0]["style_stroke_color"] == "#0000ff"


def test_q_nesting_restores_ctm_and_colors():
    b = boxes(PG + "BT /Mono 10 Tf q 2 0 0 2 0 0 cm q 0.5 0 0 rg "
              "1 0 0 1 50 350 Tm (a) Tj Q 1 0 0 1 50 340 Tm (b) Tj Q "
              "1 0 0 1 100 600 Tm (c) Tj ET")
    assert [x["text"] for x in b] == ["a", "b", "c"]
    assert b[0]["style_color"] == "#7f0000"
    assert b[1]["style_color"] == "#000000"     # inner Q restored color
    assert b[1]["style_font_size"] == pytest.approx(20.0)  # ctm still 2x
    assert b[2]["style_font_size"] == pytest.approx(10.0)  # outer Q restored


def test_page_reset_clears_text_state():
    # PDFBox builds a fresh PDGraphicsState per page: font does not carry
    out = rows(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm (a) Tj ET "
               + PG + "BT 1 0 0 1 100 700 Tm (b) Tj ET")
    b = [x for x in out if x["kind"] == "text"]
    # page 2 has no Tf: fsize 0 -> zero-width box, family falls back
    assert b[1]["style_font_size"] == 0.0
    assert b[1]["style_width"] == 0.0


def test_n_discards_and_empty_paint_noop():
    out = rows(PG + "100 100 m 200 200 l n 0.5 0 0 rg f")
    assert [x["kind"] for x in out] == ["page"]


def test_unknown_ops_ignored():
    b = boxes(PG + "BT /Mono 10 Tf 1 0 0 1 100 700 Tm "
              "3 Tr 0 Tr /GS1 gs (ok) Tj BX weird EX ET")
    assert [x["text"] for x in b] == ["ok"]


def test_pathological_docs_parity_vs_duckdb(spark, tmp_path):
    """Docs with repeated/leading/trailing spaces keep the extraction
    oracles in cross-engine agreement (code-review regression: the kernel
    drops empty words, so the oracle must filter + renumber its word
    stream). Mid-word combining marks are outside the grid oracle's word
    domain (see queries.py note + test_dia_gap_splits_box) and covered for
    rtl_reverse by test_rtl_reverse_codepoint_semantics."""
    import duckdb
    import math
    import pandas as pd
    from pdf2dom_spark.queries import REGISTRY, ORACLES

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "lang": ["en", "en", "en"],
        "text": ["alpha  beta ", " gamma delta  epsilon",
                 "plain words only"],
        "n_chars": [12, 21, 14],
        "source": ["t", "t", "t"],
    })
    sf = str(tmp_path)
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf}/documents.parquet/*.parquet'")

    def canon(v):
        if isinstance(v, float):
            return None if math.isnan(v) else round(v, 6)
        return v

    for name in ("rtl_reverse", "extract_spans_oracle",
                 "extract_spans_rich_lite", "extract_page_range"):
        sdf = REGISTRY[name](spark, sf)
        cols = sorted(sdf.columns)
        srows = sorted((tuple(canon(r[c]) for c in cols)
                        for r in sdf.collect()), key=repr)
        ddf = con.sql(ORACLES[name]).df()
        drows = sorted((tuple(canon(v) for v in
                              (row[c] for c in cols))
                        for row in ddf.to_dict("records")), key=repr)
        assert len(srows) == len(drows), (name, len(srows), len(drows))
        assert srows == drows, (name, srows[:3], drows[:3])


def test_rtl_reverse_codepoint_semantics(spark, tmp_path):
    """DuckDB's bare reverse() is grapheme-based; the oracle must reverse
    codepoints like Spark/Java (code-review regression)."""
    import duckdb
    import pandas as pd
    from pdf2dom_spark.queries import ORACLES, REGISTRY

    pdf = pd.DataFrame({"doc_id": [1], "lang": ["en"],
                        "text": ["xéy"], "n_chars": [4],
                        "source": ["t"]})
    sf = str(tmp_path)
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf}/documents.parquet/*.parquet'")
    srow = REGISTRY["rtl_reverse"](spark, sf).collect()[0]
    drow = con.sql(ORACLES["rtl_reverse"]).fetchone()
    assert srow.rev == drow[1] == "ýex"


def test_dia_gap_splits_box():
    """A dropped mid-word diacritic leaves its advance: the next glyph's
    distx exceeds +1 and the box splits — exactly the reference's
    processTextPosition behavior (lastText not updated for diacritics)."""
    from pdf2dom_spark.extract import extract_doc

    frag = ("612 792 0 PG BT /Mono 10 Tf 1 0 0 1 72 700 Tm "
            "(xéy) Tj ET")
    rows = extract_doc("d", [{"kind": "text", "text": frag,
                              "media_ref": None, "offset": 0}])
    texts = [r["text"] for r in rows if r["kind"] == "text"]
    assert texts == ["xe", "y"]


def test_widths_span_overrides_metrics():
    """A kind='widths' span switches the named font to REAL per-code
    advances (default + per-code overrides); other fonts keep the
    heuristic table. Geometry is hand-computable: x advances by
    milli/1000 * size per glyph."""
    from pdf2dom_spark.extract import ExtractConfig, extract_doc

    spans = [
        {"kind": "widths", "text": "default:500 65:700 66:300",
         "media_ref": "widths:Real", "offset": 0},
        {"kind": "text", "text": (
            "612 792 0 PG BT /Real 10 Tf 1 0 0 1 100 700 Tm (AB C) Tj "
            "ET"), "media_ref": None, "offset": 1},
    ]
    rows = extract_doc("d", spans, ExtractConfig())
    words = [r for r in rows if r["kind"] == "text"]
    assert [w["text"] for w in words] == ["AB", "C"]
    # A=700, B=300 milli at 10pt -> AB box is 7.0 + 3.0 = 10.0 wide
    assert words[0]["style_width"] == pytest.approx(10.0, abs=1e-6)
    # space advance = default 500 milli -> C starts at 100 + 10 + 5
    assert words[1]["style_left"] == pytest.approx(115.0, abs=1e-6)


def test_widths_span_cid_keyed_by_raw_code():
    """For a bytes:2 font the widths table is keyed by the RAW CID (pair
    code), not the decoded char."""
    from pdf2dom_spark.extract import ExtractConfig, extract_doc

    # CID 0x0102 -> 'X' (0x58), width 800; CID 0x0103 -> 'Y', width 250
    spans = [
        {"kind": "cmap", "text": "bytes:2 258:0058 259:0059",
         "media_ref": "cmap:C2", "offset": 0},
        {"kind": "widths", "text": "default:500 258:800 259:250",
         "media_ref": "widths:C2", "offset": 1},
        {"kind": "text", "text": (
            "612 792 0 PG BT /C2 10 Tf 1 0 0 1 50 700 Tm "
            "(\x01\x02\x01\x03) Tj ET"), "media_ref": None, "offset": 2},
    ]
    rows = extract_doc("d", spans, ExtractConfig())
    w = [r for r in rows if r["kind"] == "text"]
    assert [x["text"] for x in w] == ["XY"]
    assert w[0]["style_width"] == pytest.approx(10.5, abs=1e-6)  # 8.0+2.5


def test_widths_spans_replicated_by_pagesplit():
    from pdf2dom_spark.pagesplit import split_doc

    spans = [
        {"kind": "widths", "text": "default:500 65:700",
         "media_ref": "widths:W", "offset": 0},
        {"kind": "text", "text": "612 792 0 PG BT /W 10 Tf (A) Tj ET",
         "media_ref": None, "offset": 1},
        {"kind": "text", "text": "612 792 0 PG BT /W 10 Tf (A) Tj ET",
         "media_ref": None, "offset": 2},
    ]
    groups = split_doc("d", spans, pages_per_group=1, min_bytes=0)
    assert len(groups) == 2
    for g in groups:
        assert any(s["kind"] == "widths" for s in g["spans"])


def test_unmapped_surrogate_cid_never_crashes():
    """An Identity-H show string whose CID lands in the surrogate range
    (and a cmap entry mapping INTO it) must extract as U+FFFD, not raise
    UnicodeEncodeError and kill the task."""
    from pdf2dom_spark.extract import ExtractConfig, extract_doc

    spans = [
        {"kind": "cmap", "text": "bytes:2 65:d835", "media_ref": "cmap:S",
         "offset": 0},
        {"kind": "text", "text": (
            "612 792 0 PG BT /S 10 Tf 1 0 0 1 50 700 Tm "
            "(\xd8\x05\x00\x41) Tj ET"), "media_ref": None, "offset": 1},
    ]
    rows = extract_doc("d", spans, ExtractConfig())
    texts = [r["text"] for r in rows if r["kind"] == "text"]
    assert texts == ["��"]  # CID 0xD805 unmapped + 65 -> U+D835


def test_quote_op_does_not_mutate_sticky_spacing():
    """The '\"' operator sets the true text state (advances) but NOT the
    sticky Pdf2Dom style spacing — PDFBoxTree's switch matches only
    literal Tw/Tc operators."""
    from pdf2dom_spark.extract import ExtractConfig, extract_doc

    spans = [{"kind": "text", "text": (
        '612 792 0 PG BT /Mono 10 Tf 2 Tw 1 0 0 1 50 700 Tm (a) Tj '
        'T* 0.5 0.1 (b) " ET'), "media_ref": None, "offset": 0}]
    rows = extract_doc("d", spans, ExtractConfig())
    words = [r for r in rows if r["kind"] == "text"]
    # style word_spacing stays at the literal-Tw value on BOTH shows
    assert all(w["style_word_spacing"] == pytest.approx(2.0)
               for w in words)


def test_show_ops_read_first_operand():
    """Damaged streams with stray operands: PDFBox reads arguments.get(0)
    and requires the right type — `(a) (b) Tj` shows 'a'; `(x) [(y)] TJ`
    shows nothing (first operand is not the array)."""
    from pdf2dom_spark.extract import ExtractConfig, extract_doc

    spans = [{"kind": "text", "text": (
        "612 792 0 PG BT /Mono 10 Tf 1 0 0 1 50 700 Tm (a) (b) Tj "
        "1 0 0 1 50 650 Tm (x) [(y)] TJ ET"), "media_ref": None,
        "offset": 0}]
    rows = extract_doc("d", spans, ExtractConfig())
    texts = [r["text"] for r in rows if r["kind"] == "text"]
    assert texts == ["a"]


def test_descent_only_vmetrics_apply():
    from pdf2dom_spark.extract import ExtractConfig, extract_doc

    spans = [
        {"kind": "widths", "text": "descent:-350", "media_ref": "widths:D",
         "offset": 0},
        {"kind": "text", "text": (
            "612 792 0 PG BT /D 10 Tf 1 0 0 1 50 700 Tm (hi) Tj ET"),
         "media_ref": None, "offset": 1},
    ]
    rows = extract_doc("d", spans, ExtractConfig())
    w = next(r for r in rows if r["kind"] == "text")
    # line height = (ascent 800 - descent -350)/1000 * 10
    assert w["style_line_height"] == pytest.approx(11.5, abs=1e-6)
