"""Deterministic synthetic corpora (no external data; seed-free — everything
derives from doc ids and document text via md5).

Three layers:

1. ``fixture_docs()`` — per-fixture documents transposed from the reference's
   test corpus (FIXTURES.md §3; reference fixtures in
   /root/reference/src/test/resources/), each with a golden property asserted
   in tests/test_extract_golden.py.

2. ``oracle_stream(text)`` — the SQL-tractable corpus: mono-width font,
   fixed grid layout (8 words/line, 40 words/page, 10pt, 72pt margin).
   Extraction of these docs is exactly reproducible in ANSI SQL (DuckDB
   oracle), because every box is one word with closed-form geometry.

3. ``rich_stream(doc_id, text)`` — the interleaved text+media corpus used by
   the flagship query and the benchmark: multiple fonts/sizes/colors, Tw/Tc,
   TJ kerning, rects, lines, filled polygons, images (with q/cm placement),
   RTL runs, diacritics, page rotations, and a deterministic skew tail
   (some docs get many more pages — exercises the salted repartition).
"""

from __future__ import annotations

import hashlib

from .schema import DOC_SCHEMA, doc_batch

# ---------------------------------------------------------------------------
# layout constants shared with the SQL oracles (keep in sync with queries.py)
# ---------------------------------------------------------------------------
ORACLE_FONT = "Mono"
ORACLE_SIZE = 10.0
ORACLE_MARGIN = 72.0
ORACLE_WORDS_PER_LINE = 8
ORACLE_LINES_PER_PAGE = 5
ORACLE_WORDS_PER_PAGE = ORACLE_WORDS_PER_LINE * ORACLE_LINES_PER_PAGE
ORACLE_LINE_STEP = 14.0
ORACLE_Y0 = 720.0
PAGE_W, PAGE_H = 612.0, 792.0


def _h(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def text_span(text: str, offset: int) -> dict:
    return {"kind": "text", "text": text, "media_ref": None, "offset": offset}


def image_span(media_ref: str, w: int, h: int, name: str, offset: int) -> dict:
    return {"kind": "image", "text": f"{w} {h} {name}",
            "media_ref": media_ref, "offset": offset}


def rect_span(frag: str, offset: int) -> dict:
    return {"kind": "rect", "text": frag, "media_ref": None, "offset": offset}


def form_span(name: str, frag: str, offset: int) -> dict:
    """Form XObject definition: expanded inline (q/Q-wrapped) at each
    ``/name Do`` (see interp.doc_tokens)."""
    return {"kind": "form", "text": frag, "media_ref": f"form:{name}",
            "offset": offset}


def meta_span(title: str, offset: int) -> dict:
    """Document-info title (PDDocumentInformation.getTitle analog;
    PDFDomTree.java:165-174)."""
    return {"kind": "meta", "text": title, "media_ref": "title",
            "offset": offset}


# ---------------------------------------------------------------------------
# 2. oracle corpus
# ---------------------------------------------------------------------------

def oracle_stream(doc_id: str, text: str) -> list[dict]:
    """Interleaved spans whose extraction is exactly reproducible in SQL:
    per page, mono-grid text lines, one filled rect, one placed image — all
    geometry closed-form in (doc_id, page_no, word lengths).

    Per-page emission order (derivable in SQL): page span, word boxes
    0..m-2 (each flushed when the next starts), rect, image, then the LAST
    word box (flushed only at the page's end-of-stream —
    PDFBoxTree.java:208,639-644). Stride per full page = 43 spans."""
    words = text.split(" ") if text else []
    words = [w for w in words if w]
    spans: list[dict] = []
    off = 0
    n_pages = (len(words) + ORACLE_WORDS_PER_PAGE - 1) // ORACLE_WORDS_PER_PAGE
    for pi in range(n_pages):
        p = pi + 1
        page_words = words[pi * ORACLE_WORDS_PER_PAGE:(pi + 1) * ORACLE_WORDS_PER_PAGE]
        frags = [f"{PAGE_W:g} {PAGE_H:g} 0 PG BT /{ORACLE_FONT} {ORACLE_SIZE:g} Tf"]
        for li in range(0, len(page_words), ORACLE_WORDS_PER_LINE):
            line = page_words[li:li + ORACLE_WORDS_PER_LINE]
            y = ORACLE_Y0 - ORACLE_LINE_STEP * (li // ORACLE_WORDS_PER_LINE)
            frags.append(f"1 0 0 1 {ORACLE_MARGIN:g} {y:g} Tm ({_esc(' '.join(line))}) Tj")
        frags.append("ET")
        # closed-form rect: fill #3f7fbf (int truncation of .25/.5/.75*255)
        rx = 100 + 10 * (pi % 5)
        rw = 80 + 5 * (p % 3)
        frags.append(f"0.25 0.5 0.75 rg {rx} 50 {rw} 20 re f")
        # closed-form image placement via q/cm ... Q around the media span
        ix = 200 + 10 * (p % 4)
        frags.append(f"q 120 0 0 90 {ix} 300 cm")
        spans.append(text_span(" ".join(frags), off)); off += 1
        ref = "sha:" + hashlib.md5(f"{doc_id}:{p}".encode()).hexdigest()
        spans.append(image_span(ref, 640, 480, f"Img{p}", off)); off += 1
        spans.append(text_span("Q", off)); off += 1
    return spans


# ---------------------------------------------------------------------------
# 2b. rich-lite corpus: every "rich" text feature with CLOSED-FORM geometry
# ---------------------------------------------------------------------------
# Per page: 1 rect + 1 image + 1 stroked line (oracle shapes) and 6 lines x
# 4 Mono-10pt words. Each line carries a variant v = (global line index) % 9
# (partial lines fall back to plain), all SQL-derivable:
#   v0 plain Tj             v1 `1 Tr` stroke-only (color <-> strokeColor)
#   v2 `0.5 Tc 1.5 Tw`      v3 TJ kern -250 between word pairs (+2.5pt gap)
#   v4 trailing RTL word    v5 trailing diacritic merge (é at x=300, y-8)
#   v6 mid-line color change -> style split (#7f0000 on the last word)
#   v7 `120 Tz` horizontal scaling (advances + fontSize=getXScale x1.2)
#   v8 `0 -12 TD` then `'` (T* + show): second word pair 24pt below
# Emission order per page is simple because graphics precede text:
# page, rect, image, boxes 0..nb-1 (the end-of-page flush cannot reorder a
# trailing box past the next page's spans); doc-trailing font span.

RL_WPL = 4
RL_LPP = 6
RL_WPP = RL_WPL * RL_LPP
RL_Y0 = 720.0
RL_STEP = 16.0
RL_DIA_X = 300.0


def rich_lite_stream(doc_id: str, text: str) -> list[dict]:
    words = [w for w in (text.split(" ") if text else []) if w]
    spans: list[dict] = []
    off = 0
    n_pages = (len(words) + RL_WPP - 1) // RL_WPP
    for pi in range(n_pages):
        p = pi + 1
        pw = words[pi * RL_WPP:(pi + 1) * RL_WPP]
        rx = 100 + 10 * (pi % 5)
        rw = 80 + 5 * (p % 3)
        ix = 200 + 10 * (p % 4)
        head = (f"{PAGE_W:g} {PAGE_H:g} 0 PG "
                f"0.25 0.5 0.75 rg {rx} 50 {rw} 20 re f "
                f"q 120 0 0 90 {ix} 300 cm")
        spans.append(text_span(head, off)); off += 1
        ref = "sha:" + hashlib.md5(f"{doc_id}:rl:{p}".encode()).hexdigest()
        spans.append(image_span(ref, 640, 480, f"Img{p}", off)); off += 1
        # horizontal stroked line (closed-form: device y = 792-480 = 312,
        # stroke #19334c, width 1.5) then reset fill to black: the head's rg
        # would otherwise persist into BT (graphics state survives
        # q/Q-balanced blocks and BT/ET)
        lx = 100 + 5 * (p % 4)
        body = [f"Q 1.5 w 0.1 0.2 0.3 RG {lx} 480 m {lx + 200} 480 l S "
                # reset stroke AND fill to black: RG/rg persist into BT and
                # would otherwise color the v1 (Tr stroke-only) boxes
                "0 0 0 RG BT /Mono 10 Tf 0 0 0 rg"]
        for li in range(0, len(pw), RL_WPL):
            line = pw[li:li + RL_WPL]
            lid = pi * RL_LPP + li // RL_WPL
            v = lid % 9 if len(line) == RL_WPL else 0
            y = RL_Y0 - RL_STEP * (li // RL_WPL)
            body.append(f"1 0 0 1 72 {y:g} Tm")
            joined = _esc(" ".join(line))
            if v == 1:
                body.append(f"1 Tr ({joined}) Tj 0 Tr")
            elif v == 2:
                body.append(f"0.5 Tc 1.5 Tw ({joined}) Tj 0 Tc 0 Tw")
            elif v == 3:
                body.append(
                    f"[ ({_esc(line[0] + ' ' + line[1])}) -250 "
                    f"({_esc(line[2] + ' ' + line[3])}) ] TJ")
            elif v == 4:
                body.append(f"({joined}) Tj ({_RTL_WORD}) Tj")
            elif v == 5:
                body.append(f"({joined}) Tj " + dia_frag(RL_DIA_X, y - 8))
            elif v == 6:
                body.append(f"({_esc(' '.join(line[:3]))}) Tj "
                            f"0.5 0 0 rg ({_esc(line[3])}) Tj 0 0 0 rg")
            elif v == 7:
                # Tz horizontal scaling: advances and xscale (=fontSize) x1.2
                body.append(f"120 Tz ({joined}) Tj 100 Tz")
            elif v == 8:
                # TD sets leading and moves; ' applies T* then shows —
                # second word pair lands one 12pt leading BELOW the TD row
                body.append(f"({_esc(line[0] + ' ' + line[1])}) Tj 0 -12 TD "
                            f"({_esc(line[2] + ' ' + line[3])}) '")
            else:
                body.append(f"({joined}) Tj")
        body.append("ET")
        spans.append(text_span(" ".join(body), off)); off += 1

    # trailing graphics-only ROTATED page (M2/M3 in the oracle: dims swap +
    # quadrant transforms for rect/image/line; no text — rotated text is
    # per-glyph-splitting by reference semantics and covered by goldens)
    if n_pages:
        rot = (90, 180, 270)[n_pages % 3]
        head = (f"{PAGE_W:g} {PAGE_H:g} {rot} PG "
                "0.25 0.5 0.75 rg 100 50 80 20 re f "
                "q 120 0 0 90 200 300 cm")
        spans.append(text_span(head, off)); off += 1
        gref = "sha:" + hashlib.md5(f"{doc_id}:rlg".encode()).hexdigest()
        spans.append(image_span(gref, 640, 480, "ImgG", off)); off += 1
        # device-CMYK fill (k) + stroke (K): naive device formula
        # ((1-c)(1-k) per channel, interp.cmyk_to_rgb) — 0.2/0.4/0.6/0.1 k
        # -> #b7895b fill, 0.6/0.2/0/0.2 K -> #51a3cc stroke. The reference
        # delegates to PDFBox's ICC color management here; the divergence is
        # pinned in tests/test_cmyk.py.
        spans.append(text_span(
            "Q 1.5 w 0.1 0.2 0.3 RG 150 480 m 350 480 l S "
            "0.2 0.4 0.6 0.1 k 150 120 100 40 re f "
            "2 w 0.6 0.2 0 0.2 K 150 200 m 350 200 l S", off)); off += 1
    return spans


# ---------------------------------------------------------------------------
# 2c. rotated-page TEXT corpus: per reference semantics (PDFBoxTree.java:
# 822-855) TextPosition.getX/getY is the page transform of the glyph's
# device origin while getWidth stays the un-rotated device-x displacement,
# so on 90/180/270 pages EVERY glyph becomes its own box (the disty/distx
# thresholds trip between consecutive glyphs). One Mono-10 line per page at
# Tm(72,700); rotation cycles 0/90/180/270 with the page index — geometry
# is closed-form in (word lengths, rotation).
# ---------------------------------------------------------------------------

RT_WPL = 4  # words per page (single line)


def rot_text_stream(doc_id: str, text: str) -> list[dict]:
    words = [w for w in (text.split(" ") if text else []) if w]
    if not words:
        return []
    spans: list[dict] = []
    n_pages = (len(words) + RT_WPL - 1) // RT_WPL
    for pi in range(n_pages):
        rot = (0, 90, 180, 270)[pi % 4]
        pw = words[pi * RT_WPL:(pi + 1) * RT_WPL]
        spans.append(text_span(
            f"{PAGE_W:g} {PAGE_H:g} {rot} PG BT /Mono 10 Tf "
            f"1 0 0 1 72 700 Tm ({_esc(' '.join(pw))}) Tj ET", pi))
    return spans


# ---------------------------------------------------------------------------
# 2d. form-XObject corpus: a header form defined once per document and
# invoked on EVERY page via /F1 Do (PDFBoxTree.java:394-404; PDFBox
# showForm): expansion is inline under an implicit q/Q, so the form's font
# size + fill color are isolated from the page body — closed-form.
# ---------------------------------------------------------------------------

FM_WPL = 4  # body words per page (single line)


def forms_stream(doc_id: str, text: str) -> list[dict]:
    words = [w for w in (text.split(" ") if text else []) if w]
    if not words:
        return []
    hdr = f"hdr{doc_id}"
    spans: list[dict] = [form_span(
        "F1", f"/Mono 8 Tf 0.25 0.5 0.75 rg 1 0 0 1 72 760 Tm ({hdr}) Tj",
        0)]
    n_pages = (len(words) + FM_WPL - 1) // FM_WPL
    for pi in range(n_pages):
        pw = words[pi * FM_WPL:(pi + 1) * FM_WPL]
        spans.append(text_span(
            f"{PAGE_W:g} {PAGE_H:g} 0 PG BT /Mono 10 Tf /F1 Do "
            f"1 0 0 1 72 700 Tm ({_esc(' '.join(pw))}) Tj ET", pi + 1))
    return spans


# ---------------------------------------------------------------------------
# 2e. font-encoding corpus: a kind='cmap' span maps Mono codes a/e/o to
# Greek alpha/epsilon/omicron (PDFBox font-encoding/ToUnicode resolution,
# PDFBoxTree.java:592-656). Advances stay keyed by the RAW code (Mono 5pt —
# so geometry is unchanged), span text is the decoded unicode: the oracle is
# the plain word grid with translate().
# ---------------------------------------------------------------------------

ENC_MAP = {97: "α", 101: "ε", 111: "ο"}  # a/e/o -> Greek (LTR, 1:1)


def enc_stream(doc_id: str, text: str) -> list[dict]:
    words = [w for w in (text.split(" ") if text else []) if w]
    if not words:
        return []
    body = " ".join(f"{c}:{ord(u):04x}" for c, u in ENC_MAP.items())
    spans: list[dict] = [{"kind": "cmap", "text": body,
                          "media_ref": "cmap:Mono", "offset": 0}]
    n_pages = (len(words) + RT_WPL - 1) // RT_WPL
    for pi in range(n_pages):
        pw = words[pi * RT_WPL:(pi + 1) * RT_WPL]
        spans.append(text_span(
            f"{PAGE_W:g} {PAGE_H:g} 0 PG BT /Mono 10 Tf "
            f"1 0 0 1 72 700 Tm ({_esc(' '.join(pw))}) Tj ET", pi + 1))
    return spans


# ---------------------------------------------------------------------------
# 3. rich interleaved corpus
# ---------------------------------------------------------------------------

# PDF name tokens cannot contain raw spaces — "CourierNew" still resolves to
# the known CSS family "Courier New" (PDFBoxTree.java:756-764 strips spaces)
_RICH_FONTS = ["Mono", "Helvetica", "EKCFJL+Omsym2", "CourierNew",
               "Garamond-Italic", "Verdana-Bold", "Noto-CID"]
_RICH_SIZES = [8.0, 10.0, 11.0, 12.0, 14.0]
_RICH_COLORS = ["0 0 0 rg", "0.25 0.25 0.25 rg", "0.5 0 0 rg",
                "0 0 0.5 rg", "0.1 0.4 0.1 rg"]
_RTL_WORD = "שלום"       # Hebrew 'shalom'


def dia_frag(x: float, y: float) -> str:
    """Combining acute shown first, base 'e' re-positioned on top of it so the
    base *contains* the pending diacritic (PDFBoxTree.java:595-605)."""
    return (f"1 0 0 1 {x:g} {y:g} Tm (́) Tj "
            f"1 0 0 1 {x:g} {y:g} Tm (e) Tj")

SKEW_MOD = 37          # docs with h % SKEW_MOD == 0 become giants
SKEW_FACTOR = 12


def rich_stream(doc_id: str, text: str) -> list[dict]:
    """Interleaved text+media spans, deterministic in (doc_id, text)."""
    h = _h(doc_id)
    words = [w for w in (text.split(" ") if text else []) if w]
    if not words:
        words = ["empty"]
    reps = SKEW_FACTOR if h % SKEW_MOD == 0 else 1
    words = words * reps

    spans: list[dict] = []
    off = 0
    # every 7th doc carries a document-info title (PDFDomTree.java:165-174)
    if h % 7 == 3:
        spans.append(meta_span(f"Document {doc_id}", off)); off += 1
    # every 5th doc carries a header Form XObject invoked on each page
    use_form = h % 5 == 0
    if use_form:
        spans.append(form_span(
            "Hdr", "0.3 0.3 0.3 rg /Helvetica 8 Tf "
                   "1 0 0 1 72 770 Tm (header) Tj", off))
        off += 1
    wpp = 24  # words per rich page
    n_pages = (len(words) + wpp - 1) // wpp
    for p in range(n_pages):
        pw = words[p * wpp:(p + 1) * wpp]
        rot = (90, 180, 270, 0)[(h >> 3) % 4] if (h + p) % 11 == 0 else 0
        frags = [f"{PAGE_W:g} {PAGE_H:g} {rot} PG"]
        if use_form:
            frags.append("/Hdr Do")
        font = _RICH_FONTS[(h + p) % len(_RICH_FONTS)]
        size = _RICH_SIZES[(h + p * 7) % len(_RICH_SIZES)]
        frags.append(f"BT /{font} {size:g} Tf {_RICH_COLORS[(h + p) % 5]}")
        for li in range(0, len(pw), 6):
            line = pw[li:li + 6]
            y = 720 - 16 * (li // 6)
            frags.append(f"1 0 0 1 72 {y:g} Tm ({_esc(' '.join(line))}) Tj")
            sel = (h + p + li) % 23
            if sel == 0:
                # mid-line style change -> forced split (PDFBoxTree.java:635-637)
                frags.append(f"{_RICH_COLORS[(h + li) % 5]} ({_esc(line[0])}) Tj")
            elif sel == 1:
                frags.append(f"({_esc(_RTL_WORD)}) Tj")      # RTL reverse
            elif sel == 2:
                frags.append(dia_frag(300, y))  # diacritic merge
            elif sel == 3:
                frags.append(f"[ ({_esc(line[0])}) -250 ({_esc(line[-1])}) ] TJ")
            elif sel == 4:
                frags.append(f"0.5 Tc 1.5 Tw ({_esc(line[0])}) Tj 0 Tc 0 Tw")
            elif sel == 5:
                frags.append(f"1 Tr ({_esc(line[0])}) Tj 0 Tr")   # stroke-only run
        frags.append("ET")
        spans.append(text_span(" ".join(frags), off)); off += 1

        gsel = (h + p) % 5
        if gsel == 0:
            spans.append(rect_span(
                f"0.8 0.1 0.1 rg {100 + p % 7 * 40} {120:g} {90:g} {18:g} re f", off))
            off += 1
        elif gsel == 1:
            spans.append(text_span(
                "2 w 0 0 0.9 RG 100 100 m 300 100 l S", off)); off += 1
        elif gsel == 2:
            spans.append(text_span(
                "0.85 0.85 0.85 rg 200 200 m 260 260 l 200 260 l h f", off))
            off += 1
        elif gsel == 3:
            ref = hashlib.md5(f"{doc_id}:img:{p}".encode()).hexdigest()[:16]
            spans.append(text_span(f"q 120 0 0 90 {150 + p % 5 * 30} 400 cm", off)); off += 1
            spans.append(image_span("sha:" + ref, 640, 480, "Untitled", off)); off += 1
            spans.append(text_span("Q", off)); off += 1
        elif gsel == 4:
            spans.append(text_span(
                "1.5 w 0.2 0.2 0.2 RG 150 150 m 250 210 l S", off)); off += 1
    return spans


# ---------------------------------------------------------------------------
# 1. fixture docs (golden-property corpus; see tests/test_extract_golden.py)
# ---------------------------------------------------------------------------

def fixture_docs() -> dict[str, list[dict]]:
    pg = f"{PAGE_W:g} {PAGE_H:g} 0 PG "
    fx: dict[str, list[dict]] = {}

    # rendering modes (TestPDFDomTree.java:28-74)
    fx["fx_rendering_mode_neither"] = [text_span(
        pg + "BT /Helvetica 12 Tf 3 Tr 0.502 0 1 rg 1 0 1 RG "
             "1 0 0 1 72 700 Tm (Invisible) Tj ET", 0)]
    fx["fx_rendering_mode_fill"] = [text_span(
        pg + "BT /Helvetica 12 Tf 0 Tr 0.502 0 1 rg 1 0 1 RG "
             "1 0 0 1 72 700 Tm (Filled) Tj ET", 0)]
    fx["fx_rendering_mode_stroke"] = [text_span(
        pg + "BT /Helvetica 12 Tf 1 Tr 0.502 0 1 rg 1 0 1 RG "
             "1 0 0 1 72 700 Tm (Stroked) Tj ET", 0)]
    fx["fx_rendering_mode_stroke_and_fill"] = [text_span(
        pg + "BT /Helvetica 12 Tf 2 Tr 0.604 0.9412 0.9059 rg 1 0 1 RG "
             "1 0 0 1 72 700 Tm (Both) Tj ET", 0)]

    # page range (TestPDFDomTree.java:76-86)
    fx["fx_3_pages"] = [text_span(
        " ".join(pg + f"BT /Helvetica 12 Tf 1 0 0 1 72 700 Tm (#{k}) Tj ET"
                 for k in (1, 2, 3)), 0)]

    # split thresholds (PDFBoxTree.java:623-637); widths: 'ab' = 2*500/1000*10 = 10pt
    fx["fx_split_merge"] = [text_span(
        pg + "BT /Mono 10 Tf "
             "1 0 0 1 100 700 Tm (ab) Tj "     # box A at [100,110)
             "1 0 0 1 110.9 700 Tm (cd) Tj "   # distx 0.9 -> same box
             "1 0 0 1 122.0 700 Tm (ef) Tj "   # distx 1.1 -> split
             "1 0 0 1 126.1 700 Tm (gh) Tj "   # distx -5.9 -> same box
             "1 0 0 1 139.9 700 Tm (ij) Tj "   # distx -6.2 -> split
             "1 0 0 1 149.9 700.9 Tm (kl) Tj " # disty 0.9 -> same box
             "1 0 0 1 159.9 702.0 Tm (mn) Tj " # disty 1.1 -> split
             "0.5 0 0 rg (op) Tj "             # style change -> split
             f"1 0 0 1 100 650 Tm ({_RTL_WORD}) Tj "  # RTL -> split + reverse
             + dia_frag(100, 600) + " ET", 0)]

    # duplicate overlapping text: the reference does NOT suppress it —
    # PDFBoxTree overrides processTextPosition without super, bypassing
    # PDFTextStripper's suppressDuplicateOverlappingText (PDFBoxTree.java:158,
    # 592-656). Golden: two boxes at the same position.
    fx["fx_dup_overlap"] = [text_span(
        pg + "BT /Helvetica 12 Tf 1 0 0 1 72 700 Tm (H) Tj "
             "1 0 0 1 72 700 Tm (H) Tj ET", 0)]

    # image filename de-dup under the save-to-dir handler
    # (TestImages.java:38-75, SaveResourceToDirHandler.java:44-66).
    # Dir names derive from the DOCUMENT TITLE (PDFBoxTree.java:554) —
    # the reference's images.pdf carries /Title (Untitled), modeled here
    # by the meta span; the per-image name operand is registry metadata.
    fx["fx_images"] = [
        text_span(pg + "q 200 0 0 150 100 500 cm", 0),
        image_span("sha:img-a", 640, 480, "Im0", 1),
        text_span("Q q 100 0 0 80 350 300 cm", 2),
        image_span("sha:img-b", 320, 240, "Im1", 3),
        text_span("Q", 4),
        meta_span("Untitled", 5),
    ]

    # page rotation quadrants (TestPageRotation.java:15-97): image near PDF
    # top-left, filled rect near PDF bottom-right (user space, pre-rotation)
    for rot in (0, 90, 180, 270):
        fx[f"fx_rotation_{rot}"] = [
            text_span(f"{PAGE_W:g} {PAGE_H:g} {rot} PG q 100 0 0 80 40 660 cm", 0),
            image_span("sha:rot-img", 200, 160, "Untitled", 1),
            text_span("Q 0.2 0.3 0.4 rg 420 60 120 70 re f", 2),
        ]

    # rotated-page TEXT (PDFBox TextPosition.getX/getY == page transform of
    # the device origin; width stays the un-rotated device-x displacement, so
    # 90/180/270 pages split per glyph via the disty/distx thresholds)
    for rot in (0, 90, 180, 270):
        fx[f"fx_rotation_text_{rot}"] = [text_span(
            f"{PAGE_W:g} {PAGE_H:g} {rot} PG BT /Mono 10 Tf "
            "1 0 0 1 100 700 Tm (AB) Tj ET", 0)]

    # rect vs line vs slanted line vs filled polygon vs discarded path
    # (PDFBoxTree.java:325-348,496-532; HtmlDivLine.java:24-93; TestPaths.java)
    fx["fx_rect_vs_line_vs_path"] = [text_span(
        pg + "0.3 0.3 0.3 rg 100 600 80 40 re f "
             "1 w 0 0 0 RG 100 500 m 300 500 l S "
             "100 400 m 200 450 l S "
             "0.851 0.851 0.851 rg 100 300 m 160 360 l 100 360 l h f "
             "100 200 m 150 250 l n", 0)]

    # form XObjects: /F1 Do expands inline under q/Q (PDFBox showForm);
    # nested form font refs reach the table (PDFBoxTree.java:394-404);
    # a cyclic pair must terminate with each form expanded once per entry
    fx["fx_form_xobject"] = [
        form_span("F1", "0.5 0 0 rg /Garamond-Italic 9 Tf "
                        "1 0 0 1 72 600 Tm (inForm) Tj", 0),
        text_span(pg + "BT /Helvetica 12 Tf 1 0 0 1 72 700 Tm (before) Tj "
                       "/F1 Do 1 0 0 1 72 500 Tm (after) Tj ET", 1),
    ]
    fx["fx_form_cycle"] = [
        form_span("A", "1 0 0 1 72 600 Tm (fromA) Tj /B Do", 0),
        form_span("B", "1 0 0 1 72 550 Tm (fromB) Tj /A Do", 1),
        text_span(pg + "BT /Helvetica 12 Tf /A Do "
                       "1 0 0 1 72 450 Tm (tail) Tj ET", 2),
    ]
    fx["fx_form_unknown_do"] = [text_span(
        pg + "BT /Helvetica 12 Tf /Nope Do "
             "1 0 0 1 72 700 Tm (still) Tj ET", 0)]

    # fonts: subset name parses to 'EKCFJL Omsym2' (FontTable.java:105-118);
    # known family 'Arial' is not embedded (PDFBoxTree.java:738-741) but IS
    # a table entry; Type1 '-T1' fonts are skipped (PDFBoxTree.java:390-391)
    fx["fx_fonts"] = [text_span(
        pg + "BT /EKCFJL+Omsym2 10 Tf 1 0 0 1 72 700 Tm (embedded) Tj "
             "/Arial 10 Tf 1 0 0 1 72 650 Tm (known) Tj "
             "/OldStyle-T1 10 Tf 1 0 0 1 72 600 Tm (skipped) Tj ET", 0)]
    return fx


# ---------------------------------------------------------------------------
# Spark-facing builders
# ---------------------------------------------------------------------------

def stream_fn(mode: str):
    """Corpus mode -> per-document stream generator."""
    return {
        "oracle": oracle_stream,
        "rich_lite": rich_lite_stream,
        "rot_text": rot_text_stream,
        "forms": forms_stream,
        "enc": enc_stream,
    }.get(mode, rich_stream)


def build_docs_df(spark, sf_dir: str, mode: str = "rich", replicate: int = 1,
                  num_partitions: int | None = None,
                  where: str | None = None):
    """documents.parquet -> DataFrame[DOC_SCHEMA] via a distributed,
    deterministic generator (mapInArrow; no driver-side loops).

    ``num_partitions``: repartition the *source rows* before generation —
    the testdata parquet is a single file, so without this the synthesis
    stage would run on one task and serialize the front of the job.

    ``where``: SQL predicate over the RAW source columns (doc_id, text),
    applied before synthesis so it reaches the parquet scan — the
    source-side routing a production deployment uses to send only the
    monster tail through the page-split path.
    """
    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if where:
        src = src.where(where)
    if replicate > 1:
        from pyspark.sql import functions as F
        src = src.crossJoin(
            spark.range(replicate).withColumnRenamed("id", "rep")
        ).withColumn(
            "doc_id", F.concat_ws("_", F.col("doc_id").cast("string"), F.col("rep"))
        ).drop("rep")

    if num_partitions:
        from pyspark.sql import functions as F
        src = src.repartition(num_partitions, F.xxhash64("doc_id"))

    sgen = stream_fn(mode)

    def gen(batches):
        for b in batches:
            ids = [str(d) for d in b.column("doc_id").to_pylist()]
            yield doc_batch(ids, [sgen(did, text) for did, text in
                                  zip(ids, b.column("text").to_pylist())])

    return src.select("doc_id", "text").mapInArrow(gen, DOC_SCHEMA)


def build_groups_df(spark, sf_dir: str, mode: str = "oracle",
                    pages_per_group: int = 2, min_bytes: int = 0,
                    num_partitions: int | None = None,
                    where: str | None = None,
                    start_page: int = 0, end_page: int = 2**31 - 1):
    """documents.parquet -> page-group rows (pagesplit.GROUP_SCHEMA):
    synthesis and page-splitting fused into ONE Python stage.

    ``build_docs_df(...)`` followed by ``extract_spans_paged`` pays an
    extra Arrow round-trip of the whole corpus payload between two
    adjacent Python stages (synthesize -> JVM -> split) that a production
    deployment does not have: there the input is a stored table, so the
    columnar scan feeds the split kernel directly and the paged pipeline
    crosses Python exactly as often as the unsplit one (split+shuffle+
    extract vs scan+shuffle+extract). This builder restores that shape
    for the synthetic bench/gate corpora; `pagesplit.extract_groups`
    consumes its output. Measured at sf0.1: the stress gate drops from
    ~2.0x to ~1.3x the unsplit kernel."""
    from pyspark.sql import functions as F

    from .pagesplit import GROUP_SCHEMA, groups_batch, split_doc

    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if where:
        src = src.where(where)
    if num_partitions:
        src = src.repartition(num_partitions, F.xxhash64("doc_id"))
    sgen = stream_fn(mode)

    def gen_split(batches):
        for b in batches:
            rows = []
            for doc_id, text in zip(b.column("doc_id").to_pylist(),
                                    b.column("text").to_pylist()):
                did = str(doc_id)
                rows.extend(split_doc(did, sgen(did, text), pages_per_group,
                                      min_bytes, start_page=start_page,
                                      end_page=end_page))
            yield groups_batch(rows)

    return src.select("doc_id", "text").mapInArrow(gen_split, GROUP_SCHEMA)
