"""Content-stream interpreter: ordered tokens -> glyph frame + layout events.

Reimplements the stateful single-pass of the reference
(``PDFBoxTree.processOperator`` PDFBoxTree.java:410-542 and
``processTextPosition`` PDFBoxTree.java:592-656 / PDFBox's
LegacyPDFStreamEngine glyph positioning) as a per-document scan whose
high-cardinality inner work (per-glyph positions/advances) is numpy-vectorized
per show-string. No per-row Python at the Spark level: this runs inside
``mapInArrow`` over Arrow batches.

State tracked (mirrors the reference's mutable fields):
  - graphics stack for q/Q: CTM, colors, line width, text state
    (PDFBox PDGraphicsState semantics),
  - text matrix Tm/Tlm (BT/Td/TD/Tm/T*/TL),
  - path cursor + current path (PDFBoxTree.java:123-129,144),
  - the *sticky* Pdf2Dom style word/letter spacing: the reference mutates
    ``style`` directly on Tw/Tc (PDFBoxTree.java:425-434) and never restores
    it on Q — mirrored bug-for-bug (separately from PDFBox's true text state
    which IS restored on Q and drives glyph advances).

Fidelity notes (discoveries made against the reference, cited):
  - Pdf2Dom overrides ``processTextPosition`` without calling super
    (PDFBoxTree.java:592-656), so PDFTextStripper's sortByPosition /
    suppressDuplicateOverlappingText configured in the constructor
    (PDFBoxTree.java:157-158) never take effect: glyphs arrive in
    content-stream order and no duplicate suppression happens. We mirror
    stream order exactly (optional de-dup/sort are exposed as config extras,
    off by default).
  - Page gate ``getCurrentPageNo() >= startPage && <= endPage`` is 1-based
    (PDFBoxTree.java:200-210); gated pages skip font-table updates too.
  - ``lastText``/``graphicsPath`` persist across pages; the text buffer is
    flushed at each page end (PDFBoxTree.java:208).
"""

from __future__ import annotations

import hashlib
import math
import unicodedata
from dataclasses import dataclass, field

import numpy as np

from . import fonts as F
from .tokenizer import PdfName, tokenize

# Sub-ordering space per token: event key = token_seq * KEY_STRIDE + sub.
KEY_STRIDE = 1 << 20

TRANSPARENT = "rgba(0,0,0,0)"  # BoxStyle.transparentColor (BoxStyle.java:32)

# --- affine helpers (row-vector convention: p' = p @ M[:2] + M[2]) ----------

_IDENT = np.array([[1.0, 0.0], [0.0, 1.0], [0.0, 0.0]])


def ident() -> np.ndarray:
    # .copy() of the preallocated template beats re-parsing the nested
    # list 3.8x — ident() runs once per BT/q/form in the hot loop
    return _IDENT.copy()


def mat(a, b, c, d, e, f) -> np.ndarray:
    out = np.empty((3, 2))
    out[0, 0] = a
    out[0, 1] = b
    out[1, 0] = c
    out[1, 1] = d
    out[2, 0] = e
    out[2, 1] = f
    return out


def compose(first: np.ndarray, then: np.ndarray) -> np.ndarray:
    """Apply `first`, then `then`."""
    out = np.empty((3, 2))
    out[:2] = first[:2] @ then[:2]
    out[2] = first[2] @ then[:2] + then[2]
    return out


def translate_pre(tx: float, ty: float, m: np.ndarray) -> np.ndarray:
    """compose(mat(1,0,0,1,tx,ty), m) — translation fast path."""
    out = m.copy()
    out[2, 0] += tx * m[0, 0] + ty * m[1, 0]
    out[2, 1] += tx * m[0, 1] + ty * m[1, 1]
    return out


def apply_pts(m: np.ndarray, pts: np.ndarray) -> np.ndarray:
    return pts @ m[:2] + m[2]


def scale_x(m: np.ndarray) -> float:
    """Matrix.getScalingFactorX (PDFBox): hypot of the first row."""
    return math.hypot(m[0, 0], m[0, 1])


def scale_y(m: np.ndarray) -> float:
    return math.hypot(m[1, 0], m[1, 1])


def page_transform(w: float, h: float, rot: int) -> np.ndarray:
    """createCurrentPageTransformation (PDFBoxTree.java:831-855).

    Point application order (reverse of Java concatenation order):
    translate(-llx,-lly) -> scale(1,-1) -> translate(0,h) -> rotate(rot)
    -> rotation-dependent translate. Crop-box lower-left is (0,0) in the
    synthetic corpus.
    """
    m = mat(1, 0, 0, -1, 0, 0)            # scale(1,-1)
    m = compose(m, mat(1, 0, 0, 1, 0, h))  # translate(0, h)
    r = math.radians(rot)
    cos, sin = math.cos(r), math.sin(r)
    m = compose(m, mat(cos, sin, -sin, cos, 0, 0))
    if rot == 90:
        m = compose(m, mat(1, 0, 0, 1, h, 0))
    elif rot == 180:
        m = compose(m, mat(1, 0, 0, 1, w, h))
    elif rot == 270:
        m = compose(m, mat(1, 0, 0, 1, 0, w))
    return m


_PAGE_M_CACHE: dict[tuple, np.ndarray] = {}


def page_transform_cached(w: float, h: float, rot: int) -> np.ndarray:
    """Read-only cached page matrix: real corpora use a handful of page
    geometries across millions of pages (callers never mutate it)."""
    key = (w, h, rot)
    hit = _PAGE_M_CACHE.get(key)
    if hit is None:
        hit = page_transform(w, h, rot)
        if len(_PAGE_M_CACHE) < 4096:
            _PAGE_M_CACHE[key] = hit
    return hit


# --- colors ------------------------------------------------------------------

_HEX_CACHE: dict[tuple, str] = {}


def _color_byte(c: float) -> int:
    """(int) truncation of c*255 then clamp — reordered so inf/NaN color
    operands from damaged streams clamp instead of raising on int()."""
    v = c * 255.0
    if not v > 0.0:      # negatives and NaN
        return 0
    if v > 255.0:        # incl. +inf
        return 255
    return int(v)


def color_hex(rgb: tuple[float, float, float]) -> str:
    """colorString: '#%02x%02x%02x' with (int) truncation of c*255
    (PDFBoxTree.java:915-930)."""
    hit = _HEX_CACHE.get(rgb)
    if hit is None:
        hit = "#%02x%02x%02x" % (_color_byte(rgb[0]), _color_byte(rgb[1]),
                                 _color_byte(rgb[2]))
        if len(_HEX_CACHE) < 65536:
            _HEX_CACHE[rgb] = hit
    return hit


def cmyk_to_rgb(c, m, y, k) -> tuple[float, float, float]:
    # Reference delegates to PDFBox color management; we use the naive
    # device-CMYK formula (documented simplification).
    return ((1 - c) * (1 - k), (1 - m) * (1 - k), (1 - y) * (1 - k))


FILL_MODES = {0, 2, 4, 6}    # FILL, FILL_STROKE, FILL_CLIP, FILL_STROKE_CLIP
STROKE_MODES = {1, 2, 5, 6}  # STROKE, FILL_STROKE, STROKE_CLIP, F_S_CLIP

# positioning ops that can open a batched show run (see DocInterp.run's
# scan_run): translate-only Tm, the Td/TD relative moves, T* next-line,
# and ' which fuses the next-line move with its own show
_RUN_OPS = frozenset(("Tm", "Td", "TD", "T*", "'"))


def _jint(v: float) -> int:
    """Java (int) cast semantics for doubles: NaN -> 0, out-of-range
    saturates — damaged-stream path coordinates must not raise."""
    if v != v:
        return 0
    if v >= 2147483647.0:
        return 2147483647
    if v <= -2147483648.0:
        return -2147483648
    return int(v)


def _nums(args: list, k: int) -> list | None:
    """First ``k`` operands when ALL are numeric, else None. The tokenizer
    emits every number as float, so a non-float here is a damaged stream
    that put a string/name/array where a number belongs — the hardened
    PDFBox operator processors return without processing on that operand
    shape, and a 10^12-document corpus WILL contain such streams; one of
    them must never kill a whole Arrow batch."""
    if len(args) < k:
        return None
    out = args[:k]
    for a in out:
        if type(a) is not float:
            return None
    return out


# --- directionality / diacritics ---------------------------------------------

_RTL_BIDI = {"R", "AL", "RLE", "RLO"}  # PDFBoxTree.isReversed (:686-699)


def is_rtl_char(ch: str) -> bool:
    return unicodedata.bidirectional(ch) in _RTL_BIDI


def is_diacritic_char(ch: str) -> bool:
    return unicodedata.combining(ch) != 0


def _safe_chr(c: int) -> str:
    """chr() that never yields a lone surrogate: U+D800..DFFF (an unmapped
    CID in that range, or a broken ToUnicode destination) becomes U+FFFD —
    a surrogate would crash every later utf-32/utf-8 encode (Arrow
    serialization, HTML output)."""
    return "\ufffd" if 0xD800 <= c <= 0xDFFF else chr(c)


def _expand_advances(dec: list[str], adv: np.ndarray) -> np.ndarray:
    """Per-code advances -> per-CHAR advances for multi-char decodes
    (ligature ToUnicode entries): each code's advance rides on its first
    decoded char; continuation chars are zero-width, so the telescoped
    box geometry (x_last + w_last - x_first) and every later glyph's
    position are identical to PDFBox's one-TextPosition-per-code model."""
    n = sum(len(d) for d in dec)
    out = np.zeros(n)
    pos = 0
    for d, a in zip(dec, adv.tolist()):
        if not d:
            # defensive (callers always decode to >=1 char): a dropped
            # glyph still moves the pen, so bank its advance on the
            # previous emitted char
            if pos:
                out[pos - 1] += a
            continue
        out[pos] = a
        pos += len(d)
    return out


# --- interpreter state --------------------------------------------------------

@dataclass
class _GState:
    ctm: np.ndarray = field(default_factory=ident)
    fill_rgb: tuple = (0.0, 0.0, 0.0)
    stroke_rgb: tuple = (0.0, 0.0, 0.0)
    line_width: float = 1.0
    # text state (part of the PDF graphics state, restored by Q)
    font: str = ""
    fsize: float = 0.0
    tc: float = 0.0
    tw: float = 0.0
    tl: float = 0.0
    th: float = 1.0   # horizontal scale (Tz/100)
    ts: float = 0.0   # rise
    tr: int = 0       # rendering mode
    ctm_ident: bool = True  # fast path: skip Tm x CTM when CTM is identity

    def copy(self) -> "_GState":
        g = _GState(self.ctm.copy(), self.fill_rgb, self.stroke_rgb,
                    self.line_width, self.font, self.fsize, self.tc, self.tw,
                    self.tl, self.th, self.ts, self.tr, self.ctm_ident)
        return g


GLYPH_COLS = [
    "key", "page_no", "x", "y", "width", "height", "xscale", "yscale",
    "ascent", "descent", "unicode", "font_family", "font_weight",
    "font_style", "color", "stroke_color", "word_spacing", "letter_spacing",
    "is_dia", "is_ws", "rtl", "style_id",
]


def doc_cmaps(spans: list[dict]) -> dict[str, dict[int, str]]:
    """Collect per-font code->unicode maps from ``kind='cmap'`` spans
    (media_ref='cmap:<FontName>', text='<code>:<hex cp>[ ...]'; code is the
    decimal glyph code, cp the hex unicode codepoint, single char per code).

    Models the font-encoding / ToUnicode tables PDFBox resolves per font and
    applies at showText time (PDFBoxTree.java:592-656 receives the decoded
    TextPosition). Multi-char expansions (ligature ToUnicode entries,
    '+'-joined cps in the span text) decode to the full string; the show
    path expands them into one advance-carrying glyph plus zero-width
    continuation glyphs, preserving box text and telescoped geometry.

    A ``bytes:2`` token in the span text declares a TWO-byte code space
    (Type0/Identity-H CID fonts — PDFBox's readCode consumes two bytes per
    code there); see doc_cid2_fonts().
    """
    maps: dict[str, dict[int, str]] = {}
    for sp in spans:
        if sp.get("kind") != "cmap":
            continue
        name = (sp.get("media_ref") or "")
        name = name[5:] if name.startswith("cmap:") else name
        m = maps.setdefault(name, {})
        for pair in (sp.get("text") or "").replace(",", " ").split():
            code, _, cp = pair.partition(":")
            if code == "bytes":
                continue  # code-width declaration, not a mapping
            if code and cp:
                # '+'-joined cps = a multi-char decode (ligature
                # ToUnicode entry): one glyph code expands to the full
                # string, like PDFBox's showText TextPositions
                m[int(code)] = "".join(
                    _safe_chr(int(h, 16)) for h in cp.split("+"))
    return maps


def doc_widths(spans: list[dict]) -> dict[str, tuple[float, dict[int, float]]]:
    """Collect per-font REAL advance-width tables from ``kind='widths'``
    spans (media_ref='widths:<FontName>', text='default:<milli>
    <code>:<milli> ...'; milli = 1000-unit text-space advance, possibly
    fractional). These are the PDF's own /Widths (simple fonts, keyed by
    byte code) or the CID font's /W array (keyed by CID — the raw 2-byte
    code, per the metrics-by-raw-code contract). Fonts without a span here
    keep the heuristic family metrics (fonts.advance_widths), exactly like
    a non-embedded base-14 font whose widths PDFBox reads from AFM data
    this sandbox does not carry.

    Named ``ascent:``/``descent:``/``cap:`` tokens in the same span carry
    the FontDescriptor's vertical metrics (doc_vmetrics) and are skipped
    here; a span holding ONLY named tokens registers no width override.
    """
    out: dict[str, tuple[float, dict[int, float]]] = {}
    for sp in spans:
        if sp.get("kind") != "widths":
            continue
        name = (sp.get("media_ref") or "")
        name = name[7:] if name.startswith("widths:") else name
        dflt, wmap = out.get(name, (500.0, {}))
        wmap = dict(wmap)
        seen = name in out
        for pair in (sp.get("text") or "").split():
            code, _, w = pair.partition(":")
            if code == "default":
                dflt = float(w)
                seen = True
            elif code in ("ascent", "descent", "cap"):
                continue  # vertical metrics (doc_vmetrics)
            elif code and w:
                wmap[int(code)] = float(w)
                seen = True
        if seen:
            out[name] = (dflt, wmap)
    return out


def doc_vmetrics(spans: list[dict]) -> dict[str, tuple[float, float, float]]:
    """Per-font REAL vertical metrics from ``kind='widths'`` spans' named
    tokens: (cap_height, ascent, descent) in 1000-unit text space — the
    FontDescriptor /CapHeight /Ascent /Descent the reference reads from
    PDFBox's font model. Fonts without them keep the family constants
    (fonts.CAP_HEIGHT/ASCENT/DESCENT)."""
    out: dict[str, tuple[float, float, float]] = {}
    for sp in spans:
        if sp.get("kind") != "widths":
            continue
        name = (sp.get("media_ref") or "")
        name = name[7:] if name.startswith("widths:") else name
        vals = dict(zip(("cap", "ascent", "descent"),
                        out.get(name, (None, None, None))))
        for pair in (sp.get("text") or "").split():
            k, _, v = pair.partition(":")
            if k in ("ascent", "descent", "cap") and v:
                vals[k] = float(v)
        if any(v is not None for v in vals.values()):
            out[name] = (vals["cap"] if vals["cap"] is not None
                         else F.CAP_HEIGHT,
                         vals["ascent"] if vals["ascent"] is not None
                         else F.ASCENT,
                         vals["descent"] if vals["descent"] is not None
                         else F.DESCENT)
    return out


def doc_cid2_fonts(spans: list[dict]) -> set[str]:
    """Fonts whose cmap span declares a 2-byte code space (``bytes:2``):
    show strings for these fonts are decoded as big-endian byte PAIRS
    before the code->unicode map applies (PDFBox CMap.readCode for
    Identity-H / 2-byte codespace ranges)."""
    out: set[str] = set()
    for sp in spans:
        if sp.get("kind") != "cmap":
            continue
        if "bytes:2" in (sp.get("text") or ""):
            name = (sp.get("media_ref") or "")
            out.add(name[5:] if name.startswith("cmap:") else name)
    return out


class DocInterp:
    """Interprets one document's token list. Produces:

    - ``glyphs``: dict of columnar arrays (GLYPH_COLS)
    - ``events``: list of layout-event tuples
        ('page', key, page_no, w, h, rot)
        ('rect', key, page_no, left, top, w, h, line_w, stroke, fill, scol, fcol)
        ('line', key, page_no, x1, y1, x2, y2, line_w, scol)
        ('pathimg', key, page_no, x, y, w, h, media_ref)          # 8 fields
        ('image', key, page_no, x, y, w, h, media_ref, name, angle)  # 10
    - ``font_table``: the accumulated FontTable
    - ``end_key``: ordering key for the final flush / font spans
    """

    def __init__(self, start_page: int = 0, end_page: int = 2**31 - 1,
                 disable_graphics: bool = False, disable_images: bool = False,
                 collect_fonts: bool = True, page_offset: int = 0,
                 font_seed: list[str] | None = None,
                 raster_paths: bool = False,
                 cmaps: dict[str, dict[int, str]] | None = None,
                 cid2_fonts: set[str] | None = None,
                 widths: dict[str, tuple[float, dict[int, float]]]
                 | None = None,
                 vmetrics: dict[str, tuple[float, float, float]]
                 | None = None,
                 batch_runs: bool = True):
        # batch_runs=False forces the scalar Tm/Tj path — the equivalence
        # knob tests/test_kernels_ext.py uses to pin show_run == show
        self.batch_runs = batch_runs
        # per-font code->unicode maps (the PDFBox font-encoding / ToUnicode
        # resolution that feeds processTextPosition, PDFBoxTree.java:592-656,
        # transposed: metrics stay indexed by the ORIGINAL glyph code, the
        # span text and all unicode-derived semantics — whitespace drop, RTL,
        # diacritics — use the mapped character). See doc_cmaps().
        self.cmaps = cmaps or {}
        # fonts with a 2-byte code space (Type0/Identity-H): show strings
        # carry raw BYTES (one char per byte from the tokenizer) that pair
        # into big-endian codes before the cmap applies
        self.cid2_fonts = cid2_fonts or set()
        # per-font REAL advance widths (doc_widths): raw code -> milli.
        # Lazily compiled to a numpy lookup array per font (index = code,
        # default-filled) so the hot path stays one vectorized gather.
        self.widths = widths or {}
        self._warr: dict[str, tuple[np.ndarray, float]] = {}
        # per-font REAL (cap_height, ascent, descent) in 1000-unit text
        # space (doc_vmetrics); fonts not present fall back to the family
        # constants the synthetic corpora and their oracles are built on
        self.vmetrics = vmetrics or {}
        self._vm_default = (F.CAP_HEIGHT, F.ASCENT, F.DESCENT)
        self.start_page = start_page
        self.end_page = end_page
        self.disable_graphics = disable_graphics
        self.disable_images = disable_images
        self.collect_fonts = collect_fonts
        self.page_offset = page_offset
        self.raster_paths = raster_paths
        self.font_table = F.FontTable()
        self._adv = self._make_adv()
        # page-split seeding: fonts from earlier page-groups, in first-use
        # order, so used-name de-dup stays globally consistent (pagesplit.py)
        for name in (font_seed or []):
            self.font_table.add_entry(name)
        self.n_seed = len(self.font_table.entries)

    def _make_adv(self):
        """advance function: real per-font width tables when the document
        carries them (doc_widths), else the heuristic family metrics. The
        override path compiles each font's {code: milli} map into one
        numpy gather array (out-of-table codes -> the font's default)."""
        if not self.widths:
            return F.advance_widths

        def adv(codes: np.ndarray, font: str, scale: float) -> np.ndarray:
            ov = self.widths.get(font)
            if ov is None:
                return F.advance_widths(codes, font, scale)
            hit = self._warr.get(font)
            if hit is None:
                dflt, wmap = ov
                n = min(max(wmap, default=0) + 1, 65536)
                arr = np.full(n or 1, dflt, dtype=np.float64)
                for c, w in wmap.items():
                    if c < n:
                        arr[c] = w
                hit = (arr, dflt)
                self._warr[font] = hit
            arr, dflt = hit
            out = np.where(codes < arr.shape[0],
                           arr[np.minimum(codes, arr.shape[0] - 1)], dflt)
            return out * scale

        return adv

    def run(self, tokens: list[tuple[str, list]], concat: bool = True):
        g = _GState()
        stack: list[_GState] = []
        tm = ident()
        tlm = ident()
        # path state (persists across pages like the reference fields)
        path: list[tuple] = []
        px = py = psx = psy = 0.0
        # sticky Pdf2Dom style spacing (never restored on Q)
        sticky_tw = 0.0
        sticky_tc = 0.0

        page_no = self.page_offset  # 1-based once first PG seen
        page_active = False  # inside a non-gated page
        page_m = page_transform(612.0, 792.0, 0)
        page_w, page_h, page_rot = 612.0, 792.0, 0
        # finishBox fires at each page end (PDFBoxTree.java:208): record the
        # ordering key of each active page's end-of-stream flush point.
        page_flush: dict[int, int] = {}
        flush_page: int | None = None

        glyph_chunks: list[dict] = []
        events: list[tuple] = []

        # scalar fold of the two path-point transforms, re-unpacked only
        # when the CTM or page matrix is rebound (cm/q/Q/PG all rebind;
        # nothing mutates either array in place)
        _tp_cache: list = [None, None, ()]

        def tp(x: float, y: float) -> tuple[float, float]:
            """transformPosition: CTM then page transform
            (PDFBoxTree.java:822-829). Scalar multiply-add per stage —
            within 1 ulp of the former per-point matmuls; the float32
            output columns and the 6-dp oracle canonicalization absorb
            the difference, and per-point numpy dispatch is gone."""
            cc = _tp_cache
            if cc[0] is not g.ctm or cc[1] is not page_m:
                c, p = g.ctm, page_m
                cc[0], cc[1] = c, p
                cc[2] = (float(c[0, 0]), float(c[0, 1]), float(c[1, 0]),
                         float(c[1, 1]), float(c[2, 0]), float(c[2, 1]),
                         float(p[0, 0]), float(p[0, 1]), float(p[1, 0]),
                         float(p[1, 1]), float(p[2, 0]), float(p[2, 1]))
            (c00, c01, c10, c11, c20, c21,
             p00, p01, p10, p11, p20, p21) = cc[2]
            ux = x * c00 + y * c10 + c20
            uy = x * c01 + y * c11 + c21
            return (ux * p00 + uy * p10 + p20, ux * p01 + uy * p11 + p21)

        def transform_width(w: float) -> float:
            """PDFBox PDFStreamEngine.transformWidth."""
            x = g.ctm[0, 0] + g.ctm[1, 0]
            y = g.ctm[0, 1] + g.ctm[1, 1]
            return w * math.sqrt((x * x + y * y) * 0.5)

        def render_path(key: int, stroke: bool, fill: bool) -> None:
            """PDFDomTree.renderPath dispatch (PDFDomTree.java:234-252)."""
            rect = _to_rectangle(path)
            if rect is not None:
                lw = transform_width(g.line_width)
                events.append(("rect", key, page_no, rect[0], rect[1],
                               rect[2] - rect[0], rect[3] - rect[1], lw,
                               stroke, fill, color_hex(g.stroke_rgb),
                               color_hex(g.fill_rgb)))
            elif stroke:
                lw = transform_width(g.line_width)
                for i, seg in enumerate(path):
                    events.append(("line", key + i, page_no, seg[0], seg[1],
                                   seg[2], seg[3], lw, color_hex(g.stroke_rgb)))
            elif path:
                # PathDrawer.drawPath bounds (PathDrawer.java:43-136):
                # int-truncated min/max over both endpoints; degenerate -> 1x1.
                xs = [_jint(v) for s in path for v in (s[0], s[2])]
                ys = [_jint(v) for s in path for v in (s[1], s[3])]
                x0, y0 = min(xs), min(ys)
                w, h = max(xs) - x0, max(ys) - y0
                if w <= 0 or h <= 0:
                    w = h = 1
                if self.raster_paths:
                    from .raster import draw_path_png
                    ref = draw_path_png(path, g.fill_rgb, x0, y0, w, h)
                else:
                    ref = "path:" + hashlib.sha256(
                        (";".join(
                            f"{_jint(s[0])},{_jint(s[1])},"
                            f"{_jint(s[2])},{_jint(s[3])}"
                            for s in path)
                         + "|" + color_hex(g.fill_rgb)).encode()
                    ).hexdigest()[:16]
                events.append(("pathimg", key, page_no, float(x0), float(y0),
                               float(w), float(h), ref))

        font_cache: dict[tuple, tuple] = {}

        def _font_style(font: str) -> tuple:
            ck = (font, len(self.font_table.entries))
            hit = font_cache.get(ck)
            if hit is None:
                fam = F.resolve_family(font, self.font_table) if font else None
                ws = F.font_weight_style(font) if font else ("normal", "normal")
                hit = (fam, ws[0], ws[1])
                font_cache[ck] = hit
            return hit

        def show(key: int, s: str) -> None:
            """Record one show-string. Per-glyph vector work (positions,
            widths, keys, whitespace flags) is DEFERRED to _concat_glyphs:
            glyph device coordinates are linear in the within-show advance
            prefix sum (dev = cum*A + B with A/B folded from Tm x CTM and
            the page transformation), so only the advances — needed anyway
            for the text-matrix update — are computed here."""
            nonlocal tm
            if not s:
                return
            if g.font in self.cid2_fonts:
                # 2-byte code space (Type0/Identity-H): pair the raw bytes
                # into big-endian codes, decode via the cmap, and key
                # metrics by the DECODED char (CID widths live in the CID
                # font's /W array, which the span format does not carry —
                # decoded-unicode metrics are the closest available proxy).
                # Tw never applies: word spacing targets single-byte code
                # 32 only (PDF 32000-1 9.3.3).
                raw = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
                if len(raw) % 2:
                    raw = np.append(raw, np.uint32(0))
                pair_codes = (raw[0::2] << np.uint32(8)) | raw[1::2]
                enc2 = self.cmaps.get(g.font) or {}
                dec = [enc2.get(c) or _safe_chr(c)
                       for c in pair_codes.tolist()]
                s = "".join(dec)
                if not s:
                    return
                codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
                # real /W widths are keyed by the raw CID (pair code); the
                # decoded-char heuristic is only the fallback proxy
                if g.font in self.widths:
                    adv_src = pair_codes
                elif len(s) != len(pair_codes):
                    # multi-char decodes: heuristic metrics by FIRST char
                    adv_src = np.fromiter((ord(d[0]) for d in dec),
                                          dtype=np.uint32, count=len(dec))
                else:
                    adv_src = codes
                adv = self._adv(adv_src, g.font, g.fsize * g.th / 1000.0)
                if g.tc != 0.0:
                    adv += g.tc * g.th
                if len(s) != len(pair_codes):
                    adv = _expand_advances(dec, adv)
            else:
                codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
                # raw byte codes index the /Widths table (metrics by code)
                adv = self._adv(codes, g.font, g.fsize * g.th / 1000.0)
                if g.tc != 0.0:
                    adv += g.tc * g.th
                if g.tw != 0.0:
                    adv[codes == 32] += g.tw * g.th
                # font encoding: advances above use the raw glyph codes (the
                # reference reads metrics by code); everything downstream
                # sees the decoded unicode (PDFBox decodes at showText time)
                enc = self.cmaps.get(g.font)
                if enc is not None:
                    dec = [enc.get(c, ch)
                           for c, ch in zip(codes.tolist(), s)]
                    s = "".join(dec)
                    if not s:
                        return
                    if len(s) != len(codes):
                        # ligature ToUnicode entries: the code's advance
                        # rides on its first char; continuation chars are
                        # zero-width (box text and telescoped geometry
                        # match PDFBox's one-TextPosition-per-code model)
                        adv = _expand_advances(dec, adv)
                    codes = np.frombuffer(s.encode("utf-32-le"),
                                          dtype=np.uint32)
            # Tm x CTM — identity-CTM fast path skips the matrix multiply
            tmctm = tm if g.ctm_ident else compose(tm, g.ctm)
            m00, m01 = tmctm[0, 0], tmctm[0, 1]
            m10, m11 = tmctm[1, 0], tmctm[1, 1]
            # device-space origin of glyph i = (cum_i, rise) @ (Tm x CTM) —
            # PDFBox's translatedTextRenderingMatrix translate components —
            # then TextPosition.getX()/getY() (PDFBox 2.0 getXRot/
            # getYLowerLeftRot) equal the Pdf2Dom page transformation applied
            # to that origin for every rotation: rot0 (x, h-y); rot90 (y, x);
            # rot180 (w-x, y); rot270 (h-y, w-x) — the same transform rects/
            # images already go through (PDFBoxTree.java:822-855). Folded:
            # dev_x = cum*ax + bx, dev_y = cum*ay + by.
            ox = g.ts * m10 + tmctm[2, 0]
            oy = g.ts * m11 + tmctm[2, 1]
            p00, p01 = page_m[0, 0], page_m[0, 1]
            p10, p11 = page_m[1, 0], page_m[1, 1]
            ax = m00 * p00 + m01 * p10
            ay = m00 * p01 + m01 * p11
            bx = ox * p00 + oy * p10 + page_m[2, 0]
            by = ox * p01 + oy * p11 + page_m[2, 1]
            sx, sy = scale_x(tmctm), scale_y(tmctm)
            yscale = g.fsize * sy
            fill_on = g.tr in FILL_MODES
            stroke_on = g.tr in STROKE_MODES
            fam, weight, fstyle = _font_style(g.font)
            _vm_cap, _vm_asc, _vm_dsc = self.vmetrics.get(
                g.font, self._vm_default)
            # TextPosition width = dxDisplay, the DEVICE-x displacement of
            # the advance (LegacyPDFStreamEngine: nextX - getTranslateX()),
            # deliberately not rotation-adjusted: widths = adv * m00 (folded
            # in _concat_glyphs).
            glyph_chunks.append((
                key, s, codes, adv, ax, bx, ay, by, m00, page_no,
                _vm_cap / 1000.0 * yscale,               # height
                g.fsize * g.th * sx,                     # xscale
                yscale,
                _vm_asc / 1000.0 * yscale,               # ascent
                _vm_dsc / 1000.0 * yscale,               # descent
                fam, weight, fstyle,
                # updateStyleForRenderingMode (PDFBoxTree.java:766-779)
                color_hex(g.fill_rgb) if fill_on else TRANSPARENT,
                color_hex(g.stroke_rgb) if stroke_on else TRANSPARENT,
                sticky_tw, sticky_tc,
            ))
            total = float(adv.sum())
            # in-place text-matrix translate (tm is never aliased: BT/Tm/Td
            # always rebind it to a fresh copy)
            tm[2, 0] += total * tm[0, 0]
            tm[2, 1] += total * tm[0, 1]

        def show_run(bases: list, strs: list, xs: list, ys: list) -> None:
            """Batched fast path for a maximal run of
            ``1 0 0 1 x y Tm (s) Tj`` pairs under an identity CTM — the
            dominant shape of real text pages (one positioning + one show
            per line/word). Semantically identical to interleaved
            Tm-handler + show() calls: the per-pair matrix rebuild collapses
            to two multiply-adds (the page transform is the only non-
            translation left), and the whole run's advances come from ONE
            frombuffer + ONE advance_widths call. Text state is constant
            across the run by construction (no other ops inside it)."""
            nonlocal tm, tlm
            joined = "".join(strs)
            codes_all = np.frombuffer(joined.encode("utf-32-le"),
                                      dtype=np.uint32)
            adv_all = F.advance_widths(codes_all, g.font,
                                       g.fsize * g.th / 1000.0)
            if g.tc != 0.0:
                adv_all += g.tc * g.th
            if g.tw != 0.0:
                adv_all[codes_all == 32] += g.tw * g.th
            nrun = len(strs)
            offs = np.zeros(nrun + 1, dtype=np.int64)
            np.cumsum(np.fromiter((len(s) for s in strs), dtype=np.int64,
                                  count=nrun), out=offs[1:])
            p00, p01 = page_m[0, 0], page_m[0, 1]
            p10, p11 = page_m[1, 0], page_m[1, 1]
            p20, p21 = page_m[2, 0], page_m[2, 1]
            fam, weight, fstyle = _font_style(g.font)
            yscale = g.fsize                       # sx = sy = 1 (translate Tm)
            fill = (color_hex(g.fill_rgb) if g.tr in FILL_MODES
                    else TRANSPARENT)
            stroke = (color_hex(g.stroke_rgb) if g.tr in STROKE_MODES
                      else TRANSPARENT)
            _vm_cap, _vm_asc, _vm_dsc = self.vmetrics.get(
                g.font, self._vm_default)
            height = _vm_cap / 1000.0 * yscale
            xsc = g.fsize * g.th
            asc = _vm_asc / 1000.0 * yscale
            dsc = _vm_dsc / 1000.0 * yscale
            ts = g.ts
            enc = self.cmaps.get(g.font)
            append = glyph_chunks.append
            for idx in range(nrun):
                s = strs[idx]
                if not s:
                    continue
                a, b = int(offs[idx]), int(offs[idx + 1])
                codes = codes_all[a:b]
                adv = adv_all[a:b]
                if enc is not None:
                    dec = [enc.get(c, ch)
                           for c, ch in zip(codes.tolist(), s)]
                    s = "".join(dec)
                    if not s:
                        continue
                    if len(s) != len(codes):
                        # ligature expansion: same rule as show()
                        adv = _expand_advances(dec, adv)
                    codes = np.frombuffer(s.encode("utf-32-le"),
                                          dtype=np.uint32)
                x = xs[idx]
                oy = ys[idx] + ts
                append((bases[idx], s, codes, adv,
                        p00, x * p00 + oy * p10 + p20,
                        p01, x * p01 + oy * p11 + p21,
                        1.0, page_no,
                        height, xsc, yscale, asc, dsc, fam, weight, fstyle,
                        fill, stroke, sticky_tw, sticky_tc))
            # text state after the run == after the last Tm + show
            tlm = mat(1.0, 0.0, 0.0, 1.0, xs[-1], ys[-1])
            tm = tlm.copy()
            tm[2, 0] += float(adv_all[offs[-2]:].sum())  # tm[0,0] == 1

        def scan_run(j):
            """Collect a maximal run of (positioning, show) pairs starting at
            token ``j``, under an identity CTM and a translation-only
            text-line matrix. Accepted positioning shapes: translate-only
            ``Tm``, ``Td``, ``TD`` (which also rebinds the leading), ``T*``,
            and ``'`` (next-line move fused with its show). Returns
            ``(bases, strs, xs, ys, next_i, tl)`` when the run has >= 2
            shows, else None.

            Bit-equality with the scalar handlers: on a translation-only
            tlm, ``translate_pre(tx, ty, tlm)`` adds ``tx*1.0 + ty*0.0``
            to x and ``tx*0.0 + ty*1.0`` to y — exact ``cx += tx`` /
            ``cy += ty`` (float addition of an exact +0.0), so the
            accumulated positions match the matrix chain bit for bit."""
            # finiteness is part of the batched-eligibility contract: the
            # scalar translate_pre multiplies each operand by 0.0/1.0, so
            # an inf/NaN operand yields NaN there while plain `cx += tx`
            # would keep inf — non-finite state falls back to the scalar
            # path to stay bit-equal even on damaged streams
            tlm_ok = (tlm[0, 0] == 1.0 and tlm[0, 1] == 0.0
                      and tlm[1, 0] == 0.0 and tlm[1, 1] == 1.0
                      and math.isfinite(tlm[2, 0])
                      and math.isfinite(tlm[2, 1]))
            cx, cy = float(tlm[2, 0]), float(tlm[2, 1])
            tl = g.tl
            if not math.isfinite(tl):
                return None
            bases: list[int] = []
            strs: list[str] = []
            xs: list[float] = []
            ys: list[float] = []
            while j < ntok:
                op1, a1 = tokens[j]
                if op1 == "'":
                    if not tlm_ok or not a1 or type(a1[0]) is not str:
                        break
                    cy -= tl
                    bases.append(j * KEY_STRIDE)
                    strs.append(a1[0])
                    xs.append(cx)
                    ys.append(cy)
                    j += 1
                    continue
                if j + 1 >= ntok:
                    break
                op2, a2 = tokens[j + 1]
                if op2 != "Tj" or not a2 or type(a2[0]) is not str:
                    break
                if op1 == "Tm":
                    if (len(a1) < 6 or a1[0] != 1.0 or a1[1] != 0.0
                            or a1[2] != 0.0 or a1[3] != 1.0
                            or type(a1[4]) is not float
                            or type(a1[5]) is not float
                            or not math.isfinite(a1[4])
                            or not math.isfinite(a1[5])):
                        break
                    cx, cy = a1[4], a1[5]
                    tlm_ok = True
                elif op1 == "Td" or op1 == "TD":
                    if (not tlm_ok or len(a1) < 2
                            or type(a1[0]) is not float
                            or type(a1[1]) is not float
                            or not math.isfinite(a1[0])
                            or not math.isfinite(a1[1])):
                        break
                    if op1 == "TD":
                        tl = -a1[1]
                    cx += a1[0]
                    cy += a1[1]
                elif op1 == "T*":
                    if not tlm_ok:
                        break
                    cy -= tl
                else:
                    break
                bases.append((j + 1) * KEY_STRIDE)
                strs.append(a2[0])
                xs.append(cx)
                ys.append(cy)
                j += 2
            if len(strs) < 2:
                return None
            return bases, strs, xs, ys, j, tl

        def do_image(key: int, media_ref: str, iw: float, ih: float,
                     name: str) -> None:
            """processImageOperation + calculateImagePosition
            (PDFBoxTree.java:544-590)."""
            if iw <= 0 or ih <= 0:
                return
            m = compose(mat(1, 0, 0, 1, 0, -ih),
                        compose(mat(1.0 / iw, 0, 0, -1.0 / ih, 0, 0),
                                compose(g.ctm, page_m)))
            corners = apply_pts(m, np.array(
                [[0.0, 0.0], [iw, 0.0], [0.0, ih], [iw, ih]]))
            x0, y0 = corners.min(axis=0)
            x1, y1 = corners.max(axis=0)
            # rotateImage: rotation-only component of the CTM minus the page
            # rotation (PDFBoxTree.java:564-575: atan2(shearY, scaleY));
            # the reference applies it to the raster pixels — we record the
            # angle on the span (the payload ref stays content-stable)
            angle = math.degrees(
                math.atan2(g.ctm[0, 1], g.ctm[1, 1])) - page_rot
            events.append(("image", key, page_no, float(x0), float(y0),
                           float(x1 - x0), float(y1 - y0), media_ref, name,
                           angle))

        i = 0
        ntok = len(tokens)
        while i < ntok:
            op, args = tokens[i]
            base = i * KEY_STRIDE
            i += 1
            if op == "PG":
                # page boundary: 1-based gate (PDFBoxTree.java:200-210)
                if flush_page is not None:
                    page_flush[flush_page] = base  # sorts before this PG's span
                page_no += 1
                page_active = self.start_page <= page_no <= self.end_page
                flush_page = page_no if page_active else None
                if not page_active:
                    # skip the whole page including font updates
                    while i < ntok and tokens[i][0] != "PG":
                        i += 1
                    # note: page_no keeps counting via the next PG
                    continue
                # per-arg fallback to defaults: PG is our own pseudo-op but
                # its operands ride the untrusted span text, and a stray
                # string before a PG lands in its args on damaged streams
                page_w = (args[0] if len(args) > 0
                          and type(args[0]) is float else 612.0)
                page_h = (args[1] if len(args) > 1
                          and type(args[1]) is float else 792.0)
                page_rot = (int(args[2]) if len(args) > 2
                            and type(args[2]) is float
                            and math.isfinite(args[2]) else 0)
                page_m = page_transform_cached(page_w, page_h, page_rot)
                # fresh per-page graphics state including text state —
                # PDFBox builds a new PDGraphicsState per page, so the font
                # does NOT carry across pages; the *path* and lastText
                # persist (reference fields).
                g = _GState()
                stack = []
                tm = ident()
                tlm = ident()
                if self.collect_fonts:
                    self._prescan_fonts(tokens, i)
                events.append(("page", base + 1, page_no, page_w, page_h, page_rot))
                # page-end flush marker is derived in extract.py from keys
                continue
            if not page_active:
                continue

            # --- text state (hot ops first: Tj/Tm/TJ/Td dominate) -----------
            if op == "Tj":
                # PDFBox ShowText reads arguments.get(0) and shows nothing
                # unless it is a COSString — a /Name operand (PdfName) or
                # number in a damaged stream is skipped
                if args and type(args[0]) is str:
                    show(base, args[0])
            elif (op in _RUN_OPS and self.batch_runs and g.ctm_ident
                    and g.font not in self.cid2_fonts
                    and g.font not in self.widths
                    and (res := scan_run(i - 1)) is not None):
                # batched fast path: a maximal run of (positioning, show)
                # pairs — translate-only Tm / Td / TD / T* / ' chains under
                # an identity CTM (see show_run / scan_run)
                run_b, run_s, run_x, run_y, j, tl_final = res
                show_run(run_b, run_s, run_x, run_y)
                g.tl = tl_final
                i = j
            elif op == "Tm" and (nv := _nums(args, 6)) is not None:
                tlm = mat(*nv)
                tm = tlm.copy()
            elif op == "TJ" and args:
                # ShowTextAdjusted: arguments.get(0) must be the array —
                # anything else shows nothing (damaged-stream parity)
                arr = args[0] if isinstance(args[0], list) else []
                sub = 0
                for el in arr:
                    if type(el) is str:
                        show(base + sub, el)
                        sub += len(el)
                    elif type(el) is float:
                        shift = -el / 1000.0 * g.fsize * g.th
                        tm = translate_pre(shift, 0.0, tm)
                    # nested array / name inside the TJ array: skipped
                    # element-wise (PDFBox ShowTextAdjusted instanceof chain)
            elif op == "Td" and (nv := _nums(args, 2)) is not None:
                tlm = translate_pre(nv[0], nv[1], tlm)
                tm = tlm.copy()
            elif op == "BT":
                tm = ident(); tlm = ident()
            elif op == "ET":
                pass
            elif (op in ("Tf", "GsTf") and len(args) >= 2
                    and type(args[0]) is PdfName
                    and type(args[1]) is float):
                # SetFontAndSize: COSName + COSNumber or no processing —
                # the SAME acceptance rule as _prescan_fonts and
                # pagesplit._TF_RE, so split and unsplit extraction agree
                # on the font table even for damaged streams.
                # GsTf is pdfread's rewrite of an ExtGState /Font entry:
                # identical text state, but INVISIBLE to _prescan_fonts and
                # the pagesplit seed scan — the reference's font table only
                # scans /Font resources (PDFBoxTree.processFontResources),
                # so a gs-only font styles its spans (resolve_family falls
                # back to known-family/raw name, PDFBoxTree.java:737-747)
                # but never emits an @font-face rule
                g.font = str(args[0]); g.fsize = args[1]
            elif op == "Tw" and (nv := _nums(args, 1)) is not None:
                g.tw = nv[0]; sticky_tw = nv[0]
            elif op == "Tc" and (nv := _nums(args, 1)) is not None:
                g.tc = nv[0]; sticky_tc = nv[0]
            elif op == "Tz" and (nv := _nums(args, 1)) is not None:
                g.th = nv[0] / 100.0
            elif op == "TL" and (nv := _nums(args, 1)) is not None:
                g.tl = nv[0]
            elif op == "Ts" and (nv := _nums(args, 1)) is not None:
                g.ts = nv[0]
            elif op == "Tr" and (nv := _nums(args, 1)) is not None:
                # Java (int) semantics: NaN -> 0, inf saturates — an inf
                # mode lands outside FILL/STROKE sets = invisible text,
                # exactly what the reference's intValue() produces
                g.tr = _jint(nv[0])
            elif op == "TD" and (nv := _nums(args, 2)) is not None:
                g.tl = -nv[1]
                tlm = translate_pre(nv[0], nv[1], tlm)
                tm = tlm.copy()
            elif op == "T*":
                tlm = translate_pre(0.0, -g.tl, tlm)
                tm = tlm.copy()
            elif op == "'" and args and type(args[0]) is str:
                tlm = translate_pre(0.0, -g.tl, tlm)
                tm = tlm.copy()
                show(base, args[0])
            elif (op == '"' and len(args) >= 3
                    and (nv := _nums(args, 2)) is not None
                    and type(args[2]) is str):
                # the real text state updates (advances use it), but the
                # STICKY Pdf2Dom style spacing does not: PDFBoxTree's
                # switch matches only literal "Tw"/"Tc" operators
                # (PDFBoxTree.java:425-434) and ShowTextLineAndSpace
                # never dispatches them
                g.tw = nv[0]
                g.tc = nv[1]
                tlm = translate_pre(0.0, -g.tl, tlm)
                tm = tlm.copy()
                show(base, args[2])

            # --- graphics state ----------------------------------------------
            elif op == "q":
                stack.append(g.copy())
            elif op == "Q":
                if stack:
                    g = stack.pop()
            elif op == "cm" and (nv := _nums(args, 6)) is not None:
                g.ctm = compose(mat(*nv), g.ctm)
                g.ctm_ident = False
            elif op == "w" and (nv := _nums(args, 1)) is not None:
                g.line_width = nv[0]
            elif op == "rg" and (nv := _nums(args, 3)) is not None:
                g.fill_rgb = (nv[0], nv[1], nv[2])
            elif op == "RG" and (nv := _nums(args, 3)) is not None:
                g.stroke_rgb = (nv[0], nv[1], nv[2])
            elif op == "g" and (nv := _nums(args, 1)) is not None:
                v = nv[0]; g.fill_rgb = (v, v, v)
            elif op == "G" and (nv := _nums(args, 1)) is not None:
                v = nv[0]; g.stroke_rgb = (v, v, v)
            elif op == "k" and (nv := _nums(args, 4)) is not None:
                g.fill_rgb = cmyk_to_rgb(*nv)
            elif op == "K" and (nv := _nums(args, 4)) is not None:
                g.stroke_rgb = cmyk_to_rgb(*nv)
            elif op in ("sc", "scn"):
                nums = [a for a in args if isinstance(a, float)]
                if len(nums) == 1:
                    g.fill_rgb = (nums[0],) * 3
                elif len(nums) >= 4:
                    g.fill_rgb = cmyk_to_rgb(*nums[:4])
                elif len(nums) == 3:
                    g.fill_rgb = tuple(nums)
            elif op in ("SC", "SCN"):
                nums = [a for a in args if isinstance(a, float)]
                if len(nums) == 1:
                    g.stroke_rgb = (nums[0],) * 3
                elif len(nums) >= 4:
                    g.stroke_rgb = cmyk_to_rgb(*nums[:4])
                elif len(nums) == 3:
                    g.stroke_rgb = tuple(nums)

            # --- path construction (PDFBoxTree.java:437-493) ------------------
            elif op == "m":
                if (not self.disable_graphics
                        and (nv := _nums(args, 2)) is not None):
                    px, py = tp(nv[0], nv[1])
                    psx, psy = px, py
            elif op == "l":
                if (not self.disable_graphics
                        and (nv := _nums(args, 2)) is not None):
                    nx, ny = tp(nv[0], nv[1])
                    path.append((px, py, nx, ny))
                    px, py = nx, ny
            elif op == "h":
                if not self.disable_graphics:
                    path.append((px, py, psx, psy))
            elif op == "re":
                # NOTE the reference transforms only the two opposite
                # corners and synthesizes axis-aligned segments from them
                # (PDFBoxTree.java:485-490) — under a rotated/sheared CTM
                # this is NOT the true transformed quad; mirrored
                # bug-for-bug (a faithful 4-corner transform would change
                # kinds/coords vs the reference on such CTMs).
                if (not self.disable_graphics
                        and (nv := _nums(args, 4)) is not None):
                    x, y, w_, h_ = nv
                    p1 = tp(x, y)
                    p2 = tp(x + w_, y + h_)
                    path.append((p1[0], p1[1], p2[0], p1[1]))
                    path.append((p2[0], p1[1], p2[0], p2[1]))
                    path.append((p2[0], p2[1], p1[0], p2[1]))
                    path.append((p1[0], p2[1], p1[0], p1[1]))

            # --- path painting (PDFBoxTree.java:496-532) ----------------------
            elif op in ("f", "F", "f*"):
                render_path(base, stroke=False, fill=True)
                path = []
            elif op == "S":
                render_path(base, stroke=True, fill=False)
                path = []
            elif op == "s":
                path.append((px, py, psx, psy))
                render_path(base, stroke=True, fill=False)
                path = []
            elif op in ("B", "B*"):
                render_path(base, stroke=True, fill=True)
                path = []
            elif op in ("b", "b*"):
                path.append((px, py, psx, psy))
                render_path(base, stroke=True, fill=True)
                path = []
            elif op == "n":
                path = []

            # --- images -------------------------------------------------------
            elif op == "DoMedia" and len(args) >= 3:
                # normally synthesized by doc_tokens (trusted floats), but
                # the literal text "DoMedia" in a hostile stream arrives
                # with arbitrary operands — same _nums discipline
                if (not self.disable_images
                        and isinstance(args[0], str)
                        and (nv := _nums(args[1:3], 2)) is not None):
                    do_image(base, args[0], nv[0], nv[1],
                             str(args[3]) if len(args) > 3 else "Untitled")
            # plain named Do without a registry entry: not an image XObject
            # -> ignored (PDFBoxTree.java:548 instanceof check)

        end_key = ntok * KEY_STRIDE
        if flush_page is not None:
            page_flush[flush_page] = end_key
        # concat=False hands the raw show chunks to the caller so the
        # glyph-frame build can run ONCE per Arrow batch
        # (_concat_glyphs_many) instead of once per document
        glyphs = _concat_glyphs(glyph_chunks) if concat else glyph_chunks
        return glyphs, events, self.font_table, end_key, page_flush

    def _prescan_fonts(self, tokens: list, start: int) -> None:
        """updateFontTable at page start (PDFBoxTree.java:200-210,353-366):
        the page's font resources are modeled as the fonts referenced by Tf
        on that page, in first-use order."""
        n = len(tokens)
        for j in range(start, n):
            op = tokens[j][0]
            if op == "PG":
                break
            # the SAME Tf acceptance rule as the run-loop handler and
            # pagesplit._TF_RE: a name plus a numeric size — otherwise a
            # damaged Tf would register a font the split path's seed scan
            # cannot see, desynchronizing split vs unsplit font tables
            if op == "Tf":
                args = tokens[j][1]
                if (len(args) >= 2 and type(args[0]) is PdfName
                        and type(args[1]) is float):
                    self.font_table.add_entry(str(args[0]))


def _to_rectangle(path: list[tuple]) -> list[float] | None:
    """PDFBoxTree.toRectangle (PDFBoxTree.java:325-348): exactly 4 segments
    with exactly 2 distinct x and 2 distinct y coordinates."""
    if len(path) != 4:
        return None
    xc, yc = set(), set()
    for s in path:
        xc.add(s[0]); xc.add(s[2])
        yc.add(s[1]); yc.add(s[3])
    if len(xc) == 2 and len(yc) == 2:
        return [min(xc), min(yc), max(xc), max(yc)]
    return None


# show-record tuple slots (see DocInterp.run.show)
_K_KEY, _K_S, _K_CODES, _K_ADV = 0, 1, 2, 3
_K_AX, _K_BX, _K_AY, _K_BY, _K_M00, _K_PAGE = 4, 5, 6, 7, 8, 9
_SCALAR_F64 = {  # column -> tuple slot
    "height": 10, "xscale": 11, "yscale": 12, "ascent": 13, "descent": 14,
    "word_spacing": 20, "letter_spacing": 21,
}
_SCALAR_OBJ = {
    "font_family": 15, "font_weight": 16, "font_style": 17,
    "color": 18, "stroke_color": 19,
}


def _concat_glyphs(chunks: list[tuple]) -> dict:
    """One document's show records -> glyph frame (see
    ``_concat_glyphs_many``; single-doc wrapper so the paths share code)."""
    out, _gdoc = _concat_glyphs_many([chunks])
    return out


def _concat_glyphs_many(chunk_lists: list[list[tuple]]
                        ) -> tuple[dict, np.ndarray]:
    """Batched finalize of MANY documents' show records: one segmented
    prefix sum over ALL advances, then positions dev = cum*A + B, widths
    adv*m00, keys base + within-show index — a handful of whole-BATCH
    vector ops instead of per-show (or even per-document) small-array
    work. Returns (global glyph frame, per-glyph document index).

    Cross-document safety: the page-segmented prefix sum also breaks at
    document boundaries (two adjacent documents can share a page number),
    and the style-identity dict is global — ids stay equality-faithful
    within any single document, which is the only scope the chunker
    compares them in."""
    ndocs = len(chunk_lists)
    nch_per = np.fromiter((len(cl) for cl in chunk_lists), np.int64, ndocs)
    chunks = [ch for cl in chunk_lists for ch in cl]
    if not chunks:
        return ({c: np.array([]) for c in GLYPH_COLS},
                np.empty(0, dtype=np.int64))
    nch = len(chunks)
    chunk_doc = np.repeat(np.arange(ndocs, dtype=np.int64), nch_per)
    lens = np.fromiter((len(ch[_K_ADV]) for ch in chunks), dtype=np.int64,
                       count=nch)
    n = int(lens.sum())
    adv = np.concatenate([ch[_K_ADV] for ch in chunks])
    codes = np.concatenate([ch[_K_CODES] for ch in chunks])
    starts = np.zeros(nch, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    # Prefix-sum the advances PER PAGE, not per document: a doc-global
    # cumsum makes every glyph position carry rounding error from all
    # earlier pages, so the page-split path (pagesplit.py groups at page
    # boundaries) would drift from the unsplit path at the 1e-13 level.
    # Page-local accumulation is bit-identical under any page-aligned
    # split and strictly closer to the reference's per-show arithmetic.
    pg = np.fromiter((ch[_K_PAGE] for ch in chunks), dtype=np.int64,
                     count=nch)
    page_chunk_starts = np.flatnonzero(
        np.concatenate(([True], (pg[1:] != pg[:-1])
                        | (chunk_doc[1:] != chunk_doc[:-1]))))
    gps = starts[page_chunk_starts]            # glyph index per page start
    cs = np.empty(n)
    pb = np.append(gps, n)
    for a, b in zip(pb[:-1], pb[1:]):
        cs[a] = 0.0
        if b - a > 1:
            np.cumsum(adv[a:b - 1], out=cs[a + 1:b])
    cum = cs - np.repeat(cs[starts], lens)

    # ONE 2-D row-repeat for all 12 per-chunk float scalars instead of 12
    # per-column np.repeat passes (same values, one memory sweep)
    _f64_slots = (_K_AX, _K_BX, _K_AY, _K_BY, _K_M00,
                  *_SCALAR_F64.values())
    # flat fromiter + reshape: 1.8x over np.array on the nested list comp
    # (no per-row list objects), same values
    sc = np.fromiter(
        (ch[sl] for ch in chunks for sl in _f64_slots),
        dtype=np.float64, count=nch * len(_f64_slots),
    ).reshape(nch, len(_f64_slots))
    scr = np.repeat(sc, lens, axis=0)

    out: dict = {}
    out["x"] = cum * scr[:, 0] + scr[:, 1]
    out["y"] = cum * scr[:, 2] + scr[:, 3]
    out["width"] = adv * scr[:, 4]
    within = np.arange(n, dtype=np.int64) - np.repeat(starts, lens)
    out["key"] = np.repeat(
        np.fromiter((ch[_K_KEY] for ch in chunks), dtype=np.int64,
                    count=nch), lens) + within
    out["page_no"] = np.repeat(pg.astype(np.int32), lens)
    for i, c in enumerate(_SCALAR_F64):
        out[c] = scr[:, 5 + i]
    for c, slot in _SCALAR_OBJ.items():
        out[c] = np.repeat(
            np.array([ch[slot] for ch in chunks], dtype=object), lens)
    # per-chunk style-identity id: the 8-field BoxStyle identity
    # (BoxStyle.java:366-405) is CONSTANT within a show, so the chunker can
    # compare one small int per glyph instead of 8 full-length columns
    # (float32-rounded numerics match the reference's float fidelity)
    style_ids: dict = {}
    sid = np.empty(nch, dtype=np.int32)
    for j, ch in enumerate(chunks):
        key = (np.float32(ch[11]), np.float32(ch[20]), np.float32(ch[21]),
               ch[15], ch[16], ch[17], ch[18], ch[19])
        sid[j] = style_ids.setdefault(key, len(style_ids))
    out["style_id"] = np.repeat(sid, lens)
    all_text = "".join(ch[_K_S] for ch in chunks)
    out["unicode"] = np.array(list(all_text), dtype=object)
    # whitespace test mirrors Java String.trim().isEmpty()
    # (PDFBoxTree.java:599): ONLY code points <= U+0020 count — NBSP and the
    # typographic U+2000.. spaces are printable glyphs in the reference
    is_ws = codes <= 32
    is_dia = np.zeros(n, dtype=bool)
    rtl = np.zeros(n, dtype=bool)
    if codes.max(initial=0) >= 128:
        # per-char unicodedata only for the non-ASCII chunks
        pos = 0
        for ch, m in zip(chunks, lens):
            m = int(m)
            if ch[_K_CODES].max(initial=0) >= 128:
                s_ = ch[_K_S]
                is_dia[pos:pos + m] = np.fromiter(
                    (is_diacritic_char(c) for c in s_), dtype=bool, count=m)
                rtl[pos:pos + m] = np.fromiter(
                    (is_rtl_char(c) for c in s_), dtype=bool, count=m)
            pos += m
    out["is_ws"] = is_ws
    out["is_dia"] = is_dia
    out["rtl"] = rtl
    return out, np.repeat(chunk_doc, lens)


_FORM_DEPTH_MAX = 8


def doc_tokens(spans: list[dict]) -> list[tuple[str, list]]:
    """Splice a document's interleaved spans into one ordered token list.

    - kind='text' / 'rect': content-stream fragments, tokenized;
    - kind='image': one synthetic ``DoMedia`` op carrying
      (media_ref, width, height, name) — the reference's ``Do`` of an
      image XObject (PDFBoxTree.java:535-562) with the payload already
      resolved (``text`` holds "W H Name");
    - kind='form': a Form XObject DEFINITION (media_ref='form:<Name>',
      text=its content fragment). ``/Name Do`` in any fragment expands the
      form inline wrapped in q/Q — exactly PDFBox's showForm
      (save state -> execute child stream -> restore; the form matrix is
      modeled as leading cm ops inside the form content). Nested forms
      recurse with a cycle guard (an active form never re-expands itself;
      the reference's guard compares child resources to the parent's,
      PDFBoxTree.java:397-402) and a depth cap. The page font prescan
      naturally sees the expanded forms' Tf ops — the transposition of
      processFontResources' recursion into form resources
      (PDFBoxTree.java:394-404). A ``Do`` of an unknown name stays in the
      stream and is ignored by the interpreter (PDFBoxTree.java:548
      instanceof check).
    """
    ordered = sorted(spans, key=lambda s: s["offset"])
    forms: dict[str, list] = {}
    for sp in ordered:
        if sp["kind"] == "form":
            name = (sp.get("media_ref") or "")
            name = name[5:] if name.startswith("form:") else name
            forms[name] = tokenize(sp.get("text") or "")

    toks: list[tuple[str, list]] = []

    def expand(sub: list, active: frozenset, depth: int) -> None:
        for op, args in sub:
            # Do requires a COSName operand (PDFBoxTree.java:548); a
            # string literal that happens to equal a form name must not
            # trigger expansion
            if (op == "Do" and args and type(args[-1]) is PdfName
                    and str(args[-1]) in forms
                    and str(args[-1]) not in active
                    and depth < _FORM_DEPTH_MAX):
                nm = str(args[-1])
                toks.append(("q", []))
                expand(forms[nm], active | {nm}, depth + 1)
                toks.append(("Q", []))
            else:
                toks.append((op, args))

    for sp in ordered:
        kind = sp["kind"]
        if kind in ("form", "meta", "cmap", "widths", "fontfile"):
            continue  # definitions/document-info/encodings are not content
        if kind == "image":
            meta = (sp.get("text") or "").split()

            def _dim(idx: int) -> float:
                # image metadata rides the untrusted span text: a
                # non-numeric dimension falls back to 1.0 instead of
                # killing the document
                if len(meta) > idx:
                    try:
                        return float(meta[idx])
                    except ValueError:
                        return 1.0
                return 1.0

            w = _dim(0)
            h = _dim(1)
            name = meta[2] if len(meta) > 2 else "Untitled"
            toks.append(("DoMedia", [sp.get("media_ref") or "", w, h, name]))
        elif forms:
            expand(tokenize(sp.get("text") or ""), frozenset(), 0)
        else:
            # no form definitions: expand() would append every token
            # unchanged — one C-level extend instead of the per-token loop
            toks.extend(tokenize(sp.get("text") or ""))
    return toks
