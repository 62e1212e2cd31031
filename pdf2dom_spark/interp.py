"""Content-stream interpreter: ordered tokens -> glyph frame + layout events.

Reimplements the stateful single-pass of the reference
(``PDFBoxTree.processOperator`` PDFBoxTree.java:410-542 and
``processTextPosition`` PDFBoxTree.java:592-656 / PDFBox's
LegacyPDFStreamEngine glyph positioning) twice, with equal results:
  - ``run_batch``: a whole Arrow batch at once over the flat operator
    arrays of ``tokenizer.tokenize_batch``, the running state turned into
    cumulative array operations (see the block comment above it). Every
    document whose operators and operand shapes it covers takes this path.
  - ``DocInterp.run``: a per-document scan of ``(op, args)`` tuples, one
    handler per operator, whose per-glyph work (advances) is
    numpy-vectorized per show string. It covers every operator and every
    damaged operand shape, and serves the documents ``run_batch`` does not
    cover, the page-split groups and the per-document reference.
Both produce layout events, the font table and the shows, which
``glyph_frame`` turns into the batch's glyph frame.

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
    stream order exactly.
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
from .tokenizer import (ARG_ARR, ARG_NAME, ARG_NUM, ARG_STR, TK_NUM, TK_OP,
                        TK_STR, PdfName, op_key, tokenize)

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
    """Interprets one document's token list. ``run`` returns:

    - the show records: one tuple per non-empty show string (``chunk_frame``
      turns many documents' records into one ChunkFrame)
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
                 | None = None):
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
        self.font_table = F.FontTable(font_seed or ())
        self._adv = self._make_adv()

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

    def run(self, tokens: list[tuple[str, list]]):
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

        glyph_chunks: list[tuple] = []
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
            widths, keys, whitespace flags) is DEFERRED to glyph_frame:
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
            # in glyph_frame).
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
            elif op in _PAINT_OPS:
                stroke, fill, close = _PAINT_OPS[op]
                if close:
                    path.append((px, py, psx, psy))
                render_path(events, path, base, page_no, stroke, fill,
                            g.ctm, g.line_width, g.stroke_rgb, g.fill_rgb,
                            self.raster_paths)
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
                    image_event(events, base, page_no, args[0], nv[0], nv[1],
                                str(args[3]) if len(args) > 3 else "Untitled",
                                g.ctm, page_m, page_rot)
            # plain named Do without a registry entry: not an image XObject
            # -> ignored (PDFBoxTree.java:548 instanceof check)

        end_key = ntok * KEY_STRIDE
        if flush_page is not None:
            page_flush[flush_page] = end_key
        # the raw show records: the glyph frame is built once per Arrow
        # batch (chunk_frame + glyph_frame), not once per document
        return glyph_chunks, events, self.font_table, end_key, page_flush

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


# path-painting operators -> (stroke, fill, close the subpath first)
_PAINT_OPS = {"f": (False, True, False), "F": (False, True, False),
              "f*": (False, True, False), "S": (True, False, False),
              "s": (True, False, True), "B": (True, True, False),
              "B*": (True, True, False), "b": (True, True, True),
              "b*": (True, True, True)}


def transform_width(w: float, ctm: np.ndarray) -> float:
    """PDFBox PDFStreamEngine.transformWidth."""
    x = ctm[0, 0] + ctm[1, 0]
    y = ctm[0, 1] + ctm[1, 1]
    return w * math.sqrt((x * x + y * y) * 0.5)


def render_path(events: list, path: list, key: int, page_no: int,
                stroke: bool, fill: bool, ctm: np.ndarray,
                line_width: float, stroke_rgb: tuple, fill_rgb: tuple,
                raster_paths: bool) -> None:
    """PDFDomTree.renderPath dispatch (PDFDomTree.java:234-252): the
    events one path paint appends, from the device-space segments
    ``path`` and the graphics state at the paint."""
    rect = _to_rectangle(path)
    if rect is not None:
        lw = transform_width(line_width, ctm)
        events.append(("rect", key, page_no, rect[0], rect[1],
                       rect[2] - rect[0], rect[3] - rect[1], lw,
                       stroke, fill, color_hex(stroke_rgb),
                       color_hex(fill_rgb)))
    elif stroke:
        lw = transform_width(line_width, ctm)
        for i, seg in enumerate(path):
            events.append(("line", key + i, page_no, seg[0], seg[1],
                           seg[2], seg[3], lw, color_hex(stroke_rgb)))
    elif path:
        # PathDrawer.drawPath bounds (PathDrawer.java:43-136):
        # int-truncated min/max over both endpoints; degenerate -> 1x1.
        xs = [_jint(v) for s in path for v in (s[0], s[2])]
        ys = [_jint(v) for s in path for v in (s[1], s[3])]
        x0, y0 = min(xs), min(ys)
        w, h = max(xs) - x0, max(ys) - y0
        if w <= 0 or h <= 0:
            w = h = 1
        if raster_paths:
            from .raster import draw_path_png
            ref = draw_path_png(path, fill_rgb, x0, y0, w, h)
        else:
            ref = _path_ref(xs, ys, color_hex(fill_rgb))
        events.append(("pathimg", key, page_no, float(x0), float(y0),
                       float(w), float(h), ref))


def _path_ref(xs: list, ys: list, color: str) -> str:
    """Content-hash ref of a filled path from its int-truncated endpoint
    coordinates (x1, x2 and y1, y2 per segment) and fill color."""
    return "path:" + hashlib.sha256(
        (";".join(f"{xs[2 * i]},{ys[2 * i]},{xs[2 * i + 1]},"
                  f"{ys[2 * i + 1]}" for i in range(len(xs) // 2))
         + "|" + color).encode()).hexdigest()[:16]


def image_event(events: list, key: int, page_no: int, media_ref: str,
                iw: float, ih: float, name: str, ctm: np.ndarray,
                page_m: np.ndarray, page_rot: int) -> None:
    """processImageOperation + calculateImagePosition
    (PDFBoxTree.java:544-590)."""
    if iw <= 0 or ih <= 0:
        return
    geom = _image_geom(iw, ih, ctm, page_m, page_rot)
    events.append(("image", key, page_no, *geom[:4], media_ref, name,
                   geom[4]))


def _image_geom(iw: float, ih: float, ctm: np.ndarray, page_m: np.ndarray,
                page_rot: int) -> tuple:
    """(x, y, width, height, angle) of an image placement."""
    m = compose(mat(1, 0, 0, 1, 0, -ih),
                compose(mat(1.0 / iw, 0, 0, -1.0 / ih, 0, 0),
                        compose(ctm, page_m)))
    corners = apply_pts(m, np.array(
        [[0.0, 0.0], [iw, 0.0], [0.0, ih], [iw, ih]]))
    x0, y0 = corners.min(axis=0)
    x1, y1 = corners.max(axis=0)
    # rotateImage: rotation-only component of the CTM minus the page
    # rotation (PDFBoxTree.java:564-575: atan2(shearY, scaleY));
    # the reference applies it to the raster pixels — we record the
    # angle on the span (the payload ref stays content-stable)
    angle = math.degrees(math.atan2(ctm[0, 1], ctm[1, 1])) - page_rot
    return (float(x0), float(y0), float(x1 - x0), float(y1 - y0), angle)


# show-record tuple slots (see DocInterp.run.show)
# (slot 1 is the show string; the glyph frame reads its code points)
_K_KEY, _K_CODES, _K_ADV = 0, 2, 3
_K_AX, _K_BX, _K_AY, _K_BY, _K_M00, _K_PAGE = 4, 5, 6, 7, 8, 9
_SCALAR_F64 = {  # column -> tuple slot
    "height": 10, "xscale": 11, "yscale": 12, "ascent": 13, "descent": 14,
    "word_spacing": 20, "letter_spacing": 21,
}
_SCALAR_OBJ = {
    "font_family": 15, "font_weight": 16, "font_style": 17,
    "color": 18, "stroke_color": 19,
}


# per-show float columns of a ChunkFrame, in ``ChunkFrame.f64`` order
_F64_COLS = ("ax", "bx", "ay", "by", "m00", *_SCALAR_F64)
_F64_SLOTS = (_K_AX, _K_BX, _K_AY, _K_BY, _K_M00, *_SCALAR_F64.values())


@dataclass
class ChunkFrame:
    """Show records of many documents as columns: one row per non-empty
    show, doc-major and in stream order within a document. ``f64`` holds
    the _F64_COLS per show, ``obj`` the _SCALAR_OBJ string columns,
    ``sid`` the style identity (equal ids <=> equal 8-field BoxStyle
    identity, within one document), ``codes``/``adv`` the glyphs' code
    points and advances, show after show. Built from per-document show
    tuples (``chunk_frame``) or directly by the batch interpreter."""
    doc: np.ndarray
    key: np.ndarray
    page: np.ndarray
    lens: np.ndarray
    f64: np.ndarray
    obj: dict
    sid: np.ndarray
    codes: np.ndarray
    adv: np.ndarray

    @staticmethod
    def empty() -> "ChunkFrame":
        i = np.empty(0, dtype=np.int64)
        return ChunkFrame(i, i, i, i, np.empty((0, len(_F64_COLS))),
                          {c: np.empty(0, dtype=object) for c in _SCALAR_OBJ},
                          np.empty(0, dtype=np.int32),
                          np.empty(0, dtype=np.uint32), np.empty(0))

    def concat_sorted(self, other: "ChunkFrame") -> "ChunkFrame":
        """Both frames' shows, doc-major (stable: each document's shows
        come from one frame and keep their order)."""
        if not len(other.doc):
            return self
        if not len(self.doc):
            return other
        doc = np.concatenate((self.doc, other.doc))
        order = np.argsort(doc, kind="stable")
        lens = np.concatenate((self.lens, other.lens))
        gst = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=gst[1:])
        ol = lens[order]
        ng = int(ol.sum())
        ost = np.zeros(len(ol), dtype=np.int64)
        np.cumsum(ol[:-1], out=ost[1:])
        gidx = np.repeat(gst[order] - ost, ol) + np.arange(ng)
        # style ids are only compared within a document, and each
        # document's shows come from one frame
        sid = np.concatenate((self.sid, other.sid))
        return ChunkFrame(
            doc[order], np.concatenate((self.key, other.key))[order],
            np.concatenate((self.page, other.page))[order], ol,
            np.concatenate((self.f64, other.f64))[order],
            {c: np.concatenate((self.obj[c], other.obj[c]))[order]
             for c in _SCALAR_OBJ},
            sid[order].astype(np.int32),
            np.concatenate((self.codes, other.codes))[gidx],
            np.concatenate((self.adv, other.adv))[gidx])


def chunk_frame(chunk_lists: list[list[tuple]]) -> ChunkFrame:
    """Per-document show tuples (``DocInterp.run``) ->
    ChunkFrame with document index = position in ``chunk_lists``."""
    ndocs = len(chunk_lists)
    chunks = [ch for cl in chunk_lists for ch in cl]
    if not chunks:
        return ChunkFrame.empty()
    nch = len(chunks)
    doc = np.repeat(np.arange(ndocs, dtype=np.int64), np.fromiter(
        (len(cl) for cl in chunk_lists), np.int64, ndocs))
    lens = np.fromiter((len(ch[_K_ADV]) for ch in chunks), dtype=np.int64,
                       count=nch)
    # flat fromiter + reshape: 1.8x over np.array on the nested list comp
    # (no per-row list objects), same values
    f64 = np.fromiter(
        (ch[sl] for ch in chunks for sl in _F64_SLOTS),
        dtype=np.float64, count=nch * len(_F64_SLOTS),
    ).reshape(nch, len(_F64_SLOTS))
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
    return ChunkFrame(
        doc=doc,
        key=np.fromiter((ch[_K_KEY] for ch in chunks), dtype=np.int64,
                        count=nch),
        page=np.fromiter((ch[_K_PAGE] for ch in chunks), dtype=np.int64,
                         count=nch),
        lens=lens, f64=f64,
        obj={c: np.array([ch[slot] for ch in chunks], dtype=object)
             for c, slot in _SCALAR_OBJ.items()},
        sid=sid,
        codes=np.concatenate([ch[_K_CODES] for ch in chunks]),
        adv=np.concatenate([ch[_K_ADV] for ch in chunks]))


def glyph_frame(cf: ChunkFrame) -> tuple[dict, np.ndarray]:
    """Batched finalize of MANY documents' shows: one segmented prefix
    sum over ALL advances, then positions dev = cum*A + B, widths
    adv*m00, keys base + within-show index — a handful of whole-BATCH
    vector ops instead of per-show (or even per-document) small-array
    work. Returns (global glyph frame, per-glyph document index). The
    frame holds only numbers: each glyph's code point (``code``) and the
    index of its show (``show``), whose string style columns stay per
    show in ``cf.obj``.

    Cross-document safety: the page-segmented prefix sum also breaks at
    document boundaries (two adjacent documents can share a page number),
    and style ids are only compared within a single document."""
    nch = len(cf.doc)
    lens = cf.lens
    n = int(lens.sum())
    adv = cf.adv
    codes = cf.codes
    starts = np.zeros(nch, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    # Prefix-sum the advances PER PAGE, not per document: a doc-global
    # cumsum makes every glyph position carry rounding error from all
    # earlier pages, so the page-split path (pagesplit.py groups at page
    # boundaries) would drift from the unsplit path at the 1e-13 level.
    # Page-local accumulation is bit-identical under any page-aligned
    # split and strictly closer to the reference's per-show arithmetic.
    pg = cf.page
    page_first = np.ones(nch, dtype=bool)
    page_first[1:] = (pg[1:] != pg[:-1]) | (cf.doc[1:] != cf.doc[:-1])
    cs = _page_cumsum(adv, starts[page_first], n)
    cum = cs - np.repeat(cs[starts], lens)

    # ONE 2-D row-repeat for all 12 per-chunk float scalars instead of 12
    # per-column np.repeat passes (same values, one memory sweep)
    scr = np.repeat(cf.f64, lens, axis=0)

    out: dict = {}
    out["x"] = cum * scr[:, 0] + scr[:, 1]
    out["y"] = cum * scr[:, 2] + scr[:, 3]
    out["width"] = adv * scr[:, 4]
    within = np.arange(n, dtype=np.int64) - np.repeat(starts, lens)
    out["key"] = np.repeat(cf.key, lens) + within
    out["page_no"] = np.repeat(pg.astype(np.int32), lens)
    for i, c in enumerate(_SCALAR_F64):
        out[c] = scr[:, 5 + i]
    out["style_id"] = np.repeat(cf.sid, lens)
    out["code"] = codes
    out["show"] = np.repeat(np.arange(nch), lens)
    # whitespace test mirrors Java String.trim().isEmpty()
    # (PDFBoxTree.java:599): ONLY code points <= U+0020 count — NBSP and the
    # typographic U+2000.. spaces are printable glyphs in the reference
    is_ws = codes <= 32
    is_dia = np.zeros(n, dtype=bool)
    rtl = np.zeros(n, dtype=bool)
    wide = np.flatnonzero(codes >= 128)
    if len(wide):
        # per-char unicodedata only for the non-ASCII code points
        uniq, inv = np.unique(codes[wide], return_inverse=True)
        flags = np.array([(is_diacritic_char(ch), is_rtl_char(ch))
                          for ch in map(chr, uniq.tolist())],
                         dtype=bool).reshape(len(uniq), 2)
        is_dia[wide] = flags[inv, 0]
        rtl[wide] = flags[inv, 1]
    out["is_ws"] = is_ws
    out["is_dia"] = is_dia
    out["rtl"] = rtl
    return out, np.repeat(cf.doc, lens)


# pages up to this many glyphs are prefix-summed together as rows of one
# zero-padded 2-D cumsum; longer ones one by one
_PAGE_ROW_MAX = 512


def _page_cumsum(adv: np.ndarray, page_starts: np.ndarray,
                 n: int) -> np.ndarray:
    """Exclusive prefix sum of ``adv`` restarting at every page start,
    accumulated left to right exactly like ``np.cumsum`` on each page's
    slice (a row-wise cumsum is the same sequential sum; trailing zero
    padding cannot change a prefix)."""
    cs = np.empty(n)
    if not n:
        return cs
    pb = np.append(page_starts, n)
    plen = pb[1:] - pb[:-1]
    short = np.flatnonzero(plen <= _PAGE_ROW_MAX)
    if len(short):
        width = int(plen[short].max())
        rows = np.zeros((len(short), width))
        col = np.arange(width)
        valid = col[None, :] < plen[short, None] - 1
        src = pb[short, None] + col[None, :]
        rows[valid] = adv[src[valid]]
        acc = np.cumsum(rows, axis=1)
        dst = src + 1
        cs[pb[short]] = 0.0
        cs[dst[valid]] = acc[valid]
    for k in np.flatnonzero(plen > _PAGE_ROW_MAX).tolist():
        a, b = int(pb[k]), int(pb[k + 1])
        cs[a] = 0.0
        np.cumsum(adv[a:b - 1], out=cs[a + 1:b])
    return cs


_FORM_DEPTH_MAX = 8


def image_op_args(text: str | None, media_ref: str | None) -> list:
    """An image span's DoMedia operands: (media_ref, width, height,
    name) from its ``"W H Name"`` text. The metadata rides the untrusted
    span text: a missing or non-numeric dimension is 1.0 instead of
    killing the document."""
    meta = (text or "").split()

    def dim(idx: int) -> float:
        if len(meta) > idx:
            try:
                return float(meta[idx])
            except ValueError:
                return 1.0
        return 1.0

    return [media_ref or "", dim(0), dim(1),
            meta[2] if len(meta) > 2 else "Untitled"]


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
            toks.append(("DoMedia", image_op_args(sp.get("text"),
                                                  sp.get("media_ref"))))
        elif forms:
            expand(tokenize(sp.get("text") or ""), frozenset(), 0)
        else:
            # no form definitions: expand() would append every token
            # unchanged — one C-level extend instead of the per-token loop
            toks.extend(tokenize(sp.get("text") or ""))
    return toks


# --- batch interpreter --------------------------------------------------------
#
# ``run_batch`` interprets every covered document of an Arrow batch at once,
# over the flat operator arrays of ``tokenizer.tokenize_batch``. It returns
# what ``DocInterp.run`` returns per document — layout
# events, font table, end key, page-flush keys — with the shows as one
# ChunkFrame, and it computes every float with the same operations in
# the same order as ``DocInterp.run``, so the two paths agree bit for bit.
# The running state becomes whole-batch array operations:
#   - page numbers are a per-document cumsum of PG;
#   - a graphics-state setter is visible until the q/Q scope it was made
#     in closes: Q is a setter that copies the state before its matching
#     q (``_scoped_sources``); PG resets everything;
#   - the sticky Pdf2Dom Tw/Tc (never restored by Q, never reset by PG)
#     are a per-document forward fill;
#   - the text line matrix and the text matrix are two chains of
#     translations, reset by BT/Tm/PG (and Td/TD/T* for the text matrix)
#     and advanced by Td/TD/T*, shows and TJ kerns, accumulated exactly
#     in stream order (``_chain``);
#   - the CTM is composed once per cm, in stream order, with ``compose``.
# Paths and images, a few per document, run through the same
# ``render_path``/``image_event`` as DocInterp. A document that uses any
# operator or operand shape outside ``_B_SIG`` is not covered and takes
# the per-document path.

_B_SIG = {
    "PG": (ARG_NUM,) * 3, "BT": (), "ET": (), "Tf": (ARG_NAME, ARG_NUM),
    "Tj": (ARG_STR,), "TJ": (ARG_ARR,), "Tm": (ARG_NUM,) * 6,
    "Td": (ARG_NUM,) * 2, "TD": (ARG_NUM,) * 2, "T*": (),
    "TL": (ARG_NUM,), "Tc": (ARG_NUM,), "Tw": (ARG_NUM,), "Tz": (ARG_NUM,),
    "Ts": (ARG_NUM,), "Tr": (ARG_NUM,), "q": (), "Q": (),
    "cm": (ARG_NUM,) * 6, "w": (ARG_NUM,), "rg": (ARG_NUM,) * 3,
    "RG": (ARG_NUM,) * 3, "g": (ARG_NUM,), "G": (ARG_NUM,),
    "m": (ARG_NUM,) * 2, "l": (ARG_NUM,) * 2, "h": (),
    "re": (ARG_NUM,) * 4, **{op: () for op in _PAINT_OPS}, "n": (),
    "Do": (ARG_NAME,),
}
_B_OPS = tuple(_B_SIG)
_OC = {op: i for i, op in enumerate(_B_OPS)}
_OC_DOMEDIA = len(_B_OPS)  # an image span's synthetic DoMedia
FRAG_CONTENT, FRAG_FORM, FRAG_OTHER = range(3)  # run_batch's frag_kind
_OP_LUT = np.full(1 << 14, -1, dtype=np.int64)
for _op, _i in _OC.items():
    _OP_LUT[op_key(_op)] = _i
_SIG_OF = np.array([sum(k << (3 * j) for j, k in enumerate(_B_SIG[op]))
                    for op in _B_OPS] + [0], dtype=np.int64)
_PAINT_CODES = {_OC[op]: flags for op, flags in _PAINT_OPS.items()}
_PATH_CODES = np.array([_OC[op] for op in ("m", "l", "h", "re", "n",
                                           *_PAINT_OPS)])
_PATH_END_CODES = np.array([_OC[op] for op in ("n", *_PAINT_OPS)])
_POINT_CODES = np.array([_OC[op] for op in ("m", "l", "re")])
# path segments each op adds: l/h one, re four, a closing paint one
_NSEG = np.zeros(len(_B_OPS) + 1, dtype=np.int64)
_NSEG[[_OC["l"], _OC["h"]]] = 1
_NSEG[_OC["re"]] = 4
for _op, (_s, _f, _close) in _PAINT_OPS.items():
    _NSEG[_OC[_op]] = int(_close)
_NSEG_DISABLED = _NSEG.copy()  # disable_graphics: only the closing ones
_NSEG_DISABLED[[_OC["l"], _OC["h"], _OC["re"]]] = 0


_NO_FONTS = F.FontTable()


@dataclass
class BatchRun:
    """``run_batch`` output. Per document of the batch: ``covered`` (False:
    take the per-document path; every other field is then empty),
    ``events``, ``fonts`` (FontTable) and ``end_key``; ``flushes`` (a
    ``flush_table``) and ``chunks`` hold the covered documents' page
    flushes and shows."""
    covered: np.ndarray
    events: list
    fonts: list
    end_key: np.ndarray
    flushes: tuple
    chunks: ChunkFrame


def page_key(doc, page) -> np.ndarray:
    """(doc << 32) | page: one int64 per (document, page) that sorts as
    the pair (page numbers are non-negative int32)."""
    return ((np.asarray(doc, dtype=np.int64) << 32)
            | np.asarray(page, dtype=np.int64))


def flush_table(pkey, key) -> tuple:
    """Page flushes as (``page_key``, flush key) int64 arrays sorted by
    page key: the key of each active page's end-of-stream flush
    (PDFBoxTree.java:208), which textpipe.boxes_core looks pages up in."""
    o = np.argsort(pkey)
    return pkey[o], np.asarray(key, dtype=np.int64)[o]


def dict_flush_table(docs, page_flush: list) -> tuple:
    """``DocInterp.run``'s {page: flush key} dicts, the one of document
    ``docs[i]`` at i, as one ``flush_table``."""
    return flush_table(
        page_key(np.repeat(docs, [len(f) for f in page_flush]),
                 [p for f in page_flush for p in f]),
        [k for f in page_flush for k in f.values()])


def _chain(reset: np.ndarray, value: np.ndarray,
           inc: np.ndarray) -> np.ndarray:
    """``out[i] = value[i]`` where ``reset[i]``, else ``out[i-1] + inc[i]``
    (``reset[0]`` must hold). Each segment is accumulated left to right,
    one rank per vector step, so every element is the same sum a scalar
    ``+=`` loop gives. ``value``/``inc`` may carry trailing columns."""
    n = len(reset)
    out = np.where(reset.reshape((n,) + (1,) * (value.ndim - 1)),
                   value, 0.0)
    st = np.maximum.accumulate(np.where(reset, np.arange(n), 0))
    rank = np.arange(n) - st
    order = np.argsort(rank, kind="stable")
    counts = np.bincount(rank)
    pos = int(counts[0])
    for r in range(1, len(counts)):
        idx = order[pos:pos + counts[r]]
        pos += int(counts[r])
        out[idx] = out[idx - 1] + inc[idx]
    return out


def _pairwise_sums(adv: np.ndarray, starts: np.ndarray,
                   lens: np.ndarray) -> np.ndarray:
    """``adv[s:s + l].sum()`` for every (s, l), bit-equal: numpy sums a
    contiguous float64 slice pairwise — sequentially below 8 elements,
    else in 8 interleaved accumulators folded as a tree plus a sequential
    tail, splitting in halves past 128. The first two cases run as vector
    steps over all slices; longer slices call ``sum`` one by one."""
    m = len(lens)
    out = np.zeros(m)
    small = np.flatnonzero(lens < 8)
    if len(small):
        sl = lens[small]
        w = int(sl.max(initial=0))
        col = np.arange(w)
        ok = col[None, :] < sl[:, None]
        idx = np.where(ok, starts[small, None] + col[None, :], 0)
        acc = np.zeros(len(small))
        for k in range(w):
            acc = np.where(ok[:, k], acc + adv[idx[:, k]], acc)
        out[small] = acc
    mid = np.flatnonzero((lens >= 8) & (lens <= 128))
    if len(mid):
        ml, ms = lens[mid], starts[mid]
        nb = ml // 8
        lane = np.arange(8)
        r = adv[ms[:, None] + lane[None, :]]
        for b in range(1, int(nb.max())):
            on = (b < nb)[:, None]
            blk = adv[np.where(on, ms[:, None] + 8 * b + lane[None, :], 0)]
            r = np.where(on, r + blk, r)
        res = (((r[:, 0] + r[:, 1]) + (r[:, 2] + r[:, 3]))
               + ((r[:, 4] + r[:, 5]) + (r[:, 6] + r[:, 7])))
        tail0 = ms + 8 * nb
        for k in range(7):
            on = k < ml - 8 * nb
            res = np.where(on, res + adv[np.where(on, tail0 + k, 0)], res)
        out[mid] = 0.0 + res
    for j in np.flatnonzero(lens > 128).tolist():
        s = int(starts[j])
        out[j] = adv[s:s + int(lens[j])].sum()
    return out


def _hypot(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """``math.hypot`` per element: exact for an axis-aligned pair, and
    ``math.hypot`` itself for the rest (a libm hypot may differ in the
    last bit)."""
    out = np.where(y == 0.0, np.abs(x), np.abs(y))
    for j in np.flatnonzero((x != 0.0) & (y != 0.0)).tolist():
        out[j] = math.hypot(x[j], y[j])
    return out


def _row_ids(cols: list, n: int) -> np.ndarray:
    """Equal int32 ids for equal rows of the columns ``cols``."""
    if not n:
        return np.zeros(0, dtype=np.int32)
    o = np.lexsort(cols)
    new = np.zeros(n, dtype=bool)
    new[0] = True
    for c in cols:
        cs = c[o]
        new[1:] |= cs[1:] != cs[:-1]
    out = np.empty(n, dtype=np.int32)
    out[o] = np.cumsum(new) - 1
    return out


def _jint_arr(v: np.ndarray) -> np.ndarray:
    """``_jint`` on finite values."""
    return np.trunc(np.clip(v, -2147483648.0, 2147483647.0)).astype(np.int64)


def run_batch(tb, frag_doc: np.ndarray, frag_rank: np.ndarray,
              frag_kind: np.ndarray, frag_form: dict,
              img_doc: np.ndarray, img_rank: np.ndarray,
              img_args: list, ndocs: int, start_page: int = 0,
              end_page: int = 2**31 - 1, disable_graphics: bool = False,
              disable_images: bool = False, collect_fonts: bool = True,
              raster_paths: bool = False, page_offset: list | None = None,
              font_seed: list | None = None) -> BatchRun:
    """Interpret the documents of one batch together (see the block
    comment above). ``tb`` tokenizes the batch's spans: fragment ``f``
    belongs to document ``frag_doc[f]``, has span rank ``frag_rank[f]``
    (the span's position in the batch, documents in order and each
    document's spans by offset) and is content (``frag_kind`` FRAG_CONTENT),
    the definition of the form ``frag_form[f]`` (FRAG_FORM) or not part of
    the stream (FRAG_OTHER).
    Image span ``k`` of document ``img_doc[k]`` at span rank
    ``img_rank[k]`` is the DoMedia op with operands ``img_args[k]``
    (media_ref, width, height, name). Per document, ``page_offset`` and
    ``font_seed`` (None: 0 and no seed) are DocInterp's."""
    K = KEY_STRIDE
    nops = len(tb.op_tok)
    nimg = len(img_doc)
    okey = tb.op_key
    code = np.where(okey >= 0, _OP_LUT.take(np.clip(okey, 0, len(_OP_LUT)
                                                     - 1)), -1)
    badop = (code < 0) | (tb.op_sig != _SIG_OF.take(np.maximum(code, 0)))
    fbad = (tb.bad_frag | np.bincount(
        tb.op_frag[badop], minlength=len(frag_doc)).astype(bool)) \
        & (frag_kind != FRAG_OTHER)
    covered = np.ones(ndocs, dtype=bool)
    covered[frag_doc[fbad]] = False

    # unified op table: tokenized ops, DoMedia ops, then a synthetic q, Q
    uq, uQ = nops + nimg, nops + nimg + 1
    ucode = np.concatenate((code, np.full(nimg, _OC_DOMEDIA),
                            [_OC["q"], _OC["Q"]]))
    arg_of = tb.op_arg0

    def num(u: np.ndarray, k: int) -> np.ndarray:
        return tb.tok_num[tb.arg_tok[arg_of[u] + k]]

    def arg_text(u: int) -> str:
        t = tb.arg_tok[arg_of[u]]
        return tb.text(tb.tok_a[t], tb.tok_b[t])

    # main streams: content ops and DoMedia ops in span order
    op_doc = frag_doc[tb.op_frag]
    main = np.flatnonzero((frag_kind[tb.op_frag] == FRAG_CONTENT)
                          & covered[op_doc])
    mimg = np.flatnonzero(covered[img_doc]) if nimg else \
        np.empty(0, dtype=np.int64)
    rank = np.concatenate((frag_rank[tb.op_frag[main]], img_rank[mimg]))
    order = np.argsort(rank, kind="stable")
    stream = np.concatenate((main, nops + mimg))[order]
    sdoc = np.concatenate((op_doc[main], img_doc[mimg]))[order]

    # forms: '/Name Do' expands in place to q, the form's ops, Q
    # (doc_tokens); an unexpanded Do stays and does nothing
    fstart = np.searchsorted(tb.op_frag, np.arange(len(frag_doc)))
    fend = np.searchsorted(tb.op_frag, np.arange(len(frag_doc)), "right")
    forms: dict[int, dict[str, np.ndarray]] = {}
    for f in sorted(frag_form, key=lambda f: frag_rank[f]):
        d = int(frag_doc[f])
        if covered[d]:
            forms.setdefault(d, {})[frag_form[f]] = np.arange(fstart[f],
                                                              fend[f])
    do_docs = set(op_doc[code == _OC["Do"]].tolist()) & set(forms)
    bounds = np.searchsorted(sdoc, np.arange(ndocs + 1))
    if do_docs:
        q_arr, Q_arr = np.array([uq]), np.array([uQ])
        do_at: dict[int, list] = {}  # Do positions per form body
        names: dict[int, str] = {}

        def expand(seq, fm, active, depth, out):
            dos = do_at.get(id(seq))
            if dos is None:
                dos = np.flatnonzero(ucode[seq] == _OC["Do"]).tolist()
            prev = 0
            for p in dos:
                u = int(seq[p])
                nm = names.get(u)
                if nm is None:
                    nm = names[u] = arg_text(u)
                if nm in fm and nm not in active and depth < _FORM_DEPTH_MAX:
                    out += [seq[prev:p], q_arr]
                    expand(fm[nm], fm, active | {nm}, depth + 1, out)
                    out.append(Q_arr)
                    prev = p + 1
            out.append(seq[prev:])

        pieces, lens, prev = [], np.diff(bounds), 0
        for d in sorted(do_docs):
            a, b = int(bounds[d]), int(bounds[d + 1])
            pieces.append(stream[prev:a])
            out: list = []
            for body in forms[d].values():
                do_at[id(body)] = np.flatnonzero(
                    ucode[body] == _OC["Do"]).tolist()
            expand(stream[a:b], forms[d], frozenset(), 0, out)
            pieces += out
            lens[d] = sum(len(x) for x in out)
            prev = b
        pieces.append(stream[prev:])
        stream = np.concatenate(pieces)
        sdoc = np.repeat(np.arange(ndocs), lens)
        bounds = np.zeros(ndocs + 1, dtype=np.int64)
        np.cumsum(lens, out=bounds[1:])
    ntok = np.diff(bounds)
    end_key = ntok * K
    spos = np.arange(len(stream)) - bounds[sdoc]

    # pages: numbered per document from its offset; ops before its first
    # PG and on gated pages are skipped, PG itself counts and flushes
    sc = ucode[stream]
    ispg = sc == _OC["PG"]
    cpg = np.cumsum(ispg)
    cpg0 = np.concatenate(([0], cpg))
    seen = cpg - cpg0[bounds[sdoc]]  # the document's PGs so far
    npages = cpg0[bounds[1:]] - cpg0[bounds[:-1]]
    off = np.asarray(page_offset or np.zeros(ndocs), dtype=np.int64)
    page_no = seen + off[sdoc]

    def page_on(n, p):
        return (n >= 1) & (p >= start_page) & (p <= end_page)

    active = page_on(seen, page_no)
    pgi = np.flatnonzero(ispg)
    fl = pgi[page_on(seen[pgi] - 1, page_no[pgi] - 1)]
    lastp = npages + off
    last = np.flatnonzero(page_on(npages, lastp) & covered)
    flushes = flush_table(
        page_key(np.concatenate((sdoc[fl], last)),
                 np.concatenate((page_no[fl] - 1, lastp[last]))),
        np.concatenate((spos[fl] * K, end_key[last])))

    # per page (PG ordinal): box, rotation, page matrix
    apg = pgi[active[pgi]]
    pw, ph, prot_f = (num(stream[apg], k) for k in range(3))
    prot = [int(v) for v in prot_f.tolist()]
    events: list = [[] if c else None for c in covered.tolist()]
    npg = len(pgi)
    pm = np.zeros((npg, 6))
    page_m_list: list = [None] * npg
    rot_list = [0] * npg
    ordinal = cpg[apg] - 1
    for j, (o, w, h, r) in enumerate(zip(ordinal.tolist(), pw.tolist(),
                                         ph.tolist(), prot)):
        m = page_transform_cached(w, h, r)
        page_m_list[o] = m
        rot_list[o] = r
        pm[o] = m.ravel()
        i = int(apg[j])
        events[sdoc[i]].append(("page", int(spos[i]) * K + 1,
                                int(page_no[i]), w, h, r))

    A = np.flatnonzero(active)
    nA = len(A)
    au = stream[A]
    ac = sc[A]
    adoc = sdoc[A]
    akey = spos[A] * K
    apage = page_no[A]
    agp = cpg[A] - 1
    # documents without a seed or a Tf share one (never written) empty
    # table; a seed goes in first, whether or not fonts are collected
    fonts_out: list = [F.FontTable(s) if s else _NO_FONTS
                       for s in font_seed or [None] * ndocs]
    if not nA:
        return BatchRun(covered, events, fonts_out, end_key, flushes,
                        ChunkFrame.empty())
    ar = np.arange(nA)

    def at(op: str) -> np.ndarray:
        return ac == _OC[op]

    isPG = at("PG")
    isq, isQ = at("q"), at("Q")

    # q/Q: depth per page is a cumsum of +-1 floored at 0 (a Q on an
    # empty stack does nothing); each Q pops the nearest open q
    seg = np.cumsum(isPG) - 1
    S = np.cumsum(isq.astype(np.int64) - isQ)
    S -= S[np.maximum.accumulate(np.where(isPG, ar, 0))]
    big = 2 * nA + 2
    X = S - (np.minimum.accumulate(S - seg * big) + seg * big)
    Xb = np.concatenate(([0], X[:-1]))
    effQ = isQ & (Xb > 0)
    qi, Qi = np.flatnonzero(isq), np.flatnonzero(effQ)
    match = np.full(nA, -1)
    if len(Qi):
        keys = np.concatenate((seg[qi] * big + X[qi],
                               seg[Qi] * big + Xb[Qi]))
        posn = np.concatenate((qi, Qi))
        o = np.lexsort((posn, keys))
        ps = posn[o]
        qs = np.flatnonzero(np.concatenate(
            (np.zeros(len(qi), bool), np.ones(len(Qi), bool)))[o])
        match[ps[qs]] = ps[qs - 1]

    def sources(setter: np.ndarray) -> np.ndarray:
        """Position of the setter (or the page's PG, for the default)
        whose value is in effect just before each op."""
        m = setter | isPG | effQ
        last = np.maximum.accumulate(np.where(m, ar, -1))
        lb = np.concatenate(([0], last[:-1]))
        f = ar.copy()
        if len(Qi):
            f[Qi] = lb[match[Qi]]
            while True:
                nxt = f[f[Qi]]
                if np.array_equal(nxt, f[Qi]):
                    break
                f[Qi] = nxt
        return f[lb]

    def setter_values(ops: tuple, default, fns) -> tuple:
        """(setter mask, value arrays): ``fns[i](positions)`` gives the
        value of the i-th op of ``ops`` at those positions."""
        mask = np.zeros(nA, dtype=bool)
        vals = None
        for op, fn in zip(ops, fns):
            pos = np.flatnonzero(at(op))
            if not len(pos):
                continue
            mask[pos] = True
            v = fn(pos)
            if vals is None:
                vals = [np.full(nA, d, dtype=np.asarray(x).dtype)
                        for d, x in zip(default, v)]
            for arr, x in zip(vals, v):
                arr[pos] = x
        if vals is None:
            vals = [np.full(nA, d) for d in default]
        return sources(mask), vals

    def nums_at(pos, k):
        return num(au[pos], k)

    def state(ops, default, fns, where):
        src, vals = setter_values(ops, default, fns)
        return [v[src[where]] for v in vals], src

    def rgb3(pos):
        return nums_at(pos, 0), nums_at(pos, 1), nums_at(pos, 2)

    def gray3(pos):
        v = nums_at(pos, 0)
        return v, v, v

    def one(pos):
        return (nums_at(pos, 0),)

    # ---- CTM: composed per cm in stream order ---------------------------
    ctm_src = sources(at("cm"))
    cm_pos = np.flatnonzero(at("cm"))
    ctm_at = {}
    cmv = np.stack([nums_at(cm_pos, k) for k in range(6)], axis=1) \
        if len(cm_pos) else np.zeros((0, 6))
    first_cm: dict[tuple, np.ndarray] = {}  # cm on a fresh page state
    for c, row in zip(cm_pos.tolist(), cmv.tolist()):
        prev = int(ctm_src[c])
        if prev in ctm_at:
            ctm_at[c] = compose(mat(*row), ctm_at[prev])
        else:
            key = tuple(row)
            hit = first_cm.get(key)
            if hit is None:
                hit = first_cm[key] = compose(mat(*row), ident())
            ctm_at[c] = hit
    C = np.tile(_IDENT.ravel(), (nA, 1))
    for c, m in ctm_at.items():
        C[c] = m.ravel()

    def ctm_of(i: int) -> np.ndarray:
        s = int(ctm_src[i])
        return ctm_at[s] if s in ctm_at else ident()

    # ---- text: linear part of Tm, text line matrix, text matrix ---------
    is_tm = at("Tm")
    lin = np.maximum.accumulate(np.where(isPG | at("BT") | is_tm, ar, 0))
    L = np.zeros((nA, 4))
    L[:, 0] = L[:, 3] = 1.0
    tm_pos = np.flatnonzero(is_tm)
    for k in range(4):
        L[tm_pos, k] = nums_at(tm_pos, k)
    la, lb_, lc, ld = (L[lin, k] for k in range(4))

    tl_src, (tlv,) = setter_values(
        ("TL", "TD"), (0.0,), (one, lambda p: (-nums_at(p, 1),)))
    moves = isPG | at("BT") | is_tm | at("Td") | at("TD") | at("T*")
    e1 = np.flatnonzero(moves)
    e1c = ac[e1]
    r1 = (e1c == _OC["PG"]) | (e1c == _OC["BT"]) | (e1c == _OC["Tm"])
    v1 = np.zeros((len(e1), 2))
    tmr = np.flatnonzero(e1c == _OC["Tm"])
    v1[tmr, 0] = nums_at(e1[tmr], 4)
    v1[tmr, 1] = nums_at(e1[tmr], 5)
    tx = np.zeros(len(e1))
    ty = np.zeros(len(e1))
    tdd = np.flatnonzero((e1c == _OC["Td"]) | (e1c == _OC["TD"]))
    tx[tdd] = nums_at(e1[tdd], 0)
    ty[tdd] = nums_at(e1[tdd], 1)
    tst = np.flatnonzero(e1c == _OC["T*"])
    ty[tst] = -tlv[tl_src[e1[tst]]]
    i1 = np.stack((tx * la[e1] + ty * lc[e1], tx * lb_[e1] + ty * ld[e1]),
                  axis=1)
    tlm = _chain(r1, v1, i1)

    # text events: the moves, each Tj string, each TJ element
    tj = np.flatnonzero(at("Tj"))
    TJ = np.flatnonzero(at("TJ"))
    lbt = tb.arg_tok[arg_of[au[TJ]]]
    nel = tb.arr_end[lbt] - lbt - 1
    ev_op = np.concatenate((e1, tj, np.repeat(TJ, nel)))
    eo = np.argsort(ev_op, kind="stable")
    ev_op = ev_op[eo]
    within = np.arange(int(nel.sum())) - np.repeat(np.cumsum(nel) - nel,
                                                   nel)
    ev_tok = np.concatenate((np.full(len(e1), -1),
                             tb.arg_tok[arg_of[au[tj]]],
                             np.repeat(lbt, nel) + 1 + within))[eo]
    ev_move = np.concatenate((np.ones(len(e1), bool),
                              np.zeros(len(tj) + len(within), bool)))[eo]
    ev_tlm = np.zeros((len(ev_op), 2))
    ev_tlm[ev_move] = tlm[np.searchsorted(e1, ev_op[ev_move])]
    tk = np.where(ev_move, TK_OP, tb.tok_kind[np.maximum(ev_tok, 0)])
    is_str = tk == TK_STR
    slen = np.where(is_str, tb.tok_b[np.maximum(ev_tok, 0)]
                    - tb.tok_a[np.maximum(ev_tok, 0)], 0)
    cs_ = np.concatenate(([0], np.cumsum(slen)))
    first_of_op = np.searchsorted(ev_op, ev_op)
    sub = cs_[:-1] - cs_[first_of_op]
    show = np.flatnonzero(is_str & (slen > 0))
    kern = np.flatnonzero(tk == TK_NUM)

    # graphics state at the shows and kerns
    sh_op = ev_op[show]
    kn_op = ev_op[kern]
    txt_ops = np.concatenate((sh_op, kn_op))
    font_pos = np.flatnonzero(at("Tf"))
    font_names: list[str] = []
    font_ids: dict[bytes, int] = {}
    fid_at_tf = np.empty(len(font_pos), dtype=np.int64)
    nt = tb.arg_tok[arg_of[au[font_pos]]]
    raw = tb.codes
    for j, (a, b) in enumerate(zip(tb.tok_a[nt].tolist(),
                                   tb.tok_b[nt].tolist())):
        key = raw[a:b].tobytes()
        fid = font_ids.get(key)
        if fid is None:
            fid = font_ids[key] = len(font_names)
            font_names.append(key.decode("utf-32-le"))
        fid_at_tf[j] = fid
    fid_full = np.full(nA, -1, dtype=np.int64)
    fid_full[font_pos] = fid_at_tf
    (fid_t, fsize_t), _ = state(
        ("Tf",), (-1, 0.0),
        (lambda p: (fid_full[p], nums_at(p, 1)),), txt_ops)
    (th_t,), _ = state(("Tz",), (1.0,), (lambda p: (nums_at(p, 0) / 100.0,),),
                       txt_ops)
    ns = len(show)
    fid_s, fsize_s, th_s = fid_t[:ns], fsize_t[:ns], th_t[:ns]
    (tc_s,), _ = state(("Tc",), (0.0,), (one,), sh_op)
    (tw_s,), _ = state(("Tw",), (0.0,), (one,), sh_op)
    (ts_s,), _ = state(("Ts",), (0.0,), (one,), sh_op)
    (tr_s,), _ = state(("Tr",), (0,), (lambda p: (_jint_arr(nums_at(p, 0)),),),
                       sh_op)

    # glyph codes and advances (DocInterp.run.show)
    ga = tb.tok_a[ev_tok[show]]
    glen = slen[show]
    gst = np.zeros(ns, dtype=np.int64)
    np.cumsum(glen[:-1], out=gst[1:])
    ng = int(glen.sum())
    gi = np.repeat(ga - gst, glen) + np.arange(ng)
    codes = tb.codes[gi]
    mono = np.array([F.is_mono(nm) for nm in font_names] + [False])
    scale = fsize_s * th_s / 1000.0
    w = np.where(np.repeat(mono[fid_s], glen), F._MONO_WIDTH,
                 F._WIDTHS_EXT.take(codes, mode="clip"))
    adv = w * np.repeat(scale, glen)
    tc_g = np.repeat(tc_s, glen)
    adv = np.where(tc_g != 0.0, adv + tc_g * np.repeat(th_s, glen), adv)
    tw_g = np.repeat(tw_s, glen)
    adv = np.where((tw_g != 0.0) & (codes == 32),
                   adv + tw_g * np.repeat(th_s, glen), adv)

    # text matrix chain: moves reset it, shows and kerns advance it
    keep = np.sort(np.concatenate((np.flatnonzero(ev_move), show, kern)))
    nk = len(keep)
    slot = np.full(len(ev_op), -1)
    slot[keep] = np.arange(nk)
    kop = ev_op[keep]
    ka, kb, kc, kd = la[kop], lb_[kop], lc[kop], ld[kop]
    inc = np.zeros((nk, 2))
    s_slot = slot[show]
    # a show's advance is only read when the chain continues after it
    need = np.flatnonzero((s_slot + 1 < nk)
                          & ~ev_move[keep[np.minimum(s_slot + 1, nk - 1)]])
    total = np.zeros(ns)
    if len(need):
        total[need] = _pairwise_sums(adv, gst[need], glen[need])
    inc[s_slot, 0] = total * ka[s_slot]
    inc[s_slot, 1] = total * kb[s_slot]
    k_slot = slot[kern]
    shift = (-tb.tok_num[ev_tok[kern]] / 1000.0 * fsize_t[ns:] * th_t[ns:])
    inc[k_slot, 0] = shift * ka[k_slot] + 0.0 * kc[k_slot]
    inc[k_slot, 1] = shift * kb[k_slot] + 0.0 * kd[k_slot]
    tmv = _chain(ev_move[keep], ev_tlm[keep], inc)
    te, tf_ = tmv[s_slot - 1, 0], tmv[s_slot - 1, 1]

    # Tm x CTM, then the page transformation (DocInterp.run.show)
    m00, m01, m10, m11 = la[sh_op], lb_[sh_op], lc[sh_op], ld[sh_op]
    m20, m21 = te, tf_
    cid = ctm_src[sh_op]
    for j in np.flatnonzero(~isPG[cid]).tolist():
        t = compose(mat(m00[j], m01[j], m10[j], m11[j], m20[j], m21[j]),
                    ctm_at[int(cid[j])])
        m00[j], m01[j], m10[j], m11[j], m20[j], m21[j] = t.ravel()
    ox = ts_s * m10 + m20
    oy = ts_s * m11 + m21
    P = pm[agp[sh_op]]
    ax = m00 * P[:, 0] + m01 * P[:, 2]
    ay = m00 * P[:, 1] + m01 * P[:, 3]
    bx = ox * P[:, 0] + oy * P[:, 2] + P[:, 4]
    by = ox * P[:, 1] + oy * P[:, 3] + P[:, 5]
    sx, sy = _hypot(m00, m01), _hypot(m10, m11)
    yscale = fsize_s * sy
    xscale = fsize_s * th_s * sx

    # colors (updateStyleForRenderingMode): one color_hex per setter
    fill_src, fill_v = setter_values(("rg", "g"), (0.0,) * 3, (rgb3, gray3))
    stroke_src, stroke_v = setter_values(("RG", "G"), (0.0,) * 3,
                                         (rgb3, gray3))
    str_ids: dict = {None: -1}

    def str_id(v) -> int:
        return str_ids.setdefault(v, len(str_ids))

    def colors(src, vals, on):
        u, inv = np.unique(src[sh_op], return_inverse=True)
        hx = [color_hex(t) for t in zip(*(v[u].tolist() for v in vals))]
        hx_t = np.array(hx + [TRANSPARENT], dtype=object)
        ids = np.array([str_id(h) for h in hx] + [str_id(TRANSPARENT)])
        pick = np.where(on, inv, len(hx))
        return hx_t[pick], ids[pick]

    color, color_id = colors(fill_src, fill_v,
                             np.isin(tr_s, list(FILL_MODES)))
    stroke_color, stroke_id = colors(stroke_src, stroke_v,
                                     np.isin(tr_s, list(STROKE_MODES)))

    # the sticky Pdf2Dom style spacing
    doc_first = np.searchsorted(adoc, adoc)

    def sticky(op: str) -> np.ndarray:
        pos = at(op)
        last = np.maximum.accumulate(np.where(pos, ar, -1))[sh_op]
        vals = np.zeros(nA)
        vals[pos] = nums_at(np.flatnonzero(pos), 0)
        return np.where(last >= doc_first[sh_op], vals[np.maximum(last, 0)],
                        0.0)

    word_sp, letter_sp = sticky("Tw"), sticky("Tc")

    # fonts: the table (page prescans, in first-use order) and the style
    # triple per (document, font)
    tf_doc = adoc[font_pos]
    nf1 = len(font_names) + 1
    if collect_fonts and len(font_pos):
        tf_pair = tf_doc * nf1 + fid_at_tf
        _u, first = np.unique(tf_pair, return_index=True)
        first.sort()
        for d, fid in zip(tf_doc[first].tolist(),
                          fid_at_tf[first].tolist()):
            if fonts_out[d] is _NO_FONTS:
                fonts_out[d] = F.FontTable()
            fonts_out[d].add_entry(font_names[fid])
    sdoc_s = adoc[sh_op]
    upair, pinv = np.unique(sdoc_s * nf1 + (fid_s + 1), return_inverse=True)
    triples = []
    for pk in upair.tolist():
        d, f1 = divmod(pk, nf1)
        nm = font_names[f1 - 1] if f1 else ""
        if not nm:  # no Tf on the page, or '/ size Tf'
            triples.append((None, "normal", "normal"))
        else:
            triples.append((F.resolve_family(nm, fonts_out[d]),
                            *F.font_weight_style(nm)))
    tri = np.empty((len(triples), 3), dtype=object)
    if triples:
        tri[:] = triples
    tri_ids = np.array([[str_id(v) for v in t] for t in triples],
                       dtype=np.int64).reshape(len(triples), 3)
    fam, weight, fstyle = (tri[pinv, k] for k in range(3))

    # style identity (chunk_frame's 8-field key): float32 numerics
    # (+0.0 folds -0.0 into 0.0; a NaN equals nothing) and string ids
    cols = [tri_ids[pinv, k] for k in range(3)] + [color_id, stroke_id]
    for v in (xscale, word_sp, letter_sp):
        f32 = v.astype(np.float32) + np.float32(0.0)
        cols.append(np.where(np.isnan(f32), -1 - np.arange(ns),
                             f32.view(np.uint32).astype(np.int64)))
    sid = _row_ids(cols, ns)
    f64 = np.stack((ax, bx, ay, by, m00, F.CAP_HEIGHT / 1000.0 * yscale,
                    xscale, yscale, F.ASCENT / 1000.0 * yscale,
                    F.DESCENT / 1000.0 * yscale, word_sp, letter_sp),
                   axis=1)
    chunks = ChunkFrame(
        doc=sdoc_s, key=akey[sh_op] + sub[show], page=apage[sh_op],
        lens=glen, f64=f64,
        obj={"font_family": fam, "font_weight": weight,
             "font_style": fstyle, "color": color,
             "stroke_color": stroke_color},
        sid=sid, codes=codes, adv=adv)

    # ---- paths: segments in device space, grouped by the paint (or n)
    # that consumes them; the path persists across pages
    gx = np.flatnonzero(np.isin(ac, _PATH_CODES))
    late: list = []  # (position, paint index, path) of pathimg and images
    if len(gx):
        gc = ac[gx]
        nseg = _NSEG[gc] if not disable_graphics else _NSEG_DISABLED[gc]
        pts = np.zeros((len(gx), 4))
        xy = np.flatnonzero(np.isin(gc, _POINT_CODES))
        if len(xy) and not disable_graphics:
            g_ = gx[xy]
            x, y = nums_at(g_, 0), nums_at(g_, 1)
            x2, y2 = x.copy(), y.copy()
            re_ = np.flatnonzero(gc[xy] == _OC["re"])
            x2[re_] += nums_at(g_[re_], 2)
            y2[re_] += nums_at(g_[re_], 3)
            c = C[ctm_src[g_]]
            p = pm[agp[g_]]
            for col, (px_, py_) in enumerate(((x, y), (x2, y2))):
                # transformPosition (DocInterp.run.tp): CTM, then page
                ux = px_ * c[:, 0] + py_ * c[:, 2] + c[:, 4]
                uy = px_ * c[:, 1] + py_ * c[:, 3] + c[:, 5]
                pts[xy, 2 * col] = ux * p[:, 0] + uy * p[:, 2] + p[:, 4]
                pts[xy, 2 * col + 1] = ux * p[:, 1] + uy * p[:, 3] + p[:, 5]
        gfirst = np.searchsorted(adoc[gx], adoc[gx])
        gi_ = np.arange(len(gx))

        def point_before(codes_: tuple) -> np.ndarray:
            # the last m (and l) endpoint before each op, (0, 0) at first
            on = np.isin(gc, codes_) & ~disable_graphics
            last = np.maximum.accumulate(np.where(on, gi_, -1))
            last = np.concatenate(([-1], last[:-1]))
            ok = last >= gfirst
            return np.where(ok[:, None], pts[np.maximum(last, 0), :2], 0.0)

        cur = point_before((_OC["m"], _OC["l"]))
        start = point_before((_OC["m"],))
        so = np.repeat(gi_, nseg)
        k = np.arange(len(so)) - np.repeat(np.cumsum(nseg) - nseg, nseg)
        sc_ = gc[so]
        seg = np.empty((len(so), 4))
        seg[:, :2] = cur[so]
        seg[:, 2:] = start[so]                      # h, and s/b closing
        isl = sc_ == _OC["l"]
        seg[isl, 2:] = pts[so[isl], :2]
        isr = np.flatnonzero(sc_ == _OC["re"])
        r = pts[so[isr]]
        kr = k[isr]
        x1, y1, x2_, y2_ = r[:, 0], r[:, 1], r[:, 2], r[:, 3]
        seg[isr, 0] = np.where((kr == 0) | (kr == 3), x1, x2_)
        seg[isr, 1] = np.where(kr <= 1, y1, y2_)
        seg[isr, 2] = np.where(kr >= 2, x1, x2_)
        seg[isr, 3] = np.where((kr == 0) | (kr == 3), y1, y2_)
        if not np.isfinite(seg).all():
            covered[np.unique(adoc[gx[so[~np.isfinite(seg).all(axis=1)]]])] \
                = False
        # each segment joins the path of the next paint or n of its doc
        ends = np.flatnonzero(np.isin(gc, _PATH_END_CODES))
        owner = np.searchsorted(ends, so)
        okseg = owner < len(ends)
        okseg[okseg] = adoc[gx[ends[owner[okseg]]]] == adoc[gx[so[okseg]]]
        seg, owner, k = seg[okseg], owner[okseg], k[okseg]
        pn = np.bincount(owner, minlength=len(ends))
        p0 = np.cumsum(pn) - pn
        paint = np.flatnonzero(gc[ends] != _OC["n"])
        pa_ = gx[ends[paint]]
        flags = np.array([_PAINT_CODES[c_] for c_ in ac[pa_].tolist()],
                         dtype=bool).reshape(len(pa_), 3)
        lw_src, (lw_v,) = setter_values(("w",), (1.0,), (one,))
        cc = C[ctm_src[pa_]]
        xx = cc[:, 0] + cc[:, 2]
        yy = cc[:, 1] + cc[:, 3]
        lw = lw_v[lw_src[pa_]] * np.sqrt((xx * xx + yy * yy) * 0.5)
        pnp = pn[paint]
        # PDFBoxTree.toRectangle: 4 segments, 2 distinct x and 2 distinct y
        rect = np.zeros(len(paint), dtype=bool)
        r4 = np.flatnonzero(pnp == 4)
        box = np.zeros((len(paint), 4))
        if len(r4):
            sidx = p0[paint[r4], None] + np.arange(4)[None, :]
            sx4 = np.sort(seg[sidx][:, :, [0, 2]].reshape(len(r4), 8),
                          axis=1)
            sy4 = np.sort(seg[sidx][:, :, [1, 3]].reshape(len(r4), 8),
                          axis=1)
            nx = 1 + (sx4[:, 1:] != sx4[:, :-1]).sum(axis=1)
            ny = 1 + (sy4[:, 1:] != sy4[:, :-1]).sum(axis=1)
            rect[r4] = (nx == 2) & (ny == 2)
            box[r4] = np.stack((sx4[:, 0], sy4[:, 0], sx4[:, -1],
                                sy4[:, -1]), axis=1)
        fill_rgb = [v[fill_src[pa_]] for v in fill_v]
        stroke_rgb = [v[stroke_src[pa_]] for v in stroke_v]
        hex_cache: dict = {}

        def hx(rgb) -> str:
            h = hex_cache.get(rgb)
            if h is None:
                h = hex_cache[rgb] = color_hex(rgb)
            return h

        pdoc = adoc[pa_].tolist()
        pkey = akey[pa_].tolist()
        ppage = apage[pa_].tolist()
        fl = flags.tolist()
        frgb = list(zip(*(v.tolist() for v in fill_rgb)))
        srgb = list(zip(*(v.tolist() for v in stroke_rgb)))
        lwl = lw.tolist()
        for j in np.flatnonzero(rect).tolist():
            st_, fi_, _c = fl[j]
            x0, y0, x1_, y1_ = box[j].tolist()
            events[pdoc[j]].append((
                "rect", pkey[j], ppage[j], x0, y0, x1_ - x0, y1_ - y0,
                lwl[j], st_, fi_, hx(srgb[j]), hx(frgb[j])))
        line_p = np.flatnonzero(~rect & flags[:, 0] & (pnp > 0))
        if len(line_p):
            lo = np.repeat(line_p, pnp[line_p])
            li = np.arange(len(lo)) - np.repeat(np.cumsum(pnp[line_p])
                                                - pnp[line_p], pnp[line_p])
            ls = seg[p0[paint[lo]] + li].tolist()
            for j, i_, (a1, b1, a2, b2) in zip(lo.tolist(), li.tolist(), ls):
                events[pdoc[j]].append(("line", pkey[j] + i_, ppage[j], a1,
                                        b1, a2, b2, lwl[j], hx(srgb[j])))
        for j in np.flatnonzero(~rect & ~flags[:, 0] & (pnp > 0)).tolist():
            path = [tuple(t) for t in
                    seg[p0[paint[j]]:p0[paint[j]] + pnp[j]].tolist()]
            late.append((int(pa_[j]), j, path))

    # ---- images and filled non-rectangular paths, in stream order (they
    # share the save-to-dir namer)
    if not disable_images:
        for i in np.flatnonzero(ac == _OC_DOMEDIA).tolist():
            late.append((i, -1, None))
    late.sort(key=lambda t: t[0])
    for i, j, path in late:
        d = int(adoc[i])
        if path is None:
            mr, iw, ih, nm = img_args[int(au[i]) - nops]
            image_event(events[d], int(akey[i]), int(apage[i]), mr, iw, ih,
                        nm, ctm_of(i), page_m_list[agp[i]], rot_list[agp[i]])
        else:
            render_path(events[d], path, pkey[j], ppage[j], False, True,
                        ctm_of(i), lwl[j], srgb[j], frgb[j], raster_paths)
    if not covered.all():
        keep = covered[chunks.doc]
        if not keep.all():
            gk = np.repeat(keep, chunks.lens)
            chunks = ChunkFrame(
                chunks.doc[keep], chunks.key[keep], chunks.page[keep],
                chunks.lens[keep], chunks.f64[keep],
                {c: v[keep] for c, v in chunks.obj.items()},
                chunks.sid[keep], chunks.codes[gk], chunks.adv[gk])
        live = covered[flushes[0] >> 32]
        flushes = (flushes[0][live], flushes[1][live])
    return BatchRun(covered, events, fonts_out, end_key, flushes, chunks)
