"""Damaged-stream crash-freedom: a 10^12-document corpus WILL contain
streams with operand-type garbage (strings where numbers belong, arrays
inside TJ, 10^400 numerals that overflow to inf, NaN geometry, lone
trailing backslashes), and one such document must never kill an Arrow
batch. The interpreter mirrors the hardened PDFBox operator processors:
an op with a mismatched operand shape is skipped (interp._nums),
Java (int) cast semantics saturate instead of raising (interp._jint),
and color bytes clamp inf/NaN (interp._color_byte).

This is a bounded deterministic fuzz (fixed seed), not a property
search — ~3s. The generative deep fuzz that found the original crashes
ran 24k documents across three seeds at zero failures.
"""

from __future__ import annotations

import random
import string
import warnings

from pdf2dom_spark.extract import ExtractConfig, extract_doc

_POOL = (list("()<>%\\\n\r\t PG0123456789.-+[]/{}")
         + list(string.ascii_letters) + ["\x00", "\xff", "é", "ש"])
_OPS = ["PG", "Tj", "Tm", "Td", "TD", "T*", "'", '"', "BT", "ET", "q", "Q",
        "cm", "re", "f", "F", "f*", "S", "s", "B", "b*", "n", "m", "l", "h",
        "Tf", "TJ", "Do", "DoMedia", "rg", "RG", "g", "G", "k", "K", "sc",
        "scn", "SC", "SCN", "w", "Tz", "Tc", "Tw", "TL", "Ts", "Tr"]
_KINDS = ["text", "text", "text", "image", "widths", "cmap", "form", "meta",
          "rect", "fontfile"]


def _hostile_stream(rng: random.Random, trial: int) -> str:
    if trial % 3 == 0:  # pure byte soup
        return "".join(rng.choice(_POOL) for _ in range(rng.randint(0, 160)))
    parts: list[str] = []
    for _ in range(rng.randint(0, 20)):
        for _ in range(rng.randint(0, 4)):
            parts.append(rng.choice([
                str(rng.uniform(-1000, 1000)),
                "9" * rng.randint(1, 400),            # overflows to inf
                "-" + "9" * rng.randint(1, 400),
                "(" + "".join(rng.choice(_POOL)
                              for _ in range(rng.randint(0, 8))) + ")",
                "/" + "".join(rng.choice(string.ascii_letters)
                              for _ in range(3)),
                "[", "]", "<abc>", "<<", ">>", "%cmt",
            ]))
        parts.append(rng.choice(_OPS))
    return " ".join(parts)


def test_hostile_streams_never_crash():
    rng = random.Random(20260817)
    with warnings.catch_warnings():
        # inf/NaN geometry legitimately raises numpy RuntimeWarnings on
        # its way to clamped output; crash-freedom is the contract here
        warnings.simplefilter("ignore", RuntimeWarning)
        for trial in range(600):
            s = _hostile_stream(rng, trial)
            kind = rng.choice(_KINDS)
            spans = [
                {"kind": kind, "text": s,
                 "media_ref": rng.choice(
                     [None, "sha:x", "widths:F", "cmap:F", "form:Hdr",
                      "title", "font:F"]),
                 "offset": 0},
                {"kind": "text",
                 "text": "612 792 0 PG BT /F 10 Tf (ok) Tj ET " + s,
                 "media_ref": None, "offset": 1},
            ]
            rows = extract_doc("f", spans, ExtractConfig())
            assert isinstance(rows, list)  # produced SOMETHING, no raise


def test_operand_typing_matches_reference():
    """COSName-vs-COSString operand typing (tokenizer.PdfName): Tf requires
    a name + number (same rule in the interpreter, _prescan_fonts, and
    pagesplit._TF_RE — a damaged Tf must not desynchronize split vs
    unsplit font tables); show operators require a string; Tr applies
    Java (int) semantics to non-finite modes."""
    pg = "612 792 0 PG "

    # Tf with a string size: skipped everywhere -> no such font entry
    rows = extract_doc("d", [{"kind": "text", "text":
        pg + "BT /AAA+Helvetica (x) Tf /Mono 10 Tf (t) Tj ET",
        "media_ref": None, "offset": 0}], ExtractConfig())
    fonts = [r["text"] for r in rows if r["kind"] == "font"]
    assert fonts == ["Mono"], fonts

    # Tf with a string-literal "name": also skipped (COSName required)
    rows = extract_doc("d", [{"kind": "text", "text":
        pg + "BT (lit) 10 Tf /Mono 10 Tf (t) Tj ET",
        "media_ref": None, "offset": 0}], ExtractConfig())
    fonts = [r["text"] for r in rows if r["kind"] == "font"]
    assert fonts == ["Mono"], fonts

    # a /Name operand to Tj shows nothing (ShowText requires COSString)
    rows = extract_doc("d", [{"kind": "text", "text":
        pg + "BT /Mono 10 Tf 72 700 Td /NotText Tj (real) Tj ET",
        "media_ref": None, "offset": 0}], ExtractConfig())
    texts = [r["text"] for r in rows if r["kind"] == "text"]
    assert texts == ["real"], texts

    # a string literal equal to a form name must NOT trigger Do expansion
    rows = extract_doc("d", [
        {"kind": "form", "text": "/Helvetica 8 Tf 1 0 0 1 72 770 Tm (hdr) Tj",
         "media_ref": "form:Hdr", "offset": 0},
        {"kind": "text", "text":
         pg + "BT (Hdr) Do /Mono 10 Tf 72 700 Td (body) Tj ET",
         "media_ref": None, "offset": 1}], ExtractConfig())
    texts = [r["text"] for r in rows if r["kind"] == "text"]
    assert texts == ["body"], texts

    # inf rendering mode -> Java intValue() saturates out of the FILL set:
    # text renders with transparent colors, not the stale previous mode
    rows = extract_doc("d", [{"kind": "text", "text":
        pg + "BT /Mono 10 Tf 72 700 Td " + "9" * 350 +
        " Tr (ghost) Tj ET", "media_ref": None, "offset": 0}],
        ExtractConfig())
    tx = next(r for r in rows if r["kind"] == "text")
    assert tx["style_color"] == "rgba(0,0,0,0)", tx["style_color"]


def _three_page_pdf() -> bytes:
    """The reference's 3-page fixture when present, else a real 3-page PDF
    written by pdfwrite from the first all-latin-1 rich corpus document
    (24 words per page, so 60 words make 3 pages)."""
    import os

    from pdf2dom_spark.corpus import rich_stream
    from pdf2dom_spark.pdfread import pdf_to_spans
    from pdf2dom_spark.pdfwrite import spans_to_pdf

    from tests.test_realpdf import RES

    path = os.path.join(RES, "3-page-document.pdf")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return f.read()
    text = " ".join(f"word{i}" for i in range(60))
    for k in range(100):
        spans = rich_stream(f"fuzz{k}", text)
        if all(ord(c) < 256 for sp in spans for c in sp["text"] or ""):
            break
    pdf = spans_to_pdf(f"fuzz{k}", spans)
    pages = [sp for sp in pdf_to_spans(pdf)
             if sp["kind"] == "text" and " PG " in sp["text"][:24]]
    assert len(pages) == 3
    return pdf


def test_corrupt_pdf_bytes_terminate():
    """pdf_to_spans on mutated/truncated/garbage PDF bytes must TERMINATE
    (raise or return) — never hang or corrupt state. The production ingest
    parses inside the extraction kernel (pdfread.parse_pdf_batch), which
    wraps the per-file parse in a broad except and gives a failed file no
    spans, so any exception class is batch-safe; what it cannot survive
    is a parser loop that stops advancing."""
    from pdf2dom_spark.pdfread import pdf_to_spans

    real = _three_page_pdf()
    rng = random.Random(20260817)
    done = 0
    for trial in range(120):
        mode = trial % 4
        if mode == 0:
            b = bytes(rng.randrange(256) for _ in range(rng.randint(0, 300)))
        elif mode == 1:
            b = real[:rng.randint(0, len(real))]
        elif mode == 2:
            ba = bytearray(real)
            for _ in range(rng.randint(1, 40)):
                ba[rng.randrange(len(ba))] = rng.randrange(256)
            b = bytes(ba)
        else:
            i, j = sorted((rng.randrange(len(real)), rng.randrange(len(real))))
            b = real[:i] + real[j:]
        try:
            pdf_to_spans(b)
        except Exception:
            pass
        done += 1
    assert done == 120


def test_specific_damage_shapes():
    """The exact shapes the fuzz campaign originally crashed on."""
    cases = [
        "612 792 0 PG BT (x\\",                      # trailing backslash
        "612 792 0 PG BT /F 10 Tf /name 5 Td (a) Tj ET",   # name where num
        "612 792 0 PG [ 1 2 ] 3 Tm",                 # array operand in Tm
        "612 792 0 PG " + "9" * 400 + " w 1 1 m 2 2 l S",  # inf width
        "612 792 0 PG " + "9" * 400 + " g 10 10 100 100 re f",  # inf gray
        "(s) 792 0 PG BT (t) Tj ET",                 # string in PG args
        "612 792 " + "9" * 400 + " PG",              # inf rotation
        "612 792 0 PG " + "9" * 400 + " " + "-" + "9" * 400 +
        " m 5 5 l 9 9 l h f",                        # NaN path bounds
        '612 792 0 PG BT /F 9 Tf 1 2 (x) " ET',      # quote-op well-formed
        '612 792 0 PG BT /F 9 Tf (a) 2 (x) " ET',    # quote-op bad operand
    ]
    for frag in cases:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            rows = extract_doc(
                "d", [{"kind": "text", "text": frag, "media_ref": None,
                       "offset": 0}], ExtractConfig())
        assert isinstance(rows, list), frag


def test_corrupt_pdf_bytes_terminate_pixels_mode():
    """image_pixels=True adds the codec stack (jpegdec Huffman/IDCT,
    Indexed palettes, sub-byte unpacking, SMask folds) to the ingest
    path; mutated real-fixture bytes must still terminate — a decode
    failure degrades to the opaque sha ref, never an executor hang."""
    import os

    import pytest

    res = "/root/reference/src/test/resources"
    if not os.path.isdir(res):
        pytest.skip("reference fixtures not present")
    from pdf2dom_spark.pdfread import pdf_to_spans

    real = open(f"{res}/images.pdf", "rb").read()  # 2 DCT XObjects
    rng = random.Random(20260818)
    done = 0
    for trial in range(80):
        mode = trial % 3
        if mode == 0:
            b = real[:rng.randint(0, len(real))]
        elif mode == 1:
            ba = bytearray(real)
            for _ in range(rng.randint(1, 60)):
                ba[rng.randrange(len(ba))] = rng.randrange(256)
            b = bytes(ba)
        else:
            i, j = sorted((rng.randrange(len(real)),
                           rng.randrange(len(real))))
            b = real[:i] + real[j:]
        try:
            spans = pdf_to_spans(b, image_pixels=True)
            for s in spans:
                if s["kind"] == "image":
                    assert s["media_ref"].startswith(
                        ("data:image/png;base64,", "sha:"))
        except Exception:
            pass
        done += 1
    assert done == 80
