"""Differential test of the batch interpreter.

The mapInArrow kernel interprets a whole Arrow batch at once
(``extract.batch_parts``: ``tokenizer.tokenize_batch`` +
``interp.run_batch``) and sends any document it does not cover through the
per-document path. Every test here runs one Arrow batch through the kernel
and compares it, column for column, with the per-document reference:
``extract_doc_parts`` per document + ``parts_to_arrow``. The batches cover
the rich and oracle corpora, the other corpus modes, the golden fixtures,
fuzzed streams over the covered operators (q/Q nesting, cm, text state,
TJ kerns, paths, nested and cyclic forms, damaged operands), documents
that fall back mixed with covered ones, empty and image-only documents,
shuffled span offsets and every ExtractConfig switch. Page groups
(``pagesplit.split_doc`` rows: page offset, font seed, emit flag and
``grp`` as batch columns) are compared the same way, against
``extract_doc_parts`` given the group's three values.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from pdf2dom_spark import corpus, extract, interp, pagesplit, tokenizer
from pdf2dom_spark.extract import ExtractConfig
from pdf2dom_spark.schema import DOC_SCHEMA

SCHEMA = to_arrow_schema(DOC_SCHEMA)


def _batch(docs):
    if isinstance(docs, pa.RecordBatch):  # already a batch (page groups)
        return docs
    return pa.RecordBatch.from_pylist(
        [{"doc_id": d, "spans": s} for d, s in docs], schema=SCHEMA)


def _kernel(docs, cfg):
    out = list(extract.make_extract_arrow(cfg)(iter([_batch(docs)])))
    assert len(out) == 1
    return out[0]


def _reference(docs, cfg):
    parts = [extract.extract_doc_parts(d, s, cfg) for d, s in docs]
    return extract.parts_to_arrow(parts, [d for d, _ in docs],
                                  [-1] * len(docs))


def _fallbacks(docs, cfg, monkeypatch) -> int:
    return len(_fallback_ids(docs, cfg, monkeypatch))


def _fallback_ids(docs, cfg, monkeypatch) -> list:
    calls = []
    orig = extract.extract_doc_parts

    def counted(*a, **kw):
        calls.append(a[0])
        return orig(*a, **kw)

    monkeypatch.setattr(extract, "extract_doc_parts", counted)
    extract.batch_parts(_batch(docs), cfg)
    monkeypatch.setattr(extract, "extract_doc_parts", orig)
    return calls


def assert_same(docs, cfg=None):
    cfg = cfg or ExtractConfig()
    _assert_equal(_kernel(docs, cfg), _reference(docs, cfg))


def _assert_equal(got, ref):
    assert got.schema == ref.schema
    for name in ref.schema.names:
        a, b = got.column(name), ref.column(name)
        if not a.equals(b):
            rows = [i for i, (x, y) in enumerate(zip(a.to_pylist(),
                                                     b.to_pylist()))
                    if x != y]
            i = rows[0] if rows else min(len(a), len(b))
            pytest.fail(f"column {name} differs at row {i}: "
                        f"{a[i:i + 1]} vs {b[i:i + 1]} "
                        f"(doc {ref.column('doc_id')[i]})")


def _rich(n, seed=1):
    from perfbench import inputs

    return [(d, corpus.rich_stream(d, t)) for d, t in inputs.rich_docs(seed,
                                                                         n)]


# --- corpora ------------------------------------------------------------------

def test_rich_corpus_batch_equals_per_document(monkeypatch):
    docs = _rich(190)
    assert_same(docs)
    assert _fallbacks(docs, ExtractConfig(), monkeypatch) == 0


def test_oracle_corpus_batch_equals_per_document(monkeypatch):
    from perfbench import inputs

    docs = [(d, corpus.oracle_stream(d, t))
            for d, t in inputs.rich_docs(2, 150)]
    assert_same(docs)
    assert _fallbacks(docs, ExtractConfig(), monkeypatch) == 0


@pytest.mark.parametrize("mode", ["rich_lite", "rot_text", "forms", "enc"])
def test_corpus_modes_batch_equals_per_document(mode):
    from perfbench import inputs

    fn = corpus.stream_fn(mode)
    assert_same([(d, fn(d, t)) for d, t in inputs.rich_docs(3, 60)])


def test_fixtures_in_one_batch():
    assert_same(sorted(corpus.fixture_docs().items()))


_PG = "612 792 0 PG "
# Td/TD/T*/' chains, the dominant layout of real text PDFs (the synthetic
# corpora mostly position shows with an absolute Tm): name -> (fragment,
# whether the batch path covers it). ' chains, hex strings and damaged
# operands fall back to the per-document path.
_TD_CHAINS = {
    "td": (_PG + "BT /Helvetica 12 Tf 72 700 Td (first line) Tj "
           "0 -14 Td (second) Tj 0 -14 Td (third one) Tj ET", True),
    "quote": (_PG + "BT /Times 10 Tf 14 TL 72 700 Td (a) Tj 0 -14 TD (b) Tj "
              "T* (c) Tj (d) ' (e) ' ET", False),
    "tm_td_tstar": (_PG + "BT /Courier 9 Tf 1 0 0 1 50 600 Tm (x one) Tj "
                    "12 -11 Td (y two) Tj T* (z) Tj ET", True),
    "color_mid_chain": (_PG + "BT /Helvetica 12 Tf 72 700 Td (p) Tj "
                        "0 -14 Td (q) Tj 0.5 0 0 rg 0 -14 Td (r) Tj ET",
                        True),
    "rotated": ("612 792 90 PG BT /Helvetica 12 Tf 72 700 Td (rot a) Tj "
                "0 -14 Td (rot b) Tj T* (rot c) Tj ET", True),
    "quote_empties": (_PG + "BT /Helvetica 12 Tf 20 TL (top) ' () Tj "
                      "0 -5 Td () Tj 0 -5 Td (bot) Tj ET", False),
    "spacing": (_PG + "BT /Helvetica 12 Tf 120 Tz 0.4 Tc 1.1 Tw 3 Ts "
                "72 700 Td (sp ace d) Tj 0 -14 Td (more wo rds) Tj ET",
                True),
    "td_sets_leading": (_PG + "BT /Helvetica 12 Tf 72 700 Td (l1) Tj "
                        "0 -20 TD (l2) Tj T* (l3) Tj T* (l4) Tj ET", True),
    "scaled_tm": (_PG + "BT /Helvetica 12 Tf 2 0 0 2 72 700 Tm (scaled) Tj "
                  "0 -14 Td (still scaled) Tj ET", True),
    "inf_operand": (_PG + "BT /Helvetica 12 Tf 72 700 Td (a) Tj 0 "
                    + "9" * 350 + " Td (b) Tj 0 -14 Td (c) Tj ET", False),
    "name_shown": (_PG + "BT /Helvetica 12 Tf 72 700 Td (a) Tj 0 -5 Td "
                   "/Nm Tj 0 -5 Td (c) Tj ET", False),
    "hex": (_PG + "BT /Helvetica 12 Tf 72 700 Td <6869> Tj "
            "0 -14 Td (b) Tj ET", False),
}


def test_td_chains(monkeypatch):
    docs = [(name, [corpus.text_span(frag, 0)])
            for name, (frag, _covered) in _TD_CHAINS.items()]
    assert_same(docs)
    assert sorted(_fallback_ids(docs, ExtractConfig(), monkeypatch)) == \
        sorted(n for n, (_f, covered) in _TD_CHAINS.items() if not covered)


@pytest.mark.parametrize("cfg", [
    ExtractConfig(start_page=2, end_page=3),
    ExtractConfig(start_page=5),
    ExtractConfig(disable_graphics=True),
    ExtractConfig(disable_images=True),
    ExtractConfig(image_handler="dir", font_handler="dir"),
    ExtractConfig(image_handler="ignore", font_handler="ignore"),
    ExtractConfig(disable_image_data=True, raster_paths=True),
], ids=["pages2-3", "from5", "nographics", "noimages", "dir", "ignore",
        "raster"])
def test_config_switches(cfg):
    docs = _rich(40, seed=4) + sorted(corpus.fixture_docs().items())
    assert_same(docs, cfg)


# --- batches mixing covered and fallback documents --------------------------

def _with(spans, *extra):
    top = max((s["offset"] for s in spans), default=-1)
    return spans + [dict(e, offset=top + 1 + i) for i, e in enumerate(extra)]


def test_mixed_batch_empty_image_only_and_fallback(monkeypatch):
    rich = _rich(12, seed=5)
    img = {"kind": "image", "text": "640 480 Pic", "media_ref": "sha:1",
           "offset": 0}
    docs = [
        rich[0],
        ("empty", []),
        ("image-only", [img]),
        ("meta-only", [corpus.meta_span("  ", 0)]),
        ("text-before-page", [corpus.text_span("BT /F1 9 Tf (x) Tj ET", 0)]),
        ("cmap", _with(rich[1][1], {"kind": "cmap", "text": "97:3b1",
                                    "media_ref": "cmap:Mono"})),
        rich[2],
        ("widths", _with(rich[3][1], {"kind": "widths",
                                      "text": "default:600",
                                      "media_ref": "widths:Helvetica"})),
        ("quote-op", [corpus.text_span(
            "612 792 0 PG BT /Mono 10 Tf 12 TL (a) ' ET", 0)]),
        ("curve", [corpus.text_span(
            "612 792 0 PG 1 2 m 3 4 5 6 7 8 c S", 0)]),
        ("escape", [corpus.text_span(
            "612 792 0 PG BT /Mono 10 Tf (a\\)b) Tj ET", 0)]),
        ("hex", [corpus.text_span("612 792 0 PG BT /Mono 10 Tf <4142> Tj ET",
                                  0)]),
        rich[4],
    ]
    assert_same(docs)
    assert _fallbacks(docs, ExtractConfig(), monkeypatch) == 6

    # the batch tokenizer sees the content and form spans of every
    # document except those whose span kinds already send it back
    seen = []
    orig = extract.tokenize_batch

    def recorded(buf, starts, ends):
        seen.extend(buf[s:e].tobytes().decode("utf-32-le")
                    for s, e in zip(starts, ends) if e > s)
        return orig(buf, starts, ends)

    monkeypatch.setattr(extract, "tokenize_batch", recorded)
    extract.batch_parts(_batch(docs), ExtractConfig())
    assert seen == [sp["text"] for d, spans in docs
                    if d not in ("cmap", "widths") for sp in spans
                    if sp["kind"] not in ("image", "meta") and sp["text"]]


def test_shuffled_span_offsets():
    docs = []
    rng = random.Random(7)
    for d, spans in _rich(30, seed=6):
        spans = [dict(s) for s in spans]
        rng.shuffle(spans)
        docs.append((d, spans))
    assert_same(docs)


# --- fuzzed streams over the covered operators ------------------------------

_FONTS = ["Mono", "Helvetica", "Garamond-Italic", "Foo-T1", "Noto-CID",
          "EKCFJL+Omsym2", "Verdana-Bold", ""]
_WORDS = ["a", "the  data", "x y", "", "שלום", "é", "́e", "Tab\tEnd",
          "wide mmm", "1.5"]


def _num(rng) -> str:
    v = rng.choice([0, 1, -1, 2.5, 10, 72, 0.001, -300.25, 1e-3, 1234.5678])
    return f"{v:g}" if rng.random() < 0.5 else repr(float(v))


def _op(rng, depth: list) -> str:
    k = rng.randrange(30)
    n = lambda: _num(rng)  # noqa: E731
    if k == 0:
        depth[0] += 1
        return "q"
    if k == 1:
        depth[0] -= 1
        return "Q"
    if k == 2:
        a = rng.choice([0.0, 0.5, 1.0, 2.0])
        return rng.choice([f"{a:g} 0 0 {a:g} {n()} {n()} cm",
                           f"0 1 -1 0 {n()} {n()} cm",
                           f"1 0 0 1 {n()} {n()} cm"])
    if k == 3:
        return f"/{rng.choice(_FONTS)} {rng.choice([8, 10, 12.5, 0])} Tf"
    if k in (4, 5, 6):
        return f"({rng.choice(_WORDS)}) Tj"
    if k == 7:
        els = " ".join(rng.choice([f"({rng.choice(_WORDS)})", n()])
                       for _ in range(rng.randrange(5)))
        return f"[{els}] TJ"
    if k == 8:
        return rng.choice([f"1 0 0 1 {n()} {n()} Tm",
                           f"0 1 -1 0 {n()} {n()} Tm",
                           f"2 0 0.5 1 {n()} {n()} Tm"])
    if k == 9:
        return f"{n()} {n()} {rng.choice(['Td', 'TD'])}"
    if k == 10:
        return rng.choice(["T*", f"{n()} TL", f"{n()} Ts", f"{n()} Tz"])
    if k == 11:
        return f"{n()} {rng.choice(['Tc', 'Tw'])}"
    if k == 12:
        return f"{rng.randrange(8)} Tr"
    if k == 13:
        return rng.choice([f"{n()} {n()} {n()} rg", f"{n()} g",
                           f"0.1 0.2 0.3 RG", f"0.5 G", f"{n()} w"])
    if k in (14, 15):
        return f"{n()} {n()} {rng.choice(['m', 'l'])}"
    if k == 16:
        return f"{n()} {n()} {n()} {n()} re"
    if k == 17:
        return rng.choice(["h", "f", "F", "f*", "S", "s", "B", "B*", "b",
                           "b*", "n"])
    if k == 18:
        return rng.choice(["BT", "ET"])
    if k == 19:
        return f"/{rng.choice(['F1', 'F2', 'Nope'])} Do"
    if k == 20:
        return f"{rng.choice([612, 300])} {rng.choice([792, 200])} " \
               f"{rng.choice([0, 90, 180, 270])} PG"
    if k == 21 and rng.random() < 0.3:
        # damaged operands: the document takes the per-document path
        return rng.choice(["(x) 1 0 Tm", "/F1 Tj", "1 2 3 Tj", "[(a) Tf",
                           "1e5 0 Td", "12abc Tj", "(unclosed Tj"])
    return f"1 0 0 1 {n()} {n()} Tm ({rng.choice(_WORDS)}) Tj"


def _fuzz_doc(rng, i: int):
    spans = []
    off = 0
    forms = {"F1": "0.3 g /Helvetica 8 Tf 1 0 0 1 72 770 Tm (hdr) Tj "
                   "/F2 Do",
             "F2": "q 2 0 0 2 0 0 cm 10 10 m 20 20 l S /F1 Do Q"}
    for name, body in forms.items():
        if rng.random() < 0.5:
            spans.append(corpus.form_span(name, body, off))
            off += 1
    if rng.random() < 0.2:
        spans.append(corpus.meta_span(f"Doc {i}", off))
        off += 1
    for _p in range(rng.randrange(1, 4)):
        depth = [0]
        ops = [f"612 792 {rng.choice([0, 90, 180, 270])} PG"]
        ops += [_op(rng, depth) for _ in range(rng.randrange(3, 40))]
        cut = rng.randrange(len(ops) + 1)
        spans.append(corpus.text_span(" ".join(ops[:cut]), off))
        off += 1
        if rng.random() < 0.4:
            spans.append(corpus.image_span(f"sha:{i}", rng.choice([640, 0]),
                                           480, "Img", off))
            off += 1
        spans.append(corpus.text_span(" ".join(ops[cut:]), off))
        off += 1
    return (f"fz{i}", spans)


@pytest.mark.parametrize("seed", range(6))
def test_fuzzed_streams(seed, monkeypatch):
    rng = random.Random(seed)
    docs = [_fuzz_doc(rng, 60 * seed + i) for i in range(60)]
    assert_same(docs)
    # most fuzzed documents stay on the batch path
    assert _fallbacks(docs, ExtractConfig(), monkeypatch) < 30


# --- page groups -------------------------------------------------------------

def _groups(docs, pages_per_group, min_bytes=0, cfg=None):
    cfg = cfg or ExtractConfig()
    return [g for d, s in docs
            for g in pagesplit.split_doc(d, s, pages_per_group, min_bytes,
                                         cfg.start_page, cfg.end_page)]


def _group_reference(rows, cfg):
    parts = [extract.extract_doc_parts(
        r["doc_id"], r["spans"], cfg, page_offset=r["page_offset"],
        font_seed=list(r["font_seed"]), emit_fonts=r["emit_fonts"])
        for r in rows]
    ref = extract.parts_to_arrow(parts, [r["doc_id"] for r in rows],
                                 [-1] * len(rows))
    _cols, counts = extract.finalize_docs(parts) if parts else ({}, [])
    grp = np.repeat([r["grp"] for r in rows], counts).astype(np.int32)
    return ref.append_column("grp", pa.array(grp, type=pa.int32()))


def assert_groups_same(rows, cfg=None):
    cfg = cfg or ExtractConfig()
    _assert_equal(_kernel(pagesplit.groups_batch(rows), cfg),
                  _group_reference(rows, cfg))


_SPLIT_MODES = ["rich", "oracle", "rot_text", "forms", "enc", "rich_lite"]


@pytest.mark.parametrize("pages_per_group", [1, 2, 3])
@pytest.mark.parametrize("mode", _SPLIT_MODES)
def test_page_groups_batch_equals_per_group(mode, pages_per_group,
                                            monkeypatch):
    from perfbench import inputs

    fn = corpus.stream_fn(mode)
    docs = [(d, fn(d, t)) for d, t in inputs.rich_docs(8, 40)]
    rows = _groups(docs, pages_per_group)
    # the documents really split (an oracle document has at most three
    # pages): later groups carry offsets and seeds
    if (mode, pages_per_group) != ("oracle", 3):
        assert len(rows) > len(docs)
        assert any(r["page_offset"] for r in rows)
        assert any(r["font_seed"] for r in rows)
    assert_groups_same(rows)
    if mode in ("rich", "oracle"):
        batch = pagesplit.groups_batch(rows)
        assert _fallbacks(batch, ExtractConfig(), monkeypatch) == 0


@pytest.mark.parametrize("cfg", [
    ExtractConfig(start_page=2, end_page=3),
    ExtractConfig(image_handler="dir", font_handler="dir"),
    ExtractConfig(image_handler="ignore", font_handler="ignore"),
], ids=["pages2-3", "dir", "ignore"])
def test_page_groups_config_switches(cfg):
    rows = _groups(_rich(30, seed=9), 1, cfg=cfg)
    assert_groups_same(rows, cfg)


def test_page_groups_gated_font_seed(monkeypatch):
    """Pre-PG content and pages outside the start/end gate put nothing
    in a seed; the last group alone emits the document's fonts."""
    spans = [
        {"kind": "text", "text": "/Phantom 9 Tf", "media_ref": None,
         "offset": 0},
        {"kind": "text", "text": ("612 792 0 PG BT /Serif 10 Tf "
                                  "1 0 0 1 72 700 Tm (a) Tj ET"),
         "media_ref": None, "offset": 1},
        {"kind": "text", "text": ("612 792 0 PG BT /Gated 10 Tf "
                                  "1 0 0 1 72 700 Tm (b) Tj ET"),
         "media_ref": None, "offset": 2},
    ]
    cfg = ExtractConfig(start_page=1, end_page=1)
    rows = _groups([("d", spans)], 1, cfg=cfg)
    assert len(rows) == 2
    assert_groups_same(rows, cfg)
    got = _kernel(pagesplit.groups_batch(rows), cfg)
    fonts = [(t, g) for t, k, g in zip(*(got.column(c).to_pylist() for c
                                         in ("text", "kind", "grp")))
             if k == "font"]
    assert fonts == [("Serif", 1)]
    assert _fallbacks(pagesplit.groups_batch(rows), cfg, monkeypatch) == 0


def test_page_groups_mixed_with_plain_documents(monkeypatch):
    """One batch of documents that split, documents that pass through
    whole (grp 0, offset 0, no seed) and documents that fall back."""
    rich = _rich(24, seed=10)
    widths = {"kind": "widths", "text": "default:600",
              "media_ref": "widths:Helvetica"}
    docs = rich[:20] + [(f"w{d}", _with(s, widths)) for d, s in rich[20:]]
    sizes = sorted(sum(len(sp["text"] or "") for sp in s) for _d, s in docs)
    rows = _groups(docs, 2, min_bytes=sizes[len(sizes) // 2])
    whole = [r for r in rows if r["grp"] == 0 and r["emit_fonts"]]
    assert 0 < len(whole) < len(docs) < len(rows)
    rng = random.Random(3)
    rng.shuffle(rows)
    assert_groups_same(rows)
    fell = _fallback_ids(pagesplit.groups_batch(rows), ExtractConfig(),
                         monkeypatch)
    assert sorted(set(fell)) == [f"w{d}" for d, _s in rich[20:]]


@pytest.mark.parametrize("seed", range(6))
def test_page_groups_fuzzed_streams(seed):
    rng = random.Random(seed)
    docs = [_fuzz_doc(rng, 60 * seed + i) for i in range(60)]
    assert_groups_same(_groups(docs, 1))


# --- the exact-arithmetic building blocks -----------------------------------

def test_tokenize_batch_agrees_with_tokenize():
    rng = random.Random(11)
    alpha = list("0123456789.+-/ ()[]Tjmfq*\n\tab") + [
        "Tj", "Tm", " 1 0 0 1 ", "(ab)", "[(a) -5 (b)]", "/F1 ", "12",
        "-.5", "3.", " TJ ", "(é)", "%", "<", "\\", "\x00", "\x0b",
        "\f", "/F1\x00"]
    frags = ["".join(rng.choice(alpha) for _ in range(rng.randint(0, 12)))
             for _ in range(3000)]
    frags += [sp["text"] or "" for _d, spans in _rich(20)
              for sp in spans if sp["kind"] in ("text", "form")]
    buf = np.frombuffer("".join(frags).encode("utf-32-le"), np.uint32)
    ends = np.cumsum([len(f) for f in frags])
    tb = tokenizer.tokenize_batch(buf, ends - [len(f) for f in frags], ends)
    good = 0
    for f, frag in enumerate(frags):
        if tb.bad_frag[f]:
            continue
        good += 1
        got = []
        for i in np.flatnonzero(tb.op_frag == f):
            t = tb.op_tok[i]
            args = []
            for k in range(tb.op_nargs[i]):
                a = tb.arg_tok[tb.op_arg0[i] + k]
                kind = tb.tok_kind[a]
                if kind == tokenizer.TK_NUM:
                    args.append(float(tb.tok_num[a]))
                elif kind == tokenizer.TK_NAME:
                    args.append(tokenizer.PdfName(tb.text(tb.tok_a[a],
                                                          tb.tok_b[a])))
                elif kind == tokenizer.TK_STR:
                    args.append(tb.text(tb.tok_a[a], tb.tok_b[a]))
                else:
                    args.append([float(tb.tok_num[e])
                                 if tb.tok_kind[e] == tokenizer.TK_NUM
                                 else tb.text(tb.tok_a[e], tb.tok_b[e])
                                 for e in range(a + 1, tb.arr_end[a])])
            got.append((tb.text(tb.tok_a[t], tb.tok_b[t]), args))

        def typed(ops):
            return [(o, [(type(a), a) for a in args]) for o, args in ops]

        assert typed(got) == typed(tokenizer.tokenize(frag)), frag
    assert good > 500


def test_parse_numbers_equals_float():
    rng = random.Random(3)
    words = []
    for _ in range(20000):
        sign = rng.choice(["", "-", "+"])
        whole = str(rng.randrange(10 ** rng.randrange(0, 19)))
        frac = str(rng.randrange(10 ** rng.randrange(0, 25)))
        words.append(sign + rng.choice([whole, f"{whole}.", f".{frac}",
                                        f"{whole}.{frac}"]))
    text = " ".join(words) + " "
    codes = np.frombuffer(text.encode("utf-32-le"), np.uint32)
    starts = np.cumsum([0] + [len(w) + 1 for w in words[:-1]])
    ends = starts + [len(w) for w in words]
    ref = np.array([float(w) for w in words])
    for parse in (tokenizer._parse_numbers, tokenizer._parse_unique_numbers):
        got = parse(codes, starts, ends)
        assert np.array_equal(got, ref)
        assert np.array_equal(np.signbit(got), np.signbit(ref))


def test_pairwise_sums_equal_ndarray_sum():
    rng = np.random.default_rng(5)
    lens = rng.integers(0, 300, size=400)
    adv = rng.random(int(lens.sum())) * rng.choice([0.0117, 7.3], size=1)
    starts = np.cumsum(lens) - lens
    got = interp._pairwise_sums(adv, starts, lens)
    ref = np.array([adv[s:s + n].sum() for s, n in zip(starts, lens)])
    assert np.array_equal(got, ref)


def test_chain_equals_scalar_running_sum():
    rng = np.random.default_rng(9)
    n = 5000
    reset = rng.random(n) < 0.2
    reset[0] = True
    value = rng.random(n) * 500
    inc = rng.random(n) * 7.3
    got = interp._chain(reset, value, inc)
    acc, ref = 0.0, np.empty(n)
    for i in range(n):
        acc = value[i] if reset[i] else acc + inc[i]
        ref[i] = acc
    assert np.array_equal(got, ref)


def test_empty_batches():
    assert _kernel([], ExtractConfig()).num_rows == 0
    assert_same([("a", []), ("b", []), ("c", [corpus.meta_span("T", 0)])])


# --- bounded kernel calls ----------------------------------------------------

def test_content_bytes_counts_span_text_and_pdf_bytes():
    docs = [("a", [corpus.text_span("12 é", 0), corpus.meta_span("T", 1)]),
            ("b", []),
            ("c", [{"kind": "text", "text": None, "media_ref": None,
                    "offset": 0}, corpus.text_span("xy", 1)])]
    b = _batch(docs)
    assert extract.content_bytes(b).tolist() == [6, 0, 2]
    assert extract.content_bytes(b.slice(1, 2)).tolist() == [0, 2]
    from pdf2dom_spark.schema import PDF_SCHEMA
    pdfs = pa.RecordBatch.from_pylist(
        [{"doc_id": "p", "pdf": b"%PDF-1.4 ..."}, {"doc_id": "q", "pdf": b""}],
        schema=to_arrow_schema(PDF_SCHEMA))
    assert extract.content_bytes(pdfs).tolist() == [12, 0]


def _traced_peak(fn) -> int:
    import gc
    import tracemalloc

    gc.collect()
    tracemalloc.start()
    try:
        fn()
        return tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


def test_kernel_slices_batch_at_content_budget():
    """One batch holding a 2 MB document among 400 small ones: the kernel
    cuts it into slices of at most SLICE_BYTES of content (the big
    document alone in its own), its output equals the unsliced
    ``extract_batch`` of the whole batch, and the traced peak of the
    kernel follows its largest slice, not the batch."""
    small = _rich(400, seed=4)
    # a short text show, then a long comment: 2 MB of content stream
    big = ("big", [corpus.text_span(
        _PG + "BT /F1 10 Tf 72 700 Td (big) Tj ET %" + "x" * 2**21, 0)])
    batch = _batch(small[:200] + [big] + small[200:])
    slices = extract.batch_slices(batch)
    assert sum(s.num_rows for s in slices) == batch.num_rows
    sizes = [int(extract.content_bytes(s).sum()) for s in slices]
    assert all(n <= extract.SLICE_BYTES or s.num_rows == 1
               for s, n in zip(slices, sizes))
    assert sum(n > extract.SLICE_BYTES for n in sizes) == 1
    assert len(slices) >= 3

    kernel = extract.make_extract_arrow()
    out = list(kernel(iter([batch])))
    assert len(out) == len(slices)
    whole = extract.extract_batch(batch, pid=-1)
    assert pa.Table.from_batches(out).equals(pa.Table.from_batches([whole]))

    sliced_peak = _traced_peak(lambda: list(kernel(iter([batch]))))
    slice_peak = max(_traced_peak(lambda s=s: extract.extract_batch(s))
                     for s in slices)
    whole_peak = _traced_peak(lambda: extract.extract_batch(batch))
    assert sliced_peak <= 1.2 * slice_peak, (sliced_peak, slice_peak)
    assert whole_peak >= 1.5 * sliced_peak, (whole_peak, sliced_peak)
