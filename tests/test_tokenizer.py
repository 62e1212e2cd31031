"""Tokenizer surface tests: PDFBox-lexer completeness (hex strings, nested
parens, octal escapes, comments, dicts, unknown-operator fallthrough) plus
fast-path/full-scanner equivalence properties."""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from pdf2dom_spark.tokenizer import _tokenize_full, tokenize


def test_nested_parens_one_string():
    assert tokenize("(a(b)c) Tj") == [("Tj", ["a(b)c"])]
    assert tokenize("(a((x))b) Tj") == [("Tj", ["a((x))b"])]


def test_hex_string():
    assert tokenize("<48656C6C6F> Tj") == [("Tj", ["Hello"])]
    # whitespace ignored inside; odd length padded with 0
    assert tokenize("<48 65> Tj") == [("Tj", ["He"])]
    assert tokenize("<486> Tj") == [("Tj", ["H`"])]


def test_hex_string_in_tj_array():
    assert tokenize("[ <41> -250 (B) ] TJ") == [("TJ", [["A", -250.0, "B"]])]


def test_octal_escapes():
    assert tokenize(r"(\101\102) Tj") == [("Tj", ["AB"])]
    assert tokenize(r"(\12) Tj") == [("Tj", ["\n"])]
    # 3-digit overflow wraps mod 256 (PDF 32000-1 7.3.4.2)
    assert tokenize(r"(\501) Tj") == [("Tj", [chr(0o501 & 0xFF)])]


def test_line_continuation():
    assert tokenize("(a\\\nb) Tj") == [("Tj", ["ab"])]


def test_comment_to_end_of_line():
    assert tokenize("10 % junk (x) Tj\n(y) Tj") == [("Tj", [10.0, "y"])]
    # comment at end without newline
    assert tokenize("(y) Tj % trailing") == [("Tj", ["y"])]


def test_dict_operand_consumed():
    toks = tokenize("/OC << /Type /OCG /Name (layer (1)) >> BDC (x) Tj EMC")
    assert toks == [("BDC", ["OC"]), ("Tj", ["x"]), ("EMC", [])]


def test_unknown_operator_fallthrough():
    toks = tokenize("0.5 xyz (a) Tj")
    assert toks == [("xyz", [0.5]), ("Tj", ["a"])]
    # and the interpreter ignores it end-to-end
    from pdf2dom_spark.extract import extract_doc
    frag = "612 792 0 PG BT /Mono 10 Tf 7 gibber 1 0 0 1 72 700 Tm (ok) Tj ET"
    rows = extract_doc("u", [{"kind": "text", "text": frag,
                              "media_ref": None, "offset": 0}])
    assert [r["text"] for r in rows if r["kind"] == "text"] == ["ok"]


def test_hex_show_end_to_end():
    from pdf2dom_spark.extract import extract_doc
    frag = ("612 792 0 PG BT /Mono 10 Tf 1 0 0 1 72 700 Tm "
            "<48656C6C6F> Tj ET % done")
    rows = extract_doc("h", [{"kind": "text", "text": frag,
                              "media_ref": None, "offset": 0}])
    assert [r["text"] for r in rows if r["kind"] == "text"] == ["Hello"]


# --- properties ---------------------------------------------------------------

_simple_word = st.text(alphabet=string.ascii_letters + string.digits,
                       min_size=1, max_size=8)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.one_of(
    _simple_word.map(lambda w: f"({w}) Tj"),
    st.floats(-999, 999, allow_nan=False).map(lambda v: f"{round(v, 3)} 0 Td"),
    _simple_word.map(lambda w: f"/{w} 10 Tf"),
    st.just("[ (a) -250 (b) ] TJ"),
    # unbalanced and misordered parens: an unterminated literal reads to
    # the end of the fragment, so no operator after it may appear
    _simple_word.map(lambda w: f"({w} Tj"),
    _simple_word.map(lambda w: f"{w}) Tj"),
    _simple_word.map(lambda w: f"){w}( Tj"),
    st.sampled_from(["(", ")", ")(", r"(a\) Tj"]),
), min_size=1, max_size=10))
def test_fast_and_full_paths_agree(parts):
    """Both tiers must produce identical output on the simple token
    surface and around unbalanced parens (the fast path is an
    optimization, never a semantic fork)."""
    frag = " ".join(parts)
    assert tokenize(frag) == _tokenize_full(frag)


def test_unterminated_literal_has_no_phantom_operators():
    assert tokenize("BT (abc Tj ET") == [("BT", [])]
    assert tokenize("BT ) (x) Tj ET") == [("BT", []), ("Tj", ["x"]),
                                          ("ET", [])]


def _esc_literal(s: str) -> str:
    return (s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)"))


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=string.printable, max_size=40))
def test_escaped_literal_roundtrip(s):
    """Any printable text escaped like the corpus does must round-trip
    through the tokenizer unchanged (through either tier)."""
    toks = tokenize(f"({_esc_literal(s)}) Tj")
    assert len(toks) == 1 and toks[0][0] == "Tj"
    # PDF 32000-1 7.3.4.2: raw CR / CRLF end-of-line markers inside a
    # literal read back as a single LF
    expected = s.replace("\r\n", "\n").replace("\r", "\n")
    assert toks[0][1][-1] == expected


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=string.ascii_letters + "()", max_size=20))
def test_balanced_nested_literals(inner):
    """Literals with BALANCED unescaped parens parse as one string."""
    bal = inner.replace("(", "").replace(")", "")
    nested = f"x({bal})y"
    toks = tokenize(f"({nested}) Tj")
    assert toks == [("Tj", [nested])]


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=24))
def test_hex_roundtrip(bs):
    hexs = bs.hex()
    toks = tokenize(f"<{hexs}> Tj")
    assert toks == [("Tj", ["".join(chr(b) for b in bs)])]


def test_in_literal_eol_normalized_to_lf():
    """PDF 32000-1 7.3.4.2: CR / CRLF inside a literal reads as one 0x0A."""
    assert tokenize("(a\r\nb) Tj") == [("Tj", ["a\nb"])]
    assert tokenize("(a\rb) Tj") == [("Tj", ["a\nb"])]
    assert tokenize("(a\nb) Tj") == [("Tj", ["a\nb"])]


def test_dict_with_comment_containing_gtgt():
    toks = tokenize("<</Type /X % note>>\n/Y 1>> BDC (t) Tj")
    assert toks == [("BDC", []), ("Tj", ["t"])]


def test_nbsp_is_text_not_whitespace():
    """Java String.trim() strips only <= U+0020: NBSP stays a glyph
    (PDFBoxTree.java:599)."""
    from pdf2dom_spark.extract import extract_doc
    frag = "612 792 0 PG BT /Mono 10 Tf 1 0 0 1 72 700 Tm (a b) Tj ET"
    rows = extract_doc("n", [{"kind": "text", "text": frag,
                              "media_ref": None, "offset": 0}])
    assert [r["text"] for r in rows if r["kind"] == "text"] == ["a b"]
