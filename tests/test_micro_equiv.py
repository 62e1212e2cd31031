"""Focused equivalence pins for the r6 continuation-session micro-
optimizations: each test locks the NEW fast-path implementation to the
straightforward reference formulation it replaced, so a future numpy /
regex behavior drift (or a refactor) that breaks the equivalence fails
loudly here instead of surfacing as an oracle-hash mismatch."""

from __future__ import annotations

import random
import re

import numpy as np
import pytest

from pdf2dom_spark import fonts
from pdf2dom_spark.interp import ident, mat, _IDENT
from pdf2dom_spark.jpegdec import _A, _einsum
from pdf2dom_spark.pdfread import _parse_name, _skip_ws, Name


# --- fonts: sentinel-extended take(mode='clip') width lookup ---------------

def _widths_reference(codes: np.ndarray) -> np.ndarray:
    # the pre-r6 formulation: out-of-table code points map to index 0,
    # whose width IS the 500.0 default
    W = fonts._WIDTHS
    return W[np.where(codes < W.shape[0], codes, 0)]


def test_char_widths_matches_where_formulation():
    W = fonts._WIDTHS
    n = W.shape[0]
    codes = np.array([0, 1, 32, 65, 97, n - 2, n - 1, n, n + 1, 10 ** 6,
                      2 ** 32 - 1], dtype=np.uint32)
    got = fonts.char_widths(codes, "SomeFont")
    assert np.array_equal(got, _widths_reference(codes))


def test_advance_widths_matches_scaled_reference():
    rng = np.random.default_rng(11)
    codes = rng.integers(0, 2 ** 20, size=500).astype(np.uint32)
    for scale in (0.012, 1.0, 7.5):
        got = fonts.advance_widths(codes, "SomeFont", scale)
        assert np.array_equal(got, _widths_reference(codes) * scale)


def test_widths_sentinel_equals_default():
    # the take(mode='clip') trick is only valid while the sentinel entry
    # equals the index-0 default
    assert fonts._WIDTHS_EXT[-1] == fonts._WIDTHS[0]
    assert fonts._WIDTHS_EXT.shape[0] == fonts._WIDTHS.shape[0] + 1


# --- interp: template-copy ident() / scalar-store mat() --------------------

def test_ident_is_fresh_identity():
    a = ident()
    assert np.array_equal(a, np.array([[1.0, 0.0], [0.0, 1.0], [0.0, 0.0]]))
    a[2, 0] = 99.0  # must be a private copy...
    assert _IDENT[2, 0] == 0.0  # ...never the shared template
    assert ident()[2, 0] == 0.0


def test_mat_matches_nested_list_array():
    vals = (1.5, -2.0, 3.25, 4.0, -5.5, 6.125)
    got = mat(*vals)
    ref = np.array([[vals[0], vals[1]], [vals[2], vals[3]],
                    [vals[4], vals[5]]], dtype=np.float64)
    assert got.dtype == np.float64 and np.array_equal(got, ref)
    # int operands coerce exactly like np.array(..., dtype=float64)
    assert np.array_equal(mat(1, 0, 0, 1, 7, 8),
                          np.array([[1, 0], [0, 1], [7, 8]], np.float64))


# --- jpegdec: cached-path einsum vs np.einsum(optimize=True) --------------

@pytest.mark.parametrize("shape", [(1, 1), (3, 4), (7, 7), (40, 60),
                                   (3, 200), (128, 96)])
def test_einsum_replay_bitequal_decode_and_encode(shape):
    # includes large grids where BLAS blocking is operand-order-sensitive
    # (a naive tensordot reorder was measured NOT bit-equal there)
    m, n = shape
    rng = np.random.default_rng(m * 1000 + n)
    for expr, scale in (("ux,mnuv,vy->mnxy", 512.0),
                        ("ux,mnxy,vy->mnuv", 255.0)):
        x = rng.standard_normal((m, n, 8, 8)) * scale
        want = np.einsum(expr, _A, x, _A, optimize=True)
        got = _einsum(expr, _A, x, _A)
        assert np.array_equal(want, got)


# --- pdfread: regex name-body scan vs byte loop ----------------------------

def _parse_name_reference(b: bytes, i: int):
    WS, DELIM = b"\x00\t\n\x0c\r ", b"()<>[]{}/%"
    j = i + 1
    n = len(b)
    while j < n and b[j] not in WS and b[j] not in DELIM:
        j += 1
    raw = re.sub(rb"#([0-9A-Fa-f]{2})",
                 lambda m: bytes([int(m.group(1), 16)]), b[i + 1:j])
    return Name(raw.decode("latin-1")), j


def test_parse_name_fuzz_vs_reference():
    random.seed(1234)
    alphabet = b"\x00\t\n\x0c\r %()<>[]{}/#0123456789AaBbZz\\\xff.-+"
    for _ in range(5000):
        s = bytes(random.choice(alphabet)
                  for _ in range(random.randint(1, 24)))
        i = random.randrange(len(s))
        assert _parse_name(s, i) == _parse_name_reference(s, i)


def test_parse_name_hex_escapes_and_delims():
    assert _parse_name(b"/A#20B x", 0) == (Name("A B"), 6)
    assert _parse_name(b"/MediaBox]", 0) == (Name("MediaBox"), 9)
    assert _parse_name(b"/", 0) == (Name(""), 1)
    # skip_ws still consumes comments through EOL and stops at content
    assert _skip_ws(b"  % note\r\n /N", 0) == 11
