"""Content-stream tokenizer (reference: PDFBox's parser feeding
``PDFBoxTree.processOperator``, PDFBoxTree.java:410-542).

Two tiers, dispatched per fragment:

- **fast path** — one compiled-regex scan (C-speed ``findall``) for
  fragments with only the simple token surface (numbers, ``/Name``,
  flat ``(string)`` literals with simple escapes, ``[...]`` arrays,
  operators). All synthetic corpora hit this path.
- **full scanner** — PDFBox-lexer-complete handling for anything the fast
  regex cannot express, engaged when the fragment contains ``%``/``<``/
  octal escapes/nested parens, or a paren outside the literals the regex
  matched (an unterminated literal runs to the end of the fragment):
    * nested unescaped parens in literals: ``(a(b)c)`` is one string,
    * octal escapes ``\\ddd`` (1-3 digits, mod 256) and line continuations,
    * hex strings ``<48656C6C6F>`` (whitespace ignored, odd length padded
      with 0; bytes mapped via chr — the synthetic stand-in for the
      reference's font-encoding unicode lookup),
    * comments ``%...`` to end of line,
    * ``<<...>>`` dictionaries consumed as opaque balanced blocks (their
      operands are dropped, like PDFBox operands consumed by unsupported
      operators),
    * unknown bytes skipped (PDFBox recovers at the next lexeme).

A third path, ``tokenize_batch``, scans every fragment of an Arrow batch
in one pass of whole-buffer numpy operations into flat operator and
operand arrays; it accepts only the fragments on which it provably agrees
with ``tokenize`` and flags the rest (see its block comment).

Unknown *operators* are emitted as normal ``(op, args)`` pairs; the
interpreter's dispatch ignores names it does not know — the guarded
fallthrough the reference gets from its processOperator switch.

The synthetic corpus adds one pseudo-operator not in PDF:
``w h rot PG`` — page boundary carrying the page box + rotation (the
reference gets these from ``PDPage.getCropBox()/getRotation()``,
PDFBoxTree.java:797-801,831-855).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

_TOKEN_RE = re.compile(
    r"""
    (?P<num>[-+]?(?:\d+\.\d*|\.\d+|\d+))
  | (?P<name>/[^\s/\[\]()<>{}%]*)
  | (?P<str>\((?:\\.|[^\\()])*\))
  | (?P<lbrk>\[)
  | (?P<rbrk>\])
  | (?P<op>[A-Za-z'"][A-Za-z0-9*'"]*)
    """,
    re.VERBOSE | re.DOTALL,
)

# any of: comment, hex/dict open, octal escape, line continuation, raw CR
# (in-literal EOL normalization), nested '(' inside a literal
_NEEDS_FULL_RE = re.compile(
    r"[%<\r]|\\[0-7\n]|\((?:\\.|[^\\()])*\(", re.DOTALL)

_NAME_RE = re.compile(r"/[^\s/\[\]()<>{}%]*")
_NUM_RE = re.compile(r"[-+]?(?:\d+\.\d*|\.\d+|\d+)")
_OP_RE = re.compile(r"[A-Za-z'\"][A-Za-z0-9*'\"]*")
_WS = " \t\r\n\f\x00"

class PdfName(str):
    """A /Name operand. Subclassing str keeps every existing consumer
    working (equality, hashing, str() all behave like the bare name), but
    lets operator handlers mirror PDFBox's COSName-vs-COSString operand
    typing: Tf and Do require a NAME, show operators require a STRING —
    a damaged stream putting one where the other belongs is skipped,
    exactly like the reference's instanceof checks."""
    __slots__ = ()


_ESCAPES = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f",
            "(": "(", ")": ")", "\\": "\\"}


def _unescape(body: str) -> str:
    if "\\" not in body:
        return body
    out: list[str] = []
    i, n = 0, len(body)
    while i < n:
        c = body[i]
        if c == "\\" and i + 1 < n:
            nxt = body[i + 1]
            out.append(_ESCAPES.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


_SIMPLE_LIT_RE = re.compile(r"\(([^()\\\r]*)\)")


def _scan_literal(s: str, pos: int) -> tuple[str, int]:
    """Balanced (string) literal starting at s[pos] == '(': PDF escapes,
    octal codes, line continuations, nested unescaped parens."""
    # fast path: no escapes, no nesting, no CR normalization — the body is
    # the literal verbatim (the overwhelmingly common shape)
    m = _SIMPLE_LIT_RE.match(s, pos)
    if m is not None:
        return m.group(1), m.end()
    depth = 1
    i = pos + 1
    n = len(s)
    out: list[str] = []
    while i < n and depth:
        c = s[i]
        if c == "\\":
            nxt = s[i + 1] if i + 1 < n else ""
            # NB: the nxt checks below must guard against "" (backslash as
            # the last byte of a truncated stream): "" is a substring of
            # every string, so a bare `nxt in "01234567"` would take the
            # octal branch and crash on int("", 8)
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
            elif nxt and nxt in "01234567":
                j = i + 1
                while j < n and j < i + 4 and s[j] in "01234567":
                    j += 1
                out.append(chr(int(s[i + 1:j], 8) & 0xFF))
                i = j
            elif nxt and nxt in "\r\n":  # line continuation
                i += 2
                if nxt == "\r" and i < n and s[i] == "\n":
                    i += 1
            else:
                out.append(nxt)
                i += 2
        elif c == "(":
            depth += 1
            out.append(c)
            i += 1
        elif c == ")":
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        elif c == "\r":
            # PDF 32000-1 7.3.4.2: an in-literal end-of-line marker (CR,
            # LF, or CRLF) reads as a SINGLE 0x0A byte
            out.append("\n")
            i += 1
            if i < n and s[i] == "\n":
                i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out), i


def _scan_hex(s: str, pos: int) -> tuple[str, int]:
    """<hex> string starting at s[pos] == '<'."""
    e = s.find(">", pos)
    if e == -1:
        e = len(s)
    body = re.sub(r"\s", "", s[pos + 1:e])
    body = "".join(c for c in body if c in "0123456789abcdefABCDEF")
    if len(body) % 2:
        body += "0"
    return ("".join(chr(int(body[i:i + 2], 16))
                    for i in range(0, len(body), 2)),
            min(e + 1, len(s)))


def _skip_dict(s: str, pos: int) -> int:
    """Balanced << ... >> block starting at s[pos:pos+2] == '<<'; literals,
    hex strings, and %-comments inside are skipped opaquely (a '>>' inside
    any of them must not terminate the block)."""
    depth = 0
    i = pos
    n = len(s)
    while i < n:
        if s.startswith("<<", i):
            depth += 1
            i += 2
        elif s.startswith(">>", i):
            depth -= 1
            i += 2
            if depth <= 0:
                break
        elif s[i] == "(":
            _, i = _scan_literal(s, i)
        elif s[i] == "<":
            _, i = _scan_hex(s, i)
        elif s[i] == "%":
            nl = [x for x in (s.find("\n", i), s.find("\r", i)) if x != -1]
            i = min(nl) + 1 if nl else n
        else:
            i += 1
    return i


def _tokenize_full(fragment: str) -> list[tuple[str, list]]:
    ops: list[tuple[str, list]] = []
    args: list = []
    arr: list | None = None
    pos, n = 0, len(fragment)
    while pos < n:
        c = fragment[pos]
        if c in _WS:
            pos += 1
        elif c == "%":  # comment to end of line
            nl = [x for x in (fragment.find("\n", pos),
                              fragment.find("\r", pos)) if x != -1]
            pos = min(nl) + 1 if nl else n
        elif c == "(":
            s, pos = _scan_literal(fragment, pos)
            (arr if arr is not None else args).append(s)
        elif fragment.startswith("<<", pos):
            pos = _skip_dict(fragment, pos)  # dict operand: consumed, dropped
        elif c == "<":
            s, pos = _scan_hex(fragment, pos)
            (arr if arr is not None else args).append(s)
        elif c == "[":
            arr = []
            pos += 1
        elif c == "]":
            args.append(arr if arr is not None else [])
            arr = None
            pos += 1
        elif c == "/":
            m = _NAME_RE.match(fragment, pos)
            args.append(PdfName(m.group(0)[1:]))
            pos = m.end()
        else:
            m = _NUM_RE.match(fragment, pos)
            if m:
                (arr if arr is not None else args).append(float(m.group(0)))
                pos = m.end()
                continue
            m = _OP_RE.match(fragment, pos)
            if m:
                ops.append((m.group(0), args))
                args = []
                pos = m.end()
                continue
            pos += 1  # unknown byte: skip, resync at the next lexeme
    return ops


def tokenize(fragment: str) -> list[tuple[str, list]]:
    """Scan one content-stream fragment into (operator, operands) pairs.

    Operands accumulate until an operator token flushes them
    (mirrors PDFBox's operand-stack dispatch into processOperator).
    """
    if _NEEDS_FULL_RE.search(fragment) is not None:
        return _tokenize_full(fragment)
    ops: list[tuple[str, list]] = []
    args: list = []
    arr: list | None = None
    lit_parens = 0  # parens inside matched literals, delimiters included
    # findall yields one 6-tuple per token; exactly one group participates
    # per match and none can match the empty string, so truthiness IS the
    # dispatch — no match objects, no group() calls in the hot loop
    for num, name, sstr, lbrk, _rbrk, opname in _TOKEN_RE.findall(fragment):
        if num:
            (arr if arr is not None else args).append(float(num))
        elif opname:
            ops.append((opname, args))
            args = []
        elif sstr:
            lit_parens += sstr.count("(") + sstr.count(")")
            (arr if arr is not None else args).append(_unescape(sstr[1:-1]))
        elif name:
            args.append(PdfName(name[1:]))
        elif lbrk:
            arr = []
        else:  # rbrk
            args.append(arr if arr is not None else [])
            arr = None
    if fragment.count("(") + fragment.count(")") != lit_parens:
        # a paren outside every matched literal: an unterminated literal,
        # which reads to the end of the fragment, or a stray ")". The
        # regex would skip it and tokenize the literal's body as operators
        return _tokenize_full(fragment)
    return ops


# --- batch tokenizer ----------------------------------------------------------
#
# ``tokenize_batch`` scans every fragment of an Arrow batch in one pass of
# whole-buffer numpy operations over the batch's code points. It accepts
# exactly the fragments on which it provably agrees with ``tokenize``: the
# fast-path token surface with no escapes, hex strings, comments, dicts,
# CRs, nested parens or nested brackets, and where every run of word
# characters is ONE number, name or operator (the regex would split
# ``12abc`` into two tokens; the batch scanner flags it instead). Any other
# fragment is reported in ``bad_frag`` and its document takes the
# per-document path.

TK_OP, TK_NUM, TK_NAME, TK_STR, TK_LB, TK_RB = range(6)

# operand kinds in an operator's signature (3 bits each, first operand
# lowest): see ``op_sig``
ARG_NUM, ARG_STR, ARG_NAME, ARG_ARR = 1, 2, 3, 4
MAX_SIG_ARGS = 6
_ARG_OF_TK = np.array([0, ARG_NUM, ARG_NAME, ARG_STR, ARG_ARR, 0],
                      dtype=np.int64)

# char classes outside string literals (index = min(code point, 128))
(_C_WS, _C_LP, _C_RP, _C_LB, _C_RB, _C_SL, _C_DIG, _C_DOT, _C_SIGN,
 _C_LET, _C_QUO, _C_STAR, _C_OTH, _C_BAD) = range(14)


def _class_table() -> np.ndarray:
    t = np.full(129, _C_BAD, dtype=np.uint8)  # 128 = any non-ASCII
    for c in range(0x21, 0x7F):
        t[c] = _C_OTH
    for ch, k in (("(", _C_LP), (")", _C_RP), ("[", _C_LB), ("]", _C_RB),
                  ("/", _C_SL), (".", _C_DOT), ("+", _C_SIGN),
                  ("-", _C_SIGN), ("'", _C_QUO), ('"', _C_QUO),
                  ("*", _C_STAR)):
        t[ord(ch)] = k
    for ch in "0123456789":
        t[ord(ch)] = _C_DIG
    for o in list(range(65, 91)) + list(range(97, 123)):
        t[o] = _C_LET
    # NUL is whitespace to the full scanner but part of a name to the
    # fast path's regex, so a fragment holding one is left to ``tokenize``
    for ch in "%<>{}\\\x00":
        t[ord(ch)] = _C_BAD
    for ch in " \t\n\f\x0b":
        t[ord(ch)] = _C_WS
    return t


_CLS = _class_table()
# chars that send a fragment to the full scanner wherever they stand,
# string literals included (see _NEEDS_FULL_RE)
_BAD_ANYWHERE = np.zeros(129, dtype=bool)
for _ch in "%<\\\r":
    _BAD_ANYWHERE[ord(_ch)] = True
_NUM_BITS = (1 << _C_DIG) | (1 << _C_DOT) | (1 << _C_SIGN)
_OP_BITS = (1 << _C_LET) | (1 << _C_DIG) | (1 << _C_STAR) | (1 << _C_QUO)


def op_key(name: str) -> int:
    """Lookup key of an operator of one or two ASCII chars
    (``tokenize_batch``'s ``op_key``)."""
    return ord(name[0]) + (ord(name[1]) << 7 if len(name) > 1 else 0)


@dataclass
class TokenBatch:
    """Flat tokens of many fragments (``tokenize_batch``). Positions index
    ``codes``, the tokenized buffer plus one trailing space; fragment
    ``f`` is flagged in ``bad_frag`` when the batch scanner cannot
    tokenize it exactly.

    Tokens are in stream order: ``tok_kind`` (TK_*), ``tok_a``/``tok_b``
    (the code range of a number or operator word, of a name without its
    slash, of a string literal without its parens) and ``tok_num`` (the
    value of a number). ``op_tok`` lists the operator tokens in order with
    ``op_key`` (``op_key(name)``, -1 past two chars), ``op_frag`` and
    their operands: ``arg_tok[op_arg0[i]:op_arg0[i] + op_nargs[i]]``,
    an array operand being its ``[`` token, whose elements run to
    ``arr_end[...]`` (the ``]`` token). ``op_sig`` packs the operand kinds
    (ARG_*, 3 bits each, first lowest; -1 past MAX_SIG_ARGS operands)."""
    codes: np.ndarray
    bad_frag: np.ndarray
    tok_kind: np.ndarray
    tok_a: np.ndarray
    tok_b: np.ndarray
    tok_num: np.ndarray
    op_tok: np.ndarray
    op_key: np.ndarray
    op_frag: np.ndarray
    op_arg0: np.ndarray
    op_nargs: np.ndarray
    op_sig: np.ndarray
    arg_tok: np.ndarray
    arr_end: np.ndarray

    def text(self, a: int, b: int) -> str:
        return self.codes[a:b].tobytes().decode("utf-32-le")


def _alternation_bad(kinds: np.ndarray, frag: np.ndarray, open_k: int,
                     close_k: int) -> np.ndarray:
    """Fragments whose opener/closer sequence is not ``( ) ( ) ...``."""
    if not len(kinds):
        return np.empty(0, dtype=np.int64)
    first = np.ones(len(kinds), dtype=bool)
    first[1:] = frag[1:] != frag[:-1]
    last = np.ones(len(kinds), dtype=bool)
    last[:-1] = first[1:]
    bad = (first & (kinds != open_k)) | (last & (kinds != close_k))
    bad[1:] |= ~first[1:] & (kinds[1:] == kinds[:-1])
    return frag[bad]


_POW10 = np.array([float(10 ** k) for k in range(23)])


def _parse_numbers(codes: np.ndarray, starts: np.ndarray,
                   ends: np.ndarray) -> np.ndarray:
    """``float()`` of each number word ``codes[starts[i]:ends[i]]``
    (``[-+]?digits[.digits]``). A word of at most 15 digits is its digits
    as an integer M (exact in float64), divided by 10**k for k digits
    after the dot: both operands are exact, so the one rounding of the
    division gives the correctly rounded value, as ``float()`` does.
    Longer words call ``float()``."""
    nw = len(starts)
    if not nw:
        return np.zeros(0)
    L = ends - starts
    ost = np.cumsum(L) - L
    ch = codes[np.repeat(starts - ost, L) + np.arange(int(L.sum()))]
    dig = ch.astype(np.int64) - 48
    isd = (dig >= 0) & (dig <= 9)
    dr = np.cumsum(isd)
    first_dr = dr[ost] - isd[ost]
    ndig = dr[ost + L - 1] - first_dr
    dc = np.cumsum(ch == 46)
    after = (dc - np.repeat(dc[ost] - (ch[ost] == 46), L)) > 0
    k = np.add.reduceat(isd & after, ost)
    rank = dr - np.repeat(first_dr, L) - 1
    power = np.repeat(ndig, L) - rank - 1
    terms = np.where(isd, dig * _POW10[np.clip(power, 0, 22)], 0.0)
    vals = np.add.reduceat(terms, ost) / _POW10[np.minimum(k, 22)]
    vals = np.where(ch[ost] == 45, -vals, vals)
    for j in np.flatnonzero((ndig > 15) | (k > 22)).tolist():
        a, b = int(starts[j]), int(ends[j])
        vals[j] = float(codes[a:b].astype(np.uint8).tobytes())
    return vals


_LOW_BYTES = np.array([(1 << (8 * k)) - 1 for k in range(8)]
                      + [(1 << 64) - 1], dtype=np.uint64)


def _parse_unique_numbers(codes: np.ndarray, starts: np.ndarray,
                          ends: np.ndarray) -> np.ndarray:
    """``_parse_numbers`` over each distinct number word once: content
    streams repeat a few numbers (``1 0 0 1``, margins, sizes), so a word
    of up to 8 chars is keyed by its bytes packed into a uint64."""
    L = ends - starts
    vals = np.empty(len(starts))
    short = np.flatnonzero(L <= 8)
    long_ = np.flatnonzero(L > 8)
    if len(long_):
        vals[long_] = _parse_numbers(codes, starts[long_], ends[long_])
    if len(short):
        c8 = np.zeros(len(codes) + 8, dtype=np.uint8)
        c8[:len(codes)] = codes  # number words are ASCII
        # the 8 bytes from each position, read as one little-endian uint64
        packed = np.ndarray(shape=(len(codes),), dtype="<u8", buffer=c8,
                            strides=(1,))
        st = starts[short]
        keys = packed[st] & _LOW_BYTES[L[short]]
        _u, first, inv = np.unique(keys, return_index=True,
                                   return_inverse=True)
        vals[short] = _parse_numbers(codes, st[first],
                                     ends[short][first])[inv]
    return vals


def tokenize_batch(buf: np.ndarray, starts: np.ndarray,
                   ends: np.ndarray) -> TokenBatch:
    """Tokenize the fragments ``buf[starts[i]:ends[i]]`` (``buf``: uint32
    code points; fragments ascending and disjoint) together; code points
    outside every fragment are ignored. See the block comment above."""
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    nf = len(starts)
    n = len(buf)
    # one trailing space, so every word and literal ends inside the buffer
    codes = np.empty(n + 1, dtype=np.uint32)
    codes[:n] = buf
    codes[n] = 32
    bad = np.zeros(nf, dtype=bool)

    def frag_of(pos: np.ndarray) -> np.ndarray:
        return np.searchsorted(starts, pos, side="right") - 1

    clipped = np.minimum(codes, 128)
    cls = _CLS.take(clipped)
    if not nf or (starts[0] > 0 or ends[-1] < n
                  or (starts[1:] != ends[:-1]).any()):
        cover = np.zeros(n + 1, dtype=np.int64)
        np.add.at(cover, starts, 1)
        np.add.at(cover, ends, -1)
        cls[np.cumsum(cover) == 0] = _C_WS
    bad[frag_of(np.flatnonzero(_BAD_ANYWHERE.take(clipped)[:n]))] = True
    del clipped
    fstart = np.zeros(n + 1, dtype=bool)  # a token never spans two
    fstart[starts[starts < n]] = True

    # string literals: parens must alternate ( ) within each fragment
    par = np.flatnonzero((cls == _C_LP) | (cls == _C_RP))
    pfrag = frag_of(par)
    bad[_alternation_bad(cls[par], pfrag, _C_LP, _C_RP)] = True
    par = par[~bad[pfrag]]
    opens, closes = par[0::2], par[1::2]
    d = np.zeros(n + 2, dtype=np.int8)
    d[opens] = 1
    d[closes] = -1
    inlit = np.cumsum(d[:n + 1], dtype=np.int8).view(bool)  # '(' .. last
    outside_cls = np.where(inlit, _C_LP, cls)  # literal = one delimiter

    bad[frag_of(np.flatnonzero(outside_cls == _C_BAD))] = True

    # words: runs of word chars outside literals; '/' and a fragment
    # start always start one
    wc = (outside_cls >= _C_SL) & (outside_cls <= _C_OTH)
    brk_before = (outside_cls == _C_SL) | fstart
    wstart = wc.copy()
    wstart[1:] &= ~wc[:-1] | brk_before[1:]
    wend = wc.copy()
    wend[:-1] &= ~wc[1:] | brk_before[1:]
    S = np.flatnonzero(wstart)
    E = np.flatnonzero(wend) + 1
    fc = cls[S]
    if len(S):
        bounds = np.empty(2 * len(S), dtype=np.int64)
        bounds[0::2] = S
        bounds[1::2] = E  # E <= n: the trailing space is no word char
        bits = np.bitwise_or.reduceat(
            np.left_shift(np.uint16(1), cls, dtype=np.uint16),
            bounds)[0::2]
    else:
        bits = np.zeros(0, dtype=np.uint16)

    def per_word(cls_k: int) -> np.ndarray:
        """Count of class ``cls_k`` chars in each word holding one."""
        if not (bits & (1 << cls_k)).any():
            return np.zeros(len(S), dtype=np.int64)
        pos = np.flatnonzero(outside_cls == cls_k)
        return np.bincount(np.searchsorted(S, pos, side="right") - 1,
                           minlength=len(S))

    dots, signs = per_word(_C_DOT), per_word(_C_SIGN)
    is_num = (((fc == _C_DIG) | (fc == _C_DOT) | (fc == _C_SIGN))
              & ((bits & ~_NUM_BITS) == 0)
              & ((bits & (1 << _C_DIG)) != 0)
              & (dots <= 1) & (signs == (fc == _C_SIGN)))
    is_op = (((fc == _C_LET) | (fc == _C_QUO))
             & ((bits & ~_OP_BITS) == 0))
    is_name = fc == _C_SL
    bad[frag_of(S[~(is_num | is_op | is_name)])] = True
    wkind = np.where(is_op, TK_OP, np.where(is_num, TK_NUM, TK_NAME))

    nums = S[is_num]
    vals = _parse_unique_numbers(codes, nums, E[is_num])
    bad[frag_of(nums[~np.isfinite(vals)])] = True
    wnum = np.full(len(S), np.nan)
    wnum[is_num] = vals

    brk = np.flatnonzero((outside_cls == _C_LB) | (outside_cls == _C_RB))
    bkind = np.where(cls[brk] == _C_LB, TK_LB, TK_RB)
    bfrag = frag_of(brk)
    bad[_alternation_bad(bkind, bfrag, TK_LB, TK_RB)] = True

    # merge words, literals and brackets into one stream-ordered list
    pos = np.concatenate((S, opens, brk))
    order = np.argsort(pos, kind="stable")
    kind = np.concatenate((wkind, np.full(len(opens), TK_STR),
                           bkind)).astype(np.int8)[order]
    tok_a = np.concatenate((S + is_name, opens + 1, brk))[order]
    tok_b = np.concatenate((E, closes, brk + 1))[order]
    tok_num = np.concatenate((wnum, np.full(len(opens) + len(brk),
                                            np.nan)))[order]
    tfrag = frag_of(pos[order])
    tgood = ~bad[tfrag]

    # array depth over the good fragments' brackets
    step = np.zeros(len(kind), dtype=np.int64)
    step[(kind == TK_LB) & tgood] = 1
    step[(kind == TK_RB) & tgood] = -1
    depth = np.cumsum(step)
    in_arr = (depth == 1) & (kind != TK_LB)
    bad[tfrag[in_arr & ((kind == TK_OP) | (kind == TK_NAME))]] = True
    tgood = ~bad[tfrag]

    op_tok = np.flatnonzero(kind == TK_OP)
    ops_frag = tfrag[op_tok]
    oa, ob = tok_a[op_tok], tok_b[op_tok]
    olen = ob - oa
    c0 = codes[oa].astype(np.int64)
    c1 = codes[oa + 1].astype(np.int64)
    okey = np.where(olen == 1, c0, np.where(olen == 2, c0 + (c1 << 7), -1))

    # operands: top-level numbers, names, strings and arrays, each owned
    # by the next operator of its fragment (trailing ones are dropped)
    arg = np.flatnonzero(~in_arr & (kind != TK_OP) & (kind != TK_RB))
    owner = np.searchsorted(op_tok, arg)
    keep = owner < len(op_tok)
    keep[keep] = ops_frag[owner[keep]] == tfrag[arg[keep]]
    arg, owner = arg[keep], owner[keep]
    nargs = np.bincount(owner, minlength=len(op_tok))
    arg0 = np.zeros(len(op_tok), dtype=np.int64)
    np.cumsum(nargs[:-1], out=arg0[1:])
    rank = np.arange(len(arg)) - arg0[owner]
    akind = _ARG_OF_TK.take(kind[arg])
    r = np.minimum(rank, MAX_SIG_ARGS)
    sig = np.bincount(owner, weights=(akind << (3 * r)).astype(np.float64),
                      minlength=len(op_tok)).astype(np.int64)
    sig[nargs > MAX_SIG_ARGS] = -1

    rb = np.flatnonzero(kind == TK_RB)
    arr_end = np.full(len(kind), -1, dtype=np.int64)
    lb = np.flatnonzero((kind == TK_LB) & tgood)
    if len(lb):
        arr_end[lb] = rb[np.minimum(np.searchsorted(rb, lb), len(rb) - 1)]

    return TokenBatch(
        codes=codes, bad_frag=bad, tok_kind=kind,
        tok_a=tok_a, tok_b=tok_b, tok_num=tok_num, op_tok=op_tok,
        op_key=okey, op_frag=ops_frag, op_arg0=arg0, op_nargs=nargs,
        op_sig=sig, arg_tok=arg, arr_end=arr_end)
