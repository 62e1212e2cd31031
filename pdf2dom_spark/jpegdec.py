"""Stdlib+numpy JPEG (DCTDecode) codec: baseline + progressive.

The reference decodes EVERY image XObject to a ``BufferedImage`` and
re-encodes it as PNG regardless of the source codec
(``ImageResource.java:38-51`` — ``ImageIO.write(image, "PNG", out)``;
``PDFBoxTree.java:544-562``), so its media payloads are always PNG
pixels. Real-world scanned/web PDFs carry overwhelmingly DCTDecode
(JPEG) images, which this repo previously kept opaque-hashed. This
module closes that gap for the dominant case: a from-scratch
baseline-sequential JFIF/Adobe decoder (SOF0/SOF1, Huffman DC+AC,
dequant, vectorized 2-D IDCT, chroma upsampling, DRI/RSTn restart
markers, Adobe APP14 color-transform flag) plus a deterministic
encoder used to build byte-exact test fixtures and driver-gate
payloads.

Scope (documented, matches PDFBox's common path):
- baseline sequential (SOF0/SOF1) AND progressive (SOF2) frames —
  spectral selection + successive approximation per spec G.2 (EOBn
  runs, AC refinement correction bits, DRI/RSTn in any scan);
  arithmetic coding and hierarchical modes raise
  ``UnsupportedJpegError`` and the caller keeps the payload opaque.
  Validation: a progressive re-encode of the same quantized
  coefficients decodes BIT-IDENTICALLY to the baseline encode
  (transmission order is the only difference) — pinned across
  randomized gray/color/quantized sweeps in tests/test_jpeg.py;
- 1-component grayscale and 3-component YCbCr/RGB; 4-component
  YCCK/CMYK raises (ICC-profile territory — see tests/test_cmyk.py);
- chroma upsampling is nearest-neighbor block replication (libjpeg's
  default is a triangle filter, so subsampled chroma pixels may differ
  from libjpeg by small amounts; luma and 4:4:4 are exact).

Determinism: all arithmetic is integer or float64 with a single final
round+clamp, so decode(bytes) is bit-stable across runs/platforms —
the property the driver's value-hash gates rely on.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "UnsupportedJpegError",
    "decode_baseline",
    "encode_baseline",
    "encode_progressive",
    "jpeg_to_rgba",
]


class UnsupportedJpegError(ValueError):
    """Payload is JPEG but outside the supported scope (arithmetic,
    hierarchical, >8-bit precision, 4-component, invalid scans)."""


# zigzag index -> (row, col) natural order, PDF/JPEG spec Figure A.6
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# orthonormal 8x8 DCT-II basis: A[u, x] = c(u)/2 * cos((2x+1) u pi / 16)
_A = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _A[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)
del _u, _c, _x

# einsum contraction paths cached per (expr, operand shapes): with
# optimize=True np.einsum searches for a path on every call; handing it the
# cached path skips that search and runs the same contraction.
_EINSUM_PATHS: dict = {}


def _einsum(expr: str, *ops: np.ndarray) -> np.ndarray:
    key = (expr, tuple(o.shape for o in ops))
    path = _EINSUM_PATHS.get(key)
    if path is None:
        path = np.einsum_path(expr, *ops, optimize=True)[0]
        if len(_EINSUM_PATHS) < 4096:
            _EINSUM_PATHS[key] = path
    return np.einsum(expr, *ops, optimize=path)


class _HuffTable:
    """Canonical Huffman decode table with an 8-bit fast path: codes of
    length <= 8 resolve in ONE lookup on the next 8 bits (the classic
    libjpeg LOOKAHEAD); longer codes fall back to bit-serial walk."""

    __slots__ = ("table", "lut")

    def __init__(self, bits: list[int], vals: list[int]):
        table: dict[tuple[int, int], int] = {}
        lut: list[tuple[int, int] | None] = [None] * 256
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                table[(ln, code)] = vals[k]
                if ln <= 8:
                    base = code << (8 - ln)
                    for suf in range(1 << (8 - ln)):
                        lut[base | suf] = (vals[k], ln)
                code += 1
                k += 1
            code <<= 1
        self.table = table
        self.lut = lut


def _build_huff(bits: list[int], vals: list[int]) -> "_HuffTable":
    """Canonical JPEG table (spec C.2) with the 8-bit fast path."""
    return _HuffTable(bits, vals)


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    byte-unstuffing; stops at any non-stuffed marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.n = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(
                self.data) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            else:
                # marker reached mid-entropy (truncated stream): feed 0s
                # like libjpeg's fill-with-zero recovery
                self.buf = (self.buf << 8)
                self.n += 8
                return
        else:
            self.pos += 1
        self.buf = (self.buf << 8) | b
        self.n += 8

    def bits(self, k: int) -> int:
        while self.n < k:
            self._fill()
        self.n -= k
        v = (self.buf >> self.n) & ((1 << k) - 1)
        self.buf &= (1 << self.n) - 1
        return v

    def peek8(self) -> int:
        while self.n < 8:
            self._fill()
        return (self.buf >> (self.n - 8)) & 0xFF

    def skip(self, k: int) -> None:
        self.n -= k
        self.buf &= (1 << self.n) - 1

    def restart(self) -> None:
        """Byte-align and consume an RSTn marker (spec E.2.4)."""
        self.buf = 0
        self.n = 0
        d = self.data
        p = self.pos
        # scan to the next marker; tolerate pad 0xFFs
        while p + 1 < len(d):
            if d[p] == 0xFF and d[p + 1] != 0x00:
                if 0xD0 <= d[p + 1] <= 0xD7:
                    self.pos = p + 2
                    return
                break
            p += 1
        self.pos = p  # no RST found: decoding continues (robustness)


def _decode_huff(r: _BitReader, ht: "_HuffTable") -> int:
    hit = ht.lut[r.peek8()]
    if hit is not None:
        r.skip(hit[1])
        return hit[0]
    # long code (> 8 bits): bit-serial walk
    table = ht.table
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | r.bits(1)
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise UnsupportedJpegError("invalid Huffman code in scan")


def _extend(v: int, s: int) -> int:
    """DIFF/AC magnitude decode (spec F.2.2.1 EXTEND)."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_baseline(data: bytes) -> np.ndarray:
    """JPEG bytes -> uint8 array (h, w) gray or (h, w, 3) RGB.

    Handles baseline sequential (SOF0/SOF1) and PROGRESSIVE (SOF2)
    frames — spectral selection and successive approximation per spec
    G.2, including EOBn runs and AC refinement correction bits.
    Progressive transmission only reorders the same quantized
    coefficients, so a progressive re-encode of a baseline file decodes
    bit-identically (the cross-mode equality the tests pin).

    Raises UnsupportedJpegError outside the documented scope; the
    pdfread image path catches it and keeps the payload opaque-hashed.
    (Name kept from the baseline-only round for API stability.)
    """
    if data[:2] != b"\xff\xd8":
        raise UnsupportedJpegError("not a JPEG (no SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id)
    frame = None  # (h, w, comps, progressive)
    adobe_transform: int | None = None
    restart_interval = 0
    coefs: dict[int, np.ndarray] = {}  # cid -> (by, bx, 64) int64
    got_scan = False
    i = 2
    n = len(data)
    while i + 1 < n:
        if data[i] != 0xFF:
            i += 1
            continue
        m = data[i + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:  # EOI
            break
        if i + 4 > n:
            break
        ln = struct.unpack(">H", data[i + 2:i + 4])[0]
        seg = data[i + 4:i + 2 + ln]
        if m == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq:
                    vals = np.frombuffer(seg[p:p + 128],
                                         dtype=">u2").astype(np.int64)
                    p += 128
                else:
                    vals = np.frombuffer(seg[p:p + 64],
                                         dtype=np.uint8).astype(np.int64)
                    p += 64
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZIGZAG] = vals
                qt[tq] = tbl.reshape(8, 8)
        elif m == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1:p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17:p + 17 + nv])
                huff[(tc, th)] = _build_huff(bits, vals)
                p += 17 + nv
        elif m in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            h = struct.unpack(">H", seg[1:3])[0]
            w = struct.unpack(">H", seg[3:5])[0]
            nc = seg[5]
            if seg[0] != 8:
                raise UnsupportedJpegError(f"precision {seg[0]}")
            if nc not in (1, 3):
                raise UnsupportedJpegError(f"{nc}-component JPEG")
            if not (0 < w * h <= 64_000_000):
                # adversarial dims + the zero-fill truncation recovery
                # would otherwise spin through millions of empty MCUs —
                # a crawled hostile JPEG must fail fast, not burn CPU
                raise UnsupportedJpegError(f"dimensions {w}x{h}")
            comps = []
            for c in range(nc):
                cid = seg[6 + 3 * c]
                hv = seg[7 + 3 * c]
                comps.append((cid, hv >> 4, hv & 15, seg[8 + 3 * c]))
            frame = (h, w, comps, m == 0xC2)
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            coefs = {cid: np.zeros((mcus_y * vi, mcus_x * hi, 64),
                                   dtype=np.int64)
                     for cid, hi, vi, _tq in comps}
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                   0xCD, 0xCE, 0xCF):
            raise UnsupportedJpegError(f"unsupported SOF 0x{m:02x}")
        elif m == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif m == 0xEE and seg[:5] == b"Adobe":  # APP14
            adobe_transform = seg[11] if len(seg) >= 12 else None
        elif m == 0xDA:  # SOS
            if frame is None:
                raise UnsupportedJpegError("SOS before SOF")
            ns = seg[0]
            scan_comps = []  # (cid, dc_table_id, ac_table_id)
            for c in range(ns):
                scan_comps.append((seg[1 + 2 * c],
                                   seg[2 + 2 * c] >> 4,
                                   seg[2 + 2 * c] & 15))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahl = seg[3 + 2 * ns]
            ah, al = ahl >> 4, ahl & 15
            i = _entropy_scan(data, i + 2 + ln, frame, scan_comps,
                              ss, se, ah, al, huff, restart_interval,
                              coefs)
            got_scan = True
            continue
        i += 2 + ln
    if frame is None or not got_scan:
        raise UnsupportedJpegError("no decodable scan")
    h, w, comps, _prog = frame

    # dequant + vectorized 2-D IDCT per component (shared by both modes)
    out_planes: dict[int, np.ndarray] = {}
    for cid, hi, vi, tq in comps:
        q = qt.get(tq)
        if q is None:
            raise UnsupportedJpegError("missing quant table")
        st = coefs[cid]
        by, bx = st.shape[0], st.shape[1]
        c = st.reshape(by, bx, 8, 8) * q  # dequantize (natural order)
        px = _einsum("ux,mnuv,vy->mnxy", _A, c, _A)
        out_planes[cid] = px.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)

    if len(comps) == 1:
        y = out_planes[comps[0][0]][:h, :w]
        return np.clip(np.round(y) + 128, 0, 255).astype(np.uint8)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    planes = []
    for cid, hi, vi, _tq in comps:
        p = out_planes[cid]
        if hi != hmax or vi != vmax:
            # nearest-neighbor (block replication) upsample
            p = np.repeat(np.repeat(p, vmax // vi, axis=0),
                          hmax // hi, axis=1)
        planes.append(p[:h, :w])
    c0, c1, c2 = (pl + 128.0 for pl in planes)
    if adobe_transform == 0:
        r, g, b = c0, c1, c2  # Adobe transform 0: already RGB
    else:
        # CCIR 601 YCbCr -> RGB (JFIF default; Adobe transform 1)
        r = c0 + 1.402 * (c2 - 128.0)
        g = c0 - 0.344136 * (c1 - 128.0) - 0.714136 * (c2 - 128.0)
        b = c0 + 1.772 * (c1 - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _entropy_scan(data: bytes, pos: int, frame, scan_comps,
                  ss: int, se: int, ah: int, al: int, huff,
                  restart_interval: int,
                  coefs: dict[int, np.ndarray]) -> int:
    """Entropy-decode ONE scan into the persistent coefficient stores;
    returns the byte position where the scan's entropy data ended (the
    marker walk resumes there). Sequential frames decode full blocks;
    progressive frames dispatch on (ss, ah) per spec G.2."""
    h, w, comps, progressive = frame
    if progressive:
        # spec G.1.1.1.1 scan-header validity
        if ss == 0 and se != 0:
            raise UnsupportedJpegError("progressive DC scan with Se != 0")
        if ss > 0 and (se < ss or len(scan_comps) != 1):
            raise UnsupportedJpegError("invalid progressive AC scan")
        if ah and ah != al + 1:
            raise UnsupportedJpegError("invalid successive approximation")
    elif ss != 0 or se != 63 or ah or al:
        raise UnsupportedJpegError("non-full sequential scan")
    byid = {c[0]: c for c in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    r = _BitReader(data, pos)
    preds = {cid: 0 for cid, _d, _a in scan_comps}
    eobrun = 0

    if len(scan_comps) == 1:
        # non-interleaved: the component's OWN block grid (ceil dims)
        cid, dct_id, act_id = scan_comps[0]
        _c, hi, vi, _tq = byid[cid]
        bw = -(-(-(-w * hi // hmax)) // 8)
        bh = -(-(-(-h * vi // vmax)) // 8)
        units = [(cid, by, bx) for by in range(bh) for bx in range(bw)]
        tabs = {cid: (dct_id, act_id)}
    else:
        units = []
        tabs = {}
        for cid, dct_id, act_id in scan_comps:
            tabs[cid] = (dct_id, act_id)
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for cid, dct_id, act_id in scan_comps:
                    _c, hi, vi, _tq = byid[cid]
                    for by in range(vi):
                        for bx in range(hi):
                            units.append((cid, my * vi + by,
                                          mx * hi + bx))
        per_mcu = sum(byid[cid][1] * byid[cid][2]
                      for cid, _d, _a in scan_comps)

    n_units = len(units)
    mcu_units = (1 if len(scan_comps) == 1 else per_mcu)
    unit_i = 0
    mcu = 0
    while unit_i < n_units:
        if restart_interval and mcu and mcu % restart_interval == 0 \
                and unit_i % mcu_units == 0 and unit_i:
            r.restart()
            preds = {k: 0 for k in preds}
            eobrun = 0
        cid, by, bx = units[unit_i]
        dct = huff.get((0, tabs[cid][0]))
        act = huff.get((1, tabs[cid][1]))
        blk = coefs[cid][by, bx]
        if not progressive:
            if dct is None or act is None:
                raise UnsupportedJpegError("missing Huffman table")
            s = _decode_huff(r, dct)
            if s > 11:
                raise UnsupportedJpegError("bad DC category")
            diff = _extend(r.bits(s), s) if s else 0
            preds[cid] += diff
            blk[0] = preds[cid]
            k = 1
            while k < 64:
                rs = _decode_huff(r, act)
                rr, sx = rs >> 4, rs & 15
                if sx == 0:
                    if rr == 15:
                        k += 16
                        continue
                    break  # EOB
                k += rr
                if k > 63:
                    raise UnsupportedJpegError("AC overrun")
                blk[_ZIGZAG[k]] = _extend(r.bits(sx), sx)
                k += 1
        elif ss == 0 and ah == 0:  # DC first (G.2, F.2.2.1 shifted)
            if dct is None:
                raise UnsupportedJpegError("missing DC table")
            s = _decode_huff(r, dct)
            if s > 11:
                raise UnsupportedJpegError("bad DC category")
            diff = _extend(r.bits(s), s) if s else 0
            preds[cid] += diff
            blk[0] = preds[cid] << al
        elif ss == 0:  # DC refinement: one bit per block
            if r.bits(1):
                blk[0] |= (1 << al)
        elif ah == 0:  # AC first with EOBn runs (G.2.2)
            if act is None:
                raise UnsupportedJpegError("missing AC table")
            if eobrun > 0:
                eobrun -= 1
            else:
                k = ss
                while k <= se:
                    rs = _decode_huff(r, act)
                    rr, sx = rs >> 4, rs & 15
                    if sx == 0:
                        if rr < 15:
                            eobrun = (1 << rr) - 1
                            if rr:
                                eobrun += r.bits(rr)
                            break
                        k += 16  # ZRL
                        continue
                    k += rr
                    if k > se:
                        raise UnsupportedJpegError("AC overrun")
                    blk[_ZIGZAG[k]] = _extend(r.bits(sx), sx) << al
                    k += 1
        else:  # AC refinement (G.7.2.3 / libjpeg decode_mcu_AC_refine)
            if act is None:
                raise UnsupportedJpegError("missing AC table")
            eobrun = _refine_ac(r, act, blk, ss, se, al, eobrun)
        unit_i += 1
        if unit_i % mcu_units == 0:
            mcu += 1
    return r.pos


def _refine_ac(r: _BitReader, act: dict, blk: np.ndarray, ss: int,
               se: int, al: int, eobrun: int) -> int:
    """One block of an AC successive-approximation refinement scan."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_huff(r, act)
            rr, sx = rs >> 4, rs & 15
            val = 0
            if sx == 0:
                if rr < 15:
                    # INCLUSIVE count (libjpeg convention): the current
                    # block's tail is refined by the eobrun branch below
                    # and the decrement there consumes this block
                    eobrun = 1 << rr
                    if rr:
                        eobrun += r.bits(rr)
                    break  # -> EOB tail below
                # rr == 15: skip 16 zero-history coefficients
            else:
                if sx != 1:
                    raise UnsupportedJpegError("bad refine magnitude")
                val = p1 if r.bits(1) else m1
            while k <= se:
                z = int(_ZIGZAG[k])
                if blk[z] != 0:
                    # correction bit for an already-nonzero coefficient
                    if r.bits(1) and (blk[z] & p1) == 0:
                        blk[z] += p1 if blk[z] >= 0 else m1
                else:
                    if rr == 0:
                        if val:
                            blk[z] = val
                        k += 1
                        break
                    rr -= 1
                k += 1
    if eobrun > 0:
        while k <= se:
            z = int(_ZIGZAG[k])
            if blk[z] != 0:
                if r.bits(1) and (blk[z] & p1) == 0:
                    blk[z] += p1 if blk[z] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def jpeg_to_rgba(data: bytes) -> np.ndarray:
    """Decode to the (h, w, 4) uint8 RGBA layout raster.encode_png_rgba
    expects (the reference's BufferedImage->PNG re-encode shape)."""
    img = decode_baseline(data)
    if img.ndim == 2:
        img = np.stack([img, img, img], axis=-1)
    h, w = img.shape[:2]
    out = np.empty((h, w, 4), dtype=np.uint8)
    out[..., :3] = img
    out[..., 3] = 255
    return np.ascontiguousarray(out)


# ---------------------------------------------------------------------------
# encoder — deterministic baseline fixtures for tests and driver gates
# ---------------------------------------------------------------------------


def _canonical_table(symbols: set[int]) -> tuple[list[int], list[int]]:
    """Fixed-length canonical Huffman table over the used symbols: every
    symbol gets length L where 2^L > len(symbols), so the all-ones code
    of length L stays unused (spec C.2's prefix reservation)."""
    vals = sorted(symbols)
    L = 1
    while (1 << L) <= len(vals):
        L += 1
    bits = [0] * 16
    bits[L - 1] = len(vals)
    return bits, vals


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, ln: int) -> None:
        self.acc = (self.acc << ln) | code
        self.n += ln
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.acc &= (1 << self.n) - 1

    def pad(self) -> None:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # 1-fill


def _csize(v: int) -> int:
    """Magnitude category (spec F.1.2.1.1)."""
    a = abs(v)
    s = 0
    while a:
        a >>= 1
        s += 1
    return s


def encode_baseline(img: np.ndarray, quant: int = 1,
                    restart_interval: int = 0) -> bytes:
    """Deterministic baseline JPEG encoder: grayscale (h, w) or RGB
    (h, w, 3) uint8, 4:4:4 (no subsampling), one quant value applied
    uniformly, canonical fixed-length Huffman tables built from the
    actual symbol set. quant=1 keeps DC-only (uniform-block) images
    bit-exact through a decode round-trip — the property the
    closed-form driver gates use."""
    img = np.asarray(img)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    ncomp = 1 if gray else 3
    if gray:
        planes = [img.astype(np.float64) - 128.0]
    else:
        rf = img[..., 0].astype(np.float64)
        gf = img[..., 1].astype(np.float64)
        bf = img[..., 2].astype(np.float64)
        y = 0.299 * rf + 0.587 * gf + 0.114 * bf
        cb = -0.168736 * rf - 0.331264 * gf + 0.5 * bf + 128.0
        cr = 0.5 * rf - 0.418688 * gf - 0.081312 * bf + 128.0
        planes = [y - 128.0, cb - 128.0, cr - 128.0]
    bh, bw = -(-h // 8), -(-w // 8)
    qtab = np.full((8, 8), int(quant), dtype=np.int64)

    # forward DCT + quantize every block of every plane
    all_blocks: list[list[np.ndarray]] = []
    for p in planes:
        padded = np.zeros((bh * 8, bw * 8))
        padded[:h, :w] = p
        # edge-replicate padding keeps block stats stable
        if h < bh * 8:
            padded[h:, :w] = p[-1:, :]
        if w < bw * 8:
            padded[:, w:] = padded[:, w - 1:w]
        blocks = (padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3))
        coef = _einsum("ux,mnxy,vy->mnuv", _A, blocks, _A)
        qc = np.round(coef / qtab).astype(np.int64)
        all_blocks.append([qc[i, j] for i in range(bh)
                           for j in range(bw)])

    # entropy symbols (two passes: collect table symbols, then write)
    def block_symbols(qc: np.ndarray, pred: int):
        dc_syms, ac_syms = [], []
        zz = qc.reshape(64)[_ZIGZAG]
        diff = int(zz[0]) - pred
        dc_syms.append(_csize(diff))
        run = 0
        last_nz = 0
        for k in range(1, 64):
            if zz[k]:
                last_nz = k
        for k in range(1, last_nz + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                ac_syms.append(0xF0)
                run -= 16
            ac_syms.append((run << 4) | _csize(v))
            run = 0
        if last_nz < 63:
            ac_syms.append(0x00)  # EOB
        return dc_syms, ac_syms, int(zz[0])

    dc_used: list[set[int]] = [set() for _ in range(2)]
    ac_used: list[set[int]] = [set() for _ in range(2)]
    for ci in range(ncomp):
        t = 0 if ci == 0 else 1
        pred = 0
        nblocks = len(all_blocks[ci])
        for bi in range(nblocks):
            if restart_interval and bi and bi % restart_interval == 0:
                pred = 0
            d, a, dcv = block_symbols(all_blocks[ci][bi], pred)
            pred = dcv
            dc_used[t].update(d)
            ac_used[t].update(a)

    ntab = 1 if gray else 2
    dc_tabs, ac_tabs = [], []
    for t in range(ntab):
        dc_tabs.append(_canonical_table(dc_used[t] or {0}))
        ac_tabs.append(_canonical_table(ac_used[t] or {0}))

    def codes_of(bits: list[int], vals: list[int]) -> dict[int, tuple]:
        out_c: dict[int, tuple[int, int]] = {}
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                out_c[vals[k]] = (code, ln)
                code += 1
                k += 1
            code <<= 1
        return out_c

    dc_codes = [codes_of(*t) for t in dc_tabs]
    ac_codes = [codes_of(*t) for t in ac_tabs]

    out = bytearray(b"\xff\xd8")
    # DQT (one table, id 0, shared)
    zzq = qtab.reshape(64)[_ZIGZAG].astype(np.uint8).tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zzq
    # SOF0
    sof = bytearray(struct.pack(">BHHB", 8, h, w, ncomp))
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0])  # 4:4:4, quant table 0
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT segments
    for t in range(ntab):
        for cls, (bits, vals) in ((0, dc_tabs[t]), (1, ac_tabs[t])):
            body = bytes([cls << 4 | t]) + bytes(bits) + bytes(vals)
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    sos = bytearray([ncomp])
    for ci in range(ncomp):
        t = 0 if ci == 0 else 1
        sos += bytes([ci + 1, t << 4 | t])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    wtr = _BitWriter()
    preds = [0] * ncomp
    rst = 0
    nblocks = bh * bw
    for bi in range(nblocks):
        if restart_interval and bi and bi % restart_interval == 0:
            wtr.pad()
            out += wtr.out
            wtr = _BitWriter()
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            preds = [0] * ncomp
        for ci in range(ncomp):
            t = 0 if ci == 0 else 1
            qc = all_blocks[ci][bi]
            zz = qc.reshape(64)[_ZIGZAG]
            diff = int(zz[0]) - preds[ci]
            preds[ci] = int(zz[0])
            s = _csize(diff)
            code, ln = dc_codes[t][s]
            wtr.write(code, ln)
            if s:
                v = diff if diff >= 0 else diff + (1 << s) - 1
                wtr.write(v, s)
            last_nz = 0
            for k in range(1, 64):
                if zz[k]:
                    last_nz = k
            run = 0
            for k in range(1, last_nz + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_codes[t][0xF0]
                    wtr.write(code, ln)
                    run -= 16
                s = _csize(v)
                code, ln = ac_codes[t][(run << 4) | s]
                wtr.write(code, ln)
                ev = v if v >= 0 else v + (1 << s) - 1
                wtr.write(ev, s)
                run = 0
            if last_nz < 63:
                code, ln = ac_codes[t][0x00]
                wtr.write(code, ln)
    wtr.pad()
    out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# progressive encoder — cross-mode test fixtures (spec G.1/G.2)
# ---------------------------------------------------------------------------


class _Emitter:
    """Two-pass scan emitter: pass 1 collects per-table symbol sets,
    pass 2 writes codes through a _BitWriter."""

    def __init__(self):
        self.collect = True
        self.used: dict[tuple[int, int], set[int]] = {}
        self.codes: dict[tuple[int, int], dict[int, tuple]] = {}
        self.w: _BitWriter | None = None

    def sym(self, tab: tuple[int, int], s: int) -> None:
        if self.collect:
            self.used.setdefault(tab, set()).add(s)
        else:
            code, ln = self.codes[tab][s]
            self.w.write(code, ln)

    def bits(self, v: int, n: int) -> None:
        if n and not self.collect:
            self.w.write(v & ((1 << n) - 1), n)


def _prog_scan_units(comps, scan_cids, w, h):
    """Unit list in scan order — mirrors _entropy_scan's geometry."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    byid = {c[0]: c for c in comps}
    if len(scan_cids) == 1:
        cid = scan_cids[0]
        _c, hi, vi, _tq = byid[cid]
        comp_w = -(-w * hi // hmax)
        comp_h = -(-h * vi // vmax)
        bw, bh = -(-comp_w // 8), -(-comp_h // 8)
        return [(cid, by, bx) for by in range(bh) for bx in range(bw)]
    units = []
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for cid in scan_cids:
                _c, hi, vi, _tq = byid[cid]
                for by in range(vi):
                    for bx in range(hi):
                        units.append((cid, my * vi + by, mx * hi + bx))
    return units


def _emit_dc_scan(em, units, stores, tabs, ah, al):
    preds: dict[int, int] = {}
    for cid, by, bx in units:
        dc = int(stores[cid][by, bx, 0])
        if ah == 0:  # first: arithmetic shift, diff-coded
            v = dc >> al
            diff = v - preds.get(cid, 0)
            preds[cid] = v
            s = _csize(diff)
            em.sym((0, tabs[cid]), s)
            if s:
                em.bits(diff if diff >= 0 else diff + (1 << s) - 1, s)
        else:  # refinement: one raw bit
            em.bits((dc >> al) & 1, 1)


def _emit_ac_first(em, units, stores, tab, ss, se, al):
    eobrun = 0
    pend: list[tuple] = []  # deferred EOBRUN flush

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            rr = eobrun.bit_length() - 1
            em.sym((1, tab), rr << 4)
            em.bits(eobrun - (1 << rr), rr)
            eobrun = 0

    for cid, by, bx in units:
        blk = stores[cid][by, bx]
        # AC point transform truncates toward zero (G.1.2.2)
        zz = [int(blk[int(_ZIGZAG[k])]) for k in range(ss, se + 1)]
        sh = [v // (1 << al) if v >= 0 else -((-v) // (1 << al))
              for v in zz]
        last = -1
        for j, v in enumerate(sh):
            if v:
                last = j
        if last < 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        run = 0
        for j in range(last + 1):
            v = sh[j]
            if v == 0:
                run += 1
                continue
            while run > 15:
                em.sym((1, tab), 0xF0)
                run -= 16
            s = _csize(v)
            em.sym((1, tab), (run << 4) | s)
            em.bits(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last < se - ss:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()
    del pend


def _emit_ac_refine(em, units, stores, tab, ss, se, al):
    """Mirror of _refine_ac (libjpeg encode_mcu_AC_refine)."""
    eobrun = 0
    brbits: list[int] = []  # correction bits buffered across the run

    def flush_eob():
        nonlocal eobrun, brbits
        if eobrun or brbits:
            rr = max(eobrun, 1).bit_length() - 1 if eobrun else 0
            if eobrun:
                em.sym((1, tab), rr << 4)
                em.bits(eobrun - (1 << rr), rr)
            for b in brbits:
                em.bits(b, 1)
            eobrun = 0
            brbits = []

    for cid, by, bx in units:
        blk = stores[cid][by, bx]
        absv = []
        eob = -1
        for k in range(ss, se + 1):
            v = int(blk[int(_ZIGZAG[k])])
            a = (-v if v < 0 else v) >> al
            absv.append((a, v))
            if a == 1:
                eob = k
        if eob < 0:
            # no newly-significant coefficient: whole band joins the
            # EOB run; its correction bits ride the buffered stream
            any_bits = False
            for a, _v in absv:
                if a > 1:
                    brbits.append(a & 1)
                    any_bits = True
            eobrun += 1
            del any_bits
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        run = 0
        local: list[int] = []
        for j, (a, v) in enumerate(absv):
            k = ss + j
            if a == 0:
                run += 1
                continue
            while run > 15 and k <= eob:
                em.sym((1, tab), 0xF0)
                run -= 16
                for b in local:
                    em.bits(b, 1)
                local = []
            if a > 1:
                local.append(a & 1)
                continue
            if k > eob:
                break
            em.sym((1, tab), (run << 4) | 1)
            run = 0
            em.bits(1 if v > 0 else 0, 1)
            for b in local:
                em.bits(b, 1)
            local = []
        # tail beyond the last newly-significant coefficient -> EOB run
        tail_bits = []
        for j in range(eob + 1 - ss, len(absv)):
            a, _v = absv[j]
            if a > 1:
                tail_bits.append(a & 1)
        if (se - eob) > 0 or tail_bits:
            eobrun += 1
            brbits.extend(tail_bits)
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def encode_progressive(img: np.ndarray, quant: int = 1,
                       successive: bool = True) -> bytes:
    """Deterministic PROGRESSIVE (SOF2) encoder over the same quantized
    coefficients encode_baseline produces — so decode(progressive) must
    equal decode(baseline) EXACTLY (transmission order is the only
    difference). successive=True uses a 2-level successive-approximation
    script (DC first Al=1 -> DC refine; per-component AC first Al=1 ->
    AC refine) exercising EOBn runs and correction bits; False uses
    spectral selection only (DC, then AC bands 1-5 and 6-63)."""
    img = np.asarray(img)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    ncomp = 1 if gray else 3
    if gray:
        planes = [img.astype(np.float64) - 128.0]
    else:
        rf = img[..., 0].astype(np.float64)
        gf = img[..., 1].astype(np.float64)
        bf = img[..., 2].astype(np.float64)
        y = 0.299 * rf + 0.587 * gf + 0.114 * bf
        cb = -0.168736 * rf - 0.331264 * gf + 0.5 * bf + 128.0
        cr = 0.5 * rf - 0.418688 * gf - 0.081312 * bf + 128.0
        planes = [y - 128.0, cb - 128.0, cr - 128.0]
    bh, bw = -(-h // 8), -(-w // 8)
    qtab = np.full((8, 8), int(quant), dtype=np.int64)
    comps = [(ci + 1, 1, 1, 0) for ci in range(ncomp)]  # 4:4:4
    stores: dict[int, np.ndarray] = {}
    for ci, p in enumerate(planes):
        padded = np.zeros((bh * 8, bw * 8))
        padded[:h, :w] = p
        if h < bh * 8:
            padded[h:, :w] = p[-1:, :]
        if w < bw * 8:
            padded[:, w:] = padded[:, w - 1:w]
        blocks = padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
        coef = _einsum("ux,mnxy,vy->mnuv", _A, blocks, _A)
        qc = np.round(coef / qtab).astype(np.int64)
        stores[ci + 1] = qc.reshape(bh, bw, 64)

    all_cids = [c[0] for c in comps]
    dc_tab = {cid: (0 if cid == 1 else 1) for cid in all_cids}
    if successive:
        scans = [("dc", all_cids, 0, 0, 1, 1),   # Ss Se Ah Al
                 ("dc", all_cids, 0, 0, 1, 0)]
        # NOTE Ah of a first scan is 0; fixed below when emitting
        scans[0] = ("dc", all_cids, 0, 0, 0, 1)
        for cid in all_cids:
            scans.append(("ac", [cid], 1, 63, 0, 1))
        for cid in all_cids:
            scans.append(("ac", [cid], 1, 63, 2, 1))
        # successive approximation refine: Ah = Al_prev, Al = Ah - 1
        scans = [("dc", all_cids, 0, 0, 0, 1),
                 ("dc", all_cids, 0, 0, 1, 0)]
        for cid in all_cids:
            scans.append(("ac", [cid], 1, 63, 0, 1))
        for cid in all_cids:
            scans.append(("ac", [cid], 1, 63, 1, 0))
    else:
        scans = [("dc", all_cids, 0, 0, 0, 0)]
        for cid in all_cids:
            scans.append(("ac", [cid], 1, 5, 0, 0))
            scans.append(("ac", [cid], 6, 63, 0, 0))

    out = bytearray(b"\xff\xd8")
    zzq = qtab.reshape(64)[_ZIGZAG].astype(np.uint8).tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zzq
    sof = bytearray(struct.pack(">BHHB", 8, h, w, ncomp))
    for cid, hi, vi, tq in comps:
        sof += bytes([cid, hi << 4 | vi, tq])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof

    for kind, cids, ss, se, ah, al in scans:
        units = _prog_scan_units(comps, cids, w, h)
        em = _Emitter()

        def run_scan(e):
            if kind == "dc":
                _emit_dc_scan(e, units, stores, dc_tab, ah, al)
            else:
                _emit_ac_first(e, units, stores, dc_tab[cids[0]],
                               ss, se, al) if ah == 0 else \
                    _emit_ac_refine(e, units, stores, dc_tab[cids[0]],
                                    ss, se, al)

        run_scan(em)  # pass 1: symbol sets
        tables = {}
        for tab, syms in em.used.items():
            bits, vals = _canonical_table(syms or {0})
            tables[tab] = (bits, vals)
            body = bytes([tab[0] << 4 | tab[1]]) + bytes(bits) \
                + bytes(vals)
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
            code = 0
            k = 0
            cmap: dict[int, tuple] = {}
            for ln in range(1, 17):
                for _ in range(bits[ln - 1]):
                    cmap[vals[k]] = (code, ln)
                    code += 1
                    k += 1
                code <<= 1
            em.codes[tab] = cmap
        sos = bytearray([len(cids)])
        for cid in cids:
            t = dc_tab[cid]
            sos += bytes([cid, t << 4 | t])
        sos += bytes([ss, se, ah << 4 | al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        em.collect = False
        em.w = _BitWriter()
        run_scan(em)  # pass 2: real emission
        em.w.pad()
        out += em.w.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_subsampled(img: np.ndarray, quant: int = 1,
                      sampling: tuple[int, int] = (2, 2),
                      restart_interval: int = 0) -> bytes:
    """Deterministic baseline encoder WITH chroma subsampling (4:2:0 =
    (2, 2), 4:2:2 = (2, 1)) — MCU-interleaved per spec A.2.3: each MCU
    carries Hi*Vi luma blocks then one Cb and one Cr block. Exists to
    pin the decoder's interleaved-MCU geometry and box-replication
    upsample against an independent emitter: an image whose color is
    uniform over each (8*Hi x 8*Vi) MCU cell round-trips EXACTLY at
    quant=1 (chroma box-mean is lossless on uniform cells and the
    nearest-neighbor upsample restores them)."""
    img = np.asarray(img)
    if img.ndim != 3:
        raise ValueError("encode_subsampled wants (h, w, 3) color")
    hi, vi = sampling
    h, w = img.shape[:2]
    rf = img[..., 0].astype(np.float64)
    gf = img[..., 1].astype(np.float64)
    bf = img[..., 2].astype(np.float64)
    yy = 0.299 * rf + 0.587 * gf + 0.114 * bf - 128.0
    cb = -0.168736 * rf - 0.331264 * gf + 0.5 * bf
    cr = 0.5 * rf - 0.418688 * gf - 0.081312 * bf
    mcus_x = -(-w // (8 * hi))
    mcus_y = -(-h // (8 * vi))
    ph, pw = mcus_y * vi * 8, mcus_x * hi * 8
    qtab = np.full((8, 8), int(quant), dtype=np.int64)

    def pad(p):
        out = np.zeros((ph, pw))
        out[:h, :w] = p
        if h < ph:
            out[h:, :w] = p[-1:, :]
        if w < pw:
            out[:, w:] = out[:, w - 1:w]
        return out

    def qblocks(p):
        by, bx = p.shape[0] // 8, p.shape[1] // 8
        blocks = p.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
        coef = _einsum("ux,mnxy,vy->mnuv", _A, blocks, _A)
        return np.round(coef / qtab).astype(np.int64)

    ypad = pad(yy)
    qy = qblocks(ypad)
    # chroma: box-mean downsample of the padded-extent planes
    qc = []
    for p in (pad(cb), pad(cr)):
        ds = p.reshape(ph // vi, vi, pw // hi, hi).mean(axis=(1, 3))
        qc.append(qblocks(ds))

    def mcu_blocks():
        for my in range(mcus_y):
            for mx in range(mcus_x):
                units = []
                for by in range(vi):
                    for bx in range(hi):
                        units.append((0, qy[my * vi + by, mx * hi + bx]))
                units.append((1, qc[0][my, mx]))
                units.append((1, qc[1][my, mx]))
                yield units

    def block_syms(blk, pred):
        zz = blk.reshape(64)[_ZIGZAG]
        diff = int(zz[0]) - pred
        syms_dc = _csize(diff)
        ac = []
        last = 0
        for k in range(1, 64):
            if zz[k]:
                last = k
        run = 0
        for k in range(1, last + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                ac.append((0xF0, None, 0))
                run -= 16
            s = _csize(v)
            ac.append(((run << 4) | s, v if v >= 0
                       else v + (1 << s) - 1, s))
            run = 0
        if last < 63:
            ac.append((0x00, None, 0))
        return syms_dc, diff, ac, int(zz[0])

    # pass 1: symbol sets per table class
    dc_used = [set(), set()]
    ac_used = [set(), set()]
    preds = [0, 0, 0]
    mcu = 0
    nl = hi * vi  # luma units lead each MCU; then cb (1), cr (2)
    for units in mcu_blocks():
        if restart_interval and mcu and mcu % restart_interval == 0:
            preds = [0, 0, 0]
        for ui, (t, blk) in enumerate(units):
            comp = 0 if ui < nl else (1 if ui == nl else 2)
            sdc, diff, ac, dcv = block_syms(blk, preds[comp])
            preds[comp] = dcv
            dc_used[t].add(sdc)
            for sym, _v, _s in ac:
                ac_used[t].add(sym)
        mcu += 1

    dc_tabs = [_canonical_table(dc_used[t] or {0}) for t in range(2)]
    ac_tabs = [_canonical_table(ac_used[t] or {0}) for t in range(2)]

    def codes_of(bits, vals):
        out_c = {}
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                out_c[vals[k]] = (code, ln)
                code += 1
                k += 1
            code <<= 1
        return out_c

    dc_codes = [codes_of(*t) for t in dc_tabs]
    ac_codes = [codes_of(*t) for t in ac_tabs]

    out = bytearray(b"\xff\xd8")
    zzq = qtab.reshape(64)[_ZIGZAG].astype(np.uint8).tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zzq
    sof = bytearray(struct.pack(">BHHB", 8, h, w, 3))
    sof += bytes([1, hi << 4 | vi, 0])
    sof += bytes([2, 0x11, 0])
    sof += bytes([3, 0x11, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for t in range(2):
        for cls, (bits, vals) in ((0, dc_tabs[t]), (1, ac_tabs[t])):
            body = bytes([cls << 4 | t]) + bytes(bits) + bytes(vals)
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytearray([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    wtr = _BitWriter()
    preds = [0, 0, 0]
    rst = 0
    mcu = 0
    nl = hi * vi
    for units in mcu_blocks():
        if restart_interval and mcu and mcu % restart_interval == 0:
            wtr.pad()
            out += wtr.out
            wtr = _BitWriter()
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            preds = [0, 0, 0]
        for ui, (t, blk) in enumerate(units):
            comp = 0 if ui < nl else (1 if ui == nl else 2)
            sdc, diff, ac, dcv = block_syms(blk, preds[comp])
            preds[comp] = dcv
            code, ln = dc_codes[t][sdc]
            wtr.write(code, ln)
            if sdc:
                v = diff if diff >= 0 else diff + (1 << sdc) - 1
                wtr.write(v, sdc)
            for sym, v, s in ac:
                code, ln = ac_codes[t][sym]
                wtr.write(code, ln)
                if s:
                    wtr.write(v, s)
        mcu += 1
    wtr.pad()
    out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)
