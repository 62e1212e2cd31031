"""Standard-security-handler decryption (pdfcrypt.py + pdfread wiring).

PDFBox opens encrypted PDFs whose user (or owner) password is empty
without any caller-visible difference, so the reference converts them
like plain files (PDDocument.load with no password runs the standard
security handler). These tests build REAL encrypted files — RC4-40
(R2), RC4-128 (R3), AES-128 crypt filters (R4/AESV2), AES-256 (R6/
AESV3) — with the spec's own algorithms run in the encrypt direction,
then assert the reader produces byte-identical spans to the plaintext
twin. A genuinely password-protected file must still refuse loudly.
"""

from __future__ import annotations

import struct
import zlib

import pytest

from pdf2dom_spark.extract import ExtractConfig, extract_doc
from pdf2dom_spark.pdfcrypt import (StdSecurityHandler, _aes_cbc, _hash_2b,
                                    _r2r4_file_key, aes_encrypt, compute_o,
                                    compute_u, rc4)
from pdf2dom_spark.pdfread import EncryptedPdfError, pdf_to_spans

ID0 = b"0123456789abcdef"
CONTENT = b"BT /F1 9 Tf 72 700 Td (Secret) Tj 0 -20 Td (Body) Tj ET"
TITLE = b"Classified Report"


def _objkey(key: bytes, num: int, gen: int, aes: bool) -> bytes:
    import hashlib
    h = hashlib.md5(key + struct.pack("<I", num)[:3]
                    + struct.pack("<I", gen)[:2]
                    + (b"sAlT" if aes else b""))
    return h.digest()[: min(len(key) + 5, 16)]


def _hex(b: bytes) -> bytes:
    return b"<" + b.hex().encode() + b">"


def _build(enc_dict: bytes, enc_stream, enc_string) -> bytes:
    """Assemble the mini-PDF; ``enc_stream(num, data)``/``enc_string``
    encrypt per object."""
    z = enc_stream(4, zlib.compress(CONTENT))
    title = enc_string(7, TITLE)
    body = (b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
            + b"4 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n"
            % len(z) + z + b"\nendstream\nendobj\n"
            + b"5 0 obj\n<< /Type /Font /Subtype /TrueType "
            b"/BaseFont /Helvetica >>\nendobj\n"
            + b"7 0 obj\n<< /Title " + _hex(title) + b" >>\nendobj\n"
            + b"8 0 obj\n" + enc_dict + b"\nendobj\n")
    return (b"%PDF-1.6\n" + body
            + b"trailer\n<< /Root 1 0 R /Info 7 0 R /Encrypt 8 0 R /ID ["
            + _hex(ID0) + b" " + _hex(ID0) + b"] >>\nstartxref\n0\n%%EOF\n")


def _plain_rows():
    z = zlib.compress(CONTENT)
    body = (b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
            + b"4 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n"
            % len(z) + z + b"\nendstream\nendobj\n"
            + b"5 0 obj\n<< /Type /Font /Subtype /TrueType "
            b"/BaseFont /Helvetica >>\nendobj\n"
            + b"7 0 obj\n<< /Title (" + TITLE + b") >>\nendobj\n")
    doc = (b"%PDF-1.6\n" + body
           + b"trailer\n<< /Root 1 0 R /Info 7 0 R >>\nstartxref\n0\n%%EOF\n")
    return extract_doc("d", pdf_to_spans(doc), ExtractConfig())


def _rc4_doc(r: int, bits: int, user_pwd: bytes = b"",
             owner_pwd: bytes | None = None) -> bytes:
    o = compute_o(user_pwd, owner_pwd, r, bits)
    p = -1
    key = _r2r4_file_key(user_pwd, o, p, ID0, r, bits, True)
    u = compute_u(key, ID0, r)
    v = 1 if r == 2 else 2
    enc = (b"<< /Filter /Standard /V %d /R %d /Length %d /P -1 /O "
           % (v, r, bits) + _hex(o) + b" /U " + _hex(u) + b" >>")
    return _build(
        enc,
        lambda num, d: rc4(_objkey(key, num, 0, False), d),
        lambda num, d: rc4(_objkey(key, num, 0, False), d))


def _assert_matches_plain(doc: bytes):
    rows = extract_doc("d", pdf_to_spans(doc), ExtractConfig())
    plain = _plain_rows()
    assert rows == plain
    texts = [r["text"] for r in rows if r["kind"] == "text"]
    assert texts == ["Secret", "Body"]
    meta = [r for r in rows if r["kind"] == "meta"]
    assert meta and meta[0]["text"] == TITLE.decode()


def test_rc4_40_r2_empty_password():
    _assert_matches_plain(_rc4_doc(2, 40))


def test_rc4_128_r3_empty_password():
    _assert_matches_plain(_rc4_doc(3, 128))


def test_aes128_r4_crypt_filters():
    r, bits = 4, 128
    o = compute_o(b"", b"", r, bits)
    key = _r2r4_file_key(b"", o, -1, ID0, r, bits, True)
    u = compute_u(key, ID0, r)
    enc = (b"<< /Filter /Standard /V 4 /R 4 /Length 128 /P -1 "
           b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
           b"/StmF /StdCF /StrF /StdCF /O " + _hex(o)
           + b" /U " + _hex(u) + b" >>")
    iv = bytes(range(16))
    doc = _build(
        enc,
        lambda num, d: aes_encrypt(_objkey(key, num, 0, True), iv, d),
        lambda num, d: aes_encrypt(_objkey(key, num, 0, True), iv, d))
    _assert_matches_plain(doc)


def test_aes256_r6_empty_password():
    file_key = bytes(range(32))
    vsalt, ksalt = b"vvvvvvvv", b"kkkkkkkk"
    u = _hash_2b(b"", vsalt, b"", 6) + vsalt + ksalt
    ik = _hash_2b(b"", ksalt, b"", 6)
    ue = _aes_cbc(ik, b"\x00" * 16, file_key, encrypt=True)
    enc = (b"<< /Filter /Standard /V 5 /R 6 /Length 256 /P -1 "
           b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
           b"/StmF /StdCF /StrF /StdCF /O " + _hex(b"\x00" * 48)
           + b" /OE " + _hex(b"\x00" * 32)
           + b" /U " + _hex(u) + b" /UE " + _hex(ue) + b" >>")
    iv = bytes(range(16))
    doc = _build(
        enc,
        lambda num, d: aes_encrypt(file_key, iv, d),
        lambda num, d: aes_encrypt(file_key, iv, d))
    _assert_matches_plain(doc)


def test_password_protected_still_refuses():
    doc = _rc4_doc(3, 128, user_pwd=b"secret", owner_pwd=b"secret")
    with pytest.raises(EncryptedPdfError):
        pdf_to_spans(doc)


def test_empty_owner_password_recovers_user():
    """Algorithm 7: user password set, owner password EMPTY — the empty
    owner password decrypts /O back to the user password (PDFBox accepts
    this file with no password too)."""
    doc = _rc4_doc(3, 128, user_pwd=b"userpw", owner_pwd=b"")
    _assert_matches_plain(doc)


def test_u_entry_roundtrip_r3():
    o = compute_o(b"", b"", 3, 128)
    key = _r2r4_file_key(b"", o, -1, ID0, 3, 128, True)
    h = StdSecurityHandler(
        {"Filter": "Standard", "V": 2, "R": 3, "Length": 128,
         "O": o, "U": compute_u(key, ID0, 3), "P": -1}, ID0)
    assert h.key == key
    data = b"round trip payload"
    enc = rc4(h.object_key(12, 0, False), data)
    assert h.decrypt_string(enc, 12, 0) == data


def test_identity_crypt_filter_stream_stays_plain():
    """A stream whose /Filter chain starts with /Crypt /Identity opts
    OUT of encryption even in an encrypted file (PDF 32000-1 7.4.10) —
    its bytes must pass through undecrypted, and the rest of the filter
    chain must still apply."""
    r, bits = 3, 128
    o = compute_o(b"", None, r, bits)
    key = _r2r4_file_key(b"", o, -1, ID0, r, bits, True)
    u = compute_u(key, ID0, r)
    z = zlib.compress(CONTENT)  # NOT encrypted: Identity crypt filter
    body = (b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 "
            b"/MediaBox [0 0 612 792] >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
            + b"4 0 obj\n<< /Length %d /Filter [/Crypt /FlateDecode] "
            b"/DecodeParms [<< /Type /CryptFilterDecodeParms "
            b"/Name /Identity >> null] >>\nstream\n"
            % len(z) + z + b"\nendstream\nendobj\n"
            + b"5 0 obj\n<< /Type /Font /Subtype /TrueType "
            b"/BaseFont /Helvetica >>\nendobj\n"
            + b"8 0 obj\n<< /Filter /Standard /V 2 /R 3 /Length 128 "
            b"/P -1 /O " + _hex(o) + b" /U " + _hex(u) + b" >>\nendobj\n")
    doc = (b"%PDF-1.6\n" + body
           + b"trailer\n<< /Root 1 0 R /Encrypt 8 0 R /ID ["
           + _hex(ID0) + b" " + _hex(ID0) + b"] >>\nstartxref\n0\n%%EOF\n")
    rows = extract_doc("d", pdf_to_spans(doc), ExtractConfig())
    texts = [r_["text"] for r_ in rows if r_["kind"] == "text"]
    assert texts == ["Secret", "Body"]


def test_spark_ingest_skips_protected_extracts_encrypted(spark, tmp_path):
    """Directory scan semantics at corpus scale: an empty-password
    encrypted file extracts like its plaintext twin; a password-protected
    file gives NO spans (never poisons the batch)."""
    from pdf2dom_spark.pdfread import pdf_docs_df
    from pdf2dom_spark.pipeline import extract_spans
    from tests.conftest import local_spans, spans_by_doc

    src = tmp_path / "pdfs"
    src.mkdir()
    (src / "open.pdf").write_bytes(_rc4_doc(3, 128))
    (src / "locked.pdf").write_bytes(
        _rc4_doc(3, 128, user_pwd=b"secret", owner_pwd=b"secret"))
    got = spans_by_doc(extract_spans(pdf_docs_df(spark, str(src)),
                                     num_partitions=4, nested=False))
    assert list(got) == ["open.pdf"]
    assert got == local_spans({"open.pdf": src / "open.pdf"})
    texts = [r["text"] for r in got["open.pdf"] if r["kind"] == "text"]
    assert texts == ["Secret", "Body"]


def test_encrypted_objstm_strings_not_double_decrypted():
    """PDF 1.5 layout under encryption: the ObjStm CONTAINER stream is
    encrypted (decrypt -> inflate), but strings of the objects inside it
    are NOT separately encrypted (PDF 32000-1 7.5.7) — the /Title held
    in a compressed Info object must come out plaintext. Loads through a
    real cross-reference STREAM (type-1/type-2 entries), not the repair
    scan."""
    r, bits = 3, 128
    o = compute_o(b"", None, r, bits)
    key = _r2r4_file_key(b"", o, -1, ID0, r, bits, True)
    u = compute_u(key, ID0, r)

    buf = bytearray(b"%PDF-1.6\n")
    offsets = {}

    def add(num, payload: bytes):
        offsets[num] = len(buf)
        buf.extend(b"%d 0 obj\n" % num + payload + b"\nendobj\n")

    def add_stream(num, extra: bytes, stored: bytes):
        offsets[num] = len(buf)
        buf.extend(b"%d 0 obj\n<< /Length %d%s >>\nstream\n"
                   % (num, len(stored), extra))
        buf.extend(stored)
        buf.extend(b"\nendstream\nendobj\n")

    add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
           b"/MediaBox [0 0 612 792] >>")
    add(3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
           b"/Resources << /Font << /F1 5 0 R >> >> >>")
    content = rc4(_objkey(key, 4, 0, False), zlib.compress(CONTENT))
    add_stream(4, b" /Filter /FlateDecode", content)
    add(5, b"<< /Type /Font /Subtype /TrueType /BaseFont /Helvetica >>")
    # ObjStm holding obj 7 (Info with a PLAINTEXT title string inside)
    inner = b"<< /Title (" + TITLE + b") >>"
    objstm_plain = b"7 0 " + inner
    first = len(b"7 0 ")
    stored6 = rc4(_objkey(key, 6, 0, False), zlib.compress(objstm_plain))
    add_stream(6, b" /Type /ObjStm /N 1 /First %d /Filter /FlateDecode"
               % first, stored6)
    add(8, b"<< /Filter /Standard /V 2 /R 3 /Length 128 /P -1 /O "
           + _hex(o) + b" /U " + _hex(u) + b" >>")

    # xref STREAM (obj 9): W [1 4 2]; entries 0..9
    import struct as _s
    rows = [b"\x00" + _s.pack(">I", 0) + _s.pack(">H", 0xFFFF)]
    for n in (1, 2, 3, 4, 5):
        rows.append(b"\x01" + _s.pack(">I", offsets[n]) + b"\x00\x00")
    rows.append(b"\x01" + _s.pack(">I", offsets[6]) + b"\x00\x00")   # 6
    rows.append(b"\x02" + _s.pack(">I", 6) + _s.pack(">H", 0))       # 7
    rows.append(b"\x01" + _s.pack(">I", offsets[8]) + b"\x00\x00")   # 8
    xref_off_placeholder = len(buf)
    rows.append(b"\x01" + _s.pack(">I", xref_off_placeholder) + b"\x00\x00")
    xdata = b"".join(rows)
    add_stream(9, b" /Type /XRef /Size 10 /W [1 4 2] /Root 1 0 R "
               b"/Info 7 0 R /Encrypt 8 0 R /ID ["
               + _hex(ID0) + b" " + _hex(ID0) + b"]", xdata)
    buf.extend(b"startxref\n%d\n%%%%EOF\n" % offsets[9])

    spans = pdf_to_spans(bytes(buf))
    rows_out = extract_doc("d", spans, ExtractConfig())
    texts = [r_["text"] for r_ in rows_out if r_["kind"] == "text"]
    assert texts == ["Secret", "Body"]
    meta = [r_ for r_ in rows_out if r_["kind"] == "meta"]
    assert meta and meta[0]["text"] == TITLE.decode()


def test_crypt_roundtrip_property():
    """Property: for every revision and random payloads/passwords, the
    handler built from self-computed O/U authenticates the empty password
    and round-trips string/stream bytes exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(st.binary(max_size=200), st.sampled_from([2, 3, 4]),
           st.sampled_from([40, 128]), st.integers(1, 9999))
    def prop(payload, r, bits, num):
        if r == 2:
            bits = 40
        o = compute_o(b"", None, r, bits)
        key = _r2r4_file_key(b"", o, -1, ID0, r, bits, True)
        u = compute_u(key, ID0, r)
        v = {2: 1, 3: 2, 4: 4}[r]
        enc = {"Filter": "Standard", "V": v, "R": r, "Length": bits,
               "O": o, "U": u, "P": -1}
        if r == 4:
            enc.update({"CF": {"StdCF": {"CFM": "AESV2", "Length": 16}},
                        "StmF": "StdCF", "StrF": "StdCF"})
        h = StdSecurityHandler(enc, ID0)
        assert h.key == key
        if r == 4:
            ct = aes_encrypt(h.object_key(num, 0, True),
                             bytes(range(16)), payload)
        else:
            ct = rc4(h.object_key(num, 0, False), payload)
        assert h.decrypt_string(ct, num, 0) == payload
        assert h.decrypt_stream(ct, num, 0) == payload

    prop()


def test_user_password_opens_protected_file():
    """pdf_to_spans(password=...): the user password authenticates
    directly; a wrong password still refuses."""
    doc = _rc4_doc(3, 128, user_pwd=b"secret", owner_pwd=b"secret")
    rows = extract_doc(
        "d", pdf_to_spans(doc, password=b"secret"), ExtractConfig())
    texts = [r["text"] for r in rows if r["kind"] == "text"]
    assert texts == ["Secret", "Body"]
    with pytest.raises(EncryptedPdfError):
        pdf_to_spans(doc, password=b"wrong")


def test_owner_password_opens_protected_file():
    """Algorithm 7 with a real owner password: /O keyed on the owner
    password recovers the (different) user password."""
    doc = _rc4_doc(3, 128, user_pwd=b"userpw", owner_pwd=b"ownerpw")
    rows = extract_doc(
        "d", pdf_to_spans(doc, password=b"ownerpw"), ExtractConfig())
    assert [r["text"] for r in rows if r["kind"] == "text"] == \
        ["Secret", "Body"]


def test_r6_password_opens_protected_file():
    """AES-256 R6 with a non-empty user password: the iterated hash
    authenticates and unwraps the file key."""
    pwd = b"hunter2"
    file_key = bytes(range(32))
    vsalt, ksalt = b"vvvvvvvv", b"kkkkkkkk"
    u = _hash_2b(pwd, vsalt, b"", 6) + vsalt + ksalt
    ik = _hash_2b(pwd, ksalt, b"", 6)
    ue = _aes_cbc(ik, b"\x00" * 16, file_key, encrypt=True)
    enc = (b"<< /Filter /Standard /V 5 /R 6 /Length 256 /P -1 "
           b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
           b"/StmF /StdCF /StrF /StdCF /O " + _hex(b"\x00" * 48)
           + b" /OE " + _hex(b"\x00" * 32)
           + b" /U " + _hex(u) + b" /UE " + _hex(ue) + b" >>")
    iv = bytes(range(16))
    doc = _build(
        enc,
        lambda num, d: aes_encrypt(file_key, iv, d),
        lambda num, d: aes_encrypt(file_key, iv, d))
    rows = extract_doc("d", pdf_to_spans(doc, password=pwd),
                       ExtractConfig())
    assert [r["text"] for r in rows if r["kind"] == "text"] == \
        ["Secret", "Body"]
    with pytest.raises(EncryptedPdfError):
        pdf_to_spans(doc)  # no password -> refuse


def test_writer_encrypted_rich_roundtrip_bit_equal():
    """spans_to_pdf(encrypt=True): the production writer emits RC4-128
    encrypted files whose extraction is BIT-EQUAL to its plaintext twin
    (media_refs included — image identity hashes the DECRYPTED payload),
    transitively putting the decrypt path under the cross-engine gate.
    A passworded variant refuses without the password and opens
    bit-equal with it."""
    import duckdb

    from pdf2dom_spark.corpus import rich_stream
    from pdf2dom_spark.pdfwrite import spans_to_pdf

    rows = duckdb.sql(
        "select doc_id, text from "
        "'/root/testdata/sf0.001/documents.parquet' limit 40").fetchall()
    checked = 0
    first = None
    for d, t in rows:
        d = str(d)
        spans = rich_stream(d, t)
        if any(ord(c) > 255 for sp in spans for c in (sp["text"] or "")):
            continue  # raw unicode needs font encodings, not byte streams
        plain = extract_doc(d, pdf_to_spans(spans_to_pdf(d, spans)),
                            ExtractConfig())
        enc = extract_doc(
            d, pdf_to_spans(spans_to_pdf(d, spans, encrypt=True)),
            ExtractConfig())
        assert plain == enc, d
        if first is None:
            first = (d, spans, plain)
        checked += 1
    assert checked >= 10
    d, spans, plain = first
    locked = spans_to_pdf(d, spans, encrypt=True,
                          user_pwd=b"pw", owner_pwd=b"pw")
    with pytest.raises(EncryptedPdfError):
        pdf_to_spans(locked)
    opened = extract_doc(d, pdf_to_spans(locked, password=b"pw"),
                         ExtractConfig())
    assert opened == plain


def test_v1_ignores_stray_length():
    """V1 is 40-bit RC4 by definition: a malformed /Length 128 must not
    widen the key (PDFBox derives 5-byte keys for V1 regardless)."""
    o = compute_o(b"", None, 2, 40)
    key = _r2r4_file_key(b"", o, -1, ID0, 2, 40, True)
    h = StdSecurityHandler(
        {"Filter": "Standard", "V": 1, "R": 2, "Length": 128,
         "O": o, "U": compute_u(key, ID0, 2), "P": -1}, ID0)
    assert h.key == key and len(h.key) == 5
