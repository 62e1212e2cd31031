"""Per-document extraction driver + the mapInArrow batch kernel.

``extract_doc_columnar`` mirrors the reference lifecycle
(``PDFDomTree.writeText``/``createDOM`` -> per-page processing -> endDocument,
PDFDomTree.java:180-217, PDFBoxTree.java:200-210): splice spans to tokens,
interpret, chunk text boxes, convert layout events, then materialize DOM
append order as the ``order`` column (appendChild order = content-stream
order, PDFDomTree.java:222-258).

Two ways produce the pre-finalize parts of a document, with equal results:
  - ``extract_doc_parts``: one document's ``list[dict]`` spans through
    ``doc_tokens`` and ``DocInterp.run`` (per-op Python dispatch), run
    only as ``batch_parts``' fallback and by the test-facing wrappers;
  - ``batch_parts``: a whole Arrow batch, read through the ``spans``
    column's offsets and child arrays (one content buffer per batch),
    tokenized in one pass (``tokenizer.tokenize_batch``) and interpreted
    as flat arrays (``interp.run_batch``). A document it does not cover
    goes through ``extract_doc_parts``; only those are converted to
    Python dicts, and the spans of a document known to fall back from
    its span kinds alone are neither decoded nor tokenized.
The merge/sort/gather finalize is BATCHED across the whole Arrow batch
(``finalize_docs``): one global stable lexsort by (doc, emission key)
replaces per-document argsorts and double concatenation.

``extract_batch`` is the one kernel body every extraction path runs: one
DOC_SCHEMA Arrow batch (or pagesplit's GROUP_SCHEMA page groups, or
PDF_SCHEMA files, parsed first) in, one SPAN_FLAT batch out.
``make_extract_arrow`` wraps it as the Spark-facing generator for
``DataFrame.mapInArrow(kernel, SPAN_FLAT_SCHEMA)``, and
``docs_to_arrow_spans`` runs it on documents given as Python lists; the
nested ``style`` struct of SPAN_SCHEMA is a JVM-side projection over the
kernel's output (pipeline.extract_spans).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import graphics, memtune, textpipe
from .interp import (FRAG_CONTENT, FRAG_FORM, FRAG_OTHER, ChunkFrame,
                     DocInterp, chunk_frame, dict_flush_table,
                     doc_cid2_fonts, doc_cmaps, doc_tokens, doc_vmetrics,
                     doc_widths, flush_table, glyph_frame, image_op_args,
                     run_batch)
from .schema import SPAN_FLAT_SCHEMA, STYLE_FIELDS, doc_batch
from .tokenizer import tokenize_batch


@dataclass
class ExtractConfig:
    """PDFDomTreeConfig analog (reference defaults: embed-as-base64 for both
    handlers, PDFDomTreeConfig.java:32-38; page range open,
    PDFBoxTree.java:188-197)."""
    start_page: int = 0
    end_page: int = 2**31 - 1
    disable_graphics: bool = False
    disable_images: bool = False
    disable_image_data: bool = False
    image_handler: str = "embed"   # embed | dir | ignore
    font_handler: str = "embed"    # embed | dir | ignore
    # G11 filled-path raster: True embeds a real PNG data URI (PathDrawer
    # transposition, pure numpy+zlib); False keeps the deterministic
    # content-hash ref the cross-engine oracles rely on
    raster_paths: bool = False
    # F2 font bytes: True converts the synthetic font payload (SFNT build /
    # normalize / WOFF1 for CFF — fontbytes.py) and embeds it as a data URI;
    # False keeps the stable "font:<name>" ref
    font_payloads: bool = False
    # parse options of a PDF_SCHEMA input (pdfread.pdf_to_spans): the
    # password of encrypted files, and image XObjects decoded to pixels
    pdf_password: bytes = b""
    image_pixels: bool = False


DEFAULT_CONFIG = ExtractConfig()

_FLOAT_STYLE = {"font_size", "word_spacing", "letter_spacing", "line_height",
                "left", "top", "width", "height", "angle", "stroke_width"}
_STYLE_COLS = [f"style_{f}" for f in STYLE_FIELDS]
_REC_COLS = ["key", "page_no", "kind", "text", "media_ref", *_STYLE_COLS]
_NUM_REC_COLS = {"page_no"} | {f"style_{f}" for f in _FLOAT_STYLE}
# records are fixed-order tuples (graphics.REC_FIELDS == _REC_COLS)
_REC_IDX = {c: i for i, c in enumerate(_REC_COLS)}
assert graphics.REC_FIELDS == _REC_COLS


def extract_doc_parts(doc_id: str, spans: list[dict],
                      cfg: ExtractConfig = DEFAULT_CONFIG,
                      page_offset: int = 0,
                      font_seed: list[str] | None = None,
                      emit_fonts: bool = True) -> tuple[list, dict]:
    """One document -> pre-finalize parts: (event record tuples, box arrays).

    The expensive per-document work (tokenize, interpret, chunk) happens
    here; the cheap-but-allocation-heavy merge/sort/gather is deferred to
    ``finalize_docs`` so it can run ONCE per Arrow batch instead of once
    per document (cross-document batched finalize).

    ``page_offset``/``font_seed``/``emit_fonts`` serve the page-split path
    (pagesplit.py): a page-group numbers its pages from the offset, seeds the
    font table with earlier groups' fonts, and only the last group emits the
    document's font spans; ``batch_parts`` reads them from a group batch's
    columns and passes them on for a group that falls back."""
    tokens = doc_tokens(spans)
    interp = DocInterp(
        start_page=cfg.start_page, end_page=cfg.end_page,
        disable_graphics=cfg.disable_graphics,
        disable_images=cfg.disable_images,
        collect_fonts=cfg.font_handler != "ignore",  # PDFDomTree.java:456-462
        page_offset=page_offset, font_seed=font_seed,
        raster_paths=cfg.raster_paths,
        cmaps=doc_cmaps(spans),
        cid2_fonts=doc_cid2_fonts(spans),
        widths=doc_widths(spans),
        vmetrics=doc_vmetrics(spans),
    )
    glyph_chunks, events, font_table, end_key, page_flush = interp.run(tokens)
    title = _title_text(spans)
    records = _event_records(events, cfg, title)
    if emit_fonts:
        _tail_records(records, font_table, end_key, cfg, title, [
            sp for sp in spans if sp.get("kind") == "fontfile"])
    return records, glyph_chunks, page_flush


def _title_text(spans: list[dict]) -> str | None:
    """Text of the first document-info title span (None: no title)."""
    for sp in spans:
        if sp.get("kind") == "meta" and sp.get("media_ref") == "title":
            return sp.get("text")
    return None


def _event_records(events: list, cfg: ExtractConfig,
                   title: str | None) -> list:
    """Layout events -> span record tuples, images named in event order."""
    records: list = []
    namer = graphics.ImageNamer()
    # Save-to-dir filename base: bitmap images are named by the DOCUMENT
    # TITLE (ImageResource(getTitle(), ...), PDFBoxTree.java:554,952-958 —
    # null/empty falls back to "PDF Document"), never by the XObject
    # resource name. Path images share the same handler instance under the
    # fixed name "PathImage" (PathDrawer.java:71, PDFDomTree.java:399-433),
    # so both kinds de-dup through ONE namer in append order.
    img_name_base = title or "PDF Document"
    for ev in events:
        kind = ev[0]
        if kind == "page":
            records.append(graphics.page_record(ev))
        elif kind == "rect":
            records.append(graphics.rect_record(ev))
        elif kind == "line":
            records.append(graphics.line_record(ev))
        elif kind == "image":
            media_ref = ev[7]
            if cfg.disable_image_data or cfg.image_handler == "ignore":
                # empty src (PDFDomTree.java:435-438, IgnoreResourceHandler)
                out_ref = ""
            elif cfg.image_handler == "dir":
                # reference resourcePath = name + '.' + fileEnding
                # (SaveResourceToDirHandler.java:50-51; images are PNG)
                out_ref = namer.next_name(img_name_base) + ".png"
            else:
                out_ref = media_ref
            records.append(graphics.image_record(ev, out_ref))
        elif kind == "pathimg":
            if cfg.disable_image_data or cfg.image_handler == "ignore":
                out_ref = ""
            elif cfg.image_handler == "dir":
                out_ref = namer.next_name("PathImage") + ".png"
            else:
                out_ref = ev[7]
            records.append(graphics.image_record(ev, out_ref))
    return records


def _tail_records(records: list, font_table, end_key: int,
                  cfg: ExtractConfig, title: str | None,
                  fontfiles: list[dict]) -> None:
    """endDocument's records: the font table's @font-face spans, then the
    document-info title."""
    # endDocument: @font-face per valid table entry (PDFDomTree.java:464-492),
    # skipped entirely under the ignore handler (PDFDomTree.java:456-462)
    if cfg.font_handler != "ignore":
        if cfg.font_payloads or cfg.font_handler == "dir":
            import base64
            from .fontbytes import convert_entry, convert_program

            # REAL embedded programs (kind='fontfile' spans from the PDF
            # reader) take precedence over the synthetic name-keyed model:
            # the @font-face payload is then the document's own converted
            # binary (FontTable.Entry.getData on actual FontFile bytes)
            real_progs: dict[str, tuple[str, bytes]] = {}
            for sp in fontfiles:
                nm = (sp.get("media_ref") or "")
                nm = nm[9:] if nm.startswith("fontfile:") else nm
                kindp, _, b64 = (sp.get("text") or "").partition(";")
                if nm not in real_progs and b64:
                    real_progs[nm] = (kindp, base64.b64decode(b64))

            def payload(name: str) -> tuple[bytes, str, str]:
                hit = real_progs.get(name)
                if hit is not None:
                    return convert_program(hit[0], hit[1], name)
                return convert_entry(name)
        # fonts go through their OWN handler instance (setFontHandler), so
        # their de-dup namespace is separate from the image namer's
        # (SaveResourceToDirHandler.writtenFileNames is per-instance)
        font_namer = graphics.ImageNamer()
        for i, entry in enumerate(font_table.entries):
            if cfg.font_handler == "dir":
                # SaveResourceToDirHandler: url points at <name>.<ending>
                # in the extract dir (TestFonts.java save-to-dir asserts);
                # the base is the RAW font name (FontTable.Entry passes
                # fontName to super — FontTable.java:131-134), de-duped
                # like any other saved resource
                data, mime, ending = payload(entry["name"])
                if not data:
                    continue
                ref = f"{font_namer.next_name(entry['name'])}.{ending}"
            elif cfg.font_payloads:
                data, mime, _ending = payload(entry["name"])
                if not data:
                    continue  # isEntryValid false -> dropped
                ref = (f"data:{mime};base64,"
                       + base64.b64encode(data).decode("ascii"))
            else:
                ref = "font:" + entry["name"]
            records.append(graphics.make_rec(
                end_key + 1 + i, "font", text=entry["used_name"],
                media_ref=ref))

    # document-info title (endDocument, PDFDomTree.java:165-174): a 'meta'
    # span models PDDocumentInformation; surfaced as a trailing record only
    # when non-blank (the reference keeps the default title otherwise)
    if (title or "").strip():
        records.append(graphics.make_rec(
            end_key + 1 + len(font_table.entries) + 1, "meta",
            text=title, media_ref="title"))


@dataclass
class BatchParts:
    """Pre-finalize parts of a batch of documents: per document its event
    records, all shows as one ChunkFrame and all page flushes as one
    ``interp.flush_table``."""
    records: list
    chunks: ChunkFrame
    flushes: tuple

    def __len__(self) -> int:
        return len(self.records)

    @staticmethod
    def from_doc_parts(parts: list[tuple[list, list, dict]]
                       ) -> "BatchParts":
        records, shows, flushes = zip(*parts) if parts else ((), (), ())
        return BatchParts(list(records), chunk_frame(list(shows)),
                          dict_flush_table(np.arange(len(parts)), flushes))


def finalize_docs(parts: "BatchParts | list[tuple[list, list, dict]]",
                  columns: set[str] | None = None
                  ) -> tuple[dict, np.ndarray]:
    """Batched finalize: chunk every document's glyphs into text boxes
    (one batched gaps-and-islands pass, textpipe.boxes_core) and merge
    them with the event records into GLOBAL doc-major span columns in DOM
    append order. ``parts``: a BatchParts, or per-document
    ``extract_doc_parts`` results.

    Per-document DOM order is the stable sort of [events..., boxes...] by
    emission key (appendChild order = content-stream order,
    PDFDomTree.java:222-258). The batched equivalent arranges ALL events
    (doc-major) before ALL boxes (doc-major) and stable-lexsorts by
    (doc, key): within one document, events keep record order, boxes keep
    box order, and at equal keys events precede boxes — exactly the
    per-document ``argsort(kind='stable')`` result, computed in one
    numpy pass for the whole Arrow batch.

    Returns (columns dict incl. ``order``, per-doc span counts); the
    string columns are pyarrow arrays, the others numpy arrays."""
    import pyarrow as pa

    if not isinstance(parts, BatchParts):
        parts = BatchParts.from_doc_parts(parts)
    ndocs = len(parts)
    ne = np.fromiter((len(r) for r in parts.records), np.int64, ndocs)
    frame, gdoc = glyph_frame(parts.chunks)
    boxes, box_doc = textpipe.boxes_core(frame, gdoc, parts.flushes,
                                         parts.chunks.obj)
    counts = ne + np.bincount(box_doc, minlength=ndocs)

    all_recs = [r for recs in parts.records for r in recs]
    # fixed-order record tuples -> one C-level transpose (no per-field loop)
    rec_cols = list(zip(*all_recs)) if all_recs else [()] * len(_REC_COLS)

    doc_idx = np.concatenate((
        np.repeat(np.arange(ndocs, dtype=np.int64), ne), box_doc))
    keys = np.concatenate((np.array(rec_cols[0], dtype=np.int64),
                           boxes["key"]))
    # stable: primary doc_idx, secondary key, ties by combined position
    perm = np.lexsort((keys, doc_idx))

    out: dict[str, np.ndarray] = {}
    for c in _REC_COLS:
        if c == "key" or (columns is not None and c not in columns):
            continue  # pruned output column: skip the concat+gather too
        j = _REC_IDX[c]
        colv = rec_cols[j]
        if c in _NUM_REC_COLS:
            # numpy maps None -> nan in the object->float64 cast
            out[c] = np.concatenate((np.array(colv, dtype=np.float64),
                                     boxes[c]))[perm]
        else:
            out[c] = pa.concat_arrays([
                pa.array(colv, type=pa.string(), from_pandas=True),
                boxes[c]]).take(perm)

    starts = np.cumsum(counts) - counts
    out["order"] = (np.arange(int(counts.sum()), dtype=np.int64)
                    - np.repeat(starts, counts)).astype(np.int32)
    return out, counts


def extract_doc_columnar(doc_id: str, spans: list[dict],
                         cfg: ExtractConfig = DEFAULT_CONFIG,
                         page_offset: int = 0,
                         font_seed: list[str] | None = None,
                         emit_fonts: bool = True) -> dict:
    """One document -> columnar span arrays (with dense ``order``).

    Single-document wrapper over ``extract_doc_parts`` + ``finalize_docs``
    so the one-doc and batched paths cannot diverge. String columns are
    object arrays (None: null)."""
    parts = extract_doc_parts(doc_id, spans, cfg, page_offset=page_offset,
                              font_seed=font_seed, emit_fonts=emit_fonts)
    out, _counts = finalize_docs([parts])
    return {c: v if isinstance(v, np.ndarray)
            else v.to_numpy(zero_copy_only=False) for c, v in out.items()}


def extract_doc(doc_id: str, spans: list[dict],
                cfg: ExtractConfig = DEFAULT_CONFIG) -> list[dict]:
    """Test-facing wrapper: ordered span records as a list of dicts."""
    cols = extract_doc_columnar(doc_id, spans, cfg)
    n = len(cols["order"])
    rows = []
    for i in range(n):
        row = {"doc_id": doc_id, "part_id": None}
        for c, arr in cols.items():
            v = arr[i]
            if isinstance(v, (np.floating, np.integer)):
                v = v.item()
            if isinstance(v, float) and np.isnan(v):
                v = None
            row[c] = v
        rows.append(row)
    return rows


def docs_to_arrow_spans(doc_ids, spans_col,
                        cfg: ExtractConfig = DEFAULT_CONFIG,
                        columns: list[str] | None = None):
    """Documents as python lists -> ONE pyarrow RecordBatch with the
    SPAN_FLAT schema (or its ``columns``) and a null ``part_id`` column:
    the lists become one DOC_SCHEMA batch, extracted as the mapInArrow
    kernel extracts it (``extract_batch``). The kernels that synthesize
    their documents' streams in the worker use it."""
    return extract_batch(doc_batch(doc_ids, spans_col), cfg,
                         columns=columns)


def parts_to_arrow(parts_list: list, doc_ids, parts,
                   columns: list[str] | None = None):
    """Per-document parts (a BatchParts, or ``extract_doc_parts``
    results) -> ONE pyarrow RecordBatch with the SPAN_FLAT schema, as
    ``extract_batch`` builds it on every path.
    ``parts=None`` emits a null part_id column — the contract of the fused
    synthesize-inside-the-query kernels, which carry no partition id.

    ``columns`` restricts the OUTPUT to a subset of the flat schema (in
    schema order): column pruning cannot cross an opaque Python map, so a
    query that projects 6 of the 22 flat columns would otherwise pay
    Arrow build + IPC + JVM deserialization for all 22 (guide §4.2). The
    kernel still computes everything (finalize is shared); only the
    per-column array builds and the boundary bytes are skipped."""
    return _span_batch(parts_list, doc_ids, parts, columns)[0]


def _span_batch(parts_list, doc_ids, parts, columns):
    """``parts_to_arrow``, and the span count of each document."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    want = None if columns is None else set(columns)
    cols, counts = finalize_docs(parts_list, columns=want)
    n = len(cols["order"])
    schema = to_arrow_schema(SPAN_FLAT_SCHEMA)
    if want is not None:
        schema = pa.schema([f for f in schema if f.name in want])
    if n == 0:
        return pa.RecordBatch.from_arrays(
            [pa.array([], type=f.type) for f in schema],
            schema=schema), counts

    arrays = {}
    if want is None or "doc_id" in want:
        arrays["doc_id"] = pa.array([str(d) for d in doc_ids],
                                    type=pa.string()).take(
            np.repeat(np.arange(len(counts)), counts))
    if want is None or "part_id" in want:
        if parts is None:
            arrays["part_id"] = pa.nulls(n, pa.int32())
        else:
            arrays["part_id"] = pa.array(
                np.repeat(np.asarray(parts, dtype=np.int64), counts),
                type=pa.int32())
    for c, v in cols.items():  # finalize_docs pruned them to ``want``
        if c in ("order", "page_no"):
            v = pa.array(v, type=pa.int32(), from_pandas=True)
        elif c in _NUM_REC_COLS:
            v = pa.array(v.astype(np.float32), type=pa.float32(),
                         from_pandas=True)
        arrays[c] = v
    return pa.RecordBatch.from_arrays(
        [arrays[f.name] for f in schema], schema=schema), counts


# span kinds -> how a document's stream uses them (doc_tokens): content
# fragments, image placements, form definitions, skipped spans, and the
# kinds the batch interpreter leaves to the per-document path (encodings,
# width tables and font programs change how shows decode and advance)
_K_CONTENT, _K_IMAGE, _K_FORM, _K_SKIP, _K_FALLBACK = range(5)
_KIND_CAT = {"image": _K_IMAGE, "form": _K_FORM, "meta": _K_SKIP,
             "cmap": _K_FALLBACK, "widths": _K_FALLBACK,
             "fontfile": _K_FALLBACK}


def _utf32(arr) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A pyarrow string array -> (code points of all its values end to
    end, start, end per value; a null value is empty)."""
    import pyarrow as pa

    n = len(arr)
    if not n:
        return (np.zeros(0, np.uint32), np.zeros(0, np.int64),
                np.zeros(0, np.int64))
    bufs = arr.buffers()
    odt = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    o = np.frombuffer(bufs[1], odt)[arr.offset:arr.offset + n + 1]
    o = o.astype(np.int64)
    data = (np.frombuffer(bufs[2], np.uint8)[o[0]:o[-1]]
            if bufs[2] is not None else np.zeros(0, np.uint8))
    rel = o - o[0]
    codes = np.frombuffer(data.tobytes().decode("utf-8").encode("utf-32-le"),
                          dtype=np.uint32)
    if len(data) and int(data.max()) >= 128:
        cnt = np.zeros(len(data) + 1, dtype=np.int64)
        np.cumsum((data & 0xC0) != 0x80, out=cnt[1:])
        rel = cnt[rel]
    starts, ends = rel[:-1], rel[1:].copy()
    if arr.null_count:
        ends = np.where(np.asarray(arr.is_valid()), ends, starts)
    return codes, starts, ends


def _utf32_where(arr, keep: np.ndarray):
    """``_utf32`` of the values where ``keep`` is set; every other value
    is empty and starts where the kept value before it ends, so the
    ranges stay ascending and adjacent."""
    if keep.all():
        return _utf32(arr)
    kept = np.flatnonzero(keep)
    codes, s, e = _utf32(arr.take(kept))
    ends = np.zeros(len(arr), dtype=np.int64)
    ends[kept] = e
    np.maximum.accumulate(ends, out=ends)
    starts = ends.copy()
    starts[kept] = s
    return codes, starts, ends


def batch_parts(batch, cfg: ExtractConfig = DEFAULT_CONFIG) -> BatchParts:
    """One Arrow batch of DOC_SCHEMA rows -> BatchParts. The ``spans``
    column is read through its offsets and child arrays, tokenized as one
    buffer (``tokenizer.tokenize_batch``) and interpreted as one batch
    (``interp.run_batch``); a document the batch path does not cover —
    encodings, width tables, font programs, or any operator, operand or
    token outside its set — goes through ``extract_doc_parts``, and only
    those documents are converted to Python dicts."""
    names = batch.schema.names
    spans = batch.column(names.index("spans"))
    n = batch.num_rows
    # a page group's columns (pagesplit.GROUP_SCHEMA); absent: the values
    # of an unsplit document
    page_offset, font_seed, emit_fonts = (
        batch.column(names.index(c)).to_pylist() if c in names else None
        for c in ("page_offset", "font_seed", "emit_fonts"))
    fallback = np.zeros(n, dtype=bool)
    if spans.null_count:
        fallback |= ~np.asarray(spans.is_valid())
    offs = np.asarray(spans.offsets).astype(np.int64)
    child = spans.values.slice(int(offs[0]), int(offs[-1] - offs[0]))
    offs -= offs[0]
    st = child.type
    kind, text, mref, offset = (
        child.field(st.get_field_index(f))
        for f in ("kind", "text", "media_ref", "offset"))
    span_doc = np.repeat(np.arange(n), np.diff(offs))
    if child.null_count:
        fallback[span_doc[~np.asarray(child.is_valid())]] = True

    enc = kind.dictionary_encode()
    lut = np.array([_KIND_CAT.get(k, _K_CONTENT)
                    for k in enc.dictionary.to_pylist()] + [_K_CONTENT])
    idx = enc.indices.fill_null(len(lut) - 1)
    cat = lut[np.asarray(idx)]
    fallback[span_doc[cat == _K_FALLBACK]] = True
    if offset.null_count:
        fallback[span_doc[~np.asarray(offset.is_valid())]] = True
    off = np.asarray(offset.fill_null(0)).astype(np.int64)
    # the spans of documents already known to fall back are neither
    # decoded nor tokenized
    live = ~fallback[span_doc]
    try:
        codes, cst, cen = _utf32_where(text, live)
    except UnicodeDecodeError:
        fallback[:] = True
        live[:] = False
        codes = np.zeros(0, np.uint32)
        cst = cen = np.zeros(len(child), np.int64)

    # spans in stream order: by document, then offset (stable)
    order = np.lexsort((off, span_doc))
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    fkind = np.full(len(cat), FRAG_OTHER)
    fkind[live & (cat == _K_CONTENT)] = FRAG_CONTENT
    fkind[live & (cat == _K_FORM)] = FRAG_FORM
    forms = np.flatnonzero(fkind == FRAG_FORM)
    imgs = order[live[order] & (cat[order] == _K_IMAGE)]
    named = np.concatenate((forms, imgs))
    named_ref = dict(zip(named.tolist(), mref.take(named).to_pylist()))

    def span_text(i: int) -> str:
        return codes[cst[i]:cen[i]].tobytes().decode("utf-32-le")

    frag_form = {}
    for i in forms.tolist():
        nm = named_ref[i] or ""
        frag_form[i] = nm[5:] if nm.startswith("form:") else nm
    img_args = [image_op_args(span_text(i), named_ref[i])
                for i in imgs.tolist()]

    # only content and form definitions are tokenized
    tok_end = np.where(fkind != FRAG_OTHER, cen, cst)
    run = run_batch(
        tokenize_batch(codes, cst, tok_end), span_doc, rank, fkind, frag_form,
        span_doc[imgs], rank[imgs], img_args, n,
        start_page=cfg.start_page, end_page=cfg.end_page,
        disable_graphics=cfg.disable_graphics,
        disable_images=cfg.disable_images,
        collect_fonts=cfg.font_handler != "ignore",
        raster_paths=cfg.raster_paths, page_offset=page_offset,
        font_seed=font_seed)
    fallback |= ~run.covered

    # document-info titles: the first title span in input order
    titles: dict[int, str | None] = {}
    meta = np.flatnonzero(live & (cat == _K_SKIP))
    if len(meta):
        valid = np.asarray(text.is_valid())
        for i, ref in zip(meta.tolist(), mref.take(meta).to_pylist()):
            d = int(span_doc[i])
            if ref == "title" and d not in titles:
                titles[d] = span_text(i) if valid[i] else None

    records: list = [None] * n
    for d in np.flatnonzero(~fallback).tolist():
        title = titles.get(d)
        recs = _event_records(run.events[d], cfg, title)
        if emit_fonts is None or emit_fonts[d]:
            _tail_records(recs, run.fonts[d], int(run.end_key[d]), cfg,
                          title, [])
        records[d] = recs
    chunks, flushes = run.chunks, run.flushes
    fb = np.flatnonzero(fallback)
    if len(fb):
        doc_ids = batch.column(names.index("doc_id")).take(fb).to_pylist()
        fb_chunks, fb_flushes = [], []
        for d, doc_id, sp in zip(fb.tolist(), doc_ids,
                                 spans.take(fb).to_pylist()):
            records[d], g, f = extract_doc_parts(
                str(doc_id), sp, cfg,
                page_offset=page_offset[d] if page_offset else 0,
                font_seed=font_seed and font_seed[d],
                emit_fonts=emit_fonts is None or bool(emit_fonts[d]))
            fb_chunks.append(g)
            fb_flushes.append(f)
        fcf = chunk_frame(fb_chunks)
        fcf.doc = fb[fcf.doc]
        chunks = chunks.concat_sorted(fcf)
        flushes = flush_table(*(np.concatenate(v) for v in zip(
            flushes, dict_flush_table(fb, fb_flushes))))
    return BatchParts(records, chunks, flushes)


def extract_batch(batch, cfg: ExtractConfig = DEFAULT_CONFIG,
                  pid: int | None = None,
                  columns: list[str] | None = None):
    """One Arrow batch of DOC_SCHEMA rows -> ONE pyarrow RecordBatch with
    the SPAN_FLAT schema (or its ``columns``): ``batch_parts``, then
    ``parts_to_arrow``. The ``part_id`` column repeats the batch's own
    ``part_id`` column when it has one, else ``pid`` (None: a null
    column). A batch of page groups (pagesplit.GROUP_SCHEMA) also gets
    its ``grp`` column repeated on every span, as the last column. A
    batch of PDF files (a ``pdf`` column, schema.PDF_SCHEMA) is parsed
    into DOC_SCHEMA rows first (``pdfread.parse_pdf_batch``, with the
    config's ``pdf_password`` and ``image_pixels``)."""
    if "pdf" in batch.schema.names:
        from .pdfread import parse_pdf_batch
        batch = parse_pdf_batch(batch, cfg.pdf_password, cfg.image_pixels)
    names = batch.schema.names
    doc_ids = batch.column(names.index("doc_id")).to_pylist()
    if "part_id" in names:
        parts = batch.column(names.index("part_id")).to_pylist()
    else:
        parts = None if pid is None else [pid] * len(doc_ids)
    bp = batch_parts(batch, cfg)
    if "grp" not in names:  # perfbench's trace times this call
        return parts_to_arrow(bp, doc_ids, parts, columns=columns)
    out, counts = _span_batch(bp, doc_ids, parts, columns)
    rows = np.repeat(np.arange(len(counts)), counts)
    return out.append_column("grp", batch.column(names.index("grp"))
                             .take(rows))


# content bytes one kernel call holds at most (``batch_slices``): the
# kernel's working set is ~100-200x its content bytes, so a record-count
# batch of large documents would otherwise follow whatever they hold.
# Single process, 3000 seed-1 rich docs: kernel ms/doc is flat from
# ~190 docs (0.2 MB of content) up, and the traced peak of one call grows
# linearly with its content (SCALE.md, "Arrow batches").
SLICE_BYTES = 256 * 1024


def content_bytes(batch) -> np.ndarray:
    """Each row's content bytes: the UTF-8 bytes of its span ``text``s, or
    the file bytes of a PDF_SCHEMA batch (a null counts 0)."""
    import pyarrow.compute as pc

    names = batch.schema.names
    if "pdf" in names:
        return np.asarray(pc.binary_length(batch.column(names.index("pdf")))
                          .fill_null(0), dtype=np.int64)
    spans = batch.column(names.index("spans"))
    text = spans.values.field(spans.type.value_type.get_field_index("text"))
    cum = np.zeros(len(text) + 1, dtype=np.int64)
    np.cumsum(np.asarray(pc.binary_length(text).fill_null(0)), out=cum[1:])
    offs = np.asarray(spans.offsets)
    return cum[offs[1:]] - cum[offs[:-1]]


def batch_slices(batch) -> list:
    """``batch`` cut into consecutive zero-copy ``RecordBatch.slice``s of
    at most ``SLICE_BYTES`` content bytes each (``content_bytes``); a row
    over the budget is a slice of its own. An empty batch is one empty
    slice."""
    bounds = [0]
    acc = 0
    for i, n in enumerate(content_bytes(batch).tolist()):
        if acc and acc + n > SLICE_BYTES:
            bounds.append(i)
            acc = 0
        acc += n
    bounds.append(batch.num_rows)
    return [batch.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]


def make_extract_arrow(cfg: ExtractConfig = DEFAULT_CONFIG,
                       columns: list[str] | None = None):
    """mapInArrow kernel: pyarrow batches in/out, flat schema (or its
    ``columns``), one ``extract_batch`` per ``batch_slices`` slice of an
    incoming batch, so no call holds more than ``SLICE_BYTES`` of
    content unless one document does."""

    def extract_arrow(batches):
        memtune.tune_worker()
        try:
            from pyspark import TaskContext
            tc = TaskContext.get()
            pid = tc.partitionId() if tc is not None else -1
        except Exception:  # pragma: no cover
            pid = -1
        for b in batches:
            for piece in batch_slices(b):
                yield extract_batch(piece, cfg, pid, columns)
        memtune.task_done()

    return extract_arrow
