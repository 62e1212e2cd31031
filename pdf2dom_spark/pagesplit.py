"""Giant-document page-splitting (SURVEY.md §7 Phase 5, SCALE.md "skew"
layer 3): one 10k-page document would otherwise be a single Arrow row and a
single task's working set. This module splits oversized documents at page
boundaries into independent page-groups, extracts groups in parallel, and
reassembles the global ``order`` with one window renumber.

Both halves are mapInArrow stages and no pandas is involved: the split
kernel yields ``groups_batch`` batches, and the groups run through the
one extraction kernel body every path shares (``extract.extract_batch``),
which reads a group's page offset, font seed and emit flag from its
GROUP_SCHEMA columns.

Exactness: PDF resets the graphics state at each page (the interpreter does
too), so page-groups are independent except for
  - the cumulative font table (affects used-name de-dup + family
    resolution): solved by prescanning fonts per group and seeding each
    group with every earlier group's fonts, in order — deterministic;
  - font spans: only the last group emits them (it holds the full table);
  - state that crosses a page break restarts in every group: an open
    path painted on a later page (an image span unsplit, nothing split)
    and the sticky Pdf2Dom ``Tw``/``Tc`` (later pages' boxes keep the
    spacing unsplit, 0.0 in a later group). A page flush's stale
    ``curstyle`` cannot change the output (textpipe's docstring). The
    split path is therefore opt-in via a size threshold (the mainstream
    path stays bit-exact); tests/test_pagesplit.py pins the corpus
    classes where the split is exact, and the two cases where it is not
    as expected failures.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from . import memtune
from .extract import DEFAULT_CONFIG, ExtractConfig, make_extract_arrow
from .pipeline import (_require_positive, extract_salted,
                       extraction_width, salt_key, with_part_id)
from .schema import DOC_SCHEMA, IN_SPAN_STRUCT, SPAN_FLAT_SCHEMA

# chars that open a region the tokenizer treats as non-operator content
# (string/hex literal, dict operand, comment) — everything else is
# skipped regex-fast by _mask_non_ops
_SPECIAL_RE = re.compile(r"[(<%]")

# a page boundary is the PG pseudo-op with its three operands; name
# tokens use the TOKENIZER'S charset (a \S+ capture would glue '/A/B'
# into one name the interpreter never sees)
_PG_RE = re.compile(r"(?:[-+]?[\d.]+\s+){3}PG\b")
# right-anchored variant for the find()-driven scan below: '$' with an
# explicit endpos pins the match end at the candidate 'PG'
_PG_END_RE = re.compile(r"(?:[-+]?[\d.]+\s+){3}PG$")
# chars a number-operand run before 'PG' can consist of (tokenizer number
# shape + whitespace) — used to bound the backward verification window
_PG_BACK = frozenset("0123456789.+- \t\n\r\f\v")
_NAME = r"([^\s/\[\]()<>{}%]+)"
# the size operand uses the TOKENIZER'S number shape (a lone '.' is not a
# number there), so this prescan accepts exactly the Tf ops the
# interpreter's COSName+COSNumber acceptance rule processes
_TF_RE = re.compile(r"/" + _NAME + r"\s+[-+]?(?:\d+\.\d*|\.\d+|\d+)\s+Tf\b")
_DO_RE = re.compile(r"/" + _NAME + r"\s+Do\b")


def _mask_non_ops(text: str) -> str:
    """Blank out every region the tokenizer treats as non-operator content
    — (string) literals (nested parens, escapes), <hex> strings, <<dict>>
    operands, and %-comments — using the SAME scanners as the full
    tokenizer, so a 'N N N PG' / '/Name 10 Tf' sequence inside any of them
    is never mistaken for an operator by the regex prescans below."""
    from .tokenizer import _scan_hex, _scan_literal, _skip_dict

    out: list[str] = []
    i, n = 0, len(text)
    last = 0  # start of the pending clear (unmasked) stretch
    while i < n:
        m = _SPECIAL_RE.search(text, i)
        if m is None:
            break
        i = m.start()
        c = text[i]
        if c == "(":
            _, j = _scan_literal(text, i)
        elif text.startswith("<<", i):
            j = _skip_dict(text, i)
        elif c == "<":
            _, j = _scan_hex(text, i)
        else:  # %
            nl = [x for x in (text.find("\n", i), text.find("\r", i))
                  if x != -1]
            j = min(nl) + 1 if nl else n
        mask_end = min(j, n)
        if mask_end > i:
            out.append(text[last:i])
            out.append(" " * (mask_end - i))
            last = mask_end
        i = max(j, i + 1)
    out.append(text[last:])
    return "".join(out)


def _bounds_of_masked(masked: str) -> list[int]:
    """Start offsets of 'N N N PG' boundaries in an already-masked text.

    Equivalent to ``[m.start() for m in _PG_RE.finditer(masked)]`` but
    driven by ``str.find("PG")``: the naive finditer restarts the
    three-number prefix attempt at every digit of a coordinate-heavy
    stream (the whole text is numbers), which made this scan the split
    kernel's hottest line. 'PG' itself is rare — one hit per page — so
    anchoring on it and verifying the operand run backwards with a
    right-pinned regex is ~10x cheaper on real content."""
    out: list[int] = []
    n = len(masked)
    idx = masked.find("PG")
    while idx != -1:
        end = idx + 2
        nxt = masked[end:end + 1]
        # \b after PG, \B before it would make it part of a longer token
        if not (nxt.isalnum() or nxt == "_"):
            j = idx
            while j > 0 and masked[j - 1] in _PG_BACK:
                j -= 1
            m = _PG_END_RE.search(masked, j, end)
            if m is not None:
                out.append(m.start())
        idx = masked.find("PG", end)
    return out


def _page_bounds(text: str) -> list[int]:
    """Start offsets of true PG boundaries (tokenizer-consistent)."""
    return _bounds_of_masked(_mask_non_ops(text))

GROUP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("grp", T.IntegerType(), False),
    T.StructField("page_offset", T.IntegerType(), False),
    T.StructField("emit_fonts", T.BooleanType(), False),
    T.StructField("font_seed", T.ArrayType(T.StringType()), False),
    T.StructField("spans", T.ArrayType(IN_SPAN_STRUCT), False),
])


def split_doc(doc_id: str, spans: list[dict], pages_per_group: int,
              min_bytes: int, start_page: int = 0,
              end_page: int = 2**31 - 1) -> list[dict]:
    """One document -> page-group rows (or a single passthrough row).

    ``start_page``/``end_page`` mirror the interpreter's 1-based page gate:
    the FONT SEED must only contain fonts the unsplit kernel would
    register — the interpreter starts with ``page_active=False`` (content
    before the first PG contributes nothing) and skips gated-out pages'
    font prescan entirely."""
    spans = sorted(spans, key=lambda s: s["offset"])
    size = sum(len(s.get("text") or "") for s in spans)
    whole = [{"doc_id": doc_id, "grp": 0, "page_offset": 0,
              "emit_fonts": True, "font_seed": [], "spans": spans}]
    if size < min_bytes:
        return whole

    # form XObject DEFINITIONS are position-independent (doc_tokens collects
    # them before splicing): replicate them into every page-group so /Name Do
    # expands identically on both paths; cmap/widths/fontfile spans are the
    # same kind of definition (their collectors run before the kernel)
    defn_spans = [sp for sp in spans
                  if sp["kind"] in ("form", "cmap", "widths", "fontfile")]
    # document-info spans emit only at endDocument -> last group only
    meta_spans = [sp for sp in spans if sp["kind"] == "meta"]

    # flatten to (kind, frag, masked_frag, abs_page_no) pieces split at
    # page boundaries; masking happens ONCE per span text (it is
    # length-preserving, so piece slices of the masked text line up)
    pieces: list[tuple] = []
    abs_page = 0
    for sp in spans:
        if sp["kind"] in ("form", "meta", "cmap", "widths", "fontfile"):
            continue
        if sp["kind"] == "image":
            pieces.append(("image", sp, None, abs_page))
            continue
        text = sp.get("text") or ""
        masked = _mask_non_ops(text)
        bounds = _bounds_of_masked(masked)
        if not bounds:
            pieces.append(("frag", text, masked, abs_page))
            continue
        if bounds[0] > 0:
            pieces.append(("frag", text[:bounds[0]], masked[:bounds[0]],
                           abs_page))
        for i, b in enumerate(bounds):
            end = bounds[i + 1] if i + 1 < len(bounds) else len(text)
            abs_page += 1
            pieces.append(("page", text[b:end], masked[b:end], abs_page))

    groups: list[list] = []
    cur: list = []
    pages_in_cur = 0
    started = False
    for piece in pieces:
        if piece[0] == "page":
            if started and pages_in_cur == pages_per_group:
                groups.append(cur)
                cur = []
                pages_in_cur = 0
            started = True
            pages_in_cur += 1
        cur.append(piece)
    if cur:
        groups.append(cur)
    if not groups:
        # definitions/meta only: passthrough so the endDocument records
        # (title, fonts) still emit instead of the doc vanishing
        return whole

    # per-group font first-use order (regex prescan mirrors
    # DocInterp._prescan_fonts granularity: names referenced by Tf on the
    # EXPANDED stream — a /Name Do of a form contributes that form's fonts
    # at the Do position, recursively, cycle-guarded, depth-capped to the
    # interpreter's form expansion limit). Each form is masked and scanned
    # ONCE; a 10k-page doc referencing a header form per page reuses the
    # cached hit list.
    from .interp import _FORM_DEPTH_MAX

    form_texts = {}
    for sp in defn_spans:
        if sp["kind"] != "form":  # a same-named cmap must not clobber it
            continue
        name = sp.get("media_ref") or ""
        name = name[5:] if name.startswith("form:") else name
        form_texts[name] = sp.get("text") or ""

    form_hits: dict[str, list] = {}

    def _hits(masked: str) -> list:
        return sorted(
            [(m.start(), "tf", m.group(1)) for m in _TF_RE.finditer(masked)]
            + [(m.start(), "do", m.group(1))
               for m in _DO_RE.finditer(masked)])

    def _scan(masked_hits: list, seen: list[str], active: frozenset,
              depth: int) -> None:
        for _, kind_, name in masked_hits:
            if kind_ == "tf":
                if name not in seen:
                    seen.append(name)
            elif (name in form_texts and name not in active
                  and depth < _FORM_DEPTH_MAX):
                hit = form_hits.get(name)
                if hit is None:
                    hit = _hits(_mask_non_ops(form_texts[name]))
                    form_hits[name] = hit
                _scan(hit, seen, active | {name}, depth + 1)

    group_fonts: list[list[str]] = []
    for grp in groups:
        seen: list[str] = []
        for kind, _piece, masked, pg_no in grp:
            if kind == "image":
                continue
            if kind == "frag" and pg_no == 0:
                continue  # before the first PG: page_active is False
            if kind == "page" and not (start_page <= pg_no <= end_page):
                continue  # gated-out page: interp skips its font prescan
            _scan(_hits(masked), seen, frozenset(), 0)
        group_fonts.append(seen)

    out: list[dict] = []
    page_offset = 0
    seed: list[str] = []
    last_gi = len(groups) - 1
    for gi, grp in enumerate(groups):
        # offsets are numbered densely in emission order; spans are built
        # as fresh 4-field dicts (IN_SPAN_STRUCT is exactly these fields)
        # rather than dict() copies mutated in a second pass
        g_spans: list[dict] = [
            {"kind": sp["kind"], "text": sp["text"],
             "media_ref": sp["media_ref"], "offset": i}
            for i, sp in enumerate(defn_spans)]
        if gi == last_gi:
            g_spans.extend(
                {"kind": sp["kind"], "text": sp["text"],
                 "media_ref": sp["media_ref"], "offset": len(g_spans) + i}
                for i, sp in enumerate(meta_spans))
        n_pg = 0
        for kind, piece, _masked, _pg in grp:
            off = len(g_spans)
            if kind == "image":
                g_spans.append({"kind": piece["kind"], "text": piece["text"],
                                "media_ref": piece["media_ref"],
                                "offset": off})
            else:
                g_spans.append({"kind": "text", "text": piece,
                                "media_ref": None, "offset": off})
                if kind == "page":
                    n_pg += 1
        out.append({
            "doc_id": doc_id, "grp": gi,
            "page_offset": page_offset,
            "emit_fonts": gi == len(groups) - 1,
            "font_seed": list(seed), "spans": g_spans,
        })
        page_offset += n_pg
        for f in group_fonts[gi]:
            if f not in seed:
                seed.append(f)
    return out


def groups_batch(rows: list[dict]):
    """``split_doc`` rows -> one GROUP_SCHEMA Arrow batch: the front half
    of the paged path (``extract_spans_paged``'s split kernel, or a
    source-fused splitter like ``corpus.build_groups_df``) is a mapInArrow
    kernel yielding these."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.RecordBatch.from_pylist(rows, to_arrow_schema(GROUP_SCHEMA))


def extract_groups(groups: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG,
                   num_partitions: int | None = None,
                   columns: list[str] | None = None) -> DataFrame:
    """GROUP_SCHEMA rows -> flat spans with the per-document global
    ``order`` restored.

    The back half of the paged path: the groups run through the same
    mapInArrow kernel as unsplit documents (``extract.make_extract_arrow``),
    which reads a group's page offset, font seed and emit flag from its
    columns and repeats its ``grp`` on every span. Both exchanges have
    ``num_partitions`` tasks (default ``pipeline.extraction_width``).

    ``columns`` prunes the kernel OUTPUT (and therefore the renumber
    exchange + sort) to a subset of the flat schema — the gate queries
    project 14 of the 22 columns, and pruning cannot cross the opaque
    Python stage (guide §4.2). ``doc_id``/``order`` are always kept
    (the renumber needs them)."""
    p = num_partitions or extraction_width(groups)
    if columns is not None:
        columns = list(dict.fromkeys(["doc_id", "order", *columns]))
    out_fields = (SPAN_FLAT_SCHEMA.fields if columns is None else
                  [f for f in SPAN_FLAT_SCHEMA.fields if f.name in columns])
    salted = with_part_id(groups, p).repartition(
        p, F.xxhash64("doc_id", "grp"))
    out_schema = T.StructType(
        out_fields + [T.StructField("grp", T.IntegerType())])

    # per-document renumber over the split subset only (an exchange +
    # sort of just those docs' spans; sub-threshold docs never enter it).
    # The exchange is keyed like extract_salted's, so task i holds
    # part_id i; the window clusters on the same key and reuses it.
    key = salt_key()
    win = Window.partitionBy(key, "doc_id").orderBy("grp", "order")
    big_spans = (salted.mapInArrow(make_extract_arrow(cfg, columns),
                                   out_schema).repartition(p, key)
                 .withColumn("order",
                             (F.row_number().over(win) - 1).cast("int")))
    return big_spans.select(*[f.name for f in out_fields])


def extract_spans_paged(docs: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG,
                        num_partitions: int | None = None,
                        pages_per_group: int = 8,
                        min_bytes: int = 64 * 1024) -> DataFrame:
    """Skew-proof extraction: giant docs fan out per page-group; everything
    else takes the UNSPLIT kernel verbatim.

    The route happens on the raw docs frame with a pure-JVM size
    expression (the same byte count split_doc checks), so:

    - sub-threshold documents (the vast majority at any real threshold)
      never cross a Python boundary for splitting and never see the
      renumber — they ARE the unsplit pipeline (bit-equal by the
      tests/test_pagesplit.py suite);
    - only monster documents pay the split round-trip, the (doc_id, grp)
      exchange, and the per-document window renumber — all O(monster
      subset), bounded by construction.

    The two branches each scan ``docs`` upstream; in production that is a
    pruned columnar table scan (cheap, and the right trade against caching
    the corpus). ``min_bytes=0`` remains the everything-splits stress
    configuration the oracle gate runs.

    PDF files (a ``pdf`` column) are parsed first, by the kernel's own
    parse (``pdfread.parse_pdf_batch``) as a mapInArrow stage: the route
    reads ``spans``. So this path crosses into Python three times.
    ``num_partitions`` defaults to ``pipeline.extraction_width(docs)``."""
    p = num_partitions or extraction_width(docs)
    _require_positive(num_partitions=p, pages_per_group=pages_per_group)
    if "pdf" in docs.columns:
        from .pdfread import parse_pdf_batch

        def parse_kernel(batches):
            memtune.tune_worker()
            for b in batches:
                yield parse_pdf_batch(b, cfg.pdf_password, cfg.image_pixels)

        docs = docs.mapInArrow(parse_kernel, T.StructType(
            DOC_SCHEMA.fields + [f for f in docs.schema.fields
                                 if f.name not in ("doc_id", "pdf")]))

    # exact transliteration of split_doc's size check:
    # sum(len(s.text or "") for s in spans)
    doc_bytes = F.aggregate(
        "spans", F.lit(0),
        lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)))
    # min_bytes <= 0 splits everything (the stress/gate configuration):
    # the small branch is statically empty and its scan is skipped
    small, big = None, docs
    if min_bytes > 0:
        small = docs.where(doc_bytes < F.lit(min_bytes))
        big = docs.where(doc_bytes >= F.lit(min_bytes))

    def split_kernel(batches):
        memtune.tune_worker()
        for b in batches:
            rows: list[dict] = []
            for doc_id, spans in zip(b.column("doc_id").to_pylist(),
                                     b.column("spans").to_pylist()):
                # min_bytes=0: the JVM-side route above already filtered
                # this branch to at-threshold docs — every one splits
                rows.extend(split_doc(str(doc_id), spans,
                                      pages_per_group, 0,
                                      start_page=cfg.start_page,
                                      end_page=cfg.end_page))
            yield groups_batch(rows)

    groups = big.mapInArrow(split_kernel, GROUP_SCHEMA)
    big_spans = extract_groups(groups, cfg, num_partitions=p)
    if small is None:
        return big_spans

    small_spans = extract_salted(with_part_id(small, p), cfg, p)
    return small_spans.unionByName(big_spans)
