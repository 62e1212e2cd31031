"""Seeded benchmark inputs and their Spark-free reference outputs.

The seed salts every document id. ``corpus.rich_stream`` derives a
document's shape from the md5 of its id, so the seed decides which
documents become 12x giants, carry rotated pages, header forms or titles.
Texts are drawn from a fixed vocabulary with 10-100 words each, the length
distribution of the sf0.1 ``documents.parquet`` table.

The reference output of every input is computed by the single-process
kernel path (``extract.extract_doc_parts`` + ``extract.parts_to_arrow``)
in a forked process pool, without Spark.
"""

from __future__ import annotations

import random

DEFAULT_SEED = 1

VOCAB = ("a the data spark table query scan sort hash join group agg filter "
         "window stream batch row column value key order part line vector "
         "customer merge fast slow big small index").split()

# checksum columns of the timed aggregate; real-PDF ingest leaves media_ref
# out (rich image refs are truncated hashes the reader cannot reproduce)
HASH_COLS = ("doc_id", "order", "kind", "text", "media_ref")
PDF_HASH_COLS = ("doc_id", "order", "kind", "text")

# Expected (docs, spans, checksum) of every checked job at DEFAULT_SEED and
# the default sizes, so that a silent change of the kernel's output (which
# would move the reference and the Spark output together) still fails.
PINNED = {
    ("rich_extract", "full"): (3000, 304217, 6791380892154231555),
    ("rich_extract", "quarter"): (751, 77062, 4285210122892249754),
    ("pdf_ingest", "full"): (600, 42369, -2680057867448925809),
    ("pdf_ingest", "quarter"): (150, 10847, -6005902307109577338),
    ("checkpoint_resume", "full"): (1000, 102484, 1140834531587388161),
    ("checkpoint_resume", "quarter"): (251, 27679, -6824913581198790668),
}


def doc_text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))


def is_giant(doc_id: str) -> bool:
    """``corpus.rich_stream``'s skew rule: this doc repeats its text 12x."""
    from pdf2dom_spark.corpus import SKEW_MOD, _h

    return _h(doc_id) % SKEW_MOD == 0


def rich_docs(seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` (doc_id, text) pairs; the ids are salted by the seed.

    Exactly ``round(n / SKEW_MOD)`` of them are giants: the seed picks which
    ids (and so which texts) are giants, but not how many, so that runs on
    different seeds do comparable work."""
    from pdf2dom_spark.corpus import SKEW_MOD

    rng = random.Random(seed)
    want = {True: round(n / SKEW_MOD)}
    want[False] = n - want[True]
    out: list[tuple[str, str]] = []
    j = 0
    while len(out) < n:
        doc_id = f"s{seed}-d{j}"
        j += 1
        text = doc_text(rng)
        giant = is_giant(doc_id)
        if want[giant]:
            want[giant] -= 1
            out.append((doc_id, text))
    return out


def quarter(docs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Every 4th giant and every 4th other doc, in input order."""
    seen = {True: 0, False: 0}
    out = []
    for d, t in docs:
        giant = is_giant(d)
        if seen[giant] % 4 == 0:
            out.append((d, t))
        seen[giant] += 1
    return out


def is_latin1(spans: list[dict]) -> bool:
    """A byte-level content stream carries only latin-1 text; documents
    with RTL or combining-diacritic runs cannot be written as real PDFs
    (tests/test_realpdf.py skips them the same way)."""
    return all(ord(c) < 256 for sp in spans for c in (sp["text"] or ""))


def pdf_docs(seed: int, n_files: int) -> tuple[list[tuple[str, str, str]], int]:
    """``n_files`` (file_name, doc_id, text) triples whose rich streams are
    latin-1, plus the number of candidates skipped for non-latin-1 text.
    Each file joins one to three source texts, so page counts vary."""
    from pdf2dom_spark.corpus import rich_stream

    rng = random.Random(seed + 7919)
    out: list[tuple[str, str, str]] = []
    skipped = 0
    i = 0
    while len(out) < n_files:
        doc_id = f"s{seed}-p{i}"
        i += 1
        text = " ".join(doc_text(rng) for _ in range(rng.randint(1, 3)))
        if is_latin1(rich_stream(doc_id, text)):
            out.append((f"{doc_id}.pdf", doc_id, text))
        else:
            skipped += 1
    return out, skipped


def write_docs_table(docs: list[tuple[str, str]], path: str,
                     files: int) -> int:
    """Rich streams of ``docs`` as a DOC_SCHEMA parquet directory split
    into ``files`` files; returns the bytes written."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdf2dom_spark.corpus import rich_stream
    from pdf2dom_spark.schema import DOC_SCHEMA

    schema = to_arrow_schema(DOC_SCHEMA)
    os.makedirs(path, exist_ok=True)
    total = 0
    for f in range(files):
        rows = [{"doc_id": d, "spans": rich_stream(d, t)}
                for d, t in docs[f::files]]
        name = os.path.join(path, f"part-{f:03d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), name)
        total += os.path.getsize(name)
    return total


def write_pdf_files(items: list[tuple[str, str, str]], path: str) -> tuple[int, int]:
    """One real PDF file per item; returns (bytes, pages) written."""
    import os

    from pdf2dom_spark.corpus import rich_stream
    from pdf2dom_spark.pdfwrite import spans_to_pdf

    os.makedirs(path, exist_ok=True)
    total = pages = 0
    for name, doc_id, text in items:
        spans = rich_stream(doc_id, text)
        pages += sum(" PG " in (sp["text"] or "") for sp in spans)
        data = spans_to_pdf(doc_id, spans)
        with open(os.path.join(path, name), "wb") as fh:
            fh.write(data)
        total += len(data)
    return total, pages


def count_pages(docs: list[tuple[str, str]]) -> int:
    from pdf2dom_spark.corpus import rich_stream

    return sum(" PG " in (sp["text"] or "")
               for d, t in docs for sp in rich_stream(d, t))


def reference_chunk(items: list[tuple[str, str, str]]):
    """(out_doc_id, doc_id, text) items -> the kernel's spans as one Arrow
    RecordBatch (pool worker)."""
    from pdf2dom_spark.corpus import rich_stream
    from pdf2dom_spark.extract import extract_doc_parts, parts_to_arrow

    parts = [extract_doc_parts(out_id, rich_stream(doc_id, text))
             for out_id, doc_id, text in items]
    return parts_to_arrow(parts, [i[0] for i in items], None,
                          columns=list(HASH_COLS))


def start_reference(pool, items: list[tuple[str, str, str]], chunks: int):
    """Start computing the reference spans of ``items`` in ``pool``."""
    return pool.map_async(reference_chunk,
                          [items[i::chunks] for i in range(chunks)])


def reference_table(pending):
    """The reference spans started by ``start_reference``, as one Table."""
    import pyarrow as pa

    return pa.Table.from_batches(pending.get())
