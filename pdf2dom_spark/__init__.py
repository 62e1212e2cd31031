"""pdf2dom_spark — a PySpark-native document-extraction engine.

A from-scratch reimplementation of the computation performed by
radkovo/Pdf2Dom (reference at /root/reference): tokenize PDF-like content
streams, merge glyph runs into styled text boxes using the reference's
font-metrics / baseline-distance heuristics, classify elements as
text / image / rect / line, and emit an ordered span sequence per document
``(kind, text, media_ref, order)``.

Architecture (Spark-first, not a port):

- The input is a DataFrame of interleaved text+media documents
  ``(doc_id, spans: array<struct<kind,text,media_ref,offset>>)``, or of
  real PDF files ``(doc_id, pdf: binary)`` from a JVM ``binaryFile`` scan,
  which the kernel parses before it extracts (one Python crossing).
- Extraction runs as one ``mapInArrow`` over Arrow batches on every path
  (``extract_spans``, ``run_checkpointed``, ``upsert_docs``, ``job.py``,
  pagesplit), through ``pipeline.extract_salted`` or, in
  ``run_checkpointed``, ``pipeline.extract_gathered``; one kernel body,
  ``extract.extract_batch``, serves every path, pagesplit's page groups
  included, and inside it everything is columnar numpy (no per-row
  Python at the Spark level). The nested-style
  ``extract_spans(nested=True)`` output is a JVM-side ``struct``
  projection over the same flat kernel output.
- Skew from giant documents is defused by salted repartitioning on the raw
  ``xxhash64(doc_id)``. ``part_id = pmod(hash(xxhash64(doc_id)), P)`` is a
  deterministic COLUMN for lineage/resume and, by construction, the task
  index of that shuffle: each task writes one ``part_id`` directory.
- Per-partition lineage + metrics rows enable idempotent checkpoint-resume.

Modules:
  schema     — Spark StructTypes shared by readers, the kernel contract, tests
  fonts      — deterministic synthetic font metrics + FontTable semantics
  fontbytes  — F2 font payloads: SFNT build/normalize, WOFF1 conversion
  tokenizer  — content-stream scanner (regex fast path + full PDF lexer tier)
  interp     — graphics/text state machine -> glyph + event frames
  textpipe   — vectorized box merging (gaps-and-islands over glyph frames)
  graphics   — path islands, rect recognition, line classification
  raster     — polygon scanline fill + stdlib PNG codec (G11, pixel paths)
  extract    — per-document driver: spans in -> ordered span rows out
  corpus     — deterministic synthetic corpora (fixtures + oracle + rich)
  pdfread    — real PDF reader (the kernel's parse) + binaryFile ingest
  pdfcrypt   — standard security handler (empty/known-password decryption)
  pdfwrite   — real PDF writer for the synthetic corpora
  jpegdec    — baseline/progressive JPEG codec for the image-pixel path
  pipeline   — Spark-level wiring: salting, mapInArrow, lineage, resume
  pagesplit  — giant-document page-group fan-out (skew layer 3), no pandas
  tables     — Iceberg-or-parquet table IO routing
  memtune    — once-per-worker tuning every kernel calls first: glibc
               malloc thresholds, no per-task zip-importer re-reads,
               import-time heap frozen out of the per-task gc
  render_html— optional HTML sink (reference-exact CSS serialization)
  queries    — driver-facing queries() / oracle_sql() registry: the
               extraction gates of qkernel, then qunits; helpers in
               qshared
"""

__version__ = "0.1.0"
