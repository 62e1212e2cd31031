"""Driver-contract smoke: entry() runs and produces rows with SPAN_SCHEMA;
queries()/oracle_sql() keys line up; job.py CLI runs end-to-end."""

from __future__ import annotations


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.schema["style"].dataType.typeName() == "struct"
    rows = df.limit(50).collect()
    assert len(rows) > 0
    assert {"doc_id", "order", "kind", "text", "media_ref", "style",
            "page_no", "part_id"} <= set(df.columns)


def test_registry_alignment():
    import __spark_entry__ as e

    qs = e.queries()
    orc = e.oracle_sql()
    assert len(qs) >= 30
    assert set(orc) <= set(qs)
    # rows-only entries are the designated non-SQL-expressible ones
    assert set(qs) - set(orc) == {"extract_spans_rich"}


def test_registry_ignores_working_directory(tmp_path, monkeypatch):
    """queries()/oracle_sql() are the domain registries in registry order,
    whatever correctness files sit in the working directory."""
    import json

    import __spark_entry__ as e
    from pdf2dom_spark import qkernel, qunits

    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(
        {name: {"rows_match": True}
         for name in ("extract_spans_rich", "color_hex", "rtl_reverse")}))
    monkeypatch.chdir(tmp_path)

    want = list(qkernel.REGISTRY) + list(qunits.REGISTRY)
    assert list(e.queries()) == want
    assert list(e.oracle_sql()) == [n for n in want
                                    if n != "extract_spans_rich"]


def _code_references(tree) -> list[str]:
    """The names a module's code refers to: ``Name`` loads, attribute
    names, import names, keyword names, and the words of every string
    constant that is not a docstring (perfbench wraps functions by their
    name as a string). Comments and docstrings do not count."""
    import ast
    import re

    docstrings = {id(node.body[0].value) for node in ast.walk(tree)
                  if isinstance(node, (ast.Module, ast.ClassDef,
                                       ast.FunctionDef, ast.AsyncFunctionDef))
                  and node.body and isinstance(node.body[0], ast.Expr)
                  and isinstance(node.body[0].value, ast.Constant)
                  and isinstance(node.body[0].value.value, str)}
    refs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            refs.append(node.id)
        elif isinstance(node, ast.Attribute):
            refs.append(node.attr)
        elif isinstance(node, ast.alias):
            refs += node.name.split(".")
        elif isinstance(node, ast.keyword) and node.arg:
            refs.append(node.arg)
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and id(node) not in docstrings):
            refs += re.findall(r"\w+", node.value)
    return refs


def test_every_module_name_is_referenced():
    """Every undecorated, non-dunder top-level def, class or assignment in
    the package is referred to by code (``_code_references``) in the
    package, the tests, the benchmark, job.py or __spark_entry__.py. A
    name that only comments and docstrings mention is dead code."""
    import ast
    from collections import Counter
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    package = sorted((root / "pdf2dom_spark").glob("*.py"))
    sources = [*package, *(root / "tests").rglob("*.py"),
               *(root / "perfbench").rglob("*.py"),
               root / "job.py", root / "__spark_entry__.py"]
    refs = Counter(r for f in sources
                   for r in _code_references(ast.parse(f.read_text())))

    unused = []
    for f in package:
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                names = [] if node.decorator_list else [node.name]
            elif isinstance(node, ast.Assign):
                names = [n.id for t in node.targets for n in ast.walk(t)
                         if isinstance(n, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(
                    node.target, ast.Name):
                names = [node.target.id]
            else:
                names = []
            unused += [f"{f.stem}.{n}" for n in names
                       if not (n.startswith("__") and n.endswith("__"))
                       and not refs[n]]
    assert not unused, unused


def test_job_cli(spark, tmp_path):
    import job

    out = str(tmp_path / "job_out")
    rc = job.main(["--synth", "/root/testdata/sf0.001", "--output", out,
                   "--partitions", "4", "--render-html"])
    assert rc == 0
    spans = spark.read.parquet(f"{out}/spans")
    lin = spark.read.parquet(f"{out}/lineage")
    assert spans.count() > 0
    assert lin.select("part_id").distinct().count() == 4
    html = spark.read.parquet(f"{out}/html")
    assert html.count() == spans.select("doc_id").distinct().count()


def test_job_cli_lifecycle(spark, tmp_path):
    """The full production CLI surface in one lifecycle: fresh run ->
    resume no-op -> upsert (same docs = no growth, one file per partition
    dir) -> new arrivals: a run over half A of the corpus, then
    ``--upsert`` of the disjoint half B into the same output, equals one
    fresh run over A + B."""
    import glob

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import job
    from pdf2dom_spark.corpus import build_docs_df
    from pdf2dom_spark.pipeline import lineage

    out = str(tmp_path / "life")
    assert job.main(["--synth", "/root/testdata/sf0.001", "--output", out,
                     "--partitions", "4"]) == 0
    n1 = spark.read.parquet(f"{out}/spans").count()

    # resume without --partitions: pinned modulus makes it a no-op
    assert job.main(["--synth", "/root/testdata/sf0.001", "--output", out,
                     "--resume"]) == 0
    assert spark.read.parquet(f"{out}/spans").count() == n1

    # upsert the same corpus: table content unchanged
    assert job.main(["--synth", "/root/testdata/sf0.001", "--output", out,
                     "--upsert"]) == 0
    assert spark.read.parquet(f"{out}/spans").count() == n1

    # one file per part_id dir, same rows: each task writes one part_id
    per_dir = [len(glob.glob(f"{d}/*.parquet"))
               for d in glob.glob(f"{out}/spans/part_id=*")]
    assert per_dir and all(n == 1 for n in per_dir)
    assert spark.read.parquet(f"{out}/spans").count() == n1

    # new arrivals: a complete run has a lineage row for every part_id, so
    # a --resume over newly arrived docs would extract nothing; --upsert
    # inserts the new doc_ids into the affected partitions
    half_a, half_b, both = (str(tmp_path / d) for d in ("a", "b", "ab"))
    build_docs_df(spark, "/root/testdata/sf0.001",
                  mode="rich").write.parquet(both)
    docs = spark.read.parquet(both)
    # split on crc32, not on the salt's xxhash64, so both halves land in
    # every part_id
    docs.where(F.crc32("doc_id") % 2 == 0).write.parquet(half_a)
    docs.where(F.crc32("doc_id") % 2 == 1).write.parquet(half_b)
    grown, fresh = str(tmp_path / "grown"), str(tmp_path / "fresh")
    assert job.main(["--input", half_a, "--output", grown,
                     "--partitions", "4"]) == 0
    assert job.main(["--input", half_b, "--output", grown,
                     "--upsert", "--render-html"]) == 0
    assert job.main(["--input", both, "--output", fresh,
                     "--partitions", "4"]) == 0
    got = spark.read.parquet(f"{grown}/spans")
    want = spark.read.parquet(f"{fresh}/spans")
    assert got.count() == want.count() == n1
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # the lineage is append-only: each part's current row is its row
    # with the largest seq
    latest = Window.partitionBy("part_id").orderBy(F.col("seq").desc())
    lin = {r.part_id: r.checksum
           for r in spark.read.parquet(f"{grown}/lineage")
           .withColumn("rank", F.row_number().over(latest))
           .where("rank = 1").collect()}
    assert lin == {r.part_id: r.checksum
                   for r in lineage(got).collect()}
    # --render-html after --upsert renders the grown spans table
    html = spark.read.parquet(f"{grown}/html")
    assert html.count() == got.select("doc_id").distinct().count()


def test_job_cli_refuses_unreadable_lineage(spark, tmp_path):
    """A fresh run into an output whose lineage exists is refused, also
    when that lineage cannot be read: the probe is an existence check,
    not a read whose failure would pass for "no lineage yet"."""
    import pytest

    import job
    from tests.conftest import SF_SMOKE

    out = tmp_path / "taken"
    (out / "lineage").mkdir(parents=True)
    (out / "lineage" / "part-00000.parquet").write_bytes(
        b"not a parquet file")
    with pytest.raises(SystemExit, match="already exists"):
        job.main(["--synth", SF_SMOKE, "--output", str(out),
                  "--partitions", "4"])
    assert not (out / "spans").exists()


def test_job_cli_rejects_nonpositive_sizes(spark, tmp_path):
    """``--partitions -4`` (``range(-4)`` is no pending id: exit 0 with
    nothing written), ``--pages-per-group 0`` (no page boundary ever
    closes a group: splitting silently off) and ``--upsert`` with
    ``--split-min-bytes`` (the upsert has no split path: the flag would
    be dropped) are refused before any write."""
    import pytest

    import job
    from pdf2dom_spark.corpus import build_docs_df
    from tests.conftest import SF_SMOKE

    src = str(tmp_path / "docs")
    build_docs_df(spark, SF_SMOKE, mode="rich").limit(20).write.parquet(src)
    for name, flags in {
            "parts": ["--partitions", "-4"],
            "groups": ["--split-min-bytes", "0", "--pages-per-group", "0"],
    }.items():
        out = tmp_path / name
        with pytest.raises(ValueError, match="must be >= 1"):
            job.main(["--input", src, "--output", str(out), *flags])
        assert not out.exists()
    out = tmp_path / "upsert_split"
    with pytest.raises(SystemExit):
        job.main(["--input", src, "--output", str(out), "--upsert",
                  "--split-min-bytes", "1000"])
    assert not out.exists()


def test_job_cli_input_pdfs(spark, tmp_path):
    """--input-pdfs: real .pdf files through the distributed binaryFile
    ingest into the same checkpointed table contract as every other
    source. Uses the reference's own fixture PDFs."""
    import os
    import shutil

    import pytest

    res = "/root/reference/src/test/resources"
    if not os.path.isdir(res):
        pytest.skip("reference fixtures not present")
    import job

    src = tmp_path / "pdfs"
    src.mkdir()
    for f in ("3-page-document.pdf", "images.pdf",
              "text-rendering-mode-fill.pdf"):
        shutil.copy(f"{res}/{f}", src / f)
    out = str(tmp_path / "pdf_out")
    assert job.main(["--input-pdfs", str(src), "--output", out,
                     "--partitions", "2"]) == 0
    spans = spark.read.parquet(f"{out}/spans")
    assert spans.select("doc_id").distinct().count() == 3
    # the ingest matches the in-process parser end to end
    from pdf2dom_spark.extract import ExtractConfig, extract_doc
    from pdf2dom_spark.pdfread import pdf_file_to_row
    row = pdf_file_to_row(f"{res}/3-page-document.pdf")
    local = extract_doc(row["doc_id"], row["spans"], ExtractConfig())
    got = spans.where(spans.doc_id == "3-page-document.pdf").count()
    assert got == len(local)
    # resume over the same PDF input is a no-op
    n1 = spans.count()
    assert job.main(["--input-pdfs", str(src), "--output", out,
                     "--resume"]) == 0
    assert spark.read.parquet(f"{out}/spans").count() == n1


def test_job_cli_input_archives(spark, tmp_path):
    """--input-archives: zip-of-PDFs containers through the same
    checkpointed table contract."""
    import os
    import zipfile

    import pytest

    res = "/root/reference/src/test/resources"
    if not os.path.isdir(res):
        pytest.skip("reference fixtures not present")
    import job

    src = tmp_path / "archives"
    src.mkdir()
    with zipfile.ZipFile(src / "b1.zip", "w") as zf:
        for f in ("text-rendering-mode-stroke.pdf", "images.pdf"):
            zf.write(f"{res}/{f}", f)
    out = str(tmp_path / "arch_out")
    assert job.main(["--input-archives", str(src), "--output", out,
                     "--partitions", "2"]) == 0
    spans = spark.read.parquet(f"{out}/spans")
    ids = {r["doc_id"] for r in spans.select("doc_id").distinct().collect()}
    assert ids == {"b1.zip/text-rendering-mode-stroke.pdf",
                   "b1.zip/images.pdf"}


def test_job_cli_image_pixels(spark, tmp_path):
    """--image-pixels: the CLI routes the flag through the ingest and
    image media_refs land as PNG data URIs in the span table."""
    import os
    import shutil

    import pytest

    res = "/root/reference/src/test/resources"
    if not os.path.isdir(res):
        pytest.skip("reference fixtures not present")
    import job

    src = tmp_path / "pdfs"
    src.mkdir()
    shutil.copy(f"{res}/images.pdf", src / "images.pdf")
    out = str(tmp_path / "px_out")
    assert job.main(["--input-pdfs", str(src), "--output", out,
                     "--partitions", "2", "--image-pixels"]) == 0
    spans = spark.read.parquet(f"{out}/spans")
    refs = [r["media_ref"] for r in
            spans.where(spans.kind == "image").collect()]
    assert len(refs) == 2
    assert all(r.startswith("data:image/png;base64,") for r in refs)
