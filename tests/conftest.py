from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
# default keeps the suite fast; SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01
# reruns the oracle-parity gate at the driver's correctness scale
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("pdf2dom-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def spans_by_doc(flat) -> dict[str, list[dict]]:
    """Flat span rows (a Spark DataFrame or a pyarrow batch) -> doc_id ->
    its rows as dicts in ``order``, ``part_id`` dropped: the span-level
    view the ingest tests compare."""
    rows = (flat.to_pylist() if hasattr(flat, "to_pylist")
            else [r.asDict() for r in flat.collect()])
    out: dict[str, list[dict]] = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["order"])):
        del r["part_id"]
        out.setdefault(r["doc_id"], []).append(r)
    return out


def local_spans(paths: dict) -> dict[str, list[dict]]:
    """doc_id -> PDF file path  ==>  ``spans_by_doc`` of the extraction
    kernel's body run on each file's ``pdfread.pdf_file_to_row``."""
    from pdf2dom_spark.extract import docs_to_arrow_spans
    from pdf2dom_spark.pdfread import pdf_file_to_row

    return spans_by_doc(docs_to_arrow_spans(
        list(paths), [pdf_file_to_row(str(p))["spans"]
                      for p in paths.values()]))
