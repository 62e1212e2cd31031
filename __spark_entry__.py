"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)`` — flagship: build the deterministic interleaved
  text+media corpus from /root/testdata/sf0.001 and run the full
  Pdf2Dom-equivalent extraction (tokenize -> interpret -> chunk -> ordered
  spans) through the salted pipeline, as nested-style spans (the flat
  ``mapInArrow`` kernel's output with ``style_*`` folded into a
  ``style`` struct by a JVM-side projection).
- ``queries()`` / ``oracle_sql()`` — the extraction gates, qkernel's
  then qunits', in registry order; oracles run on DuckDB against the
  same parquet tables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from pdf2dom_spark.corpus import build_docs_df
    from pdf2dom_spark.pipeline import extract_spans

    docs = build_docs_df(spark, "/root/testdata/sf0.001", mode="rich")
    return extract_spans(docs, num_partitions=8)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per registered query, in registry order."""
    from pdf2dom_spark.queries import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted entries -> rows-only check)."""
    from pdf2dom_spark.queries import all_oracles

    return all_oracles()
