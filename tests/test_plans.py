"""Physical-plan quality gates: pushdown, pruning, broadcast, codegen.

The 100 TB contract is about plan shape, not just answers: filters must reach
the parquet scan, projections must prune columns, small dims must broadcast,
and scalar pipelines must stay inside WholeStageCodegen."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_to_parquet(spark):
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    q = d.where(F.col("lang") == "en").select("doc_id")
    plan = _fmt(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_corpus_builder_prunes_columns(spark):
    from pdf2dom_spark.corpus import build_docs_df
    docs = build_docs_df(spark, SF_SMOKE, mode="oracle")
    plan = _fmt(docs)
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "lang" not in scan and "source" not in scan


@pytest.mark.parametrize("nested", [False, True])
def test_extraction_has_single_exchange(spark, nested):
    """The extraction job's only shuffle is the salting repartition, and
    both span shapes run the one mapInArrow kernel (the nested ``style``
    struct is a JVM projection, never a mapInPandas)."""
    from pdf2dom_spark.corpus import build_docs_df
    from pdf2dom_spark.pipeline import extract_spans
    # checkpointed: the corpus synthesizer is itself a mapInPandas, and
    # the plan under test is extraction's alone
    docs = build_docs_df(spark, SF_SMOKE, mode="oracle").localCheckpoint()
    spans = extract_spans(docs, num_partitions=8, nested=nested)
    plan = _plan(spans)
    assert plan.count("Exchange") == 1, plan
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan


def _widths(plan: str) -> list[int]:
    # the partition count of each hash exchange (its key nests one call)
    return [int(n) for n in re.findall(
        r"hashpartitioning\((?:[^()]|\([^()]*\))*, (\d+)\)", plan)]


def test_extraction_width_defaults_to_cores(spark):
    """Without ``num_partitions`` the extraction runs one task per core,
    whatever spark.sql.shuffle.partitions says (conftest: 8 on
    local[4]), on the unsplit and on the page-split path."""
    from pdf2dom_spark.corpus import build_docs_df
    from pdf2dom_spark.pagesplit import extract_spans_paged
    from pdf2dom_spark.pipeline import extract_spans

    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    docs = build_docs_df(spark, SF_SMOKE, mode="oracle").localCheckpoint()
    plan = _plan(extract_spans(docs))
    assert plan.count("Exchange") == 1, plan
    assert _widths(plan) == [4], plan
    paged = _plan(extract_spans_paged(docs, min_bytes=1000))
    assert _widths(paged) and set(_widths(paged)) == {4}, paged


def test_extraction_width_from_input_bytes(spark, tmp_path, monkeypatch):
    """The width is max(cores, ceil(estimated input bytes / TASK_BYTES)):
    a parquet scan estimates its file bytes, a local checkpoint keeps
    that estimate, and a frame with no estimate gets the core count."""
    from pdf2dom_spark import pipeline, tables
    from pdf2dom_spark.corpus import build_docs_df
    from pdf2dom_spark.schema import DOC_SCHEMA

    path = tmp_path / "docs"
    build_docs_df(spark, SF_SMOKE, mode="oracle").write.parquet(str(path))
    docs = tables.read_table(spark, str(path))
    est = sum(f.stat().st_size for f in path.glob("*.parquet"))
    assert docs._jdf.queryExecution().optimizedPlan().stats() \
        .sizeInBytes() == est
    assert pipeline.extraction_width(docs) == 4  # the core floor

    monkeypatch.setattr(pipeline, "TASK_BYTES", est // 10)
    want = -(-est // (est // 10))
    assert want > 4
    assert pipeline.extraction_width(docs) == want
    assert pipeline.extraction_width(docs.localCheckpoint()) == want
    assert _widths(_plan(pipeline.extract_spans(docs))) == [want]

    unknown = spark.createDataFrame(
        spark.sparkContext.parallelize([("a", [])]), DOC_SCHEMA)
    assert pipeline.extraction_width(unknown) == 4


def test_scalar_query_stays_in_codegen(spark):
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["color_hex"](spark, SF_SMOKE)
    s = spark._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "codegen")
    assert "Found 1 WholeStageCodegen subtrees" in s


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Co-located join via bucketing (SURVEY.md §4 'bucketing for co-located
    joins'): two tables bucketed on the same key join with zero Exchange."""
    import shutil

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    try:
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite").saveAsTable("orders_b")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite").saveAsTable("lineitem_b")
        j = spark.table("orders_b").join(
            spark.table("lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"))
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for t in ("orders_b", "lineitem_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{wh}/{t}", ignore_errors=True)


def test_no_python_udf_outside_extraction(spark):
    """Every non-extraction query is built from JVM expressions only."""
    from pdf2dom_spark.queries import all_queries
    for name, fn in all_queries().items():
        if name.startswith(("extract_", "render_")):
            continue  # the extraction kernels (the designated Arrow UDFs)
        plan = _plan(fn(spark, SF_SMOKE))
        assert "EvalPython" not in plan, f"{name} uses a Python UDF"


def test_salt_spreads_hot_keys_across_partitions(spark):
    """Occupancy probe: hashing a 5-value hot key into 8 partitions leaves
    most empty and one task owns each hot key's full volume; adding the
    salt spreads every hot key near-uniformly."""
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        (F.col("user_id") % 5).alias("k"),
        F.pmod(F.xxhash64("event_id"), F.lit(8)).cast("int").alias("salt"))
    total = ev.count()

    unsalted = ev.repartition(8, "k").rdd.glom().map(len).collect()
    salted = ev.repartition(8, "k", "salt").rdd.glom().map(len).collect()
    # keyed-only: <=5 occupied partitions, the largest owns >=1/5 of rows
    assert sum(1 for n in unsalted if n > 0) <= 5
    assert max(unsalted) >= total / 5
    # salted: every partition occupied; the biggest task is strictly
    # smaller than any hot key's full volume (40 (k, salt) groups into 8
    # partitions still carries Poisson imbalance, so the bound is the
    # hot-key share, not uniformity)
    assert all(n > 0 for n in salted)
    assert max(salted) < max(unsalted)
    assert max(salted) <= total * 0.3


def test_paged_tail_window_only_over_monster_branch(spark):
    """The production paged shape: the sub-threshold branch must reach the
    sink with NO Window (its order is already global); exactly one Window
    exists in the whole plan — over the monster branch's spans only — and
    the source routing predicates reach the parquet scans."""
    from pdf2dom_spark.queries import all_queries

    df = all_queries()["extract_spans_paged_tail"](
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1
    # both branch predicates pushed to the source scans
    assert "PushedFilters" in plan


def test_paged_stress_single_window(spark):
    """min_bytes=0 (everything splits): the statically-empty small branch
    is elided — no union, one split kernel, one Window."""
    from pdf2dom_spark.corpus import build_docs_df
    from pdf2dom_spark.pagesplit import extract_spans_paged

    docs = build_docs_df(spark, "/root/testdata/sf0.001", mode="oracle",
                         num_partitions=8)
    df = extract_spans_paged(docs, num_partitions=8, pages_per_group=2,
                             min_bytes=0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1
    assert "Union" not in plan


def test_pdf_ingest_is_narrow(spark, tmp_path):
    """Real-PDF ingest: a binaryFile scan with doc_id made on the JVM, zero
    Python nodes and zero Exchange (the extraction kernel parses the
    bytes; the only shuffle in a full job is the extraction salt
    downstream)."""
    from pdf2dom_spark.corpus import oracle_stream
    from pdf2dom_spark.pdfread import pdf_docs_df
    from pdf2dom_spark.pdfwrite import spans_to_pdf

    src = tmp_path / "pdfs"
    src.mkdir()
    (src / "x.pdf").write_bytes(
        spans_to_pdf("x", oracle_stream("x", "two words")))
    df = pdf_docs_df(spark, str(src))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for node in ("MapInPandas", "MapInArrow", "Python"):
        assert node not in plan
    assert "FileScan binaryFile" in plan


def test_paged_fused_split_is_single_python_stage(spark):
    """The stress gate's front half (synthesis+split) must be ONE
    MapInArrow fed by the scan with no Exchange before it — the
    source-fused shape; and the whole paged plan must cross Python
    exactly three times (gen+split, extract) ... i.e. exactly TWO
    MapInArrow nodes, one Exchange between them, one Window after."""
    from pdf2dom_spark.corpus import build_groups_df
    from pdf2dom_spark.extract import ExtractConfig
    from pdf2dom_spark.pagesplit import extract_groups

    groups = build_groups_df(spark, SF_SMOKE, mode="oracle",
                             pages_per_group=2, min_bytes=0,
                             num_partitions=8)
    flat = extract_groups(groups, ExtractConfig(), num_partitions=8)
    plan = _plan(flat)
    # gen+split and the extract back half are both MapInArrow — still
    # exactly TWO Python stages
    assert plan.count("MapInPandas") + plan.count("MapInArrow") == 2
    assert "Window" in plan
    # no Exchange between the scan and the fused gen+split kernel beyond
    # the deliberate source repartition; the group exchange keys on
    # (doc_id, grp) so sibling groups of one doc land on different tasks
    assert "xxhash64(doc_id#" in plan and "grp#" in plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """Spark's runtime Bloom-filter injection is live for the engine's
    shuffle joins: a selective dim filter materializes a bloom_filter_agg
    on the build side and the fact scan gains a might_contain() pre-filter
    — at 100 TB this prunes fact rows BEFORE the exchange. (Broadcast
    joins don't need it — the hash set itself prunes — so the test pins
    the shuffle-join regime explicitly.)"""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = (spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
             .where(F.col("o_orderpriority") == "1-URGENT")
             .select("o_orderkey"))
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
            "l_orderkey", "l_quantity")
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = _plan(j)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_extract_spans_realfile_single_shuffle(spark):
    """The real-file chain keeps the flagship's plan: ONE Exchange of the
    compact (doc_id, text) rows, then ONE fused Python stage that
    writes the PDF bytes, re-parses, and extracts in the same worker
    call — no second Arrow round-trip, no post-kernel shuffle."""
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["extract_spans_realfile"](spark, SF_SMOKE)
    plan = _plan(q)
    assert plan.count("Exchange") == 1, plan
    # the fused write+parse+extract kernel moved to MapInArrow (r6)
    assert plan.count("MapInPandas") + plan.count("MapInArrow") == 1, plan



def test_resume_filter_and_lineage_are_built_from_sql_text(spark):
    """The resume filter over 1,000 part ids and the lineage aggregate are
    built in a handful of py4j round trips (``Column.isin`` costs about
    four per value, the Column-built lineage about 500), and they plan the
    same as the Column forms, the literal IN included."""
    from py4j.clientserver import ClientServerConnection

    from pdf2dom_spark import tables
    from pdf2dom_spark.pipeline import lineage
    from pdf2dom_spark.schema import SPAN_FLAT_SCHEMA

    spans = spark.createDataFrame([], SPAN_FLAT_SCHEMA)
    ids = list(range(1000))
    calls = []
    orig = ClientServerConnection.send_command

    def counted(self, command, *a, **kw):
        # py4j also sends a memory-release command whenever a Python
        # proxy of a JVM object is collected; those come at random times
        if not command.startswith("m\nd\n"):
            calls.append(command)
        return orig(self, command, *a, **kw)

    ClientServerConnection.send_command = counted
    try:
        cond = tables.in_filter("part_id", ids)
        n_filter = len(calls)
        agg = lineage(spans)
        n_lineage = len(calls) - n_filter
    finally:
        ClientServerConnection.send_command = orig
    assert n_filter <= 10, n_filter
    assert n_lineage <= 100, n_lineage

    def plan(df):
        import re
        text = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "", text)

    assert plan(spans.where(cond)) == plan(
        spans.where(F.col("part_id").isin(ids)))
    assert agg.columns == ["part_id", "doc_count", "span_count", "n_text",
                           "n_page", "n_rect", "n_line", "n_image",
                           "n_font", "n_meta", "max_doc_spans", "checksum"]
