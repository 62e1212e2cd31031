"""Table IO: Iceberg in production, parquet fallback in this sandbox.

The north rule reads/writes Iceberg tables of interleaved documents
(BASELINE.json input_hint). This container ships no Iceberg runtime jars, so
every call site routes through this module: when an Iceberg-capable catalog
is on the classpath the real ``format("iceberg")`` / ``writeTo(...)
.overwritePartitions()`` paths run; otherwise the parquet-dir equivalents
(with ``partitionOverwriteMode=dynamic`` giving the same idempotent
partition-replacement semantics run_checkpointed relies on).

Production wiring (documented, not testable here):

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v> \\
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \\
      --conf spark.sql.catalog.lake.type=rest ... job.py \\
      --input lake.db.documents --output lake.db.spans

A target with no '/' separator is treated as a catalog table identifier;
anything path-like is a parquet directory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_ICEBERG_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(_ICEBERG_CLASS)  # noqa: SLF001
        return True
    except Exception:
        return False


def is_table_identifier(source: str) -> bool:
    """Catalog table (db.table / cat.db.table) vs filesystem path: a table
    identifier is slash-free AND dotted (a bare single segment like
    ``bench_out`` is a relative directory, not a table)."""
    return ("/" not in source and "." in source
            and not source.endswith(".parquet"))


def _require_iceberg(spark: SparkSession, source: str) -> None:
    if not iceberg_available(spark):
        raise RuntimeError(
            f"'{source}' looks like a catalog table but no Iceberg "
            "runtime is on the classpath; pass a parquet path or add "
            "the iceberg-spark-runtime package")


def read_table(spark: SparkSession, source: str) -> DataFrame:
    """documents table -> DataFrame (Iceberg table or parquet dir)."""
    if is_table_identifier(source):
        _require_iceberg(spark, source)
        return spark.read.format("iceberg").load(source)
    return spark.read.parquet(source)


def in_filter(column: str, values: list) -> Column:
    """``column IN (values)`` for integer values, built from SQL text: a
    few py4j round trips at any length, where ``Column.isin`` makes about
    four per value (1,000 part ids took ~4,000 round trips, ~1 s). The
    plan is the same ``In`` over integer literals, so static partition
    pruning still applies."""
    if not values:
        return F.lit(False)
    return F.expr(f"`{column}` IN ({', '.join(str(int(v)) for v in values)})")


def read_partitions(spark: SparkSession, source: str, schema: StructType,
                    column: str, values: list) -> DataFrame:
    """Only the partitions ``column IN values`` of a partitioned table. The
    literal predicate on the partition column prunes the scan statically,
    so the cost is O(those partitions), never O(table). A parquet dir is
    read with ``schema`` (no schema-inference job); an Iceberg table keeps
    its catalog schema."""
    if is_table_identifier(source):
        _require_iceberg(spark, source)
        df = spark.read.format("iceberg").load(source)
    else:
        df = spark.read.schema(schema).parquet(source)
    return df.where(in_filter(column, values))


def table_exists(spark: SparkSession, target: str) -> bool:
    """Whether ``target`` holds a table: the catalog knows the Iceberg
    table, or the parquet path exists with at least one data entry (a dir
    left with only ``_temporary`` by a crashed first write holds no
    table). Says nothing about readability: reading it may still fail."""
    if is_table_identifier(target):
        _require_iceberg(spark, target)
        return spark.catalog.tableExists(target)
    path = spark._jvm.org.apache.hadoop.fs.Path(target)  # noqa: SLF001
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs.exists(path) and any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(path))


def write_partitioned(df: DataFrame, target: str, partition_col: str,
                      spark: SparkSession | None = None) -> None:
    """Idempotent partition-replacing write: Iceberg overwritePartitions
    (dynamic overwrite of exactly the partitions present in ``df``) or the
    parquet dynamic-partition-overwrite equivalent, partitioned by the one
    column ``partition_col``."""
    spark = spark or df.sparkSession
    if is_table_identifier(target):
        _require_iceberg(spark, target)
        if not spark.catalog.tableExists(target):
            # first write must CREATE the partitioned table —
            # overwritePartitions requires an existing one
            df.writeTo(target).partitionedBy(F.col(partition_col)).create()
            return
        df.writeTo(target).overwritePartitions()
        return
    # toggle the conf on df's OWN session, which may be a clone of
    # ``spark`` whose conf snapshot ignores later changes to the outer
    # session: setting dynamic mode on ``spark`` alone would leave such a
    # clone on static overwrite, which wipes every partition of the table
    # instead of replacing just the ones in ``df``
    conf = df.sparkSession.conf
    prev = conf.get("spark.sql.sources.partitionOverwriteMode", None)
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(partition_col).parquet(target)
    finally:
        # restore the session-global setting (other writers in the same
        # session may rely on the default static semantics)
        if prev is None:
            conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def append_table(df: DataFrame, target: str,
                 spark: SparkSession | None = None) -> None:
    """Append rows (lineage): Iceberg append or parquet append."""
    spark = spark or df.sparkSession
    if is_table_identifier(target):
        _require_iceberg(spark, target)
        if not spark.catalog.tableExists(target):
            df.writeTo(target).create()
        else:
            df.writeTo(target).append()
        return
    df.write.mode("append").parquet(target)
