"""IO seam: Iceberg when the runtime jar is on the classpath, parquet
otherwise (this sandbox has no Iceberg jar — SURVEY.md §7 phase 0).

run_pipeline reads a path or catalog table name through read_table (the
CLI hands it a frame it read itself); write_table and write_bucketed
persist tables by path or name. Sinks write through
operators/sinks.write_sink and the maintenance operators read their
directories directly. At cluster scale
the Iceberg path gets partition pruning on bucket(conv_id)/day(ts) for
free; the parquet path relies on directory partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, path_or_table: str) -> DataFrame:
    if path_or_table.endswith(".parquet") or "/" in path_or_table:
        return spark.read.parquet(path_or_table)
    return spark.read.table(path_or_table)


def write_table(df: DataFrame, path_or_table: str) -> None:
    """Overwrite a path (parquet) or a table name (catalog write). Catalog
    writes dispatch on what the session actually has: the V2 ``writeTo``
    (createOrReplace) API when an Iceberg catalog is on the classpath —
    there it gets bucket/day partition-spec evolution and snapshot commits
    — else the V1 ``saveAsTable``, which the plain session catalog (this
    sandbox) supports; both branches are covered by tests/test_io.py."""
    if path_or_table.endswith(".parquet") or "/" in path_or_table:
        df.write.mode("overwrite").parquet(path_or_table)
    elif iceberg_available(df.sparkSession):
        df.writeTo(path_or_table).createOrReplace()
    else:
        df.write.mode("overwrite").saveAsTable(path_or_table)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str] | tuple[str, ...] = ("conv_id",),
    n_buckets: int = 64,
) -> None:
    """Persist (overwrite) a table hash-bucketed on its join/aggregation
    key — the storage-level half of the one-shuffle design: two
    tables bucketed the same way join with ZERO exchanges on either side
    (asserted by tests/test_io.py::test_bucketed_join_is_exchange_free),
    and a groupBy on the bucket key skips its shuffle too. At the 100 TB
    target this is how repeated conv_id joins (transcripts x metrics x
    routed sinks) amortize the partitioning ONCE at write time instead of
    re-shuffling per query — the parquet/V1 stand-in for Iceberg's
    ``bucket(N, conv_id)`` partition spec mentioned in README. Spark only
    honors bucket metadata through the catalog (``saveAsTable``), so this
    takes a table name, not a path."""
    df.write.mode("overwrite").format("parquet").bucketBy(
        int(n_buckets), *bucket_cols
    ).saveAsTable(table)
