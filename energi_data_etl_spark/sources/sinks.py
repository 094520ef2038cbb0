"""Durable-table sinks (SURVEY.md §2.1 S5/S6).

The reference loads a pandas frame into BigQuery with a declared
schema, WRITE_APPEND, and a utcnow() audit column
(scripts/energy_etl.py:86-111). The engine's durable store is
date-partitioned Parquet: append mode gives the same incremental
semantics, the partition column lets the watermark query (A2/T1) be
answered from the partition directory names — one driver-side listing
of the table root, no Spark job — and downstream date filters become
partition pruning — the layout decision that matters most at 100 TB
(SURVEY §4.3).
"""

from __future__ import annotations

import datetime
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

__all__ = ["write_fact_table", "latest_watermark", "align_to_table_schema"]


def write_fact_table(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = ("date",),
    mode: str = "append",
    audit: bool = True,
    target_files_per_partition: int = 1,
) -> bool:
    """Append rows to a partitioned Parquet fact table.

    * skip-empty guard — the reference's `if all_data:` (:82);
    * audit column — load_timestamp=current_timestamp (UTC session),
      the reference's :100;
    * repartition before write → bounded file counts per partition
      (file-sizing, SURVEY §4.3; small-file explosions are the classic
      append-pipeline failure at scale).

    Returns True iff something was written.
    """
    if df.isEmpty():
        return False
    out = df
    if audit:
        out = out.withColumn("load_timestamp", F.current_timestamp())
    out = out.repartition(target_files_per_partition, *[F.col(c) for c in partition_by])
    out.write.mode(mode).partitionBy(*partition_by).parquet(path)
    return True


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    """Bucketed+sorted managed table (SURVEY §4.3: co-located joins).

    Two tables bucketed by the same key with the same bucket count
    join WITHOUT an Exchange on either side — the shuffle is paid once
    at write time instead of on every join. The big-fact ⋈ big-fact
    pattern at 100 TB (verified shuffle-free in tests/test_bucketing.py).
    """
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def latest_watermark(spark: SparkSession, path: str, col: str = "date"):
    """MAX(partition column) — the reference's watermark query (:22-37) —
    read from the table's ``<col>=<value>`` directory names with one
    driver-side Hadoop FileSystem listing (any scheme: file://, hdfs://,
    s3a://), starting no Spark job. ``spark.read.parquet(path)
    .agg(max(col))`` would list every partition with a task per directory
    and then scan the files.

    Values are compared as ISO dates. Hidden root entries (``_SUCCESS``,
    ``_temporary/``, ``.spark-staging-*``), ``<col>=__HIVE_DEFAULT_PARTITION__``
    (NULL, which MAX skips) and directories that hold no visible data file
    are skipped, as Spark's file index skips them.

    Returns None only when the table does not exist or holds no data (the
    reference's cold-start fallback, :42-46). Anything else raises,
    because a failed read taken for a cold start would re-append the
    lookback window as duplicate rows: a file path raises
    NotADirectoryError; a value that is not an ISO date, or a visible root
    entry other than a ``<col>=`` directory, raises ValueError; listing
    errors propagate."""
    root = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return None
    if not fs.getFileStatus(root).isDirectory():
        raise NotADirectoryError(f"fact table path is a file, not a table directory: {path}")
    prefix = f"{col}="
    days = {}
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if name.startswith(prefix):
            if name != prefix + "__HIVE_DEFAULT_PARTITION__":
                days[datetime.date.fromisoformat(name[len(prefix):])] = status
        elif not name.startswith(("_", ".")):
            raise ValueError(f"{path} is not a table partitioned by {col}: its root holds {name}")
    for day in sorted(days, reverse=True):
        if _holds_data(fs, days[day]):
            return day
    return None


def _holds_data(fs, status) -> bool:
    """True iff the directory ``status`` holds a visible data file, directly
    or under visible subdirectories (nested partitions). Visible means the
    name starts with neither ``_`` nor ``.``, Spark's file-index rule."""
    if not status.isDirectory():
        return False
    for child in fs.listStatus(status.getPath()):
        if child.getPath().getName().startswith(("_", ".")):
            continue
        if not child.isDirectory() or _holds_data(fs, child):
            return True
    return False


def align_to_table_schema(df: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-safe append alignment: project `df` onto the
    UNION of the existing table's columns and its own.

    Long-running append pipelines evolve — a batch adds a column the
    table lacks, or stops producing one the table has. Parquet appends
    are schema-on-read, so nothing fails at write time; the damage
    surfaces later as readers seeing ragged schemas. This helper makes
    the contract explicit at append time, entirely driver-side (one
    schema fetch, zero data movement):

    * columns the table has but the batch lacks → NULL-filled with the
      table's type (so `mergeSchema` readers see one consistent type);
    * columns the batch adds → kept, CAST-checked later by the reader's
      mergeSchema union;
    * column ORDER follows the table, new columns appended last —
      parquet matches by name, but deterministic order keeps file
      footers uniform.

    Returns `df` unchanged for a cold-start (no table yet). Column
    matching is case-insensitive (Spark's default resolution), so a
    case-variant rename upstream aligns to the table's spelling instead
    of producing a NULL-filled duplicate.
    """
    from pyspark.errors import AnalysisException

    try:
        existing = spark.read.parquet(path).schema
    except AnalysisException as exc:
        # ONLY path-not-found means cold start; a corrupt footer or a
        # transient storage error must propagate, not silently disable
        # the alignment this helper exists to guarantee
        klass = exc.getErrorClass() if hasattr(exc, "getErrorClass") else None
        if klass == "PATH_NOT_FOUND" or "Path does not exist" in str(exc):
            return df
        raise
    have = {f.name.lower(): f.name for f in df.schema.fields}
    cols = []
    for field in existing:
        if field.name.lower() in have:
            cols.append(F.col(have[field.name.lower()]).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    table_names = {f.name.lower() for f in existing}
    cols.extend(F.col(f.name) for f in df.schema.fields if f.name.lower() not in table_names)
    return df.select(*cols)
