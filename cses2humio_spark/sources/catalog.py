"""Parquet table catalog over the driver-generated testdata directories.

At 100 TB these tables would be partitioned parquet/iceberg datasets; the
reads stay identical (``spark.read.parquet`` on a directory). Filters and
column selections expressed downstream reach the scan via Catalyst
pushdown — verified by ``plans/explain.py`` helpers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Self-defending runtime confs: queries must produce identical results
    # under ANY caller session (the driver builds its own SparkSession).
    # UTC pins every tz-dependent function (unix_timestamp, date_format) to
    # the oracle's tz-naive arithmetic.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts has shipped both as parquet TIMESTAMP(NANOS) (which
        # Spark surfaces as int64 under the legacy conf) and as plain
        # timestamp[us] (isAdjustedToUTC=false -> TIMESTAMP_NTZ). Branch on
        # the LOADED dtype instead of assuming, and normalize both paths to
        # the session-tz TIMESTAMP type so every downstream consumer
        # (unix_millis, window, date_format) sees ONE dtype:
        # - int64  -> floor-truncate nanos to microsecond timestamps
        #   (bit-identical to DuckDB's ns->us handling)
        # - TIMESTAMP_NTZ -> cast to TIMESTAMP; with the session tz pinned
        #   UTC above this is value-preserving and matches the oracle's
        #   tz-naive arithmetic.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def load_lookup_csv(spark: SparkSession, path: str) -> DataFrame:
    """Humio-style lookup file: a header-rowed CSV read as ALL-STRING
    columns (lookup files carry no types — exactly how Humio treats
    them), for the HQL ``match(table, ...)`` / ``join(..., table=...)``
    stages via ``hql(df, q, tables={"name": load_lookup_csv(...)})``.

    Lookups are dimension-sized by contract: match() broadcasts them, so
    a lookup that doesn't fit a broadcast is a modeling error, not a
    loading concern."""
    return spark.read.option("header", "true").csv(path)


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure at least default-parallelism partitions before CPU-heavy
    per-row map work (shingling, per-token hashing, vector math).

    Local/bench reality: a small single-row-group parquet file scans as ONE
    task, serializing the expensive map phase no matter how many cores the
    machine has. Cluster reality: 100 TB inputs arrive as thousands of
    splits, so the condition below is false and this is a NO-OP — no shuffle
    is ever added at scale. When it does fire, the round-robin repartition
    moves only the raw input rows (the cheap side — the row explosion
    happens downstream of it).

    Implementation note: the split estimate uses ``df.inputFiles()`` (a
    metadata listing) rather than ``df.rdd.getNumPartitions()`` — building
    the RDD lineage on the driver per query-construction call is O(plan)
    work that compounds at scale. Non-file-backed plans (memory streams,
    post-shuffle frames) report zero files and are left untouched: they
    already carry shuffle parallelism."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    buckets: int = 8,
    sorted_by: str | None = None,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sort-ordered) table.

    Bucketing is the pre-shuffle: rows are hash-distributed into ``buckets``
    files by ``key`` at WRITE time, so every subsequent join or aggregation
    on ``key`` between co-bucketed tables runs with ZERO exchange — the
    single biggest repeated-cost eliminator for a 100 TB fact table that is
    joined on the same key daily. Requires saveAsTable (bucket metadata
    lives in the catalog, not the parquet files)."""
    w = df.write.bucketBy(buckets, key)
    if sorted_by:
        w = w.sortBy(sorted_by)
    if path:
        w = w.option("path", path)  # external table (warehouse-free)
    w.format("parquet").mode("overwrite").saveAsTable(name)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: "list[str] | str",
    max_records_per_file: int | None = None,
) -> None:
    """Persist ``df`` as hive-layout partitioned parquet
    (``path/col=value/part-*.parquet``) — the storage-level PRUNING
    complement to ``write_bucketed``'s shuffle elimination. A predicate on
    a partition column never touches non-matching directories at all:
    the scan's PartitionFilters run against directory metadata, so a
    one-day query over a year of 100 TB logs lists ~1/365th of the files
    before reading a byte (asserted in
    test_scale.py::test_partitioned_layout_prunes_directories).

    Partition columns must be LOW cardinality (date, type, tenant) —
    each distinct value is a directory, and small-file explosion from a
    high-cardinality partition key is the classic 100 TB own-goal;
    ``max_records_per_file`` caps the opposite failure (few giant files
    that kill scan parallelism)."""
    cols = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    w = df.write.partitionBy(*cols)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.mode("overwrite").parquet(path)
