"""Sources and sinks.

The reference loads full MongoDB collections into DataFrames
(PageRank_Spark_v5.py:52-58, YoutubeNetworkAgg_Final.py:60-66) and
materialises job results as JSON cache files (run_pagerank_job.py:143-146,
run_netagg_job.py:198-221).  The new engine is storage-agnostic behind
``load_table``: Parquet is the primary format (columnar, predicate/projection
pushdown, splittable -- the right at-rest layout for 100 TB), and the JSON
"materialized view" sink is kept as an artifact writer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one benchmark table (S5 analog: full-collection scan -> DataFrame).

    Plain ``spark.read.parquet``: Catalyst pushes filters and prunes columns
    into the scan, which replaces the reference's manual
    ``.select("_id","related")`` pruning (PageRank_Spark_v5.py:51-57).
    """
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the events table, normalizing its nanosecond timestamps.

    The synthetic events parquet stores ``ts`` as TIMESTAMP(NANOS).  How
    Spark surfaces that depends on version: older readers reject it unless
    ``nanosAsLong`` maps it to raw int64; Spark >= 4.1 reads it natively as
    TIMESTAMP_NTZ floored to microseconds.  Normalize BOTH arrivals to a
    session-tz (UTC) microsecond TimestampType so every downstream operator
    and oracle sees identical values:

    - int64 nanos -> ``timestamp_micros(ts DIV 1000)`` (integer ``DIV``; a
      double division would lose precision above 2^53 ns),
    - TIMESTAMP_NTZ -> cast to TIMESTAMP (wall clock reinterpreted in the
      session's UTC zone -- value-identical to the nanos floor above).
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = dict(df.dtypes)["ts"]
    if ts_type in ("bigint", "long"):
        return df.withColumn("ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def write_json_artifact(df: DataFrame, path: str) -> None:
    """JSON cache sink (S9): the reference's materialized-view layer.

    ``coalesce(1)`` mirrors the reference's single-file caches; drop it for
    large outputs.
    """
    df.coalesce(1).write.mode("overwrite").json(path)


def read_json_artifact(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """JSON cache source (S10): the reference's Phase-2 GUI reads its cache
    files back for interactive serving (guiV5.py:66-78,108-119); here that
    round-trip is spark.read.json over the artifact directory.

    ``schema`` is the writing job's schema (a DDL string for the reference
    caches, declared in ``jobs.ARTIFACTS``), and it is required: Spark's
    JSON writer drops null fields, so an inferred schema loses every column
    that is null in all rows (an empty artifact infers zero columns), and
    inference is an extra job over the files on every read."""
    return spark.read.schema(schema).json(path)


def write_jsonl(df: DataFrame, path: str, n_files: int = 8) -> None:
    """JSONL corpus sink: newline-delimited JSON, the lingua franca of
    LLM-training corpora (one doc per line, shardable, streamable).
    ``n_files`` shards for parallel re-read; Spark's json writer IS JSONL
    (one object per line)."""
    df.repartition(n_files).write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSONL corpus source with an EXPLICIT schema (inference at 100 TB
    means a full extra pass over the data)."""
    return spark.read.schema(schema).json(path)


def compact_parquet(spark: SparkSession, src_path: str, dst_path: str, n_files: int, sort_col: str) -> None:
    """Small-file compaction (the OPTIMIZE primitive): rewrite a
    many-small-files parquet directory as ``n_files`` range-partitioned,
    internally sorted files.  Range partitioning on ``sort_col`` gives
    both balanced file sizes AND tight per-file min/max on the sort
    column (scan pruning), vs. coalesce() which just glues adjacent
    partitions.  At 100 TB this is the nightly job that keeps file counts
    (and thus driver planning time + open-file overhead) bounded."""
    df = spark.read.parquet(src_path)
    df.repartitionByRange(n_files, F.col(sort_col)).sortWithinPartitions(sort_col).write.mode(
        "overwrite"
    ).parquet(dst_path)


def write_csv(df: DataFrame, path: str, n_files: int = 8) -> None:
    """CSV interchange sink, configured for LOSSLESS round trips of free
    text: quoteAll (so an empty string is written as "" and never
    collapses into the null representation), quote-doubling escape (the
    RFC-4180 convention both Spark and every spreadsheet agree on), and an
    explicit out-of-band nullValue token.  Embedded newlines/commas/quotes
    in document text all survive -- verified, not assumed (driver query
    v4 fingerprints the round trip)."""
    (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .option("escape", '"')
        .option("nullValue", "__csvnull__")
        .csv(path)
    )


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """CSV interchange source: EXPLICIT schema (inference is a full extra
    pass at 100 TB), multiLine for quoted embedded newlines, and the same
    escape/null conventions as :func:`write_csv`.  multiLine disables
    newline-based file splitting, so shard parallelism comes from the
    writer's ``n_files``, not intra-file splits -- the standard trade-off
    for quoted-newline CSV."""
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .option("nullValue", "__csvnull__")
        .csv(path)
    )


def write_orc(df: DataFrame, path: str, n_files: int = 8) -> None:
    """ORC interchange sink (zlib, Spark's built-in columnar alternative
    to parquet -- the Hive-ecosystem handoff format).  Columnar with
    per-stripe min/max indexes, so a reader prunes like parquet; no
    text-escaping concerns (binary format), round-trip verified by
    driver query v6 rather than assumed."""
    df.repartition(n_files).write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """ORC interchange source.  Schema is optional (ORC embeds it in the
    file footer, unlike CSV/JSONL where omitting it costs an inference
    pass); passing one still pins reader expectations for contract
    stability."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def export_sharded(df: DataFrame, shard_col: str, path: str) -> None:
    """Training-data export: hive-partitioned parquet sharded on a
    PRE-COMPUTED deterministic column (hash of the stable id -- never
    rand() or partition index, so the shard assignment is a pure function
    of the data and any consumer or auditor can recompute it).  One
    shuffle co-locates each shard into one file; partition pruning then
    serves shard-addressed reads (curriculum phases, worker splits)
    without scanning the rest."""
    (
        df.repartition(F.col(shard_col))
        .write.mode("overwrite")
        .partitionBy(shard_col)
        .parquet(path)
    )
