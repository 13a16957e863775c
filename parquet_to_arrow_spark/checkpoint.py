"""Checkpoint/resume for the keyed encode path.

The job is resumable from a checkpoint table keyed by partition bucket
(``pkey``): after each successful bucket write the pkey is recorded; a
restart anti-joins pending buckets against the checkpoint (SURVEY.md §2.3 —
left anti join) and only encodes what's missing. The reference's analogue is
its row-range skip that never decodes skipped rows
(src/parquet-to-text-stream.cc:146-159): here "skip" is partition pruning by
key, which Spark pushes into the scan.

Storage is a plain parquet directory (Iceberg's jars are not in this image;
with Iceberg this becomes an ACID table — see sources/io.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.errors import AnalysisException

from .session import empty_df


def read_done(spark: SparkSession, path: str) -> DataFrame:
    """DataFrame[pkey int] of completed buckets (empty if no checkpoint).

    Probes via ``spark.read`` rather than the driver's local filesystem so
    resume works on any Hadoop-compatible path (HDFS/S3) — a missing or
    empty checkpoint raises AnalysisException (PATH_NOT_FOUND /
    UNABLE_TO_INFER_SCHEMA) and means "nothing done yet".
    """
    try:
        return spark.read.parquet(path).select("pkey").distinct()
    except AnalysisException:
        return empty_df(spark, "pkey int")


def mark_done(encoded_written: DataFrame, path: str) -> None:
    """Record the pkeys present in a successfully-written encode output."""
    encoded_written.select("pkey").distinct().write.mode("append").parquet(path)


def pending(tokens_with_pkey: DataFrame, done: DataFrame) -> DataFrame:
    """Rows whose bucket is not yet checkpointed (broadcast anti-join —
    the checkpoint side is tiny: one row per bucket)."""
    return tokens_with_pkey.join(F.broadcast(done), on="pkey", how="left_anti")


def with_pkey(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "pkey", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")
    )
