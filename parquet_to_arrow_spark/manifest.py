"""Per-partition lineage manifests + codec metrics.

Every encode run writes, next to the data, a manifest table: one row per
chunk with its partition key, codec decisions, raw/encoded byte counts and
row/value counts. The metrics view aggregates it per codec — the numbers the
bench harness and the compression-ratio gate read. This is the engine's
equivalent of Parquet footer metadata, made queryable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MANIFEST_COLUMNS = [
    "chunk_id",
    "pkey",
    "n_rows",
    "n_values",
    "raw_bytes",
    "enc_bytes",
    "tokens_codec",
    "checksum",
]


def manifest_from_encoded(encoded: DataFrame) -> DataFrame:
    """Project the lineage columns (everything but the payload blob)."""
    return encoded.select(*MANIFEST_COLUMNS)


def codec_metrics(manifest: DataFrame) -> DataFrame:
    """Per-codec chunk counts, byte totals and compression ratio."""
    return (
        manifest.groupBy("tokens_codec")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_values").alias("n_values"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        )
        .withColumn(
            "ratio", F.round(F.col("raw_bytes") / F.greatest(F.col("enc_bytes"), F.lit(1)), 4)
        )
        .orderBy("tokens_codec")
    )


def totals(manifest: DataFrame) -> dict:
    row = manifest.agg(
        F.count("*").alias("n_chunks"),
        F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n_rows"),
        F.coalesce(F.sum("n_values"), F.lit(0)).alias("n_values"),
        F.coalesce(F.sum("raw_bytes"), F.lit(0)).alias("raw_bytes"),
        F.coalesce(F.sum("enc_bytes"), F.lit(0)).alias("enc_bytes"),
    ).collect()[0]
    d = row.asDict()
    d["ratio"] = d["raw_bytes"] / max(d["enc_bytes"], 1)
    return d


def column_codecs(encoded: DataFrame) -> DataFrame:
    """Per-chunk, per-column codec lineage extracted from the chunk meta
    (queryable without decoding anything — the Parquet-footer role)."""
    return encoded.select(
        "chunk_id",
        "n_rows",
        F.col("tokens_codec").alias("tokens_main_codec"),
        F.get_json_object("meta", "$.parts.tokens.meta.n_groups").cast("int").alias(
            "token_groups"
        ),
        F.get_json_object("meta", "$.parts.lengths.codec").alias("lengths_codec"),
        F.get_json_object("meta", "$.parts.doc_id.meta.mode").alias("doc_id_mode"),
        F.get_json_object("meta", "$.parts.source.meta.mode").alias("source_mode"),
    )


def write_manifest(manifest: DataFrame, path: str, mode: str = "append") -> None:
    manifest.write.mode(mode).parquet(path)


def group_codec_metrics(encoded: DataFrame) -> DataFrame:
    """Per-GROUP codec lineage: the content-clustered sub-chunks' individual
    codec choices, value counts and encoded bytes, parsed from the chunk
    meta JSON (no decode). This is the finest-grained observability level:
    chunk -> cluster group -> codec -> bytes, aggregated per codec."""
    part_schema = (
        "map<string, struct<codec: string, offset: bigint, length: bigint, n: bigint>>"
    )
    parts = F.from_json(F.get_json_object("meta", "$.parts"), part_schema)
    exploded = encoded.select("chunk_id", F.explode(parts).alias("part", "info"))
    return (
        exploded.filter(F.col("part").rlike("^tokens_g[0-9]+$"))
        .groupBy(F.col("info.codec").alias("codec"))
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("info.n").alias("n_values"),
            F.sum("info.length").alias("enc_bytes"),
        )
        .orderBy("codec")
    )
