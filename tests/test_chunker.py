"""Skew handling: salted repartition + adaptive coalescing + checksums."""

from __future__ import annotations

import json

import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from parquet_to_arrow_spark.chunker import encode_skew_aware, plan_buckets, with_salted_pkey
from parquet_to_arrow_spark.encode import decode_chunks_df
from parquet_to_arrow_spark.encode import decode_chunk_row, encode_tokens_df
from parquet_to_arrow_spark.sources.synth import synth_tokens_df
from parquet_to_arrow_spark.verify import assert_roundtrip


@pytest.fixture(scope="module")
def skewed(spark):
    # force 90%+ skew: remap most sources onto "web"
    base = synth_tokens_df(spark, 6000, avg_tokens=32, n_partitions=8)
    return base.withColumn(
        "source",
        F.when(F.col("source").isin("web", "books", "code", "wiki"), "web").otherwise(
            F.col("source")
        ),
    ).cache()


def test_plan_salts_hot_and_coalesces_tiny(spark, skewed):
    plan = plan_buckets(skewed, n_buckets=32)
    hot = plan["web"]
    assert hot[1] >= 16, f"hot source should be salted wide, got {hot}"
    tiny = [v for k, v in plan.items() if k not in ("web", "__n_buckets__")]
    assert all(s == 1 for _, s in tiny)


def test_salted_buckets_are_balanced(spark, skewed):
    plan = plan_buckets(skewed, n_buckets=32)
    keyed = with_salted_pkey(skewed, plan)
    sizes = [r["count"] for r in keyed.groupBy("pkey").count().collect()]
    assert max(sizes) < 4 * (sum(sizes) / len(sizes)), (
        f"bucket skew too high: max={max(sizes)} sizes={sorted(sizes)[-5:]}"
    )


def test_skew_aware_roundtrip(spark, skewed):
    encoded = encode_skew_aware(skewed, n_buckets=32)
    assert_roundtrip(skewed, decode_chunks_df(encoded))


def test_checksum_catches_payload_corruption(spark):
    tokens = synth_tokens_df(spark, 300, n_partitions=1)
    row = encode_tokens_df(tokens).collect()[0]
    # clean decode passes the integrity check
    decode_chunk_row(row["meta"], row["payload"], row["n_rows"], row["checksum"])
    # flip bytes inside the tokens payload region -> must raise
    tampered = bytearray(row["payload"])
    tampered[len(tampered) // 2] ^= 0xFF
    with pytest.raises((ValueError, Exception)):
        batch = decode_chunk_row(row["meta"], bytes(tampered), row["n_rows"], row["checksum"])
        # if structure survived, the checksum must not
        raise AssertionError(f"tamper undetected: {batch.num_rows}")


def test_decode_chunks_df_fails_on_tampered_chunk(spark):
    """The DataFrame decode verifies every chunk: one chunk whose token
    payload was altered after encode fails the job with the checksum error."""
    encoded = encode_tokens_df(synth_tokens_df(spark, 600, n_partitions=2))
    rows = [r.asDict() for r in encoded.orderBy("chunk_id").collect()]
    assert len(rows) >= 2
    assert decode_chunks_df(spark.createDataFrame(rows, encoded.schema)).count() == 600

    # flip one bit of the token parts, keeping the chunk decodable
    row = rows[0]
    parts = json.loads(row["meta"])["parts"]
    token_bytes = [
        p["offset"] + i for k, p in parts.items() if k.startswith("tokens_g") for i in range(p["length"])
    ]
    for pos in token_bytes:
        tampered = bytearray(row["payload"])
        tampered[pos] ^= 0x01
        try:
            decode_chunk_row(row["meta"], bytes(tampered), row["n_rows"], row["checksum"])
        except Exception as e:  # other flips may break the structure first
            if "checksum mismatch" in str(e):
                break
    else:
        pytest.fail("no single-bit payload change reaches the checksum check")
    rows[0] = dict(row, payload=bytes(tampered))
    frame = spark.createDataFrame(rows, encoded.schema)
    with pytest.raises(Exception, match="chunk checksum mismatch"):
        decode_chunks_df(frame).collect()


def test_compact_small_chunks(spark):
    from parquet_to_arrow_spark.chunker import compact_small_chunks

    tokens = synth_tokens_df(spark, 4000, avg_tokens=32, n_partitions=8).cache()
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(batch_key)
    spark.conf.set(batch_key, "128")  # the session's batch is the chunk size
    try:
        tiny = encode_tokens_df(tokens, by_key=True, n_buckets=8).cache()
        n_before = tiny.count()
    finally:
        spark.conf.set(batch_key, saved)
    compacted = compact_small_chunks(tiny, min_rows=1024, target_rows=2048).cache()
    n_after = compacted.count()
    assert n_after < n_before / 4, (n_before, n_after)
    assert compacted.agg(F.sum("n_rows")).collect()[0][0] == 4000
    assert_roundtrip(tokens, decode_chunks_df(compacted))
    tiny.unpersist(); compacted.unpersist(); tokens.unpersist()
