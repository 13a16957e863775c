"""Generic table codec: any flat schema round-trips bit-identical, nulls via
the reference's values/validity model (src/parquet-diff.cc:166-174)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pytest

from parquet_to_arrow_spark.table_codec import (
    decode_table_df,
    decode_table_row,
    encode_table_batch,
    encode_table_df,
)

MIXED = pa.record_batch(
    {
        "i8": pa.array([-128, 127, None, 5], type=pa.int8()),
        "i64": pa.array([1, 2**62, None, -1], type=pa.int64()),
        "u32": pa.array([0, 4294967295, None, 7], type=pa.uint32()),
        "u64": pa.array([1, 9223372039002259456, None, 2**64 - 1], type=pa.uint64()),
        "f32": pa.array([1.5, None, float("nan"), -0.0], type=pa.float32()),
        "f64": pa.array([0.12314, 1e52, None, float("inf")], type=pa.float64()),
        "s": pa.array(["x", None, "", "Ω"], type=pa.string()),
        "b": pa.array([True, False, None, True], type=pa.bool_()),
        "ts": pa.array(
            [dt.datetime(2019, 3, 4, 5, 6, 7, 8), None, dt.datetime(1960, 1, 1), dt.datetime(2020, 1, 1)],
            type=pa.timestamp("us"),
        ),
        "d": pa.array([18689, None, -123, 0], type=pa.date32()),
    }
)


def _bit_equal(a: pa.RecordBatch, b: pa.RecordBatch) -> None:
    assert a.schema == b.schema
    for i, name in enumerate(a.schema.names):
        ca, cb = a.column(i), b.column(i)
        for va, vb in zip(ca.to_pylist(), cb.to_pylist()):
            if isinstance(va, float) and isinstance(vb, float) and np.isnan(va):
                assert np.isnan(vb), name
            else:
                assert va == vb, (name, va, vb)


def test_mixed_schema_roundtrip_with_nulls():
    enc = encode_table_batch(MIXED, "c0")
    out = decode_table_row(
        enc.column(4)[0].as_py(), enc.column(5)[0].as_py(), enc.column(6)[0].as_py()
    )
    _bit_equal(MIXED, out)


def test_all_null_and_empty_columns():
    batch = pa.record_batch(
        {
            "x": pa.array([None, None, None], type=pa.int32()),
            "s": pa.array([None, None, None], type=pa.string()),
        }
    )
    enc = encode_table_batch(batch, "c1")
    out = decode_table_row(
        enc.column(4)[0].as_py(), enc.column(5)[0].as_py(), enc.column(6)[0].as_py()
    )
    _bit_equal(batch, out)

    empty = pa.record_batch({"x": pa.array([], type=pa.int64())})
    enc2 = encode_table_batch(empty, "c2")
    out2 = decode_table_row(
        enc2.column(4)[0].as_py(), enc2.column(5)[0].as_py(), enc2.column(6)[0].as_py()
    )
    assert out2.num_rows == 0 and out2.schema == empty.schema


def test_orders_table_roundtrip_spark(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in orders.schema.fields)
    decoded = decode_table_df(encode_table_df(orders), ddl)
    a = orders.exceptAll(decoded)
    b = decoded.exceptAll(orders)
    assert a.count() == 0 and b.count() == 0
    # generic encode compresses relational data too
    from pyspark.sql import functions as F

    row = encode_table_df(orders).agg(
        F.sum("raw_bytes").alias("r"), F.sum("enc_bytes").alias("e")
    ).collect()[0]
    assert row["e"] < row["r"]


def test_media_blob_table_roundtrip_spark(spark):
    """Binary payload columns (the multimodal media shape) round-trip through
    the generic table codec bit-identical — the engine can encode blob
    tables, not just text/numeric ones."""
    from pyspark.sql import functions as F

    from parquet_to_arrow_spark.operators.multimodal import documents_as_wav

    media = documents_as_wav(spark, "/root/testdata/sf0.001").cache()
    ddl = "doc_id bigint, payload binary, media_type string, n_bytes bigint"
    decoded = decode_table_df(encode_table_df(media), ddl)
    j = media.alias("a").join(decoded.alias("b"), "doc_id")
    n_equal = j.filter(
        F.col("a.payload").eqNullSafe(F.col("b.payload"))
        & F.col("a.n_bytes").eqNullSafe(F.col("b.n_bytes"))
    ).count()
    assert n_equal == media.count() == decoded.count()
    media.unpersist()
