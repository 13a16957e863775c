"""Engine-level queries over the driver's oracle tables: the codec pipeline
exercised on REAL data, with SQL-identity oracles.

A round-trip query (encode -> decode inside one Arrow batch, return decoded
values) has the identity SELECT as its DuckDB oracle — if any codec bit
breaks, the driver's value-hash catches it. This is the reference's
round-trip fixture strategy (reference tests/test_parquet_to_arrow.py:40-177)
promoted to the correctness gate.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..column import (
    _utf8_parts,
    decode_int_array,
    decode_string_array,
    encode_int_array,
    encode_string_array,
)
from ..sources import io as pio


def tokenize_documents(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """documents -> the engine's input shape
    (doc_id string, tokens array<int32>, n_tok int32, source string)
    via deterministic byte-level tokenization (UTF-8 code units), fully
    vectorized on Arrow buffers. ``spread=True`` rebalances a few-split scan
    across the session's cores first (see ``sources.io.spread``) — only for
    callers whose results don't depend on chunk boundaries."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "source"
    )
    if spread:
        docs = pio.spread(docs)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            text = batch.column(1)
            blob, _ = _utf8_parts(text)
            # codepoint tokenizer: one whole-blob UTF-8 -> UTF-32 decode
            # (C-speed, no per-row Python); token = Unicode codepoint
            flat = np.frombuffer(blob.decode("utf-8").encode("utf-32-le"), dtype=np.int32)
            lengths = pa.compute.utf8_length(text).to_numpy(zero_copy_only=False).astype(np.int64)
            local = np.zeros(len(text) + 1, dtype=np.int64)
            np.cumsum(lengths, out=local[1:])
            tokens = pa.ListArray.from_arrays(
                pa.array(local.astype(np.int32)), pa.array(flat, type=pa.int32())
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), tokens, pa.array(lengths.astype(np.int32)), batch.column(2)],
                names=["doc_id", "tokens", "n_tok", "source"],
            )

    return docs.mapInArrow(run, "doc_id string, tokens array<int>, n_tok int, source string")


def roundtrip_documents_text(spark, sf_dir) -> DataFrame:
    """text column through the string codec stack (dict/FSST/flat) and back;
    oracle = identity SELECT. Spread across cores: FSST encode is the
    costliest per-byte kernel in the engine and the documents scan packs
    into ~2 splits (guide §2.5 input-skew fix; identity output is
    partitioning-independent)."""
    docs = pio.spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            text = batch.column(1)
            enc = encode_string_array(text)
            out = decode_string_array(enc["meta"], enc["payload"])
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), out.cast(pa.string())], names=["doc_id", "text"]
            )

    return docs.mapInArrow(run, "doc_id long, text string")


def roundtrip_lineitem_ints(spark, sf_dir) -> DataFrame:
    """Four int64/int32 lineitem columns through the int codec stack
    (selector chooses per chunk) and back; oracle = identity SELECT.

    Scan shape: the engine's file-split scan (``sources.io.files_df`` +
    ``scan_files``). Tasks receive lineitem file paths and stream each file
    in 8192-row batches with pyarrow INSIDE the workers, so the input
    crosses the JVM->Python boundary zero times and only the decoded result
    crosses back. The plan has no Exchange and no Python-built path frame, and the
    driver reads no footer. A Spark scan + mapInArrow pays the double Arrow
    conversion, which dominated the query (identity mapInArrow alone:
    1.75 s vs 0.3 s scan noop at sf1.0)."""
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for _, _, batch in pio.scan_files(batches, cols, batch_size=8192):
            arrays = []
            for col in batch.columns:
                vals = col.to_numpy(zero_copy_only=False)
                enc = encode_int_array(vals)
                out = decode_int_array(enc["codec"], enc["meta"], enc["payload"], len(vals))
                arrays.append(pa.array(out, type=col.type))
            yield pa.RecordBatch.from_arrays(arrays, names=cols)

    return pio.files_df(spark, f"{sf_dir}/lineitem.parquet").mapInArrow(
        run, "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int"
    )


def roundtrip_tokenized_documents(spark, sf_dir) -> DataFrame:
    """The flagship path on real data: tokenize -> full chunk encode ->
    decode -> return (doc_id, n_tok, tok_checksum); oracle = the same
    checksum computed directly in SQL (sum of UTF-8 code units)."""
    from ..encode import decode_chunks_df, encode_tokens_df

    tokens = tokenize_documents(spark, sf_dir, spread=True)
    decoded = decode_chunks_df(encode_tokens_df(tokens))
    return decoded.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tok").cast("long").alias("n_tok"),
        F.aggregate(
            F.col("tokens"), F.lit(0).cast("long"), lambda acc, t: acc + t.cast("long")
        ).alias("tok_checksum"),
    )


def roundtrip_orders_table(spark, sf_dir) -> DataFrame:
    """The whole orders table (ints, strings, double, timestamp) through the
    GENERIC table codec (values/validity model) and back; identity oracle."""
    from ..table_codec import decode_table_df, encode_table_df

    # NOT spread: measured sf1.0 — repartitioning the 9-column row shuffle
    # (strings+timestamps) costs more than the extra codec parallelism wins
    # (2.2-3.0 s spread vs 1.9 s on the scan's natural 7 splits); the
    # table codec kernels are cheap relative to the row shuffle, unlike FSST
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in orders.schema.fields)
    return decode_table_df(encode_table_df(orders), ddl)


def render_iso_timestamps(spark, sf_dir) -> DataFrame:
    """F3: shortest ISO-8601 UTC rendering of event timestamps (JVM-side)."""
    from ..functions.render import iso8601_shortest

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select("event_id", iso8601_shortest(F.col("ts")).alias("ts_iso"))


def render_iso_ms(spark, sf_dir) -> DataFrame:
    """F3 at millisecond unit: the reference renders ms-precision parquet
    timestamps with the same shortest-ISO truncation rules
    (src/parquet-to-text-stream.cc:372-440; ms golden
    tests/test_parquet_to_text_stream.py:345-372)."""
    from ..functions.render import iso8601_shortest

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ms = F.date_trunc("millisecond", F.col("ts"))
    return ev.select("event_id", iso8601_shortest(ms).alias("ts_iso_ms"))


def render_iso_ns(spark, sf_dir) -> DataFrame:
    """F3 at nanosecond unit: int64 epoch-ns (the shape Spark reads
    TIMESTAMP(NANOS) parquet as, under nanosAsLong) rendered with 9-digit
    shortest fractions (reference src/parquet-to-text-stream.cc:404-435).
    The sub-us digits are synthesized deterministically from event_id so the
    3/6/9-digit truncation branches are all exercised."""
    from ..functions.render import iso8601_shortest_ns

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # testdata parquet is isAdjustedToUTC=false -> TimestampNTZ; the cast to
    # (UTC-session) timestamp is instant-preserving
    ns = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000) + F.pmod(
        F.col("event_id"), F.lit(1000)
    )
    return ev.select("event_id", iso8601_shortest_ns(ns).alias("ts_iso_ns"))


def render_uints(spark, sf_dir) -> DataFrame:
    """F5: unsigned reinterpret of signed physical storage at print time
    (reference src/parquet-to-text-stream.cc:203-204, 712-719 — the
    9223372039002259456 round-trip). Mixed-sign int64/int32 values derived
    deterministically from lineitem keys render as the uint64/uint32
    sharing their bits."""
    from ..functions.render import uint32_reinterpret_str, uint64_reinterpret_str

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    v64 = (F.col("l_partkey").cast("long") - F.col("l_orderkey")) * F.lit(2654435761)
    x = F.col("l_orderkey") * F.lit(7919) + F.col("l_partkey")
    v32 = (F.pmod(x, F.lit(4294967296)) - F.lit(2147483648)).cast("int")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        uint64_reinterpret_str(v64).alias("u64_str"),
        uint32_reinterpret_str(v32).alias("u32_str"),
    )


def render_dates(spark, sf_dir) -> DataFrame:
    """F4: yyyy-MM-dd date rendering of order dates."""
    from ..functions.render import date_ymd

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return o.select("o_orderkey", date_ymd(F.col("o_orderdate")).alias("o_date"))


def render_csv_documents(spark, sf_dir) -> DataFrame:
    """F6/S6: RFC-4180 record rendering of (doc_id, text) — quote iff needed,
    double-quote escaping."""
    from ..functions.render import csv_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return csv_lines(docs, ["doc_id", "text"])


def render_json_documents(spark, sf_dir) -> DataFrame:
    """F7/S7: one JSON object per document row ({doc_id, text}), nulls kept,
    control chars escaped (reference src/parquet-to-text-stream.cc:510-576).
    Spark's Jackson writer and DuckDB's yyjson agree byte-for-byte on the
    full escape table (\\u0000-style control chars incl. uppercase hex,
    \\b \\t \\n \\f \\r short forms, quote/backslash, unescaped '/', raw
    UTF-8 above ASCII) — probed explicitly, so the oracle is exact."""
    from ..functions.render import json_objects

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return json_objects(docs, ["doc_id", "text"])


def render_ecma_doubles(spark, sf_dir) -> DataFrame:
    """F1: ECMAScript shortest round-trip rendering of o_totalprice
    (vectorized pandas UDF)."""
    from ..functions.render import ecma_double_str

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return o.select("o_orderkey", ecma_double_str(F.col("o_totalprice")).alias("price_str"))


def codec_metrics_tokenized(spark, sf_dir) -> DataFrame:
    """Per-codec metrics of encoding the tokenized documents table
    (rows-only check: codec choice isn't SQL-expressible)."""
    from ..encode import encode_tokens_df
    from ..manifest import codec_metrics, manifest_from_encoded

    tokens = tokenize_documents(spark, sf_dir)
    return codec_metrics(manifest_from_encoded(encode_tokens_df(tokens)))


def token_vocab_stats(spark, sf_dir, k: int = 100) -> DataFrame:
    """Top-k vocabulary histogram over the tokenized corpus — the canonical
    training-data aggregation, computed the engine's fast-path way: token
    arrays NEVER become JVM rows. Each Arrow batch is tokenized and
    np.unique-counted inside mapInArrow; only vocabulary-sized
    (token, partial count) rows cross the boundary, one small shuffle sums
    them, then a deterministic top-k. At 10^12 sequences the shuffle volume
    is O(tasks x vocab), independent of corpus length."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            blob, _ = _utf8_parts(batch.column(0))
            flat = np.frombuffer(blob.decode("utf-8").encode("utf-32-le"), dtype=np.int32)
            uniq, counts = np.unique(flat, return_counts=True)
            yield pa.RecordBatch.from_arrays(
                [pa.array(uniq, type=pa.int32()), pa.array(counts, type=pa.int64())],
                names=["token", "n"],
            )

    partials = docs.mapInArrow(run, "token int, n long")
    return (
        partials.groupBy("token")
        .agg(F.sum("n").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(k)
    )


def group_codec_metrics_tokenized(spark, sf_dir) -> DataFrame:
    """Per-cluster-group codec metrics of the tokenized documents table
    (rows-only: codec choice isn't SQL-expressible) — the finest lineage
    level: chunk -> content-cluster group -> codec -> bytes."""
    from ..encode import encode_tokens_df
    from ..manifest import group_codec_metrics

    return group_codec_metrics(encode_tokens_df(tokenize_documents(spark, sf_dir)))
