"""End-to-end Spark round-trip: synth -> encode -> decode -> bit-identical.

The flagship contract (SURVEY.md §7.5): every row's token array decodes
bit-identical (join on doc_id, null-safe equality) and the encoded size is
at most the Parquet(SNAPPY) size of the same data — the reference's own
fixture compression (reference tests/util.py:73).
"""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from parquet_to_arrow_spark import checkpoint, manifest
from parquet_to_arrow_spark.encode import decode_chunks_df
from parquet_to_arrow_spark.encode import encode_tokens_df
from parquet_to_arrow_spark.sources.synth import synth_tokens_df
from parquet_to_arrow_spark.verify import assert_roundtrip, diff_report

N_ROWS = 4000


@pytest.fixture(scope="module")
def tokens(spark):
    return synth_tokens_df(spark, N_ROWS, avg_tokens=64, n_partitions=8).cache()


def test_synth_is_deterministic(spark):
    a = synth_tokens_df(spark, 500, n_partitions=4)
    b = synth_tokens_df(spark, 500, n_partitions=2)  # different partitioning
    assert diff_report(a, b)["equal"]


def test_fast_path_roundtrip(spark, tokens):
    encoded = encode_tokens_df(tokens).cache()
    decoded = decode_chunks_df(encoded)
    report = assert_roundtrip(tokens, decoded)
    assert report["ok"] == N_ROWS
    encoded.unpersist()


def test_keyed_path_roundtrip(spark, tokens):
    encoded = encode_tokens_df(tokens, by_key=True, n_buckets=16).cache()
    decoded = decode_chunks_df(encoded)
    assert_roundtrip(tokens, decoded)
    pkeys = [r["pkey"] for r in encoded.select("pkey").distinct().collect()]
    assert all(0 <= k < 16 for k in pkeys)
    encoded.unpersist()


def test_file_split_chunk_is_session_arrow_batch(spark, tmp_path):
    """The session's Arrow batch size is the one chunk-size setting: the
    file-split encode reads each file in batches of that many rows."""
    from parquet_to_arrow_spark.sources.io import encode_parquet_dir

    path = str(tmp_path / "one_file")
    synth_tokens_df(spark, 1000, avg_tokens=16, n_partitions=1).write.parquet(path)
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(batch_key)
    spark.conf.set(batch_key, "256")
    try:
        rows = encode_parquet_dir(spark, path).select("chunk_id", "n_rows").collect()
    finally:
        spark.conf.set(batch_key, saved)
    assert [r["n_rows"] for r in sorted(rows)] == [256, 256, 256, 232]


def test_compression_beats_parquet_snappy(spark, tokens, tmp_path):
    pq_dir = str(tmp_path / "ref_parquet")
    tokens.write.mode("overwrite").option("compression", "snappy").parquet(pq_dir)
    parquet_bytes = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(pq_dir, "*.parquet"))
    )

    enc_dir = str(tmp_path / "encoded")
    encoded = encode_tokens_df(tokens)
    encoded.write.mode("overwrite").option("compression", "snappy").parquet(enc_dir)
    encoded_file_bytes = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(enc_dir, "*.parquet"))
    )

    m = manifest.totals(manifest.manifest_from_encoded(spark.read.parquet(enc_dir)))
    assert m["n_rows"] == N_ROWS
    # codec-level bytes beat the raw (plain int32) representation
    assert m["enc_bytes"] < m["raw_bytes"]
    # on-disk encoded file beats Parquet-SNAPPY of the same rows
    assert encoded_file_bytes <= parquet_bytes, (
        f"encoded {encoded_file_bytes} > parquet {parquet_bytes}"
    )


def test_checkpoint_resume(spark, tokens, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    n_buckets = 8
    keyed = checkpoint.with_pkey(tokens, n_buckets)

    # first run: pretend it dies after writing only buckets {0,1,2}
    part1 = encode_tokens_df(
        keyed.filter(F.col("pkey") < 3).drop("pkey"), by_key=True, n_buckets=n_buckets
    )
    part1.write.mode("append").parquet(out)
    checkpoint.mark_done(spark.read.parquet(out), ckpt)

    done = checkpoint.read_done(spark, ckpt)
    assert sorted(r["pkey"] for r in done.collect()) == [0, 1, 2]

    # resume: encode only pending buckets
    todo = checkpoint.pending(keyed, done)
    assert todo.select("pkey").distinct().count() == n_buckets - 3
    part2 = encode_tokens_df(todo.drop("pkey"), by_key=True, n_buckets=n_buckets)
    part2.write.mode("append").parquet(out)
    checkpoint.mark_done(part2, ckpt)

    # after resume: everything decodes, nothing missing or duplicated
    decoded = decode_chunks_df(spark.read.parquet(out))
    assert_roundtrip(tokens, decoded)
    assert checkpoint.pending(keyed, checkpoint.read_done(spark, ckpt)).count() == 0


def test_diff_report_detects_duplicate_rows(spark, tokens):
    """A right side with duplicated keys joins every duplicate as 'ok';
    only the explicit row-count compare catches it (the reference
    parquet-diff fails on row-count mismatch, src/parquet-diff.cc:238-245)."""
    dup = tokens.unionAll(tokens.limit(7))
    rep = diff_report(tokens, dup)
    assert not rep["equal"]
    assert rep["n_left"] == N_ROWS and rep["n_right"] == N_ROWS + 7
    assert rep["missing"] == rep["extra"] == rep["mismatch"] == 0


def test_verify_hashes_detects_duplicates(spark):
    from parquet_to_arrow_spark.sources.io import verify_hashes

    ddl = "doc_id string, n_tok int, tok_hash long"
    left = spark.createDataFrame([("a", 2, 11), ("b", 3, 22)], ddl)
    ok = verify_hashes(left, spark.createDataFrame([("b", 3, 22), ("a", 2, 11)], ddl))
    assert ok["equal"] and ok["n_left"] == ok["n_right"] == 2
    dup = spark.createDataFrame([("a", 2, 11), ("a", 2, 11), ("b", 3, 22)], ddl)
    bad = verify_hashes(left, dup)
    assert not bad["equal"]
    assert bad["n_left"] == 2 and bad["n_right"] == 3
    # exact full-outer-join counts: duplicates join k×k times, null hashes
    # compare null-safely, and a null doc_id never joins, so its rows on
    # both sides are 'extra'
    cases = [
        (
            [("a", 2, 11), ("a", 2, 12), ("b", 3, 22), ("c", 1, 1)],
            [("a", 2, 11), ("a", 2, 13), ("b", 3, 99), ("d", 1, 1)],
            dict(equal=False, n_left=4, n_right=4, ok=1, missing=1, extra=1, mismatch=4),
        ),
        (
            [("a", 2, 11), (None, 1, 1)],
            [("a", 2, 11), (None, 1, 1), ("e", None, None)],
            dict(equal=False, n_left=2, n_right=3, ok=1, missing=0, extra=3, mismatch=0),
        ),
        (
            [("a", None, 5)],
            [("a", None, 5), ("a", 1, 5)],
            dict(equal=False, n_left=1, n_right=2, ok=1, missing=0, extra=0, mismatch=1),
        ),
    ]
    for lrows, rrows, want in cases:
        got = verify_hashes(spark.createDataFrame(lrows, ddl), spark.createDataFrame(rrows, ddl))
        assert got == want, (lrows, rrows, got)


def test_verify_hashes_reads_each_row_once(spark):
    """Each side's hash stage is the expensive part of a verify (a parquet
    scan or a chunk decode in Python): the verdict must read it once."""
    from parquet_to_arrow_spark.sources.io import HASH_SCHEMA_DDL, verify_hashes

    def counted(acc):
        def run(batches):
            for b in batches:
                acc.add(b.num_rows)
                yield b

        return run

    seen = [spark.sparkContext.accumulator(0) for _ in range(2)]
    left, right = (
        spark.range(500)
        .selectExpr("CAST(id AS STRING) AS doc_id", "CAST(id % 7 AS INT) AS n_tok", "id AS tok_hash")
        .mapInArrow(counted(acc), HASH_SCHEMA_DDL)
        for acc in seen
    )
    assert verify_hashes(left, right)["equal"]
    assert [acc.value for acc in seen] == [500, 500]


def test_read_done_missing_path(spark, tmp_path):
    # spark.read probe (not driver-local os.listdir) so resume works on any
    # Hadoop-compatible filesystem; missing path == nothing done
    done = checkpoint.read_done(spark, str(tmp_path / "never_written"))
    assert done.columns == ["pkey"]
    assert done.schema.simpleString() == "struct<pkey:int>"
    assert done.count() == 0


def test_empty_input(spark):
    empty = synth_tokens_df(spark, 0, n_partitions=2)
    encoded = encode_tokens_df(empty)
    assert encoded.count() == 0
    assert decode_chunks_df(encoded).count() == 0


def test_null_tokens_rejected(spark):
    from pyspark.sql import Row
    import pyspark

    bad = spark.createDataFrame(
        [Row(doc_id="a", tokens=[1, 2], n_tok=2, source="web"),
         Row(doc_id="b", tokens=None, n_tok=0, source="web")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    with pytest.raises(Exception, match="null"):
        encode_tokens_df(bad).collect()


def test_decode_projection_pushdown(spark, tokens):
    encoded = encode_tokens_df(tokens).cache()
    pruned = decode_chunks_df(encoded, columns=("doc_id", "n_tok"))
    assert pruned.columns == ["doc_id", "n_tok"]
    assert pruned.count() == N_ROWS
    full = decode_chunks_df(encoded).select("doc_id", "n_tok")
    assert diff_report(full, pruned, columns=("n_tok",))["equal"]
    encoded.unpersist()


def test_column_codec_lineage(spark, tokens):
    encoded = encode_tokens_df(tokens)
    lineage = manifest.column_codecs(encoded).collect()
    assert len(lineage) > 0
    for r in lineage:
        assert r["token_groups"] >= 1
        assert r["lengths_codec"] in {"plain", "bitpack", "for", "rle", "dict"}
        assert r["doc_id_mode"] in {"dict", "flat"}
        assert r["source_mode"] in {"dict", "flat"}


def test_group_codec_metrics(spark, tokens):
    from parquet_to_arrow_spark.encode import encode_tokens_df
    from parquet_to_arrow_spark.manifest import group_codec_metrics, manifest_from_encoded, totals

    encoded = encode_tokens_df(tokens).cache()
    rows = group_codec_metrics(encoded).collect()
    assert rows, "expected per-group lineage"
    assert {r["codec"] for r in rows} <= {"plain", "bitpack", "for", "rle", "dict"}
    # group-level values roll up to the chunk totals exactly
    t = totals(manifest_from_encoded(encoded))
    assert sum(r["n_values"] for r in rows) == t["n_values"]
    assert sum(r["enc_bytes"] for r in rows) <= t["enc_bytes"]
    encoded.unpersist()


def test_qualify_path_reattaches_scheme_and_authority():
    """pyarrow's FileSystem.from_uri strips the scheme from FileInfo.path;
    executor-bound paths must get it back or remote files resolve locally."""
    from parquet_to_arrow_spark.sources.io import qualify_path

    assert qualify_path("/tmp/x.parquet", "/tmp/x.parquet") == "/tmp/x.parquet"
    assert (
        qualify_path("bucket/key/f.parquet", "s3://bucket/key")
        == "s3://bucket/key/f.parquet"
    )
    assert (
        qualify_path("/user/x/f.parquet", "hdfs://nn:8020/user/x")
        == "hdfs://nn:8020/user/x/f.parquet"
    )
