"""Incremental (Structured Streaming) encode: files landing later are
picked up; files already processed are not re-encoded."""

from __future__ import annotations

from parquet_to_arrow_spark.encode import decode_chunks_df
from parquet_to_arrow_spark.sources.synth import synth_tokens_df
from parquet_to_arrow_spark.streaming.incremental import run_incremental_encode
from parquet_to_arrow_spark.verify import assert_roundtrip


def test_incremental_encode_picks_up_new_files(spark, tmp_path):
    land = str(tmp_path / "landing")
    out = str(tmp_path / "encoded")
    ckpt = str(tmp_path / "stream_ckpt")

    first = synth_tokens_df(spark, 500, n_partitions=2)
    first.write.mode("append").parquet(land)
    run_incremental_encode(spark, land, out, ckpt)
    n1 = spark.read.parquet(out).agg({"n_rows": "sum"}).collect()[0][0]
    assert n1 == 500

    # second wave lands (rows 500..799 of the deterministic table — any
    # slice is reproducible independently); only the delta is processed
    second = synth_tokens_df(spark, 800, n_partitions=2).filter(
        "doc_id >= 'doc-000000000500'"
    )
    second.write.mode("append").parquet(land)
    run_incremental_encode(spark, land, out, ckpt)
    n2 = spark.read.parquet(out).agg({"n_rows": "sum"}).collect()[0][0]
    assert n2 == 800

    decoded = decode_chunks_df(spark.read.parquet(out))
    assert_roundtrip(synth_tokens_df(spark, 800, n_partitions=2), decoded)


def test_streaming_windowed_metrics(spark, tmp_path):
    from parquet_to_arrow_spark.streaming.incremental import streaming_encode_metrics

    land = str(tmp_path / "landing2")
    synth_tokens_df(spark, 300, n_partitions=2).write.parquet(land)
    q = streaming_encode_metrics(spark, land, str(tmp_path / "ck2"), queryName="m1")
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM m1").collect()
    assert sum(r["n_docs"] for r in rows) == 300
    assert {r["source"] for r in rows} <= {"web", "books", "code", "wiki", "forum"}


def test_iceberg_fallback_roundtrip(spark, tmp_path):
    from parquet_to_arrow_spark.sources.iceberg import append, read_table

    df = synth_tokens_df(spark, 100, n_partitions=1)
    append(df, str(tmp_path / "tbl"))
    assert read_table(spark, str(tmp_path / "tbl")).count() == 100


def test_streaming_windowed_counts_matches_batch(spark):
    """The watermarked window aggregation drained via availableNow must equal
    the batch groupBy of the same data — the exactness guarantee the driver's
    oracle also checks."""
    from pyspark.sql import functions as F

    from parquet_to_arrow_spark.streaming.incremental import streaming_windowed_counts

    sf = "/root/testdata/sf0.001"
    got = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in streaming_windowed_counts(spark, sf).collect()
    }
    ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    want = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "sum_value")
        .collect()
    }
    assert got == want and len(got) > 0


def test_stateful_user_counts_accumulate_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: state survives micro-batch boundaries — the
    last update per user equals the batch aggregate over all files."""
    from pyspark.sql import functions as F

    from parquet_to_arrow_spark.streaming.incremental import stateful_user_counts

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    land = str(tmp_path / "ev_land")
    ev.repartition(4).write.parquet(land)  # 4 files -> 4 micro-batches

    updates, _ = stateful_user_counts(
        spark, land, str(tmp_path / "state_ckpt"), ev.schema, files_per_trigger=1
    )
    rows = updates.collect()
    assert len(rows) > 0
    final = {}
    for r in rows:  # counts are monotone; the max row is the last update
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["sum_value"])
    want = {
        r["user_id"]: (r["n"], r["s"])
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(final) == set(want)
    for uid, (n, s) in want.items():
        gn, gs = final[uid]
        assert gn == n and abs(gs - s) < 1e-6 * max(abs(s), 1), uid
    # state genuinely crossed batches: some user got >1 update row
    from collections import Counter

    per_user_updates = Counter(r["user_id"] for r in rows)
    assert max(per_user_updates.values()) > 1


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """Duplicates spread ACROSS micro-batches must still fold to the batch
    groupBy answer — state survival, not per-batch dedup."""
    from parquet_to_arrow_spark.streaming.incremental import streaming_exact_dedup

    sf = str(tmp_path / "sfdup")
    docs_dir = f"{sf}/documents.parquet"
    ddl = "doc_id long, text string, lang string, source string, n_chars long"
    waves = [
        [(4, "aaa"), (5, "bbb")],
        [(2, "aaa"), (6, "ccc")],
        [(1, "bbb"), (3, "aaa")],
    ]
    for rows in waves:  # one file per wave -> one micro-batch per file
        spark.createDataFrame(
            [(i, t, "en", "unit", len(t)) for i, t in rows], ddl
        ).coalesce(1).write.mode("append").parquet(docs_dir)

    out = {r["keep_id"]: r["n_copies"] for r in streaming_exact_dedup(spark, sf).collect()}
    assert out == {2: 3, 1: 2, 6: 1}  # min doc_id wins, copies counted globally


def test_incremental_encode_to_iceberg_exactly_once(spark, tmp_path):
    """Micro-batches land as snapshots; draining with no new data adds no
    snapshot; a FRESH stream checkpoint replays old epoch ids and the
    replace_on='batch' commits overwrite instead of double-appending — the
    table always equals the landing directory exactly."""
    from parquet_to_arrow_spark.encode import decode_chunks_df
    from parquet_to_arrow_spark.sources import iceberg_meta as ice
    from parquet_to_arrow_spark.sources.synth import synth_tokens_df
    from parquet_to_arrow_spark.streaming.incremental import incremental_encode_to_iceberg
    from parquet_to_arrow_spark.verify import diff_report

    land = str(tmp_path / "landing")
    table = str(tmp_path / "table")
    ck = str(tmp_path / "ck")
    first = synth_tokens_df(spark, 400, n_partitions=2).cache()
    first.write.mode("append").parquet(land)

    incremental_encode_to_iceberg(spark, land, table, ck).awaitTermination()
    n1 = len(ice.snapshots(table))
    assert n1 >= 1
    dec = decode_chunks_df(ice.read_snapshot(spark, table))
    assert diff_report(first, dec)["equal"]

    # drain again, nothing new: no snapshot added
    incremental_encode_to_iceberg(spark, land, table, ck).awaitTermination()
    assert len(ice.snapshots(table)) == n1

    # more data, same checkpoint: appended exactly once
    # rows are deterministic per row id, so synth(600) extends synth(400)
    second = (synth_tokens_df(spark, 600, n_partitions=1)
              .filter("doc_id >= 'doc-000000000400'").cache())
    second.write.mode("append").parquet(land)
    incremental_encode_to_iceberg(spark, land, table, ck).awaitTermination()
    total = first.union(second)
    assert diff_report(total, decode_chunks_df(ice.read_snapshot(spark, table)))["equal"]

    # lost stream checkpoint: epoch ids restart at 0 and all history
    # re-batches under them — the recorded batch ids make every replayed
    # epoch a no-op, so the table keeps its exact state (not 2x)
    import shutil

    shutil.rmtree(ck)
    n_before = len(ice.snapshots(table))
    incremental_encode_to_iceberg(spark, land, table, ck).awaitTermination()
    assert len(ice.snapshots(table)) == n_before
    rep = diff_report(total, decode_chunks_df(ice.read_snapshot(spark, table)))
    assert rep["equal"], rep
    first.unpersist(); second.unpersist()


def test_streaming_dedup_state_ttl_evicts_idle_keys(spark, tmp_path):
    """State is BOUNDED by a processing-time TTL: a key idle past the
    horizon is evicted at the next micro-batch, so a later duplicate
    restarts its count (dedup horizon = TTL) instead of accumulating —
    proof the entry left the store, not just stopped emitting."""
    import time

    from parquet_to_arrow_spark.streaming.incremental import streaming_exact_dedup

    sf = str(tmp_path / "sfttl")
    ckpt = str(tmp_path / "ckpt")
    docs_dir = f"{sf}/documents.parquet"
    ddl = "doc_id long, text string, lang string, source string, n_chars long"

    def land(rows):
        spark.createDataFrame(
            [(i, t, "en", "unit", len(t)) for i, t in rows], ddl
        ).coalesce(1).write.mode("append").parquet(docs_dir)

    land([(1, "yyy"), (2, "xxx")])
    run1 = {r["keep_id"]: r["n_copies"] for r in streaming_exact_dedup(
        spark, sf, state_ttl_ms=500, checkpoint_dir=ckpt).collect()}
    assert run1 == {1: 1, 2: 1}

    time.sleep(1.2)  # let both keys pass the TTL horizon
    land([(3, "zzz")])  # triggers the batch in which the timeouts fire
    run2 = {r["keep_id"]: r["n_copies"] for r in streaming_exact_dedup(
        spark, sf, state_ttl_ms=500, checkpoint_dir=ckpt).collect()}
    assert run2 == {3: 1}  # timed-out keys emit nothing, only the new key

    land([(4, "yyy")])  # the evicted key's text returns
    run3 = {r["keep_id"]: r["n_copies"] for r in streaming_exact_dedup(
        spark, sf, state_ttl_ms=500, checkpoint_dir=ckpt).collect()}
    # count RESTARTED at 1 under the new keeper: the old entry is gone
    # (without eviction this would be keep_id 1, n_copies 2)
    assert run3.get(4) == 1 and 1 not in run3


def test_streaming_upsert_to_iceberg_latest_row_wins(spark, tmp_path):
    """CDC upsert sink: each drained micro-batch is one row-delta snapshot;
    the table always reads as the LATEST row per key; a replayed epoch
    (fresh stream checkpoint) is a no-op via the recorded batch ids."""
    import shutil

    from parquet_to_arrow_spark.sources import iceberg_meta as ice
    from parquet_to_arrow_spark.streaming.incremental import streaming_upsert_to_iceberg

    land = str(tmp_path / "cdc")
    table = str(tmp_path / "table")
    ck = str(tmp_path / "ck")
    ddl = "doc_id bigint, text string, v int"

    spark.createDataFrame(
        [(1, "a0", 0), (2, "b0", 0), (3, "c0", 0)], ddl
    ).coalesce(1).write.mode("append").parquet(land)
    streaming_upsert_to_iceberg(spark, land, table, ck, ["doc_id"], ddl).awaitTermination()
    got = {r["doc_id"]: (r["text"], r["v"]) for r in ice.read_snapshot(spark, table).collect()}
    assert got == {1: ("a0", 0), 2: ("b0", 0), 3: ("c0", 0)}

    # second CDC batch: update key 2, insert key 4
    spark.createDataFrame([(2, "b1", 1), (4, "d1", 1)], ddl).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    streaming_upsert_to_iceberg(spark, land, table, ck, ["doc_id"], ddl).awaitTermination()
    got = {r["doc_id"]: (r["text"], r["v"]) for r in ice.read_snapshot(spark, table).collect()}
    assert got == {1: ("a0", 0), 2: ("b1", 1), 3: ("c0", 0), 4: ("d1", 1)}
    # each batch was one row-delta snapshot with its epoch recorded
    batches = [s["summary"].get("batch") for s in ice.snapshots(table)]
    assert len(batches) == 2 and all(b is not None for b in batches)

    # lost stream checkpoint: all files re-batch under replayed epoch ids;
    # the batch-id dedupe makes every replay a no-op — state unchanged,
    # in particular the OLD value of key 2 must not resurface
    shutil.rmtree(ck)
    streaming_upsert_to_iceberg(spark, land, table, ck, ["doc_id"], ddl).awaitTermination()
    assert len(ice.snapshots(table)) == 2
    got2 = {r["doc_id"]: (r["text"], r["v"]) for r in ice.read_snapshot(spark, table).collect()}
    assert got2 == got


def test_streaming_session_windows_match_batch_session_window(spark):
    """The streaming session_window aggregation drained via availableNow
    must equal the BATCH session_window over the same data — gap-merge
    semantics identical whether the state store or the batch operator
    builds the sessions."""
    from pyspark.sql import functions as F

    from parquet_to_arrow_spark.streaming.incremental import streaming_session_windows

    sf = "/root/testdata/sf0.001"
    got = {
        (r["win_start"], r["win_end"], r["user_id"]): (r["n_events"], r["sum_value"])
        for r in streaming_session_windows(spark, sf).collect()
    }
    ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    want = {
        (r["win_start"], r["win_end"], r["user_id"]): (r["n_events"], r["sum_value"])
        for r in ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
        .collect()
    }
    assert got == want and len(got) > 100


def test_streaming_click_attribution_matches_batch_join(spark):
    """The watermarked stream-stream inner join drained via availableNow
    must emit exactly the batch join's pairs: every purchase matched to
    the same user's clicks within the preceding hour, band inclusive."""
    from pyspark.sql import functions as F

    from parquet_to_arrow_spark.streaming.incremental import (
        streaming_click_attribution,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r["purchase_id"], r["click_id"])
        for r in streaming_click_attribution(spark, sf).collect()
    }
    ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    want = {
        (r["pid"], r["cid"])
        for r in p.join(
            c,
            (F.col("pu") == F.col("cu"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("cts") <= F.col("pts")),
        ).collect()
    }
    assert got == want and len(got) > 0
