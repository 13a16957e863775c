"""Incremental encode via Structured Streaming.

The reference's "streaming" is incremental pull over one file for
time-to-first-byte (src/parquet-to-text-stream.cc:69-73); the engine-scale
analogue is a continuously-landing tokens directory. Structured Streaming's
file source gives exactly-once *file-granular* incremental processing for
free (processed files tracked in the stream checkpoint) — complementary to
the bucket-granular resume in checkpoint.py:

- new parquet files land in ``input_dir``
- each micro-batch is chunk-encoded (same encode_tokens_df kernels)
- encoded chunks append to ``output_dir``; re-running after a crash skips
  files already committed to the stream checkpoint.

``trigger(availableNow=True)`` drains everything pending then stops — the
batch-job-with-streaming-bookkeeping pattern.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..encode import TOKENS_SCHEMA_DDL, encode_tokens_df
from ..session import empty_df


def incremental_encode(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start an availableNow incremental encode over a landing directory."""
    stream = (
        spark.readStream.schema(TOKENS_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )

    def sink(batch_df, epoch_id: int) -> None:
        encode_tokens_df(batch_df).write.mode("append").parquet(output_dir)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_incremental_encode(spark, input_dir, output_dir, checkpoint_dir) -> None:
    q = incremental_encode(spark, input_dir, output_dir, checkpoint_dir)
    q.awaitTermination()


def _replayed(table_dir: str, epoch_id: int) -> bool:
    """True when a snapshot of the table already records a batch id at or
    above ``epoch_id``: the epoch is a replay, already durable."""
    from ..sources import iceberg

    return any(
        int(s["batch"]) >= epoch_id
        for s in iceberg.committed_summaries(table_dir)
        if "batch" in s
    )


def incremental_encode_to_iceberg(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incremental encode whose sink is an ICEBERG SNAPSHOT PER MICRO-BATCH.

    Exactly-once end to end, the way Iceberg's own Spark streaming sink
    does it: every snapshot records its epoch id, and the sink SKIPS any
    epoch at or below the last committed one — a crash between the commit
    and the stream checkpoint advancing replays the epoch, hits the
    recorded id, and becomes a no-op. replace_on='batch' backstops the
    skip (a half-written replay overwrites itself, never double-appends).
    The one unrecoverable operator error — deleting the STREAM checkpoint
    while keeping the table — degrades safely: old content re-batched
    under replayed epoch ids is skipped, the table keeps its exact state
    (same caveat as the real sink, which stores the batch id in snapshot
    properties for precisely this dedupe)."""
    from ..sources import iceberg_meta

    stream = (
        spark.readStream.schema(TOKENS_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )

    def sink(batch_df, epoch_id: int) -> None:
        import os

        if _replayed(table_dir, epoch_id):
            return
        encoded = encode_tokens_df(batch_df)
        data_dir = os.path.join(table_dir, "data", f"batch-{epoch_id}")
        encoded.write.mode("overwrite").parquet(data_dir)
        iceberg_meta.commit_parquet_dir(
            table_dir,
            data_dir,
            spark_schema=encoded.schema,
            summary={"batch": epoch_id},
            replace_on="batch",
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_upsert_to_iceberg(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    schema_ddl: str,
) -> StreamingQuery:
    """Streaming CDC UPSERT sink: each micro-batch lands as ONE Iceberg
    row-delta snapshot — an equality delete of the batch's keys plus the
    batch's rows (iceberg.upsert_keys_mor), so the table always holds the
    LATEST row per key with per-batch atomicity. This is the
    merge-on-read shape streaming upserts take in Iceberg itself (Flink's
    upsert mode): no existing data file is rewritten on the hot path;
    materialize_deletes/compaction amortize the read debt offline.

    Exactly-once via the same epoch-id dedupe as
    incremental_encode_to_iceberg: every snapshot records its batch id
    and the sink skips any epoch at or below the last committed one, so
    a crash between commit and stream-checkpoint advance replays into a
    no-op. Within a batch, duplicate keys collapse to ONE deterministic
    winner (max of the non-key column struct) — micro-batch CDC feeds are
    expected to carry at most one change per key per batch, but replays
    must not depend on it."""
    from pyspark.sql import functions as F

    from ..sources import iceberg

    stream = (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )

    def sink(batch_df, epoch_id: int) -> None:
        if _replayed(table_dir, epoch_id):
            return
        others = [c for c in batch_df.columns if c not in key_cols]
        latest = batch_df.groupBy(*key_cols).agg(
            F.max(F.struct(*others)).alias("__r")
        ).select(*key_cols, *[F.col(f"__r.{c}").alias(c) for c in others])
        iceberg.upsert_keys_mor(
            spark, table_dir, latest, key_cols, summary={"batch": epoch_id}
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _drain_event_stream_agg(spark: SparkSession, sf_dir: str, build_agg, prefix: str):
    """Shared harness for the oracle-checkable event-stream aggregations:
    file-stream the events table, cast ts, apply ``build_agg`` (a
    watermarked streaming aggregation builder), drain with availableNow
    into a uniquely-named memory sink, and return its table.

    - the file-stream source accepts directories/globs, not bare files;
      the wildcard makes a single-file table stream-readable (prod inputs
      are landing DIRECTORIES and pass the dir path straight through)
    - watermarks require TIMESTAMP (not NTZ); the cast is
      instant-preserving under the engine's UTC session timezone
    - at scale the memory sink becomes a table/Kafka sink and availableNow
      a continuous trigger; the aggregation shape (watermark bounds state,
      key partitions the shuffle) is unchanged."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    name = prefix + uuid.uuid4().hex[:8]
    stream = spark.readStream.schema(schema).parquet(f"{sf_dir}/*events.parquet")
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    q = (
        build_agg(stream.withWatermark("ts", "1 hour"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="stream_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def streaming_windowed_counts(spark: SparkSession, sf_dir: str):
    """Event-time windowed aggregation via Structured Streaming: watermark +
    tumbling window over the events table, drained with availableNow into a
    memory sink. Deterministic (event time, not arrival time), so it is
    oracle-checkable against plain SQL — the driver's exactness gate covers
    the streaming aggregation path, not just batch.
    """
    from pyspark.sql import functions as F

    def build(stream):
        return stream.groupBy(F.window("ts", "6 hours"), F.col("event_type")).agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )

    return _drain_event_stream_agg(spark, sf_dir, build, "win_counts_").select(
        F.col("window.start").alias("win_start"), "event_type", "n_events", "sum_value"
    )


def stateful_user_counts(
    spark: SparkSession,
    events_glob: str,
    checkpoint_dir: str,
    schema,
    files_per_trigger: int = 1,
):
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running event counts and value sums that ACCUMULATE ACROSS
    MICRO-BATCHES (state = one row per user, carried by the state store,
    checkpointed). Each micro-batch emits the user's updated running totals;
    the final update per user equals the batch aggregate — which is exactly
    what the test asserts, proving cross-batch state survival.

    At scale this is the shape of any custom sessionizer/accumulator the
    built-in windowed aggs can't express; state is partitioned by the group
    key, so it shards across executors like any shuffle."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, sum_value double"
    state_schema = "n long, s double"

    def update(key, pdfs, state: GroupState):
        import pandas as pd  # re-import: the closure ships standalone to workers

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(events_glob)
    )
    import uuid

    name = "user_counts_" + uuid.uuid4().hex[:8]
    q = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name), name


def streaming_exact_dedup(
    spark: SparkSession,
    sf_dir: str,
    state_ttl_ms: int = 3_600_000,
    checkpoint_dir: str | None = None,
):
    """Exact dedup over a CONTINUOUSLY-LANDING corpus: stateful
    applyInPandasWithState keyed by the content fingerprint (md5 of text),
    state = (min doc_id seen, copies seen) carried across micro-batches by
    the state store. Every batch emits the key's running state; the FINAL
    emission per key (the one with the max copy count) equals the batch
    groupBy answer regardless of arrival order — so the drained availableNow
    result has the same EXACT oracle as exact_dedup_groups, proving the
    streaming state path converges to batch semantics.

    At scale: state shards by the fingerprint key across executors like any
    shuffle, and this DOES bound it — every state entry carries a
    processing-time TTL (``state_ttl_ms``, default 1 h): a key idle past the
    horizon is evicted at the next micro-batch (its last emission already
    stands in the sink), so resident state tracks the RECENT key set, not
    corpus cardinality. A duplicate arriving after its key expired restarts
    the count — the standard TTL trade (dedup horizon = TTL), exercised by
    the eviction test. The 1 h default never fires inside an availableNow
    drain, keeping the exact batch oracle."""
    import tempfile

    from pyspark.sql import Window, functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema

    def update(key, pdfs, state):
        import pandas as pd  # re-import: the closure ships standalone to workers

        if state.hasTimedOut:
            # idle past the TTL horizon: final emission already delivered,
            # drop the entry — this is what bounds resident state
            state.remove()
            return
        keep, n = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            if len(pdf):
                n += len(pdf)
                m = int(pdf["doc_id"].min())
                keep = m if keep is None or m < keep else keep
        state.update((keep, n))
        state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame({"fp": [key[0]], "keep_id": [keep], "n_copies": [n]})

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{sf_dir}/*documents.parquet")
    )
    # foreachBatch, not the memory sink: memory-sink queries REFUSE to
    # recover from an existing checkpoint, and checkpoint recovery is
    # exactly what lets the keyed state (and its TTL clocks) survive
    # between drains. Emissions collect driver-side here only because this
    # harness returns a DataFrame; a production run points the same batch
    # hook at a table sink.
    emitted: list = []

    def sink(batch_df, _bid):
        emitted.extend(batch_df.collect())

    q = (
        stream.withColumn("fp", F.md5("text"))
        .groupBy("fp")
        .applyInPandasWithState(
            update,
            "fp string, keep_id long, n_copies long",
            "keep_id long, n long",
            "update",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix="stream_dedup_ckpt_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    # availableNow + ProcessingTimeTimeout never self-terminates on this
    # Spark version: after the data batches it loops "No new data but
    # cleaning up state" indefinitely (observed: status stays
    # isTriggerActive; processAllAvailable blocks on the same condition).
    # Drain deterministically instead: poll progress events and stop once
    # the source END OFFSET has been stable for a full settle window while
    # batches keep committing. Neither the status message nor a zero-row
    # batch alone is a safe signal — a recovered run fires a zero-row
    # state-cleanup batch (with the cleanup message) at the OLD offset
    # BEFORE the file source lists the new data (observed flake: stop()
    # there killed the data batch mid-flight). Offset stability straddles
    # that startup window. Expired keys fire their timeout callbacks
    # inside the batches whose deadline passed, so eviction has already
    # run by the time the offset settles.
    import json as _json
    import time

    deadline = time.time() + 600
    settle_s = 5.0
    last_off, since = None, None
    while q.isActive and time.time() < deadline:
        p = q.lastProgress
        if p is not None:
            off = _json.dumps([s.get("endOffset") for s in p["sources"]])
            if off != last_off:
                last_off, since = off, time.time()
            elif time.time() - since >= settle_s:
                break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    out_ddl = "fp string, keep_id long, n_copies long"
    table = (
        spark.createDataFrame(emitted, out_ddl) if emitted else empty_df(spark, out_ddl)
    )
    # keep each key's FINAL emission: max copies, then min keep_id (a key
    # re-emitted with the same count in a later batch carries the same or
    # smaller keeper, so the tie-break is deterministic)
    w = Window.partitionBy("fp").orderBy(F.desc("n_copies"), F.asc("keep_id"))
    return (
        table.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("keep_id", "n_copies")
    )


def streaming_session_windows(spark: SparkSession, sf_dir: str):
    """Gap-based sessionization via Structured Streaming's built-in
    session_window: per-user sessions that merge events closer than the
    30-minute gap, each emitted as (user, window start, event count, value
    sum). The batch twin is relational.sessionize_events; THIS path runs the
    stateful streaming operator (session-window state store, watermark
    bounding state), drained via the shared harness so the driver's oracle
    gate covers the streaming sessionizer exactly.

    Spark's session semantics: a session's window is [first_ts,
    last_ts + gap); an event landing exactly at last_ts + gap does NOT
    extend it (end-exclusive) — the SQL oracle mirrors that with a
    break on ts >= prev + gap.

    At scale: state is partitioned by user_id like any keyed shuffle; the
    watermark closes sessions older than the lateness horizon, so state
    holds only the open-session frontier, not the corpus."""
    from pyspark.sql import functions as F

    def build(stream):
        return stream.groupBy(
            F.session_window("ts", "30 minutes"), F.col("user_id")
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )

    return _drain_event_stream_agg(spark, sf_dir, build, "sess_win_").select(
        F.col("session_window.start").alias("win_start"),
        F.col("session_window.end").alias("win_end"),
        "user_id",
        "n_events",
        "sum_value",
    )


def streaming_click_attribution(spark: SparkSession, sf_dir: str):
    """Watermarked STREAM-STREAM inner join (the last Structured Streaming
    operator class in the engine): purchases joined to the same user's
    clicks in the preceding hour — streaming attribution. Two independent
    file streams over the events table, each filtered to its event type and
    watermarked; the equi-key (user) plus the bounded time-band condition
    is exactly what lets Spark's symmetric hash join evict state — without
    the band, both sides' state would be corpus-sized.

    Deterministic (event-time semantics, inner join, availableNow drain
    emits every qualifying pair), so the streaming join path is
    oracle-checkable against the plain SQL self-join.

    At scale: both sides shuffle on user_id into the same state store
    partitions; the watermark + band bound retained state to ~2 hours of
    events per side, independent of stream length. Reference analogue: the
    engine's batch as-of join (relational.asof_purchase_last_click) — this
    is its always-on form."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def side(event_type: str, alias: str):
        s = spark.readStream.schema(schema).parquet(f"{sf_dir}/*events.parquet")
        return (
            s.withColumn("ts", F.col("ts").cast("timestamp"))
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{alias}_id"),
                F.col("user_id").alias(f"{alias}_user"),
                F.col("ts").alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", "1 hour")
        )

    joined = side("purchase", "purchase").join(
        side("click", "click"),
        (F.col("purchase_user") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "inner",
    )
    name = "click_attr_" + uuid.uuid4().hex[:8]
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="stream_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "purchase_id",
        "click_id",
        F.col("purchase_user").alias("user_id"),
        "purchase_ts",
        "click_ts",
    )


def streaming_encode_metrics(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    queryName: str = "encode_metrics",
) -> StreamingQuery:
    """Event-time windowed rollup of landing volume: the watermark +
    windowed-aggregation shape (late rows beyond 10 minutes dropped), fed by
    the same landing directory. Memory sink for inspection:
    ``spark.sql(f"SELECT * FROM {queryName}")``."""
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(TOKENS_SCHEMA_DDL).parquet(input_dir)
    agg = (
        stream.withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", "10 minutes")
        .groupBy(F.window("ingest_ts", "5 minutes"), F.col("source"))
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )
    return (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
