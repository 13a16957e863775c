"""spark-submit entry point for the resumable encode pipeline.

Usage (local or cluster — the script itself is cluster-agnostic):

    scripts/make_pyfiles.sh   # builds build/parquet_to_arrow_spark.zip
    spark-submit --driver-memory 16g \
        --py-files build/parquet_to_arrow_spark.zip \
        scripts/encode_job.py \
        --input /data/tokens --output /data/encoded \
        --manifest /data/manifest --checkpoint /data/ckpt \
        --buckets 512 --mode keyed

Modes:
  fast   zero-shuffle: chunk = one Arrow batch of an input file, direct
         Arrow-native scan of a parquet directory or Iceberg snapshot
         (sources/io.encode_parquet_dir) — maximum throughput, resume at
         file granularity is the caller's concern.
  keyed  deterministic bucket per row (xxhash64(doc_id) % buckets), one
         shuffle, resumable: rerun after a crash and only pending buckets
         are encoded (the keyed input is filtered to the buckets the
         checkpoint and the committed snapshots do not list as done).

Verification (--verify) compares per-row token hashes of input vs decoded
output without ever shipping token arrays through the JVM (sources/io).
The fast path and --verify both refuse an Iceberg snapshot with pending
merge-on-read deletes; with --verify the refusal comes before anything is
written.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# allow `python scripts/encode_job.py` from a repo checkout (spark-submit
# users get the package from --py-files instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--buckets", type=int, default=256)
    p.add_argument("--mode", choices=["fast", "keyed"], default="fast")
    p.add_argument(
        "--chunk-rows",
        type=int,
        default=8192,
        help="rows per chunk: sets the session's Arrow batch "
        "(spark.sql.execution.arrow.maxRecordsPerBatch), the chunk of both modes",
    )
    p.add_argument(
        "--wave-size",
        type=int,
        default=0,
        help="keyed mode: commit data+checkpoint every N buckets (0 = single wave)",
    )
    p.add_argument("--verify", action="store_true")
    p.add_argument(
        "--cache-input",
        choices=["auto", "always", "never"],
        default="auto",
        help="keyed mode: cache the keyed input across waves. auto caches "
        "only when the input is < 8 GiB on disk — beyond that the cache "
        "spills anyway and re-scanning parquet per wave is cheaper (and the "
        "only option at 100 TB)",
    )
    p.add_argument("--cores", default=None, help="local[N] cores (default: env/all)")
    p.add_argument(
        "--iceberg-table",
        default=None,
        help="also commit encoded output to this Iceberg table (one snapshot "
        "per wave, engine-native metadata; snapshot summaries double as "
        "commit markers for resume)",
    )
    p.add_argument(
        "--input-snapshot",
        type=int,
        default=None,
        help="when --input is an Iceberg table: encode exactly this snapshot "
        "(default: current). Ignored for plain parquet inputs.",
    )
    args = p.parse_args(argv)

    from parquet_to_arrow_spark import checkpoint as ckpt
    from parquet_to_arrow_spark import manifest as mf
    from parquet_to_arrow_spark.encode import encode_tokens_df
    from parquet_to_arrow_spark.session import get_spark
    from parquet_to_arrow_spark.sources import io as pio

    spark = get_spark(app="encode_job", cores=args.cores, chunk_rows=args.chunk_rows)
    t0 = time.time()

    from parquet_to_arrow_spark.sources import iceberg_meta

    if args.iceberg_table:
        from parquet_to_arrow_spark.sources import iceberg as ice

    if args.verify:
        # built before the first write: it resolves (and checks) the SAME
        # snapshot the encode reads (historical when --input-snapshot was
        # given), so a refused snapshot stops the job with nothing written
        input_hashes = pio.token_hashes_from_parquet(
            spark, args.input, snapshot_id=args.input_snapshot
        )

    if args.mode == "fast":
        # an Iceberg input is snapshot-consistent: the file list comes from
        # the manifest walk, so concurrent appends cannot tear this run's view
        encoded = pio.encode_parquet_dir(spark, args.input, snapshot_id=args.input_snapshot)
        encoded.write.mode("append").option("compression", "zstd").parquet(args.output)
        if args.iceberg_table:
            # commit only the files this run added (append mode accretes)
            known = (
                {f.path for f in iceberg_meta.snapshot_files(args.iceberg_table)}
                if ice.is_metadata_table(args.iceberg_table)
                else set()
            )
            # listed FileInfo paths are scheme-stripped; re-qualify against
            # the output URI so (a) the known-set comparison matches the
            # committed manifest paths and (b) footer probes open the REMOTE
            # file, not a same-named local path (s3://, hdfs:// outputs)
            fresh = [
                iceberg_meta.DataFile(pio.qualify_path(i.path, args.output), 0, i.size)
                for i in pio.resolve_files(args.output)[1]
                if pio.qualify_path(i.path, args.output) not in known
            ]
            fresh = [
                iceberg_meta.DataFile(
                    f.path, pio.open_parquet(f.path).metadata.num_rows, f.file_size
                )
                for f in fresh
            ]
            iceberg_meta.commit_append(
                args.iceberg_table, fresh, spark_schema=encoded.schema
            )
    else:
        from pyspark.sql import functions as F

        tokens = (
            iceberg_meta.read_snapshot(spark, args.input, args.input_snapshot)
            if iceberg_meta.current_version(args.input) is not None
            else spark.read.parquet(args.input)
        )
        keyed = ckpt.with_pkey(tokens, args.buckets)
        if args.cache_input == "always" or (
            args.cache_input == "auto"
            # list the input only when the decision actually needs its size
            and sum(i.size for i in pio.resolve_files(args.input)[1]) < (8 << 30)
        ):
            keyed = keyed.cache()
        done_keys: set[int] = set()
        if args.checkpoint:
            done = ckpt.read_done(spark, args.checkpoint)
            done_keys = {r["pkey"] for r in done.collect()}
            print(f"resume: {len(done_keys)} buckets already done", file=sys.stderr)
        if args.iceberg_table:
            # snapshot summaries are commit markers too: a wave whose
            # iceberg commit landed but whose mark_done didn't (crash in
            # between) must NOT replay — its snapshot already references
            # the wave's files and a rewrite would orphan them
            for s in ice.committed_summaries(args.iceberg_table):
                if "buckets" in s:
                    done_keys |= set(json.loads(s["buckets"]))
        pending_keys = sorted(set(range(args.buckets)) - done_keys)
        # wave-granular durability, exactly-once: each wave writes to a
        # DETERMINISTIC subdirectory (wave=<first bucket>) with overwrite
        # semantics, THEN checkpoints. A crash between the data commit and
        # mark_done makes the rerun re-encode the same bucket set into the
        # same subdirectory, replacing (not duplicating) the orphaned data.
        # Wave grouping is stable across reruns for a fixed --wave-size
        # because mark_done is wave-atomic, so pending_keys re-forms the
        # identical wave.
        wave = args.wave_size or len(pending_keys) or 1
        for w0 in range(0, len(pending_keys), wave):
            keys = pending_keys[w0 : w0 + wave]
            part = keyed.filter(F.col("pkey").isin(keys))
            encoded = encode_tokens_df(part, by_key=True, n_buckets=args.buckets)
            wave_dir = os.path.join(args.output, f"wave={keys[0]}")
            encoded.write.mode("overwrite").option("compression", "zstd").parquet(wave_dir)
            if args.iceberg_table:
                # commit BEFORE mark_done: the snapshot is the durable commit
                # point (resume reads it back above), mark_done only feeds the
                # checkpoint table's own consumers
                iceberg_meta.commit_parquet_dir(
                    args.iceberg_table,
                    wave_dir,
                    spark_schema=encoded.schema,
                    summary={"wave": keys[0], "buckets": json.dumps(keys)},
                    # a replayed/duplicated wave OVERWRITES its prior
                    # manifest instead of double-appending it
                    replace_on="wave",
                )
            if args.checkpoint:
                ckpt.mark_done(
                    spark.createDataFrame([(k,) for k in keys], "pkey int"), args.checkpoint
                )
            print(f"wave committed: buckets {keys[0]}..{keys[-1]}", file=sys.stderr)

    written = spark.read.parquet(args.output)
    if "wave" in written.columns:  # keyed mode: drop the partition-discovery column
        written = written.drop("wave")
    mf.write_manifest(mf.manifest_from_encoded(written), args.manifest, mode="overwrite")
    stats = mf.totals(spark.read.parquet(args.manifest))
    stats["wall_seconds"] = round(time.time() - t0, 2)

    if args.verify:
        report = pio.verify_hashes(input_hashes, pio.token_hashes_from_encoded(written))
        stats["verify"] = report
        if not report["equal"]:
            print(json.dumps(stats, default=int))
            spark.stop()
            return 1

    print(json.dumps(stats, default=int))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
