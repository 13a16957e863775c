"""Iceberg table source/sink over the engine's own pure-Python Iceberg-v2
metadata layer (sources/iceberg_meta): hadoop-style version-hint commits,
Avro manifest lists/manifests, snapshot time travel — over ordinary
Spark-written parquet data files. Appends create real snapshots; reads
resolve the current snapshot's file list and hand it to the parquet scan,
so pushdown/pruning are untouched. No iceberg-spark runtime jar is used.

A plain parquet directory (no metadata/ dir) still reads as a bare table —
the pre-metadata fallback kept for compatibility.
"""

from __future__ import annotations

import functools
import hashlib
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import iceberg_meta


def is_metadata_table(path: str) -> bool:
    return iceberg_meta.current_version(path) is not None


def read_table(
    spark: SparkSession,
    table_or_path: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    range_filter: dict | None = None,
) -> DataFrame:
    """Snapshot-consistent scan: the engine's metadata walk (with
    manifest-level partition/min-max file skipping), or a bare parquet
    directory."""
    if is_metadata_table(table_or_path):
        return iceberg_meta.read_snapshot(
            spark, table_or_path, snapshot_id, partition_filter, range_filter
        )
    return spark.read.parquet(table_or_path)


def append(df: DataFrame, table_or_path: str, summary: dict | None = None) -> int:
    """Append as ONE new snapshot. Data files land under a UNIQUE
    data/seq-<n>-<nonce>/ directory per attempt — two racing appends can
    therefore never overwrite each other's files; the loser of the
    metadata race gets CommitConflict and its directory becomes orphan
    files (listed by iceberg_meta.orphan_files, reclaimed after a grace
    period, exactly Iceberg's own model). A crashed attempt likewise
    leaves only orphans, never a half-visible snapshot. Returns the
    snapshot id."""
    import uuid

    meta = iceberg_meta.current_metadata(table_or_path)
    seq = (meta["last-sequence-number"] + 1) if meta else 1
    data_dir = os.path.join(
        table_or_path, "data", f"seq-{seq}-{uuid.uuid4().hex[:8]}"
    )
    # a partitioned table's appends must land through the same hive layout
    # as every other write, or the new files would commit with no
    # partition values and silently fall out of partition-pruned scans
    _write_rewrite(df, data_dir, meta)
    return iceberg_meta.commit_parquet_dir(
        table_or_path, data_dir, spark_schema=df.schema, summary=summary
    )


def committed_summaries(table_or_path: str) -> list[dict]:
    """Snapshot summaries of the current history (empty for a non-table) —
    resumable jobs read their own commit markers back from these."""
    return [s.get("summary", {}) for s in iceberg_meta.snapshots(table_or_path)]


def iceberg_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: register the documents parquet as an Iceberg table
    (metadata-only commit — the data file is referenced in place, zero
    copies) and read it back through the snapshot walk. Identity through
    the table format IS the check; the oracle is a plain SELECT."""
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "documents.parquet")
    table = _scratch_table(sf_dir, "docs")
    if not is_metadata_table(table):
        pf = pq.ParquetFile(src)
        iceberg_meta.commit_append(
            table,
            [iceberg_meta.DataFile(src, pf.metadata.num_rows, os.path.getsize(src))],
            spark_schema=spark.read.parquet(src).schema,
        )
    return iceberg_meta.read_snapshot(spark, table).select(
        "doc_id", "lang", "source", "n_chars"
    )


@functools.lru_cache(maxsize=1)
def _writer_digest() -> str:
    """md5 of the table writer's source (this module, iceberg_meta,
    avro_io, puffin): part of every scratch-table stamp, so tables written
    by an older writer are rebuilt rather than served."""
    h = hashlib.md5()
    here = os.path.dirname(os.path.abspath(__file__))
    for name in ("iceberg.py", "iceberg_meta.py", "avro_io.py", "puffin.py"):
        with open(os.path.join(here, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scratch_table(sf_dir: str, tag: str) -> str:
    """Deterministic per-corpus scratch-table path: keyed by the source
    parquet's identity AND content stamp (size + mtime) so a regenerated
    corpus re-commits instead of serving stale metadata, by the writer's
    source digest so a changed writer rebuilds it, and by uid so users on
    a shared box cannot collide."""
    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    stamp = (
        f"{os.path.abspath(src)}:{st.st_size}:{st.st_mtime_ns}:{os.getuid()}:{tag}"
        f":{_writer_digest()}"
    )
    return f"/tmp/iceberg_{tag}_{hashlib.md5(stamp.encode()).hexdigest()[:12]}"


def _build_scratch_once(table: str, builder) -> None:
    """Run a MULTI-COMMIT scratch-table build exactly once across
    concurrent processes (driver + oracle_check can race): an O_EXCL lock
    file elects one builder; it runs ``builder()`` against the final path
    (Iceberg metadata records absolute paths — staging dirs cannot be
    renamed into place) and then drops a ``_complete`` marker; losers wait
    for the marker, re-contending whenever the lock frees without one (a
    failed build).

    The lock carries an owner token. Stale locks (>10 min — a crashed
    builder) are stolen via an ATOMIC rename to a thief-unique tombstone:
    exactly one thief wins the rename, and an inode check detects the
    one race rename cannot (a fresh lock created between the staleness
    stat and the rename) and restores it. A builder that discovers its
    lock was stolen mid-build never writes the marker and REJOINS the
    waiters instead of returning — its caller must not touch the table
    while the thief is still rebuilding it."""
    import shutil
    import time as _time
    import uuid as _uuid

    marker = os.path.join(table, "_complete")
    lock = table + ".lock"
    token = f"{os.getpid()}-{_uuid.uuid4().hex}"
    deadline = _time.time() + 900

    def _owns() -> bool:
        try:
            with open(lock) as f:
                return f.read() == token
        except OSError:
            return False

    while True:
        if os.path.exists(marker):
            return
        if _time.time() > deadline:
            raise TimeoutError(f"scratch build of {table} never completed")
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                st = os.stat(lock)
            except OSError:
                continue  # lock vanished between exists and stat; re-contend
            if _time.time() - st.st_mtime > 600:
                # presumed-crashed builder: steal atomically — only ONE
                # thief wins the rename
                tomb = f"{lock}.stale.{token}"
                try:
                    os.rename(lock, tomb)
                except OSError:
                    continue  # another thief won; re-contend
                try:
                    fresh = os.stat(tomb).st_ino != st.st_ino
                except OSError:
                    continue
                if fresh:
                    # we renamed a lock CREATED AFTER our staleness stat —
                    # give it back (or, if yet another lock appeared, drop
                    # the tombstone; the displaced owner's _owns() fails
                    # and it rejoins the waiters below)
                    try:
                        os.rename(tomb, lock)
                    except OSError:
                        try:
                            os.unlink(tomb)
                        except FileNotFoundError:
                            pass
                    continue
                os.unlink(tomb)
                shutil.rmtree(table, ignore_errors=True)
                continue  # re-contend for the freed slot
            _time.sleep(0.5)
            continue
        os.write(fd, token.encode())
        os.close(fd)
        # heartbeat: a LIVE builder refreshes the lock mtime so only a
        # genuinely crashed builder ever exceeds the 600 s staleness
        # threshold — without it, a legitimately slow (>10 min) build got
        # its lock stolen and the thief rmtree'd the table mid-commit
        import threading as _threading

        _hb_stop = _threading.Event()

        def _hb():
            while not _hb_stop.wait(60):
                try:
                    os.utime(lock)
                except OSError:
                    return

        _hb_thread = _threading.Thread(target=_hb, daemon=True)
        _hb_thread.start()
        try:
            if not os.path.exists(marker):
                shutil.rmtree(table, ignore_errors=True)  # crashed partial
                builder()
                if not _owns():
                    # stolen mid-build (slow box): the thief is rebuilding
                    # the table RIGHT NOW — rejoin the waiters rather than
                    # letting the caller read a half-rebuilt path
                    continue
                with open(marker, "w") as f:
                    f.write("ok")
            return
        finally:
            _hb_stop.set()
            if _owns():
                try:
                    os.unlink(lock)
                except FileNotFoundError:
                    pass


def _files_meta_table(spark: SparkSession, sf_dir: str) -> str:
    """Scratch table for the metadata-table driver queries: ONE append per
    source (sorted — appends map to sequence numbers deterministically),
    each coalesced to one data file, so the files/snapshots metadata rows
    are a pure function of the corpus."""
    table = _scratch_table(sf_dir, "filesmeta")

    def _build():
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "source", "n_chars")
        for src in sorted(
            r["source"] for r in docs.select("source").distinct().collect()
        ):
            append(docs.filter(F.col("source") == src).coalesce(1), table)

    _build_scratch_once(table, _build)
    return table


def lakehouse_files_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query over metadata_table("files"): per-file manifest row
    counts of a per-source scratch table — the manifest's record_count
    column must reproduce the data's per-source counts exactly (the
    lakehouse read surface the round-4 verdict asked to driver-gate).
    Oracle: count(*) per source from the documents table."""
    table = _files_meta_table(spark, sf_dir)
    return iceberg_meta.metadata_table(spark, table, "files").select(
        F.col("record_count").alias("n_rows")
    )


def lakehouse_snapshots_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query over metadata_table("snapshots"): sequence numbers,
    operations and added-record counts of the per-source append history —
    appends run in sorted-source order, so sequence i maps to the i-th
    source's row count. Oracle: ROW_NUMBER over sorted sources."""
    table = _files_meta_table(spark, sf_dir)
    return iceberg_meta.metadata_table(spark, table, "snapshots").select(
        "sequence_number",
        "operation",
        F.get_json_object("summary", "$.added-records")
        .cast("long")
        .alias("added"),
    )


def changelog_replay_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query for the CDC read surface: plant two deterministic
    MoR upsert waves over a documents scratch table (wave 1 bumps
    n_chars by 1_000_000 for md5-bucket 0 keys; wave 2 bumps by
    2_000_000 for buckets 0 and 1 — overwriting wave 1's bucket-0 rows),
    then REPLAY read_changelog: last insert per key across change
    ordinals == the final state. The md5 bucket is the hi md5 hex half
    mod 10, so the expected state has an exact DuckDB twin.

    Scale shape: the replay is one window over (doc_id), a corpus-
    cardinality key — no small-key partition, no driver loop; this is the
    probe-scale changelog check (2M rows x 16 waves, recorded in
    BENCH/BASELINE.md; its probe script has since been deleted) at driver
    scale."""
    from pyspark.sql import Window

    table = _scratch_table(sf_dir, "cdc")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "n_chars"
    )
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(10),
    )
    def _build():
        append(docs, table)
        upsert_keys_mor(
            spark,
            table,
            docs.filter(bucket == 0).withColumn(
                "n_chars", F.col("n_chars") + F.lit(1_000_000)
            ),
            "doc_id",
        )
        upsert_keys_mor(
            spark,
            table,
            docs.filter(bucket <= 1).withColumn(
                "n_chars", F.col("n_chars") + F.lit(2_000_000)
            ),
            "doc_id",
        )

    _build_scratch_once(table, _build)
    ch = iceberg_meta.read_changelog(spark, table)
    w = Window.partitionBy("doc_id").orderBy(F.col("_change_ordinal").desc())
    return (
        ch.filter(F.col("_change_op") == "insert")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "n_chars")
    )


def with_bucket_column(
    df: DataFrame, col: str, n: int, out_col: str | None = None
) -> DataFrame:
    """Append the Iceberg ``bucket[n]`` transform of ``col`` as an int
    column (default name ``<col>_bucket``) — murmur3_32 of the spec's
    single-value serialization, non-negative mod n, bit-identical to
    iceberg_meta.bucket_of (Iceberg Table Spec, Appendix B). Long/int keys
    take a fully numpy-vectorized Arrow batch path (two 32-bit mixing
    rounds — no per-row Python); string keys hash per value inside the
    batch (variable-length input). NULL inputs yield NULL buckets (the
    spec's null -> null transform rule, matching bucket_of's explicit
    guard) — pandas delivers nullable ints as float+NaN, which the
    unmasked numpy cast would turn into an opaque crash."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    out_col = out_col or f"{col}_bucket"
    dtype = dict(df.dtypes)[col]
    if dtype in ("bigint", "int"):
        # the UDF is fed coalesce(col, 0) and nulls are masked back
        # JVM-side in the returned expression: a long batch CONTAINING a
        # null reaches pandas as float64, which silently rounds values
        # above 2^53 before they are hashed — a null-free input stays
        # int64 and keeps full precision

        @pandas_udf("int")
        def b(s: pd.Series) -> pd.Series:
            import numpy as np

            v = s.to_numpy(dtype="int64").astype(np.uint64)
            k1 = (v & np.uint64(0xFFFFFFFF)).astype(np.uint32)
            k2 = (v >> np.uint64(32)).astype(np.uint32)
            h = np.zeros(len(v), dtype=np.uint32)
            with np.errstate(over="ignore"):
                for k in (k1, k2):
                    k = k * np.uint32(0xCC9E2D51)
                    k = (k << np.uint32(15)) | (k >> np.uint32(17))
                    k = k * np.uint32(0x1B873593)
                    h = h ^ k
                    h = (h << np.uint32(13)) | (h >> np.uint32(19))
                    h = h * np.uint32(5) + np.uint32(0xE6546B64)
                h = h ^ np.uint32(8)  # input length in bytes
                h = h ^ (h >> np.uint32(16))
                h = h * np.uint32(0x85EBCA6B)
                h = h ^ (h >> np.uint32(13))
                h = h * np.uint32(0xC2B2AE35)
                h = h ^ (h >> np.uint32(16))
            return pd.Series((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype(
                "int32"
            )

    elif dtype == "string":

        @pandas_udf("int")
        def b(s: pd.Series) -> pd.Series:
            from parquet_to_arrow_spark.sources.iceberg_meta import murmur3_32

            return s.map(
                lambda x: None
                if x is None
                else (murmur3_32(str(x).encode("utf-8")) & 0x7FFFFFFF) % n,
                na_action="ignore",
            ).astype("Int32")

        return df.withColumn(out_col, b(F.col(col)))
    else:
        raise NotImplementedError(f"bucket transform over spark type {dtype}")
    return df.withColumn(
        out_col,
        F.when(F.col(col).isNull(), F.lit(None).cast("int")).otherwise(
            b(F.coalesce(F.col(col), F.lit(0)))
        ),
    )


def with_transform_column(df: DataFrame, spec: dict, out_col: str) -> DataFrame:
    """Append a partition-spec transform of its source column: bucket via
    with_bucket_column; truncate[W] as substring / floor-to-multiple (spec
    negative-safe form — F.pmod); day/month/year as UTC epoch ordinals
    (sessions run UTC, matching the spec's timestamptz semantics). All are
    plain JVM expressions matching iceberg_meta.truncate_of/temporal_of
    bit-for-bit."""
    from pyspark.sql import functions as F

    tr = spec["transform"]
    if tr == "bucket":
        return with_bucket_column(df, spec["source"], spec["n"], out_col=out_col)
    c = F.col(spec["source"])
    if tr == "truncate":
        if spec["source_type"] == "string":
            e = F.substring(c, 1, spec["n"])
        else:
            e = c - F.pmod(c, F.lit(spec["n"]))
    elif tr == "day":
        e = F.datediff(F.to_date(c), F.lit("1970-01-01"))
    elif tr == "month":
        e = (F.year(c) - 1970) * 12 + F.month(c) - 1
    elif tr == "year":
        e = F.year(c) - 1970
    else:
        raise NotImplementedError(f"partition transform {tr}")
    return df.withColumn(out_col, e)


def _write_rewrite(survivors: DataFrame, rw_dir: str, meta: dict | None) -> None:
    """Write CoW replacement (or append) files preserving the table's
    layout: for a partitioned table the rows land under hive-style
    key=value subdirectories (partition-spec columns OUT of the data
    files, exactly like the original layout), so commit_parquet_dir
    re-derives each replacement file's typed manifest partition values
    from its path — partition values are preserved on the replacement
    files by construction. Derived-transform fields (bucket/truncate/
    day/month/year) are recomputed from their source column
    (with_transform_column) before the partitioned write; the source
    column itself STAYS in the data files."""
    pcols: list[str] = []
    if meta is not None:
        for s in iceberg_meta._partition_specs(meta):
            if s["transform"] != "identity" and s["name"] not in survivors.columns:
                survivors = with_transform_column(survivors, s, s["name"])
            pcols.append(s["name"])
    w = survivors.write.mode("overwrite")
    if pcols:
        w = w.partitionBy(*pcols)
    w.parquet(rw_dir)


def _rewrite_files(
    spark: SparkSession,
    table_or_path: str,
    hits,
    keep,
    detail: str,
    partition_filter: dict | None = None,
    add: DataFrame | None = None,
) -> int | None:
    """The one copy-on-write rewrite behind delete_where, delete_keys and
    merge_keys: scan the current snapshot (pruned by ``partition_filter``)
    with each row's source file, collect the files ``hits(scan)`` finds
    rows in, rewrite exactly those files as ``keep(scan)`` of their rows
    (plus ``add``, for an upsert) through the table's layout
    (_write_rewrite), and commit the replacement files with the originals
    removed as one snapshot whose operation-detail is ``detail``.
    Untouched files are carried forward as-is; removed rows stay reachable
    via time travel until snapshot expiry. Returns the snapshot id, or
    None when no file has a hit."""
    import uuid

    _, meta = iceberg_meta._table_state(table_or_path)
    sid = meta["current-snapshot-id"]
    scan = iceberg_meta.read_snapshot(
        spark, table_or_path, sid, partition_filter
    ).withColumn("__file", F.input_file_name())
    affected_uris = [
        r["__file"] for r in hits(scan).select("__file").distinct().collect()
    ]  # bounded by the table's file count — the same scale as the manifest walk
    if not affected_uris:
        return None
    # input_file_name() returns percent-encoded URIs; manifests store raw
    # abspaths — unquote or the remove-path match silently finds nothing
    affected = {iceberg_meta._uri_path(u) for u in affected_uris}
    survivors = keep(scan.filter(F.col("__file").isin(affected_uris))).drop("__file")
    if add is not None:
        survivors = survivors.unionByName(add.select(*survivors.columns))
    rw_dir = os.path.join(table_or_path, "data", f"rw-{uuid.uuid4().hex[:8]}")
    _write_rewrite(survivors, rw_dir, meta)
    return iceberg_meta.commit_parquet_dir(
        table_or_path,
        rw_dir,
        summary={"operation-detail": detail},
        remove_paths=affected,
        planned_snapshot_id=sid,
    )


def delete_where(
    spark: SparkSession,
    table_or_path: str,
    predicate: str,
    partition_filter: dict | None = None,
) -> int | None:
    """Copy-on-write DELETE: rewrite only the files that contain matching
    rows, without those rows, and commit survivors + removals as one
    snapshot (_rewrite_files). Untouched files are carried forward as-is;
    deleted rows stay reachable via time travel until snapshot expiry —
    Iceberg v1 delete semantics, which is also how the engine's dedup
    verdicts become physical row removal. Rows where the predicate is NULL
    are kept.

    Works on unpartitioned AND identity-partitioned engine-native tables:
    survivors of a partitioned table are rewritten through the same hive
    layout (see _write_rewrite), so replacement files keep their partition
    values in the new manifests. ``partition_filter`` ({col: value})
    prunes the affected-file SEARCH to matching partitions via the
    manifest partition values — a GDPR purge of one source never opens the
    other partitions' files; rows outside it are never considered (the
    caller guarantees the predicate only targets those partitions).
    Returns the new snapshot id, or None when nothing matched. Caveat:
    replace_on wave recommits match prior manifests by snapshot id OR
    recorded path; a table that interleaves wave replacement, CoW deletes
    of those waves' files, AND snapshot expiry can defeat both matches —
    run deletes and wave jobs against the same table sequentially, not
    interleaved."""
    return _rewrite_files(
        spark,
        table_or_path,
        hits=lambda scan: scan.filter(predicate),
        keep=lambda scan: scan.filter(f"NOT coalesce(({predicate}), false)"),
        detail="delete-where",
        partition_filter=partition_filter,
    )


def _doomed_positions(
    spark: SparkSession,
    table_or_path: str,
    predicate: str,
    partition_filter: dict | None,
) -> tuple[dict, DataFrame]:
    """(current metadata, (file_path, pos) of every row matching
    ``predicate``) — the shared front half of the merge-on-read deletes.
    Positions come from the scanner's native _metadata.row_index (no
    window, no shuffle over the data), and the scan already applies
    pending deletes, so a re-delete never records a row twice."""
    _, meta = iceberg_meta._table_state(table_or_path)
    scan = iceberg_meta.read_snapshot(
        spark,
        table_or_path,
        meta["current-snapshot-id"],
        partition_filter,
        with_positions=True,
    )
    return meta, scan.filter(predicate).select(
        F.col("__fp").alias("file_path"), F.col("__pos").alias("pos")
    )


def delete_where_mor(
    spark: SparkSession,
    table_or_path: str,
    predicate: str,
    partition_filter: dict | None = None,
) -> int | None:
    """Merge-on-read DELETE (Iceberg v2 position deletes): instead of
    rewriting the affected data files (delete_where's copy-on-write), write
    a POSITION DELETE file — parquet rows of (file_path, pos) for every
    matching row, sorted by (file_path, pos) per the spec — and commit it
    under a content=1 delete manifest. Data files are untouched; the write
    cost is proportional to the DELETED rows, not to the files containing
    them — the right half of the tradeoff for small deletes against huge
    files (CoW rewrites a 1 GB file to drop one row; MoR writes a 1-row
    delete file). Readers (read_snapshot) subtract the pairs with an
    anti-join; read amplification accrues until materialize_deletes folds
    the deletes back into data files.

    Row positions come from the scanner's native _metadata.row_index —
    no window, no shuffle over the data. ``partition_filter`` prunes the
    scan exactly as in delete_where. Returns the snapshot id, or None when
    nothing matched. Reference behavior: Iceberg spec v2 "Position Delete
    Files" + "Row-level deletes"."""
    import uuid

    meta, doomed = _doomed_positions(spark, table_or_path, predicate, partition_filter)
    del_dir = os.path.join(table_or_path, "data", f"delete-{uuid.uuid4().hex[:8]}")
    # range-partition + sort: each delete file holds a contiguous sorted
    # (file_path, pos) run (spec sort order); AQE coalesces the typically
    # tiny delete set down to one file
    doomed.repartitionByRange("file_path", "pos").sortWithinPartitions(
        "file_path", "pos"
    ).write.mode("overwrite").parquet(del_dir)
    dfs = _scan_delete_dir(del_dir)
    if not dfs:
        import shutil

        shutil.rmtree(del_dir, ignore_errors=True)
        return None
    return iceberg_meta.commit_append(
        table_or_path,
        [],
        summary={"operation-detail": "delete-where-mor"},
        delete_files=dfs,
        planned_snapshot_id=meta["current-snapshot-id"],
    )


def delete_where_dv(
    spark: SparkSession,
    table_or_path: str,
    predicate: str,
    partition_filter: dict | None = None,
) -> int | None:
    """Merge-on-read DELETE as Iceberg v3 DELETION VECTORS: the matching
    rows' positions are folded into ONE Roaring bitmap per data file,
    stored as ``deletion-vector-v1`` blobs in a single Puffin file
    (sources/puffin.py — spec framing: BE length + D1D339 64 magic +
    64-bit portable roaring + BE CRC-32), and committed as content=1
    delete entries carrying ``referenced_data_file`` + the blob's byte
    span (spec field ids 143/144/145). Readers consume DVs and v2
    position-delete parquet through the SAME plan
    (iceberg_meta._pos_delete_frame decodes blobs in workers), and
    materialize_deletes folds both.

    Why this representation at 10^12 rows: a v2 delete parquet row costs
    ~10-20 bytes and repeats the file path per deleted row; a DV costs
    ≤2 bytes/row (array container) or a flat 8 KiB per 65536-row block,
    one blob per file. Positions come from the scanner's native
    _metadata.row_index; per-file bitmaps build IN WORKERS (applyInPandas
    keyed by file — the shuffle is the deleted rows, nothing else); the
    driver assembles only the per-file blob bytes (bounded by file count,
    not rows — the same driver-side footprint an Iceberg committer has).
    A data file keeps ONE live DV (spec v3): the worker that builds a
    file's bitmap ORs in that file's live DV from the planned snapshot
    (the scan that computes positions already applies it, so no row is
    recorded twice), and the commit replaces that DV entry, leaving other
    files' DVs in the same Puffin live. A concurrent commit that changed
    a target's DV or removed the file raises CommitConflict. Returns the
    snapshot id, or None when nothing matched."""
    import uuid

    from . import puffin as pf

    meta, doomed = _doomed_positions(spark, table_or_path, predicate, partition_filter)
    old_dvs: dict[str, list] = {}
    # the planned snapshot's live DVs, by data file (a second walk of its
    # manifests: read_snapshot keeps its delete files to itself)
    for f in iceberg_meta._live_files(meta, meta["current-snapshot-id"])[1]:
        if f.referenced_data_file:
            old_dvs.setdefault(iceberg_meta._uri_path(f.referenced_data_file), []).append(f)

    def mk(pdf):
        import pandas as pd

        from parquet_to_arrow_spark.sources import iceberg_meta as ice, puffin as pfw

        fp = pdf["file_path"].iloc[0]
        poss = set(int(x) for x in pdf["pos"])
        for f in old_dvs.get(ice._uri_path(fp), ()):
            poss.update(int(x) for x in pfw.read_dv_blob(
                pfw.read_blob(f.path, f.content_offset, f.content_size)))
        return pd.DataFrame(
            {
                "file_path": [fp],
                "blob": [pfw.dv_blob_bytes(sorted(poss))],
                "cardinality": [len(poss)],
            }
        )

    rows = sorted(
        doomed.groupBy("file_path")
        .applyInPandas(mk, "file_path string, blob binary, cardinality long")
        .collect(),
        key=lambda r: r["file_path"],
    )
    if not rows:
        return None
    puffin_path = os.path.join(
        table_or_path, "data", f"dv-{uuid.uuid4().hex[:8]}.puffin"
    )
    metas = pf.write_puffin(
        puffin_path,
        [
            {
                "type": pf.DV_BLOB_TYPE,
                "data": bytes(r["blob"]),
                "properties": {
                    "referenced-data-file": r["file_path"],
                    "cardinality": str(r["cardinality"]),
                },
            }
            for r in rows
        ],
        sequence_number=meta["last-sequence-number"] + 1,
    )
    puffin_size = os.path.getsize(puffin_path)
    dfs = [
        iceberg_meta.DataFile(
            puffin_path,
            int(r["cardinality"]),
            puffin_size,  # file_size_in_bytes = the actual file (spec);
            content=1,  # the blob span lives in content_offset/size
            referenced_data_file=r["file_path"],
            content_offset=m["offset"],
            content_size=m["length"],
        )
        for r, m in zip(rows, metas)
    ]
    return iceberg_meta.commit_append(
        table_or_path,
        [],
        summary={"operation-detail": "delete-where-dv"},
        delete_files=dfs,
        planned_snapshot_id=meta["current-snapshot-id"],
    )


def _scan_delete_dir(
    del_dir: str, content: int = 1, equality_ids: list | None = None
) -> list[iceberg_meta.DataFile]:
    """Non-empty delete parquet files of a directory Spark just wrote, as
    content=1 (position) or content=2 (equality, with key field ids)
    DataFiles (row counts from footers)."""
    import pyarrow.parquet as pq

    out = []
    for dirpath, _, names in os.walk(del_dir):
        for name in sorted(names):
            if name.endswith(".parquet"):
                p = os.path.join(dirpath, name)
                n = pq.ParquetFile(p).metadata.num_rows
                if n:
                    out.append(
                        iceberg_meta.DataFile(
                            p, n, os.path.getsize(p),
                            content=content, equality_ids=equality_ids,
                        )
                    )
    return out


def _write_eq_deletes(
    meta: dict, keys: DataFrame, key_cols: list[str], del_dir: str
) -> list[iceberg_meta.DataFile]:
    """Write the distinct ``key_cols`` of ``keys`` as EQUALITY DELETE
    parquet under ``del_dir`` and return its non-empty files as content=2
    DataFiles whose ``equality_ids`` name the key columns by field id of
    the current schema, written in that schema's types (readers read the
    keys with them). Range-partition + sort like the position path:
    sorted runs, AQE coalesces a small key set to one file, a huge one
    scales out."""
    fields = {f["name"]: f for f in iceberg_meta._current_schema(meta)["fields"]}
    eq_ids = [fields[c]["id"] for c in key_cols]
    (
        keys.select(
            *[F.col(c).cast(iceberg_meta._spark_type(fields[c]["type"])) for c in key_cols]
        )
        .distinct()
        .repartitionByRange(*key_cols)
        .sortWithinPartitions(*key_cols)
        .write.mode("overwrite")
        .parquet(del_dir)
    )
    return _scan_delete_dir(del_dir, content=2, equality_ids=eq_ids)


def delete_keys_mor(
    spark: SparkSession,
    table_or_path: str,
    keys: DataFrame,
    key_cols: list[str] | str | None = None,
) -> int | None:
    """Merge-on-read DELETE by key (Iceberg v2 equality deletes): write
    the distinct key set as an EQUALITY DELETE file (_write_eq_deletes:
    content=2, its ``equality_ids`` naming the key columns by field id)
    and commit — NO data file is opened, read, or rewritten, and unlike
    delete_where_mor not even scanned: the write cost is O(|keys|)
    regardless of table size, the cheapest possible DELETE at 100 TB (this
    is the shape CDC and GDPR key purges take in Iceberg). Readers
    subtract matching rows from data files whose commit sequence PRECEDES
    the delete's — a later re-append of the same key survives, per the
    spec's row-delta ordering. Returns the snapshot id, or None for an empty key set."""
    import uuid

    _, meta = iceberg_meta._table_state(table_or_path)
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    key_cols = key_cols or keys.columns
    del_dir = os.path.join(table_or_path, "data", f"eqdelete-{uuid.uuid4().hex[:8]}")
    dfs = _write_eq_deletes(meta, keys, key_cols, del_dir)
    if not dfs:
        import shutil

        shutil.rmtree(del_dir, ignore_errors=True)
        return None
    return iceberg_meta.commit_append(
        table_or_path,
        [],
        summary={"operation-detail": f"delete-keys-mor:{','.join(key_cols)}"},
        delete_files=dfs,
    )


def upsert_keys_mor(
    spark: SparkSession,
    table_or_path: str,
    updates: DataFrame,
    key_cols: list[str] | str | None = None,
    summary: dict | None = None,
) -> int:
    """Atomic merge-on-read UPSERT (the CDC shape): ONE snapshot that
    equality-deletes the update keys from all PRIOR data AND appends the
    update rows. No existing data file is opened, read, or rewritten —
    write cost is O(|updates|) at any table size, vs merge_keys' CoW
    rewrite of every file containing a matched key. Correct by the spec's
    sequence rule: the delete and the new data files share the commit's
    sequence, and equality deletes apply only to STRICTLY older sequences,
    so the new rows survive their own delete. A missing table degrades to
    a plain first-commit append. Returns the snapshot id."""
    import uuid

    if isinstance(key_cols, str):
        key_cols = [key_cols]
    key_cols = key_cols or list(updates.columns[:1])
    meta = iceberg_meta.current_metadata(table_or_path)
    if meta is None or meta.get("current-snapshot-id", -1) == -1:
        return append(updates, table_or_path, summary=summary)
    nonce = uuid.uuid4().hex[:8]
    seq = meta["last-sequence-number"] + 1
    data_dir = os.path.join(table_or_path, "data", f"seq-{seq}-{nonce}")
    del_dir = os.path.join(table_or_path, "data", f"eqdelete-{nonce}")
    dels = _write_eq_deletes(meta, updates, key_cols, del_dir)
    _write_rewrite(updates, data_dir, meta)
    return iceberg_meta.commit_parquet_dir(
        table_or_path,
        data_dir,
        spark_schema=updates.schema,
        summary={
            "operation-detail": f"upsert-keys-mor:{','.join(key_cols)}",
            **(summary or {}),
        },
        delete_files=dels,
    )


def _eq_affected(meta: dict, eq_dels, old_files) -> set[str]:
    """Data files an equality delete can actually touch, narrowed by the
    manifests' column min/max bounds: a file whose recorded key range
    contains NO delete key cannot lose a row and is carried forward
    untouched — a one-key GDPR purge then rewrites one file, not the
    table. Narrowing needs single-column key sets, non-null keys, a
    bounded key count (10M driver-side cap) and per-file bounds; anything
    else falls back to the conservative full pre-delete-sequence set
    (correct either way — the rewrite content always comes from the
    delete-applied scan)."""
    import bisect

    import pyarrow.parquet as pq

    schema = iceberg_meta._current_schema(meta)
    name_by_id = {f["id"]: f["name"] for f in schema["fields"]}
    conservative = {f.path for f in old_files}
    keysets: dict[int, list] = {}
    for f in eq_dels:
        ids = f.equality_ids or []
        if len(ids) != 1:
            return conservative
        keysets.setdefault(ids[0], []).append(f)
    if sum(f.record_count for f in eq_dels) > 10_000_000:
        return conservative
    sorted_keys: dict[int, list] = {}
    for fid, fs in keysets.items():
        col = name_by_id[fid]
        vals: list = []
        for f in fs:
            got = pq.read_table(f.path, columns=[col])[col].to_pylist()
            if any(v is None for v in got):
                return conservative  # null keys have no bound story
            vals.extend(got)
        sorted_keys[fid] = sorted(set(vals))
    out: set[str] = set()
    for f in old_files:
        for fid, ks in sorted_keys.items():
            lo = (f.lower_bounds or {}).get(fid)
            hi = (f.upper_bounds or {}).get(fid)
            if lo is None or hi is None:
                out.add(f.path)  # no recorded bounds: keep conservatively
                break
            i = bisect.bisect_left(ks, lo)
            if i < len(ks) and ks[i] <= hi:
                out.add(f.path)
                break
    return out


def materialize_deletes(spark: SparkSession, table_or_path: str) -> int | None:
    """Fold pending delete files back into data files (Iceberg's
    rewrite_data_files over delete-bearing files): every LIVE data file a
    delete applies to is rewritten without its deleted rows, and the
    commit removes both the rewritten originals AND all delete files — the
    maintenance pass that caps merge-on-read amplification. After it, the
    snapshot is pure data files again (compaction and the fast-path encode
    require that). Position deletes target exactly the files they
    reference (iceberg_meta._pos_delete_targets: a DV names its file in
    the manifest, a v2 delete file by its file_path column); equality
    deletes narrow by the manifests' key min/max bounds (_eq_affected — a
    one-key purge rewrites one file), falling back to every
    pre-delete-sequence file when bounds or the narrowing preconditions
    are missing. The affected files are read through the one data-file
    scan (iceberg_meta._scan_files) with every pending delete applied; a
    fully-deleted file yields no rows and is removed without replacement.
    Untargeted data files are carried forward untouched; stale
    position-delete rows referencing already-rewritten (non-live) files
    are simply dropped. Returns the snapshot id, or None when no deletes
    are pending."""
    import uuid

    _, meta = iceberg_meta._table_state(table_or_path)
    sid = meta["current-snapshot-id"]
    live_files, dels = iceberg_meta._live_files(meta, sid)
    if not dels:
        return None
    pos_dels = [f for f in dels if f.content == 1]
    eq_dels = [f for f in dels if f.content == 2]
    affected_paths = iceberg_meta._pos_delete_targets(spark, pos_dels) & {
        f.path for f in live_files
    }
    if eq_dels:
        max_dseq = max(f.sequence or 0 for f in eq_dels)
        old_files = [f for f in live_files if (f.sequence or 0) < max_dseq]
        affected_paths |= _eq_affected(meta, eq_dels, old_files)
    survivors = iceberg_meta._scan_files(
        spark, meta, [f for f in live_files if f.path in affected_paths], dels
    )
    rw_dir = os.path.join(table_or_path, "data", f"rw-{uuid.uuid4().hex[:8]}")
    _write_rewrite(survivors, rw_dir, meta)
    return iceberg_meta.commit_parquet_dir(
        table_or_path,
        rw_dir,
        summary={"operation-detail": f"materialize-deletes:{len(dels)}"},
        remove_paths=affected_paths | {os.path.abspath(f.path) for f in dels},
        planned_snapshot_id=sid,
    )


def delete_keys(
    spark: SparkSession,
    table_or_path: str,
    keys: DataFrame,
    key: str,
    partition_filter: dict | None = None,
) -> int | None:
    """Key-set copy-on-write delete: remove every row whose ``key`` appears
    in ``keys`` (a DataFrame — arbitrarily large, joined not collected).
    Same rewrite as delete_where (_rewrite_files): only files containing a
    doomed key are rewritten (semi-join to find them, anti-join against
    the key set to rewrite them), the rest carry forward untouched;
    partitioned tables rewrite through the hive layout so replacement
    files keep their partition values (_write_rewrite), and
    ``partition_filter`` prunes the search to the named partitions. This is
    how dedup verdicts scale to physical removal — the loser set flows
    through a join, never a predicate string."""
    keyset = keys.select(F.col(key)).distinct()
    return _rewrite_files(
        spark,
        table_or_path,
        hits=lambda scan: scan.join(keyset, key, "left_semi"),
        keep=lambda scan: scan.join(keyset, key, "left_anti"),
        detail=f"delete-keys:{key}",
        partition_filter=partition_filter,
    )


def exact_dedup_table(spark: SparkSession, table_or_path: str) -> int | None:
    """In-place exact deduplication of an Iceberg documents table: group by
    content fingerprint, keep the minimum doc_id per group, CoW-delete the
    rest as one snapshot. The whole lakehouse dedup loop — verdicts on the
    narrow (fingerprint, doc_id) shuffle, removal via key-set rewrite,
    history preserved for time travel."""
    from pyspark.sql import functions as F

    from ..operators.dedup import content_fp

    docs = read_table(spark, table_or_path)
    keyed = docs.select(content_fp().alias("fp"), "doc_id")
    keep = keyed.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    losers = keyed.join(keep, "fp").filter(F.col("doc_id") != F.col("keep_id"))
    return delete_keys(spark, table_or_path, losers.select("doc_id"), "doc_id")


def merge_keys(
    spark: SparkSession, table_or_path: str, updates: DataFrame, key: str
) -> int | None:
    """MERGE INTO by key (copy-on-write upsert): rows of ``updates`` whose
    key exists in the table REPLACE those rows; unmatched keys are plain
    inserts — all as one snapshot. Only files containing a matched key are
    rewritten (_rewrite_files: survivors + replacement rows written
    together); when nothing matches, this degrades to a pure append.
    Partitioned tables rewrite through the hive layout (_write_rewrite) —
    ``updates`` must carry the partition columns, and a row's NEW
    partition value simply lands it in the right directory
    (partition-moving upserts work). Completes the DML set: append /
    delete_where / delete_keys / merge_keys."""
    keyset = updates.select(F.col(key)).distinct()
    sid = _rewrite_files(
        spark,
        table_or_path,
        hits=lambda scan: scan.join(keyset, key, "left_semi"),
        keep=lambda scan: scan.join(keyset, key, "left_anti"),
        detail=f"merge-keys:{key}",
        add=updates,
    )
    if sid is None:
        return append(updates, table_or_path, summary={"operation-detail": "merge-insert-only"})
    return sid


def _zvalue_expr(
    cols: list[str],
    bounds: dict[str, tuple[float, float]],
    bits: int = 16,
    srcs: dict | None = None,
):
    """Morton (Z-order) interleave of ``cols`` as ONE JVM column expression:
    each column is min-max normalized to ``bits`` bits, then bit b of
    column i lands at position b*k+i — so a range predicate on ANY single
    column constrains a strided subset of z's bits and the z-sorted file
    layout keeps that column's per-file min/max tight. Pure
    shift/and/or codegen (no UDF, no shuffle); k*bits terms fold into one
    whole-stage-codegen projection."""
    from pyspark.sql import functions as F

    k = len(cols)
    # every interleaved position b*k+i must fit a signed 64-bit long —
    # JVM shiftleft wraps the shift amount mod 64, which would silently
    # alias bits and destroy the ordering; more columns => fewer bits
    # each (5 cols -> 12 bits/col), still a valid Morton key
    bits = min(bits, 63 // k)
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        lo, hi = bounds[c]
        src = (srcs or {}).get(c, F.col(c).cast("double"))
        if hi > lo:
            s = F.least(
                F.lit(top).cast("long"),
                F.floor(
                    (F.coalesce(src, F.lit(float(lo))) - F.lit(float(lo)))
                    / F.lit(float(hi) - float(lo))
                    * F.lit(float(top))
                ).cast("long"),
            )
            s = F.greatest(F.lit(0).cast("long"), s)  # nulls/outliers clamp
        else:
            s = F.lit(0).cast("long")
        scaled.append(s)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            z = z.bitwiseOR(F.shiftleft(F.shiftright(s, b).bitwiseAND(F.lit(1)), b * k + i))
    return z


_Z_NUMERIC = {"int", "long", "float", "double"}
# temporal columns z-order through their epoch ordinals (the classic
# time-series clustering key); bounds always come from one aggregation —
# manifest bound values for temporal types are serialization-specific
_Z_TEMPORAL = {"date", "timestamp", "timestamptz"}


def _z_src_exprs(cols: list[str], cur_schema: dict) -> dict:
    """Per-column numeric source expression for the Morton normalize:
    plain cast for numeric types, epoch ordinal (days / microseconds) for
    temporal ones. Strings stay rejected — z-kissing them needs an
    order-preserving prefix code, out of scope."""
    from pyspark.sql import functions as F

    by_name = {f["name"]: f for f in cur_schema["fields"]}
    out = {}
    for c in cols:
        f = by_name.get(c)
        t = str(f["type"]) if f else None
        if t in _Z_NUMERIC:
            out[c] = F.col(c).cast("double")
        elif t == "date":
            out[c] = F.unix_date(F.col(c)).cast("double")
        elif t in _Z_TEMPORAL:
            out[c] = F.unix_micros(F.col(c)).cast("double")
        else:
            raise ValueError(
                f"zorder supports numeric/date/timestamp columns only, got {c!r}"
            )
    return out


def _bound_as_float(v) -> float:
    """Decoded manifest bound -> the same numeric scale the z srcs use:
    naive-UTC datetimes (timestamp bounds) become epoch microseconds
    (matching unix_micros), epoch-day ints (date bounds) and plain
    numerics pass through."""
    import datetime

    if isinstance(v, datetime.datetime):
        return (v - datetime.datetime(1970, 1, 1)) / datetime.timedelta(
            microseconds=1
        )
    if isinstance(v, datetime.date):
        return float((v - datetime.date(1970, 1, 1)).days)
    return float(v)


def _zorder_bounds(
    cols: list[str], fs: list, cur_schema: dict, df: DataFrame, srcs: dict
) -> dict[str, tuple[float, float]]:
    """Global [min, max] per z-order column for normalization — taken from
    the MANIFEST bounds of the files being rewritten when every file
    recorded them (zero extra data pass; the shape that exists at 100 TB —
    timestamp bounds decode to naive-UTC datetimes and date bounds to
    epoch days, both convertible driver-side), falling back to one
    aggregation over the group otherwise."""
    from pyspark.sql import functions as F

    by_name = {f["name"]: f for f in cur_schema["fields"]}
    out: dict[str, tuple[float, float]] = {}
    need_agg: list[str] = []
    for c in cols:
        fid = by_name[c]["id"]
        los = [(f.lower_bounds or {}).get(fid) for f in fs]
        his = [(f.upper_bounds or {}).get(fid) for f in fs]
        if all(v is not None for v in los + his):
            out[c] = (
                min(_bound_as_float(v) for v in los),
                max(_bound_as_float(v) for v in his),
            )
        else:
            need_agg.append(c)
    if need_agg:
        row = df.select(
            *[F.min(srcs[c]).alias(f"lo_{c}") for c in need_agg],
            *[F.max(srcs[c]).alias(f"hi_{c}") for c in need_agg],
        ).first()
        for c in need_agg:
            lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
            out[c] = (float(lo), float(hi)) if lo is not None else (0.0, 0.0)
    return out


def compact_files(
    spark: SparkSession,
    table_or_path: str,
    target_bytes: int = 128 << 20,
    min_group: int = 2,
    sort_by: str | None = None,
    zorder: list[str] | None = None,
) -> int | None:
    """Small-file compaction (Iceberg's rewrite_data_files): files under
    ``target_bytes`` are read back and rewritten as ~target-sized files,
    committed as one snapshot that removes the originals — the maintenance
    pass that keeps scan task counts proportional to DATA, not to how many
    tiny increments ever landed. Requires at least ``min_group`` small
    files (compacting one file is a copy). Content is bit-identical; only
    the file layout changes.

    ``sort_by``: cluster the rewrite by a column (range partition + sort
    within files) so the recompacted files carry DISJOINT min/max bounds —
    a range_filter then prunes to the one file holding the key range
    instead of scanning every compacted file (Iceberg's sort-order
    rewrite).

    ``zorder``: cluster the rewrite along a Morton curve over 2+ numeric
    columns (Iceberg's zorder rewrite strategy). A linear sort serves only
    its LEADING column — every file spans the full range of the second
    key, so range filters on it prune nothing. Z-ordering keeps EVERY
    listed column's per-file min/max tight, so range_filter skips files on
    any of them. Normalization bounds come from the manifests (no data
    pass); the z value is one codegen projection, the clustering one
    range partition — same shuffle count as sort_by.

    Partitioned tables compact WITHIN each partition (Iceberg's
    binpack-per-partition): small files group by their manifest partition
    values, each group needing >= ``min_group`` members; the rewritten
    files land under the partition's hive directory so their manifest
    entries keep the same partition values, and files in other partitions
    are never read or touched."""
    import math
    import uuid
    from urllib.parse import quote

    if sort_by and zorder:
        raise ValueError("pass sort_by or zorder, not both")
    _, meta = iceberg_meta._table_state(table_or_path)
    planned_sid = meta["current-snapshot-id"]
    live_files, dels = iceberg_meta._live_files(meta, planned_sid)
    if dels:
        # compaction scans without deletes and commits data files only —
        # silently resurrecting MoR-deleted rows would be corruption, so refuse
        raise ValueError(
            "table has pending position deletes; run materialize_deletes "
            "before compact_files"
        )
    pfields = iceberg_meta._partition_fields(meta)
    default_sid = meta.get("default-spec-id", 0)

    small = [f for f in live_files if f.file_size < target_bytes]
    # group by (spec id, that spec's partition tuple) — one group, key
    # (sid,), for unpartitioned. Files written under an OLDER spec
    # (partition spec evolution) compact as migration groups: their own
    # spec's identity literals are re-attached before the rewrite and the
    # output lands under the CURRENT spec's layout — compaction IS the
    # spec-migration pass, exactly Iceberg's rewrite_data_files story.
    groups: dict[tuple, list] = {}
    for f in small:
        own = iceberg_meta._partition_fields(meta, f.spec_id)
        key = (f.spec_id,) + tuple((f.partition or {}).get(name) for name, _ in own)
        groups.setdefault(key, []).append(f)
    # min_group guards against pointless single-file copies — but a
    # single OLD-SPEC file is a layout migration, not a copy: always
    # eligible, so one compaction pass leaves the whole table on the
    # current spec
    groups = {
        k: fs
        for k, fs in groups.items()
        if len(fs) >= (min_group if k[0] == default_sid else 1)
    }
    if not groups:
        return None
    cur_schema = iceberg_meta._current_schema(meta)
    rw_dir = os.path.join(table_or_path, "data", f"compact-{uuid.uuid4().hex[:8]}")
    n_small = n_out_total = 0
    for gi, (key, fs) in enumerate(sorted(groups.items(), key=lambda kv: tuple(map(str, kv[0])))):
        sid, key = key[0], key[1:]
        total = sum(f.file_size for f in fs)
        n_out = max(1, math.ceil(total / target_bytes))
        # the one data-file scan: the current schema (files predating an
        # additive evolution null-project the new columns) and, for a
        # migration group, ITS spec's identity literals, which the write
        # below moves to the CURRENT layout
        df = iceberg_meta._scan_files(spark, meta, fs)
        migration = sid != default_sid
        # clustering applies identically to current-spec and migration
        # groups: a zorder/sort request must not silently degrade to
        # coalesce on exactly the migrated files
        if zorder:
            srcs = _z_src_exprs(zorder, cur_schema)
            bounds = _zorder_bounds(zorder, fs, cur_schema, df, srcs)
            df = (
                df.withColumn("__z", _zvalue_expr(zorder, bounds, srcs=srcs))
                .repartitionByRange(n_out, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif sort_by:
            df = df.repartitionByRange(n_out, sort_by).sortWithinPartitions(sort_by)
        else:
            df = df.coalesce(n_out)
        if migration:
            _write_rewrite(df, os.path.join(rw_dir, f"mig-{gi}"), meta)
            n_small += len(fs)
            n_out_total += n_out
            continue
        # drop partition columns from the data files (hive layout) and land
        # the group under its partition directory so commit_parquet_dir
        # re-derives the same typed partition values for the replacements
        out_dir = rw_dir
        for (name, _), v in zip(pfields, key):
            seg = (
                f"{name}=__HIVE_DEFAULT_PARTITION__"
                if v is None
                else f"{name}={quote(str(v), safe='')}"
            )
            out_dir = os.path.join(out_dir, seg)
        df.drop(*[name for name, _ in pfields]).write.mode("overwrite").parquet(out_dir)
        n_small += len(fs)
        n_out_total += n_out
    return iceberg_meta.commit_parquet_dir(
        table_or_path,
        rw_dir,
        summary={"operation-detail": f"compact:{n_small}->{n_out_total}"},
        remove_paths={f.path for fs in groups.values() for f in fs},
        planned_snapshot_id=planned_sid,
    )
