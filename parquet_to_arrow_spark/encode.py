"""Chunk encode pipeline: tokens DataFrame -> encoded-chunks DataFrame.

Spark-first design:

- The chunk (the reference's row group, SURVEY.md §1.4) is one Arrow batch.
  On the fast path ``df.mapInArrow`` encodes each incoming batch with ZERO
  shuffles: chunk boundaries follow the scan's partitioning, exactly like the
  reference streams row groups (reference: src/parquet-to-text-stream.cc:272-285).
- The keyed path (``by_key=True``) buckets rows by a stable partition key
  (xxhash64(doc_id) % n_buckets, optionally salted by the skewed ``source``),
  ``repartition``s on it, ``sortWithinPartitions`` by (pkey, doc_id) and
  encodes one chunk per bucket per Arrow batch via ``mapInArrow`` — this is
  the resumable path: the checkpoint table is keyed by ``pkey``.
- All codec math is vectorized numpy on flat Arrow buffers (no per-row
  Python, per BASELINE.json input_hint).

Encoded-chunk schema is stable regardless of codec choice: per-column codec
name + JSON meta + one concatenated payload blob, the Spark analogue of a
Parquet column chunk with its page headers.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark import TaskContext
from pyspark.sql import DataFrame

from .checkpoint import with_pkey
from .column import (
    _pack_parts,
    _unpack_parts,
    decode_int_array,
    decode_string_array,
    encode_int_array,
    encode_string_array,
)
from .hashing import chunk_checksum

ENCODED_SCHEMA_DDL = (
    "chunk_id string, pkey int, n_rows long, n_values long, "
    "raw_bytes long, enc_bytes long, tokens_codec string, "
    "checksum long, meta string, payload binary"
)

TOKENS_SCHEMA_DDL = "doc_id string, tokens array<int>, n_tok int, source string"

TOKENS_COLUMNS = ("doc_id", "tokens", "n_tok", "source")


def _tokens_parts(batch: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray]:
    """(flat int32 token values, int64 row offsets into them) from a list
    column. The offsets are the list array's own offsets buffer, shifted to
    start at 0 for a sliced batch; row lengths are their ``np.diff``."""
    col = batch.column(batch.schema.get_field_index("tokens"))
    if isinstance(col, pa.ChunkedArray):  # pragma: no cover
        col = col.combine_chunks()
    if col.null_count:
        # input contract: tokens array<int32> with containsNull=false
        raise ValueError(
            f"tokens column contains {col.null_count} null rows; "
            "the engine requires non-null token arrays (use [] for empty)"
        )
    flat = col.flatten()
    if flat.type != pa.int32():
        flat = flat.cast(pa.int32())
    values = flat.to_numpy(zero_copy_only=False)
    offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    offsets -= offsets[0]
    return values.astype(np.int32, copy=False), offsets


_MIN_GROUP_VALUES = 4096


def _cluster_order(
    values: np.ndarray, offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Stable row order clustering rows by token-content signature.

    Returns (row_order, group_label_per_row_in_new_order, rmin, rmax) —
    rmin/rmax are per-row token min/max in the ORIGINAL order, reused by the
    caller for codec stats so the reduceat runs once. The signature is
    (bit-width class of the row's value range, magnitude class of its min):
    rows whose tokens live in similar numeric regimes become contiguous, so
    each group gets a codec that actually fits (constant rows -> RLE, small
    vocab -> 8-bit packs, narrow offsets -> FoR, full-range -> plain).

    Row order inside a chunk is free: verification is keyed by doc_id
    (BASELINE.md: join on doc_id + array equality), and all columns are
    reordered consistently. Tiny groups merge into a misc group to bound
    per-part overhead.
    """
    lengths = np.diff(offsets)
    n = len(lengths)
    rmin = np.zeros(n, dtype=np.int64)
    rmax = np.zeros(n, dtype=np.int64)
    nonempty = lengths > 0
    if values.size and nonempty.any():
        starts = offsets[:-1][nonempty]
        # reduceat on the native dtype (no full int64 copy); widen after
        rmin[nonempty] = np.minimum.reduceat(values, starts).astype(np.int64)
        rmax[nonempty] = np.maximum.reduceat(values, starts).astype(np.int64)
    width = np.zeros(n, dtype=np.int64)
    rng = rmax - rmin
    pos = rng > 0
    width[pos] = np.floor(np.log2(rng[pos].astype(np.float64))).astype(np.int64) + 1
    width_class = np.digitize(width, [1, 5, 9, 13, 17, 21, 25])
    mmag = np.zeros(n, dtype=np.int64)
    mpos = np.abs(rmin) > 0
    mmag[mpos] = np.floor(np.log2(np.abs(rmin[mpos]).astype(np.float64))).astype(np.int64) + 1
    min_class = np.digitize(mmag, [1, 9, 17, 25]) + 4 * (rmin < 0)
    label = width_class * 16 + min_class
    # merge groups too small to amortize per-part overhead
    uniq, inv = np.unique(label, return_inverse=True)
    group_values = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(group_values, inv, lengths)
    misc = group_values < _MIN_GROUP_VALUES
    relabeled = np.where(misc[inv], np.int64(1 << 30), label)
    order = np.argsort(relabeled, kind="stable")
    return order, relabeled[order], rmin, rmax


def encode_batch(batch: pa.RecordBatch, chunk_id: str, pkey: int = -1) -> pa.RecordBatch:
    """Encode one Arrow batch of tokens rows into a single encoded-chunk row."""
    values, offsets = _tokens_parts(batch)
    lengths = np.diff(offsets).astype(np.int32)
    order, labels, rmin, rmax = _cluster_order(values, offsets)
    doc_id = batch.column(batch.schema.get_field_index("doc_id"))
    source = batch.column(batch.schema.get_field_index("source"))
    if isinstance(doc_id, pa.ChunkedArray):  # pragma: no cover
        doc_id, source = doc_id.combine_chunks(), source.combine_chunks()
    if not np.array_equal(order, np.arange(len(order))):
        # segment gather of the flat token stream (numpy, no ListArray take):
        # one fused index pass — arange + per-row (old_start - new_start)
        # delta repeated over row lengths — in int32 when indices fit (they
        # do for any sane chunk; int32 halves the index traffic, measured
        # 24.9 -> 6.9 ms on a 7.1M-value chunk, ~30% of encode_batch)
        new_lengths = lengths[order]
        new_offsets = np.zeros(len(new_lengths) + 1, dtype=np.int64)
        np.cumsum(new_lengths, out=new_offsets[1:])
        total = int(new_offsets[-1])
        if total:
            idt = np.int32 if total < (1 << 31) else np.int64
            gather = np.arange(total, dtype=idt)
            gather += np.repeat(
                (offsets[:-1][order] - new_offsets[:-1]).astype(idt),
                new_lengths,
            )
            values = values[gather]
        lengths, offsets = new_lengths, new_offsets
        order_pa = pa.array(order)
        doc_id = doc_id.take(order_pa)
        source = source.take(order_pa)

    parts = {
        "lengths": encode_int_array(lengths),
        "doc_id": encode_string_array(doc_id),
        "source": encode_string_array(source),
    }
    # one encoded part per content group of the tokens stream; group extrema
    # come free from the clustering pass's per-row reduceat (no extra scan)
    rmin_o, rmax_o = rmin[order], rmax[order]
    nonempty_o = lengths > 0
    row_bounds = [0]
    boundaries = [0]
    if len(labels):
        change = np.flatnonzero(labels[1:] != labels[:-1])
        row_bounds += [int(i + 1) for i in change]
        boundaries += [int(offsets[i + 1]) for i in change]
    row_bounds.append(len(labels))
    boundaries.append(int(offsets[-1]))
    n_groups = max(len(boundaries) - 1, 1)
    biggest, main_codec = -1, "plain"
    for gi in range(n_groups):
        lo, hi = boundaries[gi], boundaries[gi + 1]
        ra, rb = row_bounds[gi], row_bounds[gi + 1]
        gmask = nonempty_o[ra:rb]
        gmin = int(rmin_o[ra:rb][gmask].min()) if gmask.any() else None
        gmax = int(rmax_o[ra:rb][gmask].max()) if gmask.any() else None
        enc = encode_int_array(values[lo:hi], vmin=gmin, vmax=gmax)
        parts[f"tokens_g{gi}"] = enc
        if hi - lo > biggest:
            biggest, main_codec = hi - lo, enc["codec"]
    parts["tokens"] = {
        "codec": main_codec,
        "meta": {"n_groups": n_groups},
        "payload": b"",
        "raw_bytes": 0,
    }
    payload, meta_parts = _pack_parts(parts)
    raw_bytes = sum(p.get("raw_bytes", 0) for p in parts.values())
    meta = json.dumps({"parts": meta_parts}, separators=(",", ":"))
    return pa.RecordBatch.from_arrays(
        [
            pa.array([chunk_id], type=pa.string()),
            pa.array([pkey], type=pa.int32()),
            pa.array([batch.num_rows], type=pa.int64()),
            pa.array([len(values)], type=pa.int64()),
            pa.array([raw_bytes], type=pa.int64()),
            pa.array([len(payload) + len(meta)], type=pa.int64()),
            pa.array([parts["tokens"]["codec"]], type=pa.string()),
            pa.array([chunk_checksum(values, lengths)], type=pa.int64()),
            pa.array([meta], type=pa.string()),
            pa.array([payload], type=pa.binary()),
        ],
        names=[
            "chunk_id",
            "pkey",
            "n_rows",
            "n_values",
            "raw_bytes",
            "enc_bytes",
            "tokens_codec",
            "checksum",
            "meta",
            "payload",
        ],
    )


def decode_chunk_row(
    meta_json: str,
    payload: bytes,
    n_rows: int,
    expected_checksum: int | None = None,
    columns: tuple[str, ...] = TOKENS_COLUMNS,
) -> pa.RecordBatch:
    """Inverse of :func:`encode_batch`: one encoded row -> a tokens batch.

    With ``expected_checksum`` the decoded token content is integrity-checked
    against the checksum stamped at encode time (storage corruption surfaces
    here, not at the differ).

    ``columns`` prunes the decode to the requested columns — the engine's own
    projection pushdown (reference P1 applied to our chunk format: unneeded
    column parts are never decoded; their payload bytes are skipped)."""
    parts = _unpack_parts(json.loads(meta_json)["parts"], payload)
    lengths = decode_int_array(
        parts["lengths"]["codec"], parts["lengths"]["meta"], parts["lengths"]["payload"], n_rows
    )
    values = None
    if "tokens" in columns or expected_checksum is not None:
        n_groups = parts["tokens"]["meta"]["n_groups"]
        pieces = []
        for gi in range(n_groups):
            p = parts[f"tokens_g{gi}"]
            pieces.append(decode_int_array(p["codec"], p["meta"], p["payload"], p["n"]))
        values = pieces[0] if n_groups == 1 else np.concatenate(pieces)
    if expected_checksum is not None:
        got = chunk_checksum(values, lengths)
        if got != expected_checksum:
            raise ValueError(
                f"chunk checksum mismatch: stored {expected_checksum}, decoded {got}"
            )
    out: dict[str, pa.Array] = {}
    if "doc_id" in columns:
        out["doc_id"] = decode_string_array(parts["doc_id"]["meta"], parts["doc_id"]["payload"])
    if "tokens" in columns:
        offsets = np.zeros(n_rows + 1, dtype=np.int64)
        np.cumsum(lengths.astype(np.int64), out=offsets[1:])
        out["tokens"] = pa.ListArray.from_arrays(
            pa.array(offsets.astype(np.int32)), pa.array(values, type=pa.int32())
        )
    if "n_tok" in columns:
        out["n_tok"] = pa.array(lengths.astype(np.int32))
    if "source" in columns:
        out["source"] = decode_string_array(parts["source"]["meta"], parts["source"]["payload"])
    names = [c for c in columns if c in out]
    return pa.RecordBatch.from_arrays([out[c] for c in names], names=names)


def decode_chunks(
    batches: Iterator[pa.RecordBatch], columns: tuple[str, ...], verify_checksum: bool
) -> Iterator[pa.RecordBatch]:
    """Worker side of every chunk decode: one :func:`decode_chunk_row` batch
    per encoded row. Payloads are copied out one row at a time, so a task
    never holds a second copy of a whole batch of payloads. With
    ``verify_checksum``, each chunk is checked against the frame's
    ``checksum`` column when it has one."""
    for batch in batches:
        metas = batch.column(batch.schema.get_field_index("meta"))
        payloads = batch.column(batch.schema.get_field_index("payload"))
        n_rows = batch.column(batch.schema.get_field_index("n_rows"))
        ck = batch.schema.get_field_index("checksum")
        checks = batch.column(ck) if verify_checksum and ck >= 0 else None
        for i in range(batch.num_rows):
            yield decode_chunk_row(
                metas[i].as_py(),
                payloads[i].as_py(),
                n_rows[i].as_py(),
                checks[i].as_py() if checks is not None else None,
                columns,
            )


# --- DataFrame-level pipelines ----------------------------------------------


def encode_tokens_df(df: DataFrame, by_key: bool = False, n_buckets: int = 256) -> DataFrame:
    """Encode a tokens DataFrame into encoded chunks. On both paths a chunk
    holds at most one Arrow batch the session hands the worker
    (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows).

    fast path (default): zero-shuffle mapInArrow, one chunk per batch.
    keyed path: deterministic bucket per row -> one chunk per bucket per
    batch, resumable via the checkpoint table (checkpoint.py).

    ``n_buckets`` applies only when ``by_key=True``.
    """
    if not by_key:

        def encode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            pid = TaskContext.get().partitionId()
            for seq, batch in enumerate(batches):
                if batch.num_rows == 0:
                    continue
                yield encode_batch(batch, chunk_id=f"{pid:06d}.{seq:05d}")

        return df.mapInArrow(encode_partition, ENCODED_SCHEMA_DDL)

    # caller-planned buckets (e.g. chunker salting) are kept as they are
    keyed = df if "pkey" in df.columns else with_pkey(df, n_buckets)

    def encode_bucket(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # Rows arrive sorted by pkey within the partition; an Arrow batch may
        # still straddle a pkey boundary, so split on pkey change points.
        seq: dict[int, int] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            pk = batch.column(batch.schema.get_field_index("pkey")).to_numpy()
            body = batch.drop_columns(["pkey"])
            change = np.flatnonzero(pk[1:] != pk[:-1])
            bounds = np.concatenate(([0], change + 1, [len(pk)]))
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                pkey = int(pk[lo])
                i = seq.get(pkey, 0)
                seq[pkey] = i + 1
                sub = body.slice(int(lo), int(hi - lo))
                yield encode_batch(sub, chunk_id=f"k{pkey:06d}.{i:05d}", pkey=pkey)

    grouped = keyed.repartition(n_buckets, "pkey").sortWithinPartitions("pkey", "doc_id")
    return grouped.mapInArrow(encode_bucket, ENCODED_SCHEMA_DDL)


_TOKENS_FIELD_DDL = {
    "doc_id": "doc_id string",
    "tokens": "tokens array<int>",
    "n_tok": "n_tok int",
    "source": "source string",
}


def decode_chunks_df(encoded: DataFrame, columns: tuple[str, ...] = TOKENS_COLUMNS) -> DataFrame:
    """Decode encoded chunks back to the tokens schema (zero shuffles),
    integrity-checking each chunk against its stored checksum when the
    frame has a ``checksum`` column. ``columns`` prunes the decode
    (projection pushdown into the chunk format — unrequested column parts
    are never decoded)."""
    ddl = ", ".join(_TOKENS_FIELD_DDL[c] for c in columns)
    return encoded.mapInArrow(lambda batches: decode_chunks(batches, columns, True), ddl)
