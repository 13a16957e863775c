"""Generic table chunk codec: any flat schema, the reference's data model.

The reference's column model separates VALUES from VALIDITY: definition
levels become a validity array parallel to a dense (nulls-elided) values
array (reference: src/parquet-diff.cc:166-174,
src/parquet-to-text-stream.cc:128-132). This module reproduces exactly that:
per column chunk -> (1-bit-packed validity | absent when no nulls) + dense
values encoded by the type-appropriate pipeline:

- int8/16/32/64, date32, timestamp  -> integer codec pipeline (selector),
  logical type recorded in meta (physical storage is int32/int64, like
  Parquet's INT32/INT64 + logical annotations, reference §1.3)
- string                            -> string pipeline (dict/FSST/planes)
- float32/float64                   -> byte-plane split (shuffle transform;
  exponent/sign planes compress, mantissa planes ride the container codec)
- bool                              -> 1-bit pack

Everything is numpy/pyarrow on flat buffers; one encoded row per chunk with
a self-describing schema (decode needs no external catalog). This is what
makes the engine a drop-in for the reference's convert use case on ANY
supported table, not just the tokens shape.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from .codecs.base import pack_bits, unpack_bits
from .column import (
    _pack_parts,
    _unpack_parts,
    decode_int_array,
    decode_string_array,
    encode_int_array,
    encode_string_array,
)

GENERIC_SCHEMA_DDL = (
    "chunk_id string, n_rows long, raw_bytes long, enc_bytes long, "
    "schema string, meta string, payload binary"
)

_INT_TYPES = {
    pa.int8(): ("int32", "int8"),
    pa.int16(): ("int32", "int16"),
    pa.int32(): ("int32", "int32"),
    pa.int64(): ("int64", "int64"),
    pa.uint8(): ("int32", "uint8"),
    pa.uint16(): ("int32", "uint16"),
    pa.uint32(): ("int64", "uint32"),
    # uint64 rides on int64 PHYSICAL bits, reinterpreted at decode — exactly
    # the reference's unsigned model (src/parquet-to-text-stream.cc:203-204)
    pa.uint64(): ("int64", "uint64"),
}


def _split_validity(arr: pa.Array) -> tuple[dict | None, pa.Array]:
    """(validity part | None, dense non-null values) — the reference model."""
    if arr.null_count == 0:
        return None, arr
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    dense = arr.drop_null()
    part = {
        "codec": "validity",
        "meta": {},
        "payload": pack_bits(valid.astype(np.uint64), 1),
        "n": len(arr),
    }
    return part, dense


def _restore_validity(dense: pa.Array, n: int, has_validity: bool, payload: bytes) -> pa.Array:
    import pyarrow.compute as pc

    if not has_validity:
        return dense
    if len(dense) == 0:
        return pa.nulls(n, dense.type)
    valid = unpack_bits(payload, 1, n).astype(bool)
    idx = np.full(n, 0, dtype=np.int64)
    idx[valid] = np.arange(int(valid.sum()))
    taken = dense.take(pa.array(idx, type=pa.int64()))
    return pc.if_else(pa.array(~valid), pa.nulls(n, taken.type), taken)


def encode_column(arr: pa.Array, name: str) -> dict:
    """One column chunk as a ``column._pack_parts`` part: codec = column
    kind, meta = logical type + dense count + its sub-parts' framing."""
    t = arr.type
    validity, dense = _split_validity(arr)
    parts: dict[str, dict] = {}
    if validity is not None:
        parts["validity"] = validity
    if t in _INT_TYPES:
        storage, logical = _INT_TYPES[t]
        vals = dense.to_numpy(zero_copy_only=False).astype(storage)
        enc = encode_int_array(vals)
        kind = "int"
        meta = {"logical": logical}
    elif pa.types.is_timestamp(t):
        vals = dense.cast(pa.int64()).to_numpy(zero_copy_only=False)
        enc = encode_int_array(vals)
        kind = "timestamp"
        meta = {"unit": t.unit, "tz": t.tz}
    elif pa.types.is_date32(t):
        vals = dense.cast(pa.int32()).to_numpy(zero_copy_only=False)
        enc = encode_int_array(vals)
        kind = "date32"
        meta = {}
    elif pa.types.is_boolean(t):
        vals = dense.to_numpy(zero_copy_only=False).astype(np.uint64)
        enc = {
            "codec": "bits",
            "meta": {},
            "payload": pack_bits(vals, 1),
            "n": len(dense),
            "raw_bytes": len(dense),
        }
        kind = "bool"
        meta = {}
    elif pa.types.is_floating(t):
        itemsize = 4 if t == pa.float32() else 8
        raw = dense.to_numpy(zero_copy_only=False).astype(
            np.float32 if itemsize == 4 else np.float64
        )
        mat = raw.view(np.uint8).reshape(len(raw), itemsize) if len(raw) else np.empty((0, itemsize), np.uint8)
        # byte-plane split: transpose so each significance plane is contiguous
        enc = {
            "codec": "float_planes",
            "meta": {"itemsize": itemsize},
            "payload": mat.T.tobytes(),
            "n": len(raw),
            "raw_bytes": raw.nbytes,
        }
        kind = "float"
        meta = {"itemsize": itemsize}
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        enc = encode_string_array(dense.cast(pa.string()))
        kind = "string"
        meta = {}
    elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
        # media/blob payload columns: same offsets+values pipeline as
        # strings, minus utf8 validation
        enc = encode_string_array(dense.cast(pa.binary()))
        kind = "binary"
        meta = {}
    else:
        raise ValueError(f"unsupported column type for {name}: {t}")
    parts["data"] = enc
    payload, meta_parts = _pack_parts(parts)
    return {
        "codec": kind,
        "meta": {**meta, "n_dense": len(dense), "parts": meta_parts},
        "payload": payload,
        "n": len(arr),
        "raw_bytes": enc.get("raw_bytes", len(enc["payload"])) + (len(arr) + 7) // 8,
    }


def decode_column(kind: str, meta: dict, payload: bytes, n: int) -> pa.Array:
    """Inverse of :func:`encode_column`."""
    parts = _unpack_parts(meta["parts"], payload)
    n_dense = meta["n_dense"]
    data = parts["data"]
    if kind in ("int", "timestamp", "date32"):
        vals = decode_int_array(data["codec"], data["meta"], data["payload"], n_dense)
        if kind == "int":
            logical = meta["logical"]
            if logical == "uint64":
                # bit reinterpret, not value cast (values > 2^63 are stored
                # as negative int64 — an arrow cast would range-check)
                dense = pa.array(vals.astype(np.int64, copy=False).view(np.uint64))
            else:
                pa_type = {
                    "int8": pa.int8(), "int16": pa.int16(), "int32": pa.int32(),
                    "int64": pa.int64(), "uint8": pa.uint8(), "uint16": pa.uint16(),
                    "uint32": pa.uint32(),
                }[logical]
                dense = pa.array(vals).cast(pa_type)
        elif kind == "timestamp":
            dense = pa.array(vals, type=pa.int64()).cast(pa.timestamp(meta["unit"], meta["tz"]))
        else:
            dense = pa.array(vals.astype(np.int32)).cast(pa.date32())
    elif kind == "bool":
        dense = pa.array(unpack_bits(data["payload"], 1, n_dense).astype(bool))
    elif kind == "float":
        itemsize = meta["itemsize"]
        mat = np.frombuffer(data["payload"], dtype=np.uint8).reshape(itemsize, n_dense)
        raw = np.ascontiguousarray(mat.T).view(np.float32 if itemsize == 4 else np.float64).ravel()
        dense = pa.array(raw)
    elif kind == "string":
        dense = decode_string_array(data["meta"], data["payload"]).cast(pa.string())
    elif kind == "binary":
        dense = decode_string_array(data["meta"], data["payload"]).cast(pa.binary())
    else:  # pragma: no cover
        raise ValueError(f"unknown column kind {kind}")
    has_validity = "validity" in parts
    vp = parts["validity"]["payload"] if has_validity else b""
    return _restore_validity(dense, n, has_validity, vp)


def encode_table_batch(batch: pa.RecordBatch, chunk_id: str) -> pa.RecordBatch:
    cols = {f.name: encode_column(batch.column(i), f.name) for i, f in enumerate(batch.schema)}
    blob, meta_parts = _pack_parts(cols)
    raw_bytes = sum(c["raw_bytes"] for c in cols.values())
    schema_json = json.dumps(batch.schema.names)
    meta = json.dumps({"columns": meta_parts}, separators=(",", ":"))
    return pa.RecordBatch.from_arrays(
        [
            pa.array([chunk_id]),
            pa.array([batch.num_rows], type=pa.int64()),
            pa.array([raw_bytes], type=pa.int64()),
            pa.array([len(blob) + len(meta)], type=pa.int64()),
            pa.array([schema_json]),
            pa.array([meta]),
            pa.array([blob], type=pa.binary()),
        ],
        names=["chunk_id", "n_rows", "raw_bytes", "enc_bytes", "schema", "meta", "payload"],
    )


def decode_table_row(schema_json: str, meta_json: str, payload: bytes) -> pa.RecordBatch:
    names = json.loads(schema_json)
    cols = _unpack_parts(json.loads(meta_json)["columns"], payload)
    arrays = [
        decode_column(c["codec"], c["meta"], c["payload"], c["n"]) for c in map(cols.get, names)
    ]
    return pa.RecordBatch.from_arrays(arrays, names=names)


# --- DataFrame wrappers -------------------------------------------------------


def encode_table_df(df: DataFrame) -> DataFrame:
    """One generic chunk per Arrow batch the session hands the worker."""
    from pyspark import TaskContext

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = TaskContext.get().partitionId()
        for seq, batch in enumerate(batches):
            if batch.num_rows:
                yield encode_table_batch(batch, f"{pid:06d}.{seq:05d}")

    return df.mapInArrow(run, GENERIC_SCHEMA_DDL)


def decode_table_df(encoded: DataFrame, result_ddl: str) -> DataFrame:
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            schemas = batch.column(batch.schema.get_field_index("schema"))
            metas = batch.column(batch.schema.get_field_index("meta"))
            payloads = batch.column(batch.schema.get_field_index("payload"))
            for i in range(batch.num_rows):
                yield decode_table_row(
                    schemas[i].as_py(), metas[i].as_py(), payloads[i].as_py()
                )

    return encoded.mapInArrow(run, result_ddl)
