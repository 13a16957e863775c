"""Minimal Apache Avro 1.11 object-container codec (pure Python, stdlib).

Iceberg manifests and manifest lists are Avro files; this image ships no
avro library and no Iceberg jar, so the engine carries its own spec-driven
encoder/decoder (Avro 1.11 specification, "Object Container Files" +
"Binary Encoding"). Scope: the types Iceberg metadata actually uses —
null/boolean/int/long/float/double/bytes/string/fixed, records, arrays,
maps, unions — plus the deflate codec on read.

Writer determinism: the 16-byte sync marker is md5(schema JSON), so a
retried write of the same records is byte-identical (the engine's
idempotent-replay invariant extends to metadata files).
"""

from __future__ import annotations

import hashlib
import io
import json
import struct
import zlib
from typing import Any

MAGIC = b"Obj\x01"


# ---------------------------------------------------------------- primitives


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(out: io.BytesIO, n: int) -> None:
    """Variable-length zigzag (Avro spec 'Binary Encoding: long')."""
    z = _zigzag(n)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        (b,) = buf.read(1)
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(acc)
        shift += 7


def _write_bytes(out: io.BytesIO, b: bytes) -> None:
    write_long(out, len(b))
    out.write(b)


def _read_bytes(buf: io.BytesIO) -> bytes:
    return buf.read(read_long(buf))


# ------------------------------------------------------------------- schemas


def _resolve(schema: Any, names: dict[str, Any]) -> Any:
    """Normalize a schema node: register named types, resolve references."""
    if isinstance(schema, str):
        if schema in names:
            return names[schema]
        return schema  # primitive name
    if isinstance(schema, list):
        return [_resolve(s, names) for s in schema]
    t = schema.get("type")
    if t in ("record", "fixed", "enum"):
        names[schema["name"]] = schema
        if t == "record":
            for f in schema["fields"]:
                f["type"] = _resolve(f["type"], names)
    elif t == "array":
        schema["items"] = _resolve(schema["items"], names)
    elif t == "map":
        schema["values"] = _resolve(schema["values"], names)
    return schema


def parse_schema(schema_json: str) -> Any:
    return _resolve(json.loads(schema_json), {})


# ------------------------------------------------------------------ encoding


def write_datum(out: io.BytesIO, schema: Any, v: Any) -> None:
    if isinstance(schema, list):  # union: zigzag branch index + value
        idx = _union_branch(schema, v)
        write_long(out, idx)
        write_datum(out, schema[idx], v)
        return
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return
    if t == "boolean":
        out.write(b"\x01" if v else b"\x00")
    elif t in ("int", "long"):
        write_long(out, int(v))
    elif t == "float":
        out.write(struct.pack("<f", v))
    elif t == "double":
        out.write(struct.pack("<d", v))
    elif t == "bytes":
        _write_bytes(out, bytes(v))
    elif t == "string":
        _write_bytes(out, v.encode("utf-8"))
    elif t == "fixed":
        assert len(v) == schema["size"]
        out.write(bytes(v))
    elif t == "record":
        for f in schema["fields"]:
            if f["name"] in v:
                fv = v[f["name"]]
            elif "default" in f:
                fv = f["default"]
            else:
                fv = None  # only legal if the field type is nullable
            write_datum(out, f["type"], fv)
    elif t == "array":
        if v:
            write_long(out, len(v))
            for item in v:
                write_datum(out, schema["items"], item)
        write_long(out, 0)
    elif t == "map":
        if v:
            write_long(out, len(v))
            for k, mv in v.items():
                _write_bytes(out, k.encode("utf-8"))
                write_datum(out, schema["values"], mv)
        write_long(out, 0)
    else:
        raise ValueError(f"unsupported avro type: {t}")


def _union_branch(union: list, v: Any) -> int:
    def tag(s: Any) -> str:
        return s if isinstance(s, str) else s["type"]

    if v is None:
        for i, s in enumerate(union):
            if tag(s) == "null":
                return i
        raise ValueError("null for non-nullable union")
    for i, s in enumerate(union):
        if tag(s) != "null":
            return i  # Iceberg unions are always [null, X]
    raise ValueError("no non-null branch")


def read_datum(buf: io.BytesIO, schema: Any) -> Any:
    if isinstance(schema, list):
        return read_datum(buf, schema[read_long(buf)])
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return None
    if t == "boolean":
        return buf.read(1) == b"\x01"
    if t in ("int", "long"):
        return read_long(buf)
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        return _read_bytes(buf)
    if t == "string":
        return _read_bytes(buf).decode("utf-8")
    if t == "fixed":
        return buf.read(schema["size"])
    if t == "record":
        return {f["name"]: read_datum(buf, f["type"]) for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix (spec-legal, skip size)
                read_long(buf)
                n = -n
            for _ in range(n):
                out.append(read_datum(buf, schema["items"]))
    if t == "map":
        out = {}
        while True:
            n = read_long(buf)
            if n == 0:
                return out
            if n < 0:
                read_long(buf)
                n = -n
            for _ in range(n):
                k = _read_bytes(buf).decode("utf-8")
                out[k] = read_datum(buf, schema["values"])
    if t == "enum":
        return schema["symbols"][read_long(buf)]
    raise ValueError(f"unsupported avro type: {t}")


# ---------------------------------------------------------------- containers


def write_container(schema_json: str, records: list[dict], meta: dict[str, str] | None = None) -> bytes:
    """One-block Avro object container file, codec null."""
    schema = parse_schema(schema_json)
    sync = hashlib.md5(schema_json.encode()).digest()
    out = io.BytesIO()
    out.write(MAGIC)
    header_meta = {"avro.schema": schema_json, "avro.codec": "null"}
    if meta:
        header_meta.update(meta)
    write_long(out, len(header_meta))
    for k, v in header_meta.items():
        _write_bytes(out, k.encode("utf-8"))
        _write_bytes(out, v.encode("utf-8"))
    write_long(out, 0)
    out.write(sync)
    body = io.BytesIO()
    for r in records:
        write_datum(body, schema, r)
    payload = body.getvalue()
    write_long(out, len(records))
    write_long(out, len(payload))
    out.write(payload)
    out.write(sync)
    return out.getvalue()


def read_container(data: bytes) -> tuple[dict[str, bytes], list[dict]]:
    """Decode an Avro object container: (file metadata, records)."""
    buf = io.BytesIO(data)
    if buf.read(4) != MAGIC:
        raise ValueError("not an avro container")
    meta: dict[str, bytes] = {}
    while True:
        n = read_long(buf)
        if n == 0:
            break
        if n < 0:
            read_long(buf)
            n = -n
        for _ in range(n):
            k = _read_bytes(buf).decode("utf-8")
            meta[k] = _read_bytes(buf)
    sync = buf.read(16)
    schema = parse_schema(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    records: list[dict] = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, 1)
        count = read_long(buf)
        size = read_long(buf)
        block = buf.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec}")
        bbuf = io.BytesIO(block)
        for _ in range(count):
            records.append(read_datum(bbuf, schema))
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch")
    return meta, records
