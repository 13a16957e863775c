"""Pure-Python Iceberg v2 table metadata: snapshots, manifests, time travel.

The north rule targets Iceberg tables and this image carries neither the
iceberg-spark runtime nor an avro library, so the engine implements the
table-format METADATA layer itself from the public Iceberg Table Spec
(format version 2): table-metadata JSON, Avro manifest lists and manifests
(via sources/avro_io), hadoop-catalog style version-hint commits. Data
files are ordinary parquet written by Spark — exactly what Iceberg tracks —
so a jar-equipped cluster can adopt the same layout, and this sandbox can
commit/append/time-travel/read without one.

Spec conformance kept: field-ids on every schema field and every Avro
manifest field (field-id props), v2 required manifest_file/manifest_entry
fields, sequence numbers written explicitly, snapshot log + metadata log,
exclusive metadata-file creation as the commit point with listing-based
version resolution (the hadoop catalog's semantics; version-hint is a
fast-path hint). Every metadata writer — commits, refs, write-audit-
publish, rollback, expiry, manifest rewrite — reads the table state once
(_resolve_state) and publishes through _publish_metadata against the
version it read, so a concurrent commit raises CommitConflict instead of
being overwritten. Every reader — snapshot scans, file lists, changelog
and incremental reads, metadata tables — likewise resolves ONE snapshot
from one state read and takes that snapshot's data files and delete
files from one walk of its manifest list (_live_files), so a commit
landing mid-read can never pair one snapshot's files with another's
deletes. Implemented on top of that: identity partitioning with
manifest-level pruning, bucket[N] / truncate[W] / day / month / year
partition transforms (spec murmur3 — published Appendix B hash vectors
pinned in tests; negative-safe truncate; epoch-ordinal temporals;
transform-pruned scans), column min/max bounds with range skipping,
additive schema evolution, logical-partition overwrite (replace_on),
snapshot expiry + orphan detection, incremental added-files reads, CoW
DML + compaction on unpartitioned and any-partitioned tables
(sources/iceberg.py).

Row-level deletes, all spec flavors: copy-on-write (sources/iceberg.py
delete_where/delete_keys/merge_keys rewrite affected files), merge-on-read
POSITION DELETE files (spec "Position Delete Files": parquet files of
(file_path 2147483546, pos 2147483545) committed under a content=1 delete
manifest; readers apply them as an anti-join, writers never rewrite
data — delete_where_mor / materialize_deletes in sources/iceberg.py), and
merge-on-read EQUALITY DELETE files (content=2 manifests carrying
equality_ids; readers apply them as a null-safe anti-join on the key
columns gated by sequence number — delete_keys_mor / upsert_keys_mor in
sources/iceberg.py, changelog delete_key rows in the CDC reader).

Deliberate scope cuts (documented, not hidden): JSON/Avro layout validated
by this module's own reader + byte-level Avro spec goldens in tests (no
independent Iceberg reader exists in this image).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass

from . import avro_io

FORMAT_VERSION = 2


# ------------------------------------------------------------ avro schemas
# Field ids per the Iceberg spec "Manifests" / "Manifest Lists" tables.


def _f(name: str, fid: int, ftype, doc: str | None = None) -> dict:
    d = {"name": name, "field-id": fid, "type": ftype}
    if isinstance(ftype, list):
        d["default"] = None
    return d


_FIELD_SUMMARY = {
    "type": "record",
    "name": "r508",
    "fields": [
        _f("contains_null", 509, "boolean"),
        _f("contains_nan", 518, ["null", "boolean"]),
        _f("lower_bound", 510, ["null", "bytes"]),
        _f("upper_bound", 511, ["null", "bytes"]),
    ],
}

MANIFEST_FILE_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            _f("manifest_path", 500, "string"),
            _f("manifest_length", 501, "long"),
            _f("partition_spec_id", 502, "int"),
            _f("content", 517, "int"),
            _f("sequence_number", 515, "long"),
            _f("min_sequence_number", 516, "long"),
            _f("added_snapshot_id", 503, "long"),
            _f("added_files_count", 504, "int"),
            _f("existing_files_count", 505, "int"),
            _f("deleted_files_count", 506, "int"),
            _f("added_rows_count", 512, "long"),
            _f("existing_rows_count", 513, "long"),
            _f("deleted_rows_count", 514, "long"),
            _f("partitions", 507, ["null", {"type": "array", "items": _FIELD_SUMMARY}]),
        ],
    }
)

# iceberg type -> avro type for identity-partition value fields
_ICEBERG_TO_AVRO = {"string": "string", "long": "long", "int": "int",
                    "boolean": "boolean", "double": "double", "float": "float",
                    "date": "int", "timestamp": "long", "timestamptz": "long"}


def _bounds_field(name: str, fid: int, rec: str, kid: int, vid: int) -> dict:
    """map<int, binary> in Iceberg's avro form: an array of key/value
    records with spec field-ids (lower_bounds 125: k126/v127, upper_bounds
    128: k129/v130)."""
    return _f(
        name,
        fid,
        [
            "null",
            {
                "type": "array",
                "logicalType": "map",
                "items": {
                    "type": "record",
                    "name": rec,
                    "fields": [
                        _f("key", kid, "int"),
                        _f("value", vid, "bytes"),
                    ],
                },
            },
        ],
    )


def manifest_entry_schema(partition_fields: list[tuple[str, str]] | None = None) -> str:
    """manifest_entry Avro schema for a table's partition spec: the r102
    partition struct carries one nullable field per identity-partition
    column (spec field-ids from 1000, matching the partition-spec JSON);
    an unpartitioned table gets the empty struct."""
    pf = [
        {
            "name": name,
            "field-id": 1000 + i,
            "type": ["null", _ICEBERG_TO_AVRO[itype]],
            "default": None,
        }
        for i, (name, itype) in enumerate(partition_fields or [])
    ]
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            _f("content", 134, "int"),
            _f("file_path", 100, "string"),
            _f("file_format", 101, "string"),
            _f("partition", 102, {"type": "record", "name": "r102", "fields": pf}),
            _f("record_count", 103, "long"),
            _f("file_size_in_bytes", 104, "long"),
            _bounds_field("lower_bounds", 125, "k126_v127", 126, 127),
            _bounds_field("upper_bounds", 128, "k129_v130", 129, 130),
            _f("split_offsets", 132, ["null", {"type": "array", "items": "long"}]),
            _f("equality_ids", 135, ["null", {"type": "array", "items": "int"}]),
            _f("sort_order_id", 140, ["null", "int"]),
            # Iceberg v3 deletion-vector references (spec field ids
            # 143/144/145): a content=1 entry whose file is a Puffin DV
            # blob names its target data file and the blob's byte span
            _f("referenced_data_file", 143, ["null", "string"]),
            _f("content_offset", 144, ["null", "long"]),
            _f("content_size_in_bytes", 145, ["null", "long"]),
        ],
    }
    return json.dumps(
        {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                _f("status", 0, "int"),  # 0 existing / 1 added / 2 deleted
                _f("snapshot_id", 1, ["null", "long"]),
                _f("sequence_number", 3, ["null", "long"]),
                _f("file_sequence_number", 4, ["null", "long"]),
                _f("data_file", 2, data_file),
            ],
        }
    )


MANIFEST_ENTRY_SCHEMA = manifest_entry_schema()


# ------------------------------------------------------- schema conversion

_SPARK_TO_ICEBERG = {
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "string": "string",
    "boolean": "boolean",
    "float": "float",
    "double": "double",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
}


def iceberg_schema(spark_schema, schema_id: int = 0) -> tuple[dict, int]:
    """Iceberg struct schema (with field-ids) from a Spark StructType.
    Returns (schema dict, last assigned column id). Element ids for arrays
    continue the same counter, per the spec's unique-field-id rule."""
    next_id = 0
    fields = []

    def alloc() -> int:
        nonlocal next_id
        next_id += 1
        return next_id

    pending = []  # (field dict, spark element type) for second-pass elements
    for f in spark_schema.fields:
        fid = alloc()
        t = f.dataType.typeName()
        if t == "array":
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": None,  # patched below once the element id exists
                }
            )
            pending.append((fields[-1], f.dataType))
        else:
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _SPARK_TO_ICEBERG[t],
                }
            )
    for fld, dt in pending:
        eid = alloc()
        fld["type"] = {
            "type": "list",
            "element-id": eid,
            "element": _SPARK_TO_ICEBERG[dt.elementType.typeName()],
            "element-required": not dt.containsNull,
        }
    return (
        {"type": "struct", "schema-id": schema_id, "fields": fields},
        next_id,
    )


# ------------------------------------------------------------- table state


class CommitConflict(RuntimeError):
    """A different writer committed this metadata version first."""


@dataclass
class DataFile:
    path: str
    record_count: int
    file_size: int
    partition: dict | None = None  # identity-partition values, if any
    lower_bounds: dict | None = None  # {field_id: raw python value}
    upper_bounds: dict | None = None
    content: int = 0  # 0 = data, 1 = position deletes, 2 = equality deletes
    equality_ids: list | None = None  # content=2: field ids of the key columns
    sequence: int | None = None  # manifest entry sequence number (read side)
    spec_id: int = 0  # partition spec the file's manifest was written under
    # Iceberg v3 deletion vector (content=1 + referenced_data_file set):
    # ``path`` is then the Puffin file; offset/size locate the DV blob
    referenced_data_file: str | None = None
    content_offset: int | None = None
    content_size: int | None = None


# Position-delete file columns carry RESERVED field ids (spec "Reserved
# field IDs"): file_path = int.max-101, pos = int.max-102. The delete
# parquet stores file_path exactly as Spark's _metadata.file_path renders
# the data file (a file: URI) so the read-side anti-join compares raw
# scan-native values on both sides — no decode step whose edge cases
# (percent-encoding, '+') could silently unmatch; driver-side code that
# needs the manifest abspath converts with unquote(urlparse(...).path).
POS_DELETE_DDL = "file_path string, pos bigint"
POS_DELETE_FIELD_IDS = {"file_path": 2147483546, "pos": 2147483545}


def _meta_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "metadata")


def _hint_path(table_dir: str) -> str:
    return os.path.join(_meta_dir(table_dir), "version-hint.text")


def _resolve_state(table_dir: str) -> tuple[int | None, dict | None]:
    """(version, metadata) of the table — hadoop-catalog semantics: the
    HIGHEST parseable vN.metadata.json on disk is current; creating that
    file IS the commit, and version-hint.text is only a fast-path hint.
    This is what makes a crash between metadata creation and the hint swap
    a COMPLETED commit rather than a replay trap: the next reader (or the
    resuming job's marker scan) lists the file and sees the snapshot. A
    torn metadata file from a mid-write crash parses as garbage and is
    skipped (the commit path unlinks it and atomically re-links the slot —
    see _reconcile_existing_commit)."""
    meta_dir = _meta_dir(table_dir)
    versions: list[int] = []
    try:
        for name in os.listdir(meta_dir):
            if name.startswith("v") and name.endswith(".metadata.json"):
                try:
                    versions.append(int(name[1:].split(".")[0]))
                except ValueError:
                    pass
    except OSError:
        return None, None
    for v in sorted(versions, reverse=True):
        try:
            with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as f:
                return v, json.load(f)
        except (OSError, json.JSONDecodeError):
            continue  # torn write from a crashed committer
    return None, None


def current_version(table_dir: str) -> int | None:
    return _resolve_state(table_dir)[0]


def current_metadata(table_dir: str) -> dict | None:
    return _resolve_state(table_dir)[1]


def _table_state(table_dir: str) -> tuple[int, dict]:
    """(version, metadata) from one _resolve_state read; a path with no
    table raises FileNotFoundError."""
    version, meta = _resolve_state(table_dir)
    if meta is None:
        raise FileNotFoundError(f"no iceberg table at {table_dir}")
    return version, meta


def _read_avro(path: str) -> list[dict]:
    """Records of one Avro container (a manifest list or a manifest): the
    one Avro read of the metadata layer."""
    with open(path, "rb") as f:
        return avro_io.read_container(f.read())[1]


def _current_schema(meta: dict) -> dict:
    """The schema entry ``current-schema-id`` names."""
    return next(s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"])


import struct as _struct


def encode_bound(v, itype: str) -> bytes:
    """Iceberg single-value binary serialization (spec Appendix D):
    little-endian fixed width for numerics, UTF-8 for strings."""
    if itype == "long":
        return _struct.pack("<q", int(v))
    if itype in ("int", "date"):
        if itype == "date" and not isinstance(v, int):
            import datetime

            if isinstance(v, str):
                v = datetime.date.fromisoformat(v)
            v = (v - datetime.date(1970, 1, 1)).days  # spec: days from epoch
        return _struct.pack("<i", int(v))
    if itype == "double":
        return _struct.pack("<d", float(v))
    if itype == "float":
        return _struct.pack("<f", float(v))
    if itype == "boolean":
        return b"\x01" if v else b"\x00"
    if itype == "string":
        return str(v).encode("utf-8")
    if itype in ("timestamp", "timestamptz"):
        # spec: microseconds from epoch as int64; naive datetimes are UTC
        # (the engine's session timezone everywhere)
        if not isinstance(v, int):
            import datetime

            if isinstance(v, str):
                v = datetime.datetime.fromisoformat(v)
            # the epoch must be pinned to UTC for aware values — anchoring
            # it in v's own zone would shift the stored micros by the UTC
            # offset, and a shifted LOWER bound over-prunes (missing rows)
            epoch = datetime.datetime(
                1970,
                1,
                1,
                tzinfo=None if v.tzinfo is None else datetime.timezone.utc,
            )
            v = (v - epoch) // datetime.timedelta(microseconds=1)
        return _struct.pack("<q", int(v))
    raise ValueError(f"no bound serialization for {itype}")


def decode_bound(b: bytes, itype: str):
    if itype == "long":
        return _struct.unpack("<q", b)[0]
    if itype == "date":
        import datetime

        # a date OBJECT, not the raw epoch-day int: comparable to the
        # datetime.date values range_filter callers and parquet readers
        # traffic in (mirroring timestamps decoding to datetimes)
        return datetime.date(1970, 1, 1) + datetime.timedelta(
            days=_struct.unpack("<i", b)[0]
        )
    if itype == "int":
        return _struct.unpack("<i", b)[0]
    if itype == "double":
        return _struct.unpack("<d", b)[0]
    if itype == "float":
        return _struct.unpack("<f", b)[0]
    if itype == "boolean":
        return b == b"\x01"
    if itype == "string":
        return b.decode("utf-8")
    if itype in ("timestamp", "timestamptz"):
        import datetime

        # naive UTC datetime: comparable to pyarrow footer stats and to
        # the naive datetimes range_filter callers pass under the UTC
        # session convention
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=_struct.unpack("<q", b)[0]
        )
    raise ValueError(f"no bound serialization for {itype}")


def _coerce(v, itype: str):
    """Partition value to its column type (path-parsed values arrive as
    strings)."""
    if v is None:
        return None
    if itype in ("long", "int", "date"):
        return int(v)
    if itype in ("double", "float"):
        return float(v)
    if itype == "boolean":
        return v if isinstance(v, bool) else str(v).lower() == "true"
    return str(v)


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Pure-Python MurmurHash3 x86 32-bit (Austin Appleby's public-domain
    reference), seed 0 — the hash the Iceberg spec mandates for the bucket
    partition transform (spec 'Appendix B: 32-bit Hash Requirements').
    Returns a SIGNED int32."""
    c1, c2, mask = 0xCC9E2D51, 0x1B873593, 0xFFFFFFFF
    h = seed & mask
    n_full = len(data) // 4
    for i in range(n_full):
        k = int.from_bytes(data[i * 4 : i * 4 + 4], "little")
        k = (k * c1) & mask
        k = ((k << 15) | (k >> 17)) & mask
        k = (k * c2) & mask
        h ^= k
        h = ((h << 13) | (h >> 19)) & mask
        h = (h * 5 + 0xE6546B64) & mask
    tail = data[n_full * 4 :]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & mask
        k = ((k << 15) | (k >> 17)) & mask
        k = (k * c2) & mask
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & mask
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & mask
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def bucket_of(v, itype: str, n: int) -> int:
    """Iceberg ``bucket[n]`` transform of a value: murmur3_32 of the spec's
    single-value hash serialization, non-negative mod n. int and long hash
    identically (both as 8-byte little-endian), strings as UTF-8 bytes,
    date as its int32 days widened to long — the spec's cross-type
    bucket-compatibility rules."""
    if v is None:
        raise ValueError("bucket transform of null is undefined (spec: null -> null)")
    if itype in ("int", "long", "date"):
        data = _struct.pack("<q", int(v))
    elif itype == "string":
        data = str(v).encode("utf-8")
    elif itype == "binary":
        data = bytes(v)
    else:
        raise NotImplementedError(f"bucket transform over {itype}")
    return (murmur3_32(data) & 0x7FFFFFFF) % n


def _partition_specs(meta: dict, spec_id: int | None = None) -> list[dict]:
    """Rich view of one partition spec (default: the table's default
    spec; pass ``spec_id`` to resolve an OLDER spec after partition spec
    evolution — manifests resolve partition tuples against THEIR spec):
    one dict per field with ``name`` (spec field name — the hive directory
    key and manifest struct field), ``source`` (source column),
    ``transform`` ('identity' or 'bucket'), ``n`` (bucket count, identity:
    None), ``source_type`` (iceberg type of the source column) and
    ``value_type`` (iceberg type of the PARTITION VALUE: the source type
    for identity, 'int' for bucket)."""
    sid = meta["default-spec-id"] if spec_id is None else spec_id
    spec = next(s for s in meta["partition-specs"] if s["spec-id"] == sid)
    schema = _current_schema(meta)
    by_id = {f["id"]: f for f in schema["fields"]}
    out = []
    for f in spec["fields"]:
        src = by_id[f["source-id"]]
        tr = f["transform"]
        if tr == "identity":
            out.append(
                {"name": f["name"], "source": src["name"], "transform": "identity",
                 "n": None, "source_type": src["type"], "value_type": src["type"]}
            )
        elif tr.startswith("bucket[") and tr.endswith("]"):
            out.append(
                {"name": f["name"], "source": src["name"], "transform": "bucket",
                 "n": int(tr[7:-1]), "source_type": src["type"], "value_type": "int"}
            )
        elif tr.startswith("truncate[") and tr.endswith("]"):
            # spec: truncate value type == source type (string prefix /
            # int-long floored to a multiple of W)
            out.append(
                {"name": f["name"], "source": src["name"], "transform": "truncate",
                 "n": int(tr[9:-1]), "source_type": src["type"],
                 "value_type": src["type"]}
            )
        elif tr in ("day", "month", "year"):
            # spec "Partition Transforms": day -> date (days from epoch),
            # month/year -> int ordinals from 1970
            out.append(
                {"name": f["name"], "source": src["name"], "transform": tr,
                 "n": None, "source_type": src["type"],
                 "value_type": "date" if tr == "day" else "int"}
            )
        else:
            raise NotImplementedError(f"partition transform {tr}")
    return out


def truncate_of(v, itype: str, w: int):
    """Iceberg ``truncate[W]`` transform of a value (spec: string = first W
    characters; int/long = v - (((v % W) + W) % W), i.e. floored to a
    multiple of W — correct for negatives)."""
    if v is None:
        return None
    if itype == "string":
        return str(v)[:w]
    if itype in ("int", "long"):
        v = int(v)
        return v - (((v % w) + w) % w)
    raise NotImplementedError(f"truncate transform over {itype}")


def temporal_of(v, unit: str):
    """Iceberg day/month/year transform of a datetime.date/datetime (UTC):
    day -> days from epoch, month -> months from 1970-01, year -> years
    from 1970 (spec 'Partition Transforms')."""
    import datetime

    if v is None:
        return None
    d = v.date() if isinstance(v, datetime.datetime) else v
    if unit == "day":
        return (d - datetime.date(1970, 1, 1)).days
    if unit == "month":
        return (d.year - 1970) * 12 + d.month - 1
    if unit == "year":
        return d.year - 1970
    raise NotImplementedError(f"temporal transform {unit}")


def _partition_fields(
    meta: dict, spec_id: int | None = None
) -> list[tuple[str, str]]:
    """[(spec field name, iceberg type OF THE PARTITION VALUE)] of one
    partition spec (default: the table's default spec) — 'int' for bucket
    fields, the source column type for identity fields. This is the shape
    manifest structs, value coercion, and hive-path grouping consume."""
    return [(f["name"], f["value_type"]) for f in _partition_specs(meta, spec_id)]


def _table_uuid(table_dir: str) -> str:
    return str(uuid.UUID(hashlib.md5(os.path.abspath(table_dir).encode()).hexdigest()))


def _snapshot_id(table_uuid: str, seq: int, manifest_names: list[str]) -> int:
    """Deterministic snapshot id — a retried commit of the same wave
    produces the same snapshot, keeping the engine's exactly-once replay
    semantics in the metadata layer too. Positive 63-bit."""
    h = hashlib.md5(":".join([table_uuid, str(seq), *manifest_names]).encode())
    return int.from_bytes(h.digest()[:8], "big") & ((1 << 63) - 1)


def _maybe_evolve_schema(base: dict, spark_schema) -> dict:
    """ADDITIVE schema evolution: a commit whose schema introduces new
    columns appends a new schema entry (fresh field-ids continuing
    last-column-id, per the spec's never-reuse-ids rule) and makes it
    current; reads project the new columns as null for pre-evolution
    files. Existing columns must keep their types; drops/renames are out
    of scope (rejected loudly, not silently mangled)."""
    new_schema, _ = iceberg_schema(spark_schema)
    cur = _current_schema(base)
    cur_by_name = {f["name"]: f for f in cur["fields"]}
    new_names = {f["name"] for f in new_schema["fields"]}
    missing = sorted(n for n in cur_by_name if n not in new_names)
    if missing:
        raise ValueError(
            f"unsupported schema evolution: existing columns {missing} are "
            "absent from the committed schema (drops/renames are out of "
            "scope; only additive changes)"
        )

    def type_key(t):
        return json.dumps(t, sort_keys=True) if isinstance(t, dict) else t

    added = []
    for f in new_schema["fields"]:
        have = cur_by_name.get(f["name"])
        if have is None:
            added.append(f)
        else:
            # compare shapes ignoring ids (the new conversion renumbered)
            a, b = dict(f), dict(have)
            a.pop("id"), b.pop("id")
            if isinstance(a["type"], dict):
                a["type"] = {k: v for k, v in a["type"].items() if k != "element-id"}
            if isinstance(b["type"], dict):
                b["type"] = {k: v for k, v in b["type"].items() if k != "element-id"}
            if type_key(a["type"]) != type_key(b["type"]) or a["required"] != b["required"]:
                raise ValueError(
                    f"unsupported schema evolution for column {f['name']!r}: "
                    f"{b['type']}{' required' if b['required'] else ''} -> "
                    f"{a['type']}{' required' if a['required'] else ''} "
                    "(only additive changes; a required<->nullable flip "
                    "usually means the writer's column nullability drifted)"
                )
    if not added:
        return base
    next_id = base["last-column-id"]
    fresh = []
    for f in added:
        next_id += 1
        nf = dict(f, id=next_id)
        if isinstance(nf["type"], dict):
            next_id += 1
            nf["type"] = dict(nf["type"], **{"element-id": next_id})
        fresh.append(nf)
    evolved = {
        "type": "struct",
        "schema-id": max(s["schema-id"] for s in base["schemas"]) + 1,
        "fields": [dict(f) for f in cur["fields"]] + fresh,
    }
    out = dict(base)
    out["schemas"] = base["schemas"] + [evolved]
    out["current-schema-id"] = evolved["schema-id"]
    out["last-column-id"] = next_id
    return out


def _reconcile_existing_commit(meta_path: str, tmp_meta: str, snap_id: int) -> None:
    """A racing writer already published ``meta_path``. Because publication
    is an atomic link of a fully-fsynced tmp file, whatever exists there is
    COMPLETE — a concurrent committer can never be caught mid-flush. Three
    cases:

    - same snapshot id: a crash replay of this very commit (snapshot ids
      are content-derived); the commit already stands, return success.
    - different snapshot id: a genuinely concurrent commit won; raise
      CommitConflict so the caller re-reads table state and retries.
    - unparsable JSON: can only be PRE-PROTOCOL garbage (e.g. an older
      engine's torn write) — never a live writer. Unlink it and re-race the
      link; the loser of that race then reads the winner's complete file.
      This never discards a committed snapshot: only files that no reader
      can parse (and which _resolve_state already skips) are removed.
    - transient OSError (EMFILE/EIO) while READING: the file may well be a
      peer's valid committed snapshot — never unlink on a read error.
      Retry the read once, then raise CommitConflict leaving it in place.
    """
    for attempt in range(3):
        try:
            with open(meta_path) as f:
                existing_id = json.load(f).get("current-snapshot-id")
        except FileNotFoundError:
            # the garbage was unlinked (by us or a peer) and nobody has
            # relinked yet — try to win the slot ourselves
            try:
                os.link(tmp_meta, meta_path)
                return
            except FileExistsError:
                continue  # a peer won between our unlink and link; re-read
        except OSError:
            # could be a VALID concurrent commit behind a transient fd/io
            # failure — retrying is safe, unlinking is not
            if attempt < 2:
                time.sleep(0.05)
                continue
            raise CommitConflict(
                f"{meta_path} exists but could not be read (transient "
                f"OSError); refusing to unlink a possibly-committed "
                f"snapshot (ours {snap_id}); re-read and retry"
            )
        except json.JSONDecodeError:
            if attempt == 0:
                try:
                    os.unlink(meta_path)  # pre-protocol garbage; free the slot
                except FileNotFoundError:
                    pass
                try:
                    os.link(tmp_meta, meta_path)
                    return
                except FileExistsError:
                    continue  # re-read whoever beat us to the freed slot
            existing_id = None
        if existing_id == snap_id:
            return  # byte replay of our own commit
        raise CommitConflict(
            f"{meta_path} already committed by a concurrent writer "
            f"(snapshot {existing_id}, ours {snap_id}); re-read and retry"
        )
    raise CommitConflict(
        f"{meta_path} contested by concurrent writers (ours {snap_id}); "
        "re-read and retry"
    )


def _build_spec_fields(
    schema: dict,
    partition_by,
    existing_specs: list[dict] | None = None,
    last_partition_id: int = 999,
) -> tuple[list[dict], int]:
    """Partition-spec fields for ``partition_by`` over ``schema``, plus the
    updated last-partition-id. Grammar: "col" = identity; "col:bucket[N]"
    = murmur3 mod N (bucket_of); "col:truncate[W]" = prefix/multiple-of-W
    (truncate_of); "col:day|month|year" = temporal ordinal (temporal_of).
    Spec field names follow Iceberg's convention: <col>_<transform>.

    Field-ids: a (source-id, transform) pair already present in
    ``existing_specs`` REUSES its field-id (Iceberg Table Spec v2
    "Partition Evolution": partition field ids must never be reused for a
    different transform); genuinely new fields allocate sequentially above
    ``last_partition_id`` (first commit: 1000, 1001, ...)."""
    by_name = {f["name"]: f for f in schema["fields"]}
    reuse: dict[tuple, int] = {}
    for s in existing_specs or []:
        for f in s["fields"]:
            reuse[(f["source-id"], f["transform"])] = f["field-id"]
    fields: list[dict] = []
    next_id = last_partition_id
    for c in partition_by or []:
        if ":bucket[" in c:
            col, rest = c.split(":bucket[", 1)
            name = f"{col}_bucket"
            transform = f"bucket[{int(rest.rstrip(']'))}]"
        elif ":truncate[" in c:
            col, rest = c.split(":truncate[", 1)
            name = f"{col}_trunc"
            transform = f"truncate[{int(rest.rstrip(']'))}]"
        elif c.endswith((":day", ":month", ":year")):
            col, unit = c.rsplit(":", 1)
            name = f"{col}_{unit}"
            transform = unit
        else:
            if str(by_name[c]["type"]) in ("timestamp", "timestamptz"):
                # per-microsecond partitions are never what anyone means,
                # and the hive-path value round-trip is not implemented
                # for timestamps — fail loudly with the transform the
                # caller actually wants
                raise ValueError(
                    f"identity partitioning on timestamp column {c!r} "
                    "is not supported; use a temporal transform "
                    f"('{c}:day', '{c}:month' or '{c}:year')"
                )
            col, name, transform = c, c, "identity"
        src_id = by_name[col]["id"]
        fid = reuse.get((src_id, transform))
        if fid is None:
            next_id += 1
            fid = next_id
        fields.append(
            {"name": name, "transform": transform, "source-id": src_id,
             "field-id": fid}
        )
    return fields, next_id


def commit_append(
    table_dir: str,
    files: list[DataFile],
    spark_schema=None,
    ts_ms: int | None = None,
    properties: dict | None = None,
    summary: dict | None = None,
    replace_on: str | None = None,
    partition_by: list[str] | None = None,
    remove_paths: set | None = None,
    delete_files: list[DataFile] | None = None,
    allow_spec_evolution: bool = False,
) -> int:
    """Append ``files`` as one new snapshot; returns the snapshot id.

    ``delete_files``: POSITION DELETE files (parquet of POS_DELETE_DDL
    rows) to commit alongside — the merge-on-read half of DML. They land
    in their own content=1 manifest, referenced by a content=1 manifest
    list entry, exactly the spec's row-delta commit; data files are NOT
    touched. Readers (read_snapshot) subtract the (file_path, pos) pairs;
    a deletes-only commit gets operation "delete". Sequence-number
    applicability is trivially safe here: data files added after a delete
    commit have fresh unique paths, so a stale delete row can never match
    a newer file's rows by path.

    ``remove_paths``: data files to DROP from the table in the same
    commit — the copy-on-write half of delete/update: affected manifests
    are rewritten without those entries (survivors keep their original
    snapshot/sequence as EXISTING entries), the files themselves stay on
    disk for time travel until snapshot expiry. Combined with ``files``
    carrying the rewritten survivors-of-the-predicate, this is a full
    CoW DELETE commit. Every path must be live in the state this commit
    reads: a rewrite planned before a concurrent commit removed one of
    its files raises CommitConflict instead of resurrecting that commit's
    deleted rows.

    ``partition_by`` (first commit only): identity-partition the table by
    these columns — the spec gets transform "identity" fields (ids from
    1000), each manifest entry carries the file's partition values, and
    snapshot_files can then PRUNE files by partition without opening them.

    ``replace_on``: a summary key naming a logical partition (e.g. "wave").
    When a PRIOR snapshot carries the same value for that key, its manifests
    are dropped from the inherited manifest list — the commit is an
    OVERWRITE of that logical partition, not an append. This is what makes
    a re-committed wave idempotent end to end: a duplicate job (zombie
    racing its own resume — observed under kill-9 soaks) re-writes the wave
    directory with fresh file names, and without replacement the current
    snapshot would keep BOTH manifests: double counts plus stale paths from
    the loser's overwritten files.

    Commit protocol (hadoop catalog): read the table state once (version
    N and its metadata), write the manifest and manifest list, then
    publish v{N+1}.metadata.json through _publish_metadata against that
    same N, like every other metadata writer — the exclusive create is the
    commit point (version resolution lists metadata files; the
    version-hint is only a fast-path hint refreshed afterwards). A
    concurrent commit that took v{N+1} first raises CommitConflict; a
    crash replay of this very commit is welcomed as already done. A crash
    before the metadata create leaves only unreferenced manifest/data
    files (orphans); a crash after it is a completed commit the resuming
    job discovers through its snapshot-summary markers."""
    meta_dir = _meta_dir(table_dir)
    os.makedirs(meta_dir, exist_ok=True)
    version, prev = _resolve_state(table_dir)
    if prev is None:
        if spark_schema is None:
            raise ValueError("first commit needs the table schema")
        schema, last_col = iceberg_schema(spark_schema)
        spec_fields, last_part_id = _build_spec_fields(schema, partition_by)
        base = {
            "format-version": FORMAT_VERSION,
            "table-uuid": _table_uuid(table_dir),
            "location": os.path.abspath(table_dir),
            "last-sequence-number": 0,
            "last-updated-ms": 0,
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": last_part_id,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": properties or {},
            "current-snapshot-id": -1,
            "refs": {},
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        version = 0
    else:
        base = dict(prev)
        if spark_schema is not None:
            base = _maybe_evolve_schema(base, spark_schema)
        if partition_by is not None:
            # On an existing table a silently-ignored (or conflicting)
            # partition_by would commit hive-layout values under the wrong
            # spec — be loud. A verbatim restatement of the current spec
            # is the one harmless case (callers with a fixed job config).
            # With allow_spec_evolution=True a DIFFERENT value is Iceberg
            # partition spec evolution (Table Spec v2): the new spec is
            # appended under a bumped spec-id and becomes the default;
            # EXISTING manifests keep their old spec-id and old layout —
            # only metadata changes, no data file is rewritten.
            cur_spec = next(
                s
                for s in base["partition-specs"]
                if s["spec-id"] == base["default-spec-id"]
            )
            name_by_id = {
                f["id"]: f["name"]
                for s in base["schemas"]
                for f in s["fields"]
            }
            want = []
            for f in cur_spec["fields"]:
                src = name_by_id.get(f["source-id"], "?")
                tr = f["transform"]
                want.append(src if tr == "identity" else f"{src}:{tr}")
            if list(partition_by) != want:
                if not allow_spec_evolution:
                    raise ValueError(
                        f"table already has partition spec {want}; partition "
                        f"spec evolution (-> {list(partition_by)}) needs "
                        "allow_spec_evolution=True — or create a new table "
                        "or restate the existing spec verbatim"
                    )
                new_fields, last_pid = _build_spec_fields(
                    _current_schema(base),
                    partition_by,
                    existing_specs=base["partition-specs"],
                    last_partition_id=base.get("last-partition-id", 999),
                )
                new_sid = max(s["spec-id"] for s in base["partition-specs"]) + 1
                base["partition-specs"] = base["partition-specs"] + [
                    {"spec-id": new_sid, "fields": new_fields}
                ]
                base["default-spec-id"] = new_sid
                base["last-partition-id"] = max(
                    base.get("last-partition-id", 999), last_pid
                )

    seq = base["last-sequence-number"] + 1
    ts = int(ts_ms if ts_ms is not None else time.time() * 1000)
    uid = base["table-uuid"]

    # --- manifest: name is CONTENT-ADDRESSED (digest of the file list), so
    # a crash replay reproduces the same name byte-identically while a
    # different concurrent commit at the same sequence writes a DIFFERENT
    # manifest — it can never clobber files a winning commit references
    # (its own become unreferenced orphans). The snapshot id inherits the
    # digest, which is what lets the metadata-create conflict check
    # (_publish_metadata) tell "replay of this very commit" apart from
    # "someone else won".
    digest = hashlib.md5(
        "\n".join(
            [f"{f.path}:{f.file_size}:{f.record_count}" for f in files]
            + sorted(f"-{p}" for p in (remove_paths or ()))
            + [
                # referenced_data_file disambiguates DV entries that share
                # one Puffin path and happen to match on (size, count) —
                # without it two DIFFERENT delete commits could collide
                # into one content-derived snapshot id and the conflict
                # check would welcome the second as a replay
                f"+d{f.path}:{f.file_size}:{f.record_count}:{f.referenced_data_file or ''}"
                for f in (delete_files or [])
            ]
        ).encode()
    ).hexdigest()[:12]
    manifest_name = f"{uid}-seq{seq}-{digest}-m0.avro"
    manifest_path = os.path.join(meta_dir, manifest_name)
    del_manifest_name = f"{uid}-seq{seq}-{digest}-d0.avro"
    del_manifest_path = os.path.join(meta_dir, del_manifest_name)
    snap_id = _snapshot_id(
        uid, seq, [manifest_name] + ([del_manifest_name] if delete_files else [])
    )
    pfields = _partition_fields(base)
    cur_schema = _current_schema(base)
    types_by_id = {
        f["id"]: f["type"] for f in cur_schema["fields"] if isinstance(f["type"], str)
    }

    def _bmap(bounds: dict | None):
        if not bounds:
            return None
        return [
            {"key": fid, "value": encode_bound(v, types_by_id[fid])}
            for fid, v in sorted(bounds.items())
            if fid in types_by_id and v is not None
        ]

    def _mk_entries(fs: list[DataFile], content: int | None) -> list[dict]:
        # content=None: take each file's own (delete manifests mix position
        # [1] and equality [2] files only in principle — commits keep them
        # separate, but the entry is always stamped from the DataFile)
        return [
            {
                "status": 1,  # ADDED
                "snapshot_id": snap_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": content if content is not None else f.content,
                    "file_path": os.path.abspath(f.path),
                    "file_format": "PARQUET",
                    "partition": {
                        name: _coerce((f.partition or {}).get(name), itype)
                        for name, itype in pfields
                    },
                    "record_count": f.record_count,
                    "file_size_in_bytes": f.file_size,
                    "lower_bounds": _bmap(f.lower_bounds),
                    "upper_bounds": _bmap(f.upper_bounds),
                    "split_offsets": None,
                    "equality_ids": f.equality_ids,
                    "sort_order_id": None,
                    "referenced_data_file": f.referenced_data_file,
                    "content_offset": f.content_offset,
                    "content_size_in_bytes": f.content_size,
                },
            }
            for f in fs
        ]

    default_sid = base.get("default-spec-id", 0)
    manifest_bytes = avro_io.write_container(
        manifest_entry_schema(pfields),
        _mk_entries(files, 0),
        meta={
            "schema": json.dumps(cur_schema),
            "partition-spec": "[]",
            "partition-spec-id": str(default_sid),
            "format-version": str(FORMAT_VERSION),
            "content": "data",
        },
    )
    with open(manifest_path, "wb") as f:
        f.write(manifest_bytes)
    if delete_files:
        # position-delete manifest: same entry schema, content=1 on both
        # the entries and the manifest-list row ("Delete Manifests" in the
        # spec); partition struct stays null — delete application is
        # path-keyed here, partition pruning of deletes is an optimization
        # this layer doesn't take
        del_manifest_bytes = avro_io.write_container(
            manifest_entry_schema(pfields),
            _mk_entries(delete_files, None),
            meta={
                "schema": json.dumps(cur_schema),
                "partition-spec": "[]",
                "partition-spec-id": str(default_sid),
                "format-version": str(FORMAT_VERSION),
                "content": "deletes",
            },
        )
        with open(del_manifest_path, "wb") as f:
            f.write(del_manifest_bytes)

    # --- manifest list: previous snapshot's manifests + the new one
    new_mf = {
        "manifest_path": os.path.abspath(manifest_path),
        "manifest_length": len(manifest_bytes),
        "partition_spec_id": default_sid,
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(files),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(f.record_count for f in files),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
        "partitions": [],
    }
    del_mf = (
        {
            "manifest_path": os.path.abspath(del_manifest_path),
            "manifest_length": len(del_manifest_bytes),
            "partition_spec_id": default_sid,
            "content": 1,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(delete_files),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": sum(f.record_count for f in delete_files),
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": [],
        }
        if delete_files
        else None
    )
    prev_manifests: list[dict] = []
    cur_id = base.get("current-snapshot-id", -1)
    if cur_id and cur_id != -1:
        cur_snap = next(s for s in base["snapshots"] if s["snapshot-id"] == cur_id)
        prev_manifests = _read_avro(cur_snap["manifest-list"])
    operation = "append"
    if delete_files:
        # spec row-delta commits: deletes-only = "delete", mixed = "overwrite"
        operation = "overwrite" if files else "delete"
    updated_props = dict(base.get("properties", {}))
    if replace_on and summary and replace_on in summary:
        key = str(summary[replace_on])
        replaced_ids = {
            s["snapshot-id"]
            for s in base["snapshots"]
            if s.get("summary", {}).get(replace_on) == key
        }
        # the properties index maps logical key -> its live manifest PATH,
        # surviving snapshot expiry (which drops the snapshot entries the
        # id-based match needs but inherits their manifests forward)
        idx_prop = f"replace-index-{replace_on}"
        index = json.loads(updated_props.get(idx_prop, "{}"))
        replaced_paths = {index[key]} if key in index else set()
        n_before = len(prev_manifests)
        prev_manifests = [
            m
            for m in prev_manifests
            if m["added_snapshot_id"] not in replaced_ids
            and m["manifest_path"] not in replaced_paths
        ]
        if len(prev_manifests) != n_before:
            operation = "overwrite"
        index[key] = os.path.abspath(manifest_path)
        updated_props[idx_prop] = json.dumps(index)
    if remove_paths:
        removed = {os.path.abspath(p) for p in remove_paths}
        live_paths: set[str] = set()
        rewritten: list[dict] = []
        for mf in prev_manifests:
            m_entries = _read_avro(mf["manifest_path"])
            live = [e for e in m_entries if e["status"] != 2]
            live_paths.update(e["data_file"]["file_path"] for e in live)
            keep = [e for e in live if e["data_file"]["file_path"] not in removed]
            if len(keep) == len(m_entries):
                rewritten.append(mf)  # untouched manifest carried forward
                continue
            # a pure removal (no surviving rows added back) is a DELETE;
            # zero-row rewrite artifacts don't make it an overwrite
            operation = (
                "overwrite" if sum(f.record_count for f in files) else "delete"
            )
            if not keep:
                continue  # every entry removed: drop the manifest
            for e in keep:
                e["status"] = 0  # EXISTING: original snapshot/sequence kept
                for fld in ("equality_ids", "referenced_data_file",
                            "content_offset", "content_size_in_bytes"):
                    e["data_file"].setdefault(fld, None)
            rw_digest = hashlib.md5(
                "\n".join(e["data_file"]["file_path"] for e in keep).encode()
            ).hexdigest()[:12]
            rw_path = os.path.join(meta_dir, f"{uid}-seq{seq}-rw{rw_digest}-m.avro")
            # rewrite under the manifest's OWN spec (post-evolution, old
            # manifests keep their old partition struct), dict(mf, ...)
            # below carries its partition_spec_id forward
            rw_bytes = avro_io.write_container(
                manifest_entry_schema(
                    _partition_fields(base, mf.get("partition_spec_id", 0))
                ),
                keep,
            )
            with open(rw_path, "wb") as f:
                f.write(rw_bytes)
            rewritten.append(
                dict(
                    mf,
                    manifest_path=os.path.abspath(rw_path),
                    manifest_length=len(rw_bytes),
                    added_files_count=0,
                    deleted_files_count=0,
                    existing_files_count=len(keep),
                    added_rows_count=0,
                    deleted_rows_count=0,
                    existing_rows_count=sum(
                        e["data_file"]["record_count"] for e in keep
                    ),
                )
            )
        gone = sorted(removed - live_paths)
        if gone:
            # planned on an older snapshot: a concurrent commit already
            # removed these files, and committing the rewrite would bring
            # back rows it deleted and duplicate the rest
            raise CommitConflict(
                f"{len(gone)} remove_paths are no longer live (e.g. {gone[0]}); "
                "re-plan on the current snapshot"
            )
        prev_manifests = rewritten
    manifests = prev_manifests + (
        [new_mf] if files or not (remove_paths or delete_files) else []
    ) + ([del_mf] if del_mf else [])
    mlist_path = os.path.join(meta_dir, f"snap-{snap_id}-1-{uid}.avro")
    with open(mlist_path, "wb") as f:
        f.write(avro_io.write_container(MANIFEST_FILE_SCHEMA, manifests))

    # --- new table metadata
    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": ts,
        "manifest-list": os.path.abspath(mlist_path),
        "summary": {
            "operation": operation,
            "added-data-files": str(len(files)),
            "added-records": str(sum(f.record_count for f in files)),
            **(
                {
                    "added-delete-files": str(len(delete_files)),
                    "added-position-deletes": str(
                        sum(f.record_count for f in delete_files)
                    ),
                }
                if delete_files
                else {}
            ),
            **{k: str(v) for k, v in (summary or {}).items()},
        },
        "schema-id": base["current-schema-id"],
    }
    if cur_id and cur_id != -1:
        snapshot["parent-snapshot-id"] = cur_id
    new_meta = dict(base)
    new_meta["properties"] = updated_props
    new_meta["last-sequence-number"] = seq
    new_meta["last-updated-ms"] = ts
    new_meta["current-snapshot-id"] = snap_id
    # main moves with the commit; named tags/branches (set_ref) survive it
    new_meta["refs"] = {
        **base.get("refs", {}),
        "main": {"snapshot-id": snap_id, "type": "branch"},
    }
    new_meta["snapshots"] = base["snapshots"] + [snapshot]
    new_meta["snapshot-log"] = base["snapshot-log"] + [
        {"timestamp-ms": ts, "snapshot-id": snap_id}
    ]
    if version > 0:
        new_meta["metadata-log"] = base["metadata-log"] + [
            {
                "timestamp-ms": base["last-updated-ms"],
                "metadata-file": os.path.join(meta_dir, f"v{version}.metadata.json"),
            }
        ]
    _publish_metadata(table_dir, version, new_meta, snap_id)
    return snap_id


# ---------------------------------------------------------------- read side


def _snapshot_index(snaps: list[dict], sid: int) -> int:
    """Position of snapshot ``sid`` in the metadata's snapshot list, or an
    ACTIONABLE error: an incremental consumer whose cursor predates snapshot
    expiry must be told to rebase, not handed a bare StopIteration."""
    for i, s in enumerate(snaps):
        if s["snapshot-id"] == sid:
            return i
    raise ValueError(
        f"snapshot {sid} not found (expired or never existed); "
        "rebase the consumer"
    )


def _snapshot_range(snaps: list[dict], since_sid, to_sid) -> tuple[int, int]:
    """[lo, hi) positions of the snapshots in (since, to]; None = from the
    table's beginning / up to its last snapshot."""
    lo = 0 if since_sid is None else _snapshot_index(snaps, since_sid) + 1
    hi = len(snaps) if to_sid is None else _snapshot_index(snaps, to_sid) + 1
    return lo, hi


def snapshots(table_dir: str) -> list[dict]:
    meta = current_metadata(table_dir)
    return list(meta["snapshots"]) if meta else []


def _resolve_sid(meta: dict, snapshot_id) -> int:
    """Snapshot selector -> id: None = current, int = itself, str = a named
    ref (tag or branch) from the metadata's refs map (spec 'Snapshot
    References')."""
    if snapshot_id is None:
        return meta["current-snapshot-id"]
    if isinstance(snapshot_id, str):
        ref = meta.get("refs", {}).get(snapshot_id)
        if ref is None:
            raise ValueError(
                f"no ref named {snapshot_id!r} "
                f"(have: {sorted(meta.get('refs', {}))})"
            )
        return ref["snapshot-id"]
    return snapshot_id


def set_ref(
    table_dir: str, name: str, snapshot_id: int | None = None, type: str = "tag"
) -> None:
    """Create or move a named snapshot reference (spec 'Snapshot
    References'): a ``tag`` pins a snapshot under a stable name — readers
    time-travel by name, and expire_snapshots will NOT expire a ref'd
    snapshot — while a ``branch`` is a movable head. 'main' is reserved
    (commits move it). Publishes a new metadata version through the same
    atomic tmp+hard-link protocol as commits."""
    if name == "main":
        raise ValueError("'main' is managed by commits")
    if type not in ("tag", "branch"):
        raise ValueError(f"ref type must be tag or branch, not {type!r}")
    version, meta = _table_state(table_dir)
    sid = _resolve_sid(meta, snapshot_id)
    _snapshot_index(meta["snapshots"], sid)  # must exist (not expired)
    new_meta = dict(meta)
    new_meta["refs"] = {
        **meta.get("refs", {}),
        name: {"snapshot-id": sid, "type": type},
    }
    _publish_metadata(table_dir, version, new_meta)


def stage_snapshot(
    table_dir: str, branch: str, expect_sid: int | None = None
) -> int:
    """Write-audit-publish, step 1: turn the just-committed CURRENT
    snapshot into a STAGED one — a ``branch`` ref keeps it reachable (and
    expiry-proof) while main steps back to its parent, so table readers
    see nothing until the audit passes. ``expect_sid`` guards the
    non-atomic append+stage pair: if another writer committed in between,
    staging would hide THEIR snapshot — raise instead. Returns the staged
    snapshot id."""
    if branch == "main":
        raise ValueError("'main' is the publish target, not a staging branch")
    version, meta = _table_state(table_dir)
    cur = meta.get("current-snapshot-id")
    if cur in (None, -1):
        raise ValueError("no current snapshot to stage")
    if expect_sid is not None and cur != expect_sid:
        raise CommitConflict(
            f"current snapshot {cur} is not the expected {expect_sid}; a "
            "concurrent commit landed — resolve before staging"
        )
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == cur)
    parent = snap.get("parent-snapshot-id", -1)
    new_meta = dict(meta)
    refs = {
        k: v for k, v in meta.get("refs", {}).items() if k != "main"
    }
    refs[branch] = {"snapshot-id": cur, "type": "branch"}
    if parent not in (None, -1):
        refs["main"] = {"snapshot-id": parent, "type": "branch"}
    new_meta["refs"] = refs
    new_meta["current-snapshot-id"] = parent if parent not in (None, -1) else -1
    _publish_metadata(table_dir, version, new_meta)
    return cur


def publish_branch(table_dir: str, branch: str) -> int:
    """Write-audit-publish, step 3 (step 2 is the audit itself — read the
    branch by name and validate): fast-forward main to the branch head and
    drop the branch ref. The data files were in place since the staged
    commit; publishing is one metadata version, so the whole WAP cycle
    adds zero data writes. Returns the published snapshot id."""
    version, meta = _table_state(table_dir)
    ref = meta.get("refs", {}).get(branch)
    if ref is None:
        raise ValueError(f"no branch named {branch!r}")
    sid = ref["snapshot-id"]
    # fast-forward only: main must still sit at the staged snapshot's
    # parent, or a commit that landed between stage and publish would be
    # silently dropped from the table (the same race class expect_sid
    # guards on the stage side)
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)
    parent = snap.get("parent-snapshot-id", -1)
    cur = meta.get("current-snapshot-id")
    if (cur if cur is not None else -1) != (parent if parent is not None else -1):
        raise CommitConflict(
            f"main moved to {cur} since {branch!r} was staged off "
            f"{parent}; rebase the staged work before publishing"
        )
    new_meta = dict(meta)
    new_meta["refs"] = {
        **{k: v for k, v in meta["refs"].items() if k != branch},
        "main": {"snapshot-id": sid, "type": "branch"},
    }
    new_meta["current-snapshot-id"] = sid
    new_meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
        {"timestamp-ms": int(time.time() * 1000), "snapshot-id": sid}
    ]
    _publish_metadata(table_dir, version, new_meta)
    return sid


def rollback(table_dir: str, snapshot_id) -> int:
    """Roll the table back to an earlier snapshot (Iceberg's
    rollback_to_snapshot): main and the current pointer move to the
    target, and the abandoned snapshots stay in metadata — still
    time-travelable, reclaimed later by expire_snapshots like any other
    unreferenced history. One metadata version; no data file is touched.
    Accepts a snapshot id or a ref name."""
    version, meta = _table_state(table_dir)
    sid = _resolve_sid(meta, snapshot_id)
    _snapshot_index(meta["snapshots"], sid)  # must exist (not expired)
    new_meta = dict(meta)
    new_meta["current-snapshot-id"] = sid
    new_meta["refs"] = {
        **meta.get("refs", {}),
        "main": {"snapshot-id": sid, "type": "branch"},
    }
    new_meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
        {"timestamp-ms": int(time.time() * 1000), "snapshot-id": sid}
    ]
    _publish_metadata(table_dir, version, new_meta)
    return sid


def remove_ref(table_dir: str, name: str) -> None:
    """Drop a named ref; its snapshot becomes expirable again."""
    if name == "main":
        raise ValueError("'main' is managed by commits")
    version, meta = _table_state(table_dir)
    if name not in meta.get("refs", {}):
        raise ValueError(f"no ref named {name!r}")
    new_meta = dict(meta)
    new_meta["refs"] = {k: v for k, v in meta["refs"].items() if k != name}
    _publish_metadata(table_dir, version, new_meta)


def _publish_metadata(
    table_dir: str, version: int, new_meta: dict, snap_id: int | None = None
) -> None:
    """Publish ``new_meta`` as v{version+1}.metadata.json — the one
    metadata publish of every writer. ``version`` is the version the
    caller's single _resolve_state read returned (0 before the first
    commit), so new metadata only ever replaces the state it was built on.

    Optimistic concurrency (the hadoop catalog's create-if-absent rename):
    only ONE writer may create v{N+1}. Write the full payload to a tmp
    file, fsync, then os.link(tmp, meta_path) — link both (a) fails iff
    the path exists (exactly one racing writer wins this version) and (b)
    publishes COMPLETE content in one atomic metadata operation, so a
    reader can never observe a half-flushed winner (an O_EXCL create then
    buffered write let a losing committer read the winner's still-flushing
    file, classify it as torn and overwrite it — a silently lost
    snapshot). A writer whose read went stale therefore raises
    CommitConflict instead of publishing over the winner; the caller
    re-reads table state and retries. A commit passes its ``snap_id``:
    snapshot ids are a pure function of (table, sequence, manifests), so a
    CRASH REPLAY of the same commit reproduces the existing file's id and
    is welcomed through _reconcile_existing_commit, while a different id
    still conflicts. This is what turns two uncoordinated writers from
    silent lineage corruption (observed: duplicate wave snapshots with
    racing file listings) into a detected conflict.

    The version-hint swap afterwards is a fast-path convenience, NOT the
    commit point — a crash right before it leaves a committed table
    (resolution lists v{version+1})."""
    new_version = version + 1
    meta_path = os.path.join(_meta_dir(table_dir), f"v{new_version}.metadata.json")
    tmp_meta = meta_path + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp_meta, "w") as f:
        f.write(json.dumps(new_meta, indent=2))
        f.flush()
        os.fsync(f.fileno())
    try:
        try:
            os.link(tmp_meta, meta_path)
        except FileExistsError:
            if snap_id is None:
                raise CommitConflict(
                    f"{meta_path} committed concurrently; re-read and retry"
                ) from None
            _reconcile_existing_commit(meta_path, tmp_meta, snap_id)
    finally:
        try:
            os.unlink(tmp_meta)
        except OSError:
            pass
    tmp = _hint_path(table_dir) + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(str(new_version))
    os.replace(tmp, _hint_path(table_dir))


def _live_files(meta: dict, sid: int | None) -> tuple[list[DataFile], list[DataFile]]:
    """(data files, delete files) live in snapshot ``sid`` of ``meta``:
    one read of its manifest list, one of each manifest it names — the
    same two-hop walk an Iceberg runtime performs. Entries marked DELETED
    (status 2) are skipped. Data files carry their partition values and
    their column bounds decoded by the current schema; delete files carry
    their content kind (1 position, 2 equality), equality key ids and
    deletion-vector span. A ``sid`` of None or -1 is the pre-first-snapshot
    state (e.g. the only commit is WAP-staged): an empty table, not an
    error."""
    if sid in (None, -1):
        return [], []
    snap = meta["snapshots"][_snapshot_index(meta["snapshots"], sid)]
    types = {
        f["id"]: f["type"]
        for f in _current_schema(meta)["fields"]
        if isinstance(f["type"], str)
    }

    def bounds(raw) -> dict | None:
        return {
            b["key"]: decode_bound(b["value"], types[b["key"]])
            for b in raw or []
            if b["key"] in types
        } or None

    data: list[DataFile] = []
    deletes: list[DataFile] = []
    for mf in _read_avro(snap["manifest-list"]):
        content = mf.get("content", 0)
        spec_id = mf.get("partition_spec_id", 0)
        for e in _read_avro(mf["manifest_path"]):
            if e["status"] == 2:  # DELETED
                continue
            d = e["data_file"]
            if content == 0:
                data.append(
                    DataFile(
                        d["file_path"],
                        d["record_count"],
                        d["file_size_in_bytes"],
                        partition=d.get("partition") or None,
                        lower_bounds=bounds(d.get("lower_bounds")),
                        upper_bounds=bounds(d.get("upper_bounds")),
                        sequence=e.get("sequence_number"),
                        spec_id=spec_id,
                    )
                )
            else:
                deletes.append(
                    DataFile(
                        d["file_path"],
                        d["record_count"],
                        d["file_size_in_bytes"],
                        content=d.get("content", 1),
                        equality_ids=d.get("equality_ids"),
                        sequence=e.get("sequence_number"),
                        spec_id=spec_id,
                        referenced_data_file=d.get("referenced_data_file"),
                        content_offset=d.get("content_offset"),
                        content_size=d.get("content_size_in_bytes"),
                    )
                )
    return data, deletes


def _prune(
    meta: dict,
    files: list[DataFile],
    partition_filter: dict | None,
    range_filter: dict | None,
    table_dir: str,
) -> list[DataFile]:
    """The data files of a walk that may hold rows matching the filters
    (see snapshot_files) — decided on manifest metadata alone."""
    schema = _current_schema(meta)
    ids_by_name = {
        f["name"]: f["id"] for f in schema["fields"] if isinstance(f["type"], str)
    }
    rf = {
        ids_by_name[name]: (lo, hi) for name, (lo, hi) in (range_filter or {}).items()
    }
    pf = partition_filter or {}
    # spec field names straight from the specs: resolving a spec's source
    # columns against the CURRENT schema would fail on an old spec whose
    # source column is gone, and names are all the filter needs
    spec_names = {
        sp["spec-id"]: {f["name"] for f in sp["fields"]}
        for sp in meta.get("partition-specs", [])
    }
    if pf:
        # fail LOUD on keys no spec defines: per-manifest key dropping is
        # the spec-evolution courtesy (files under an older spec are kept
        # conservatively and re-filtered downstream), but a key absent from
        # EVERY spec — a typo or a non-partition column — would silently
        # return the FULL table (fail-open), and delete_where-style callers
        # scope destructive operations with this filter
        all_names = set().union(*spec_names.values())
        unknown = sorted(set(pf) - all_names)
        if unknown:
            raise ValueError(
                f"partition_filter key(s) {unknown} are not defined by any "
                f"partition spec of {table_dir} (spec fields: "
                f"{sorted(all_names)})"
            )

    def keep(f: DataFile) -> bool:
        # after partition spec evolution a filter key may not exist in an
        # OLDER manifest's spec: those files are conservatively KEPT
        # (metadata skipping is an optimization — read_snapshot applies
        # the exact residual filter for identity columns), never pruned
        # by a spec-absent key comparing against None
        names = spec_names.get(f.spec_id, ())
        part = f.partition or {}
        if any(part.get(k) != v for k, v in pf.items() if k in names):
            return False
        lo_b, hi_b = f.lower_bounds or {}, f.upper_bounds or {}
        return not any(
            (hi is not None and fid in lo_b and lo_b[fid] > hi)
            or (lo is not None and fid in hi_b and hi_b[fid] < lo)
            for fid, (lo, hi) in rf.items()
        )

    return [f for f in files if keep(f)]


def snapshot_files(
    table_dir: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    range_filter: dict | None = None,
) -> list[DataFile]:
    """Data files reachable from a snapshot (default: current), from one
    state read and one manifest walk (_live_files).

    ``partition_filter`` ({column: value}) prunes files by their manifest
    partition values; ``range_filter`` ({column: (lo, hi)}, inclusive,
    None = unbounded side) prunes by the manifests' column min/max bounds
    — files whose recorded range cannot intersect the predicate are never
    opened, listed, or stat-ed. Both are metadata-only skips; files
    WITHOUT bounds for a filtered column are conservatively kept, and the
    caller still applies the row-level predicate (skipping is an
    optimization, exactly as in Iceberg)."""
    _, meta = _table_state(table_dir)
    data, _ = _live_files(meta, _resolve_sid(meta, snapshot_id))
    return _prune(meta, data, partition_filter, range_filter, table_dir)


def snapshot_delete_files(
    table_dir: str, snapshot_id: int | None = None
) -> list[DataFile]:
    """Delete files reachable from a snapshot (default: current): the
    content=1 manifests of its manifest list — position deletes
    (content=1) and equality deletes (content=2, with their key field ids
    and commit sequence, which gates which data files they apply to).
    Empty for a table no MoR delete ever touched — the read path's
    is-there-anything-to-apply probe is this list's truthiness, a
    metadata-only check."""
    _, meta = _table_state(table_dir)
    return _live_files(meta, _resolve_sid(meta, snapshot_id))[1]


def commit_parquet_dir(
    table_dir: str,
    parquet_dir: str,
    spark_schema=None,
    ts_ms: int | None = None,
    summary: dict | None = None,
    replace_on: str | None = None,
    partition_by: list[str] | None = None,
    remove_paths: set | None = None,
    delete_files: list[DataFile] | None = None,
    allow_spec_evolution: bool = False,
) -> int:
    """Commit every parquet file of a directory Spark just wrote as one
    appended snapshot. ``delete_files`` ride along into the same snapshot
    (commit_append) — the atomic row-delta commit upserts are made of. Row counts come from the parquet footers — the same
    numbers a cluster-side commit would take from task write stats; footer
    reads are metadata-only and this runs once per commit, driver-side.

    Hive-style ``key=value`` subdirectories (Spark's partitionBy layout)
    become the files' identity-partition values. Column min/max from the
    parquet footers land in the manifest as Iceberg lower/upper bounds —
    the inputs to file-level min-max skipping (snapshot_files
    range_filter)."""
    from urllib.parse import unquote

    import pyarrow.parquet as pq

    meta = current_metadata(table_dir)
    if meta is not None:
        schema = _current_schema(meta)
    else:
        if spark_schema is None:
            raise ValueError("first commit needs the table schema")
        schema, _ = iceberg_schema(spark_schema)
    ids_by_name = {
        f["name"]: (f["id"], f["type"])
        for f in schema["fields"]
        if isinstance(f["type"], str) and f["type"] in _ICEBERG_TO_AVRO
    }

    def _footer_bounds(md) -> tuple[dict, dict]:
        lo: dict = {}
        hi: dict = {}
        seen_all: dict = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name not in ids_by_name:
                    continue
                st = col.statistics
                ok = st is not None and st.has_min_max
                if ok and ids_by_name[name][1] == "string":
                    # parquet may TRUNCATE long string stats; an inexact
                    # upper bound under-prunes correctness-fatally, so only
                    # trust explicitly-exact (or clearly untruncated) values.
                    # A non-string stat here means the file disagrees with
                    # the table schema — drop the bound and let the commit's
                    # schema check raise the real error.
                    if not isinstance(st.min, (str, bytes)):
                        ok = False
                    else:
                        exact = getattr(st, "is_max_value_exact", None)
                        if exact is None:
                            exact = len(st.min) < 60 and len(st.max) < 60
                        ok = bool(exact)
                seen_all[name] = seen_all.get(name, True) and ok
                if ok:
                    fid = ids_by_name[name][0]
                    lo[fid] = st.min if fid not in lo else min(lo[fid], st.min)
                    hi[fid] = st.max if fid not in hi else max(hi[fid], st.max)
        # a column missing stats in ANY row group has no trustworthy bound
        for name, ok in seen_all.items():
            if not ok:
                fid = ids_by_name[name][0]
                lo.pop(fid, None)
                hi.pop(fid, None)
        return lo, hi

    files = []
    for dirpath, _, names in os.walk(parquet_dir):
        part: dict = {}
        rel = os.path.relpath(dirpath, parquet_dir)
        if rel != ".":
            for seg in rel.split(os.sep):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    part[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
        for name in sorted(names):
            if name.endswith(".parquet"):
                p = os.path.join(dirpath, name)
                md = pq.ParquetFile(p).metadata
                lo, hi = _footer_bounds(md)
                files.append(
                    DataFile(
                        p,
                        md.num_rows,
                        os.path.getsize(p),
                        partition=dict(part) or None,
                        lower_bounds=lo or None,
                        upper_bounds=hi or None,
                    )
                )
    files.sort(key=lambda f: f.path)
    sid = commit_append(
        table_dir,
        files,
        spark_schema=spark_schema,
        ts_ms=ts_ms,
        summary=summary,
        replace_on=replace_on,
        partition_by=partition_by,
        remove_paths=remove_paths,
        delete_files=delete_files,
        allow_spec_evolution=allow_spec_evolution,
    )
    return sid


_ICEBERG_TO_SPARK = {"string": "string", "long": "long", "int": "int",
                     "boolean": "boolean", "double": "double", "float": "float"}

_ICEBERG_TO_SPARK_DDL = {
    "string": "string", "long": "bigint", "int": "int", "boolean": "boolean",
    "double": "double", "float": "float", "binary": "binary", "date": "date",
    "timestamptz": "timestamp", "timestamp": "timestamp_ntz",
}


def _spark_type(t) -> str:
    """One iceberg field type -> Spark DDL type (array-recursive); the
    single renderer behind _spark_ddl and read_changelog's typed-null
    casts."""
    if isinstance(t, dict):
        return f"array<{_spark_type(t['element'])}>"
    return _ICEBERG_TO_SPARK_DDL[t]


def _spark_ddl(schema: dict) -> str:
    """Spark read schema from the CURRENT iceberg schema — files written
    before an additive evolution simply project the new columns as null."""
    return ", ".join(
        f"`{f['name']}` {_spark_type(f['type'])}" for f in schema["fields"]
    )


def _delete_target_ranges(dels: list[DataFile]) -> list[tuple[str, str]] | None:
    """[lo, hi] abspath intervals covering every data file the position
    deletes reference, from the delete files' row-group min/max stats on
    ``file_path`` — footer-only driver reads, bounded by delete-FILE count.
    Delete files are written sorted by (file_path, pos), so the intervals
    are tight. Returns None when any stat is missing or percent-encoded
    (decoding would not preserve lexicographic order) — the caller then
    conservatively applies deletes to every file."""
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq

    ranges: list[tuple[str, str]] = []
    for f in dels:
        if f.referenced_data_file:
            # a deletion vector names its one target EXACTLY — no footer
            # read, a degenerate [target, target] interval
            t = f.referenced_data_file
            if "%" in t:
                return None
            t = os.path.abspath(unquote(urlparse(t).path))
            ranges.append((t, t))
            continue
        md = pq.ParquetFile(f.path).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            col = next(
                (g.column(i) for i in range(g.num_columns)
                 if g.column(i).path_in_schema == "file_path"),
                None,
            )
            st = col.statistics if col is not None else None
            if st is None or not st.has_min_max:
                return None
            lo, hi = st.min, st.max
            lo = lo.decode() if isinstance(lo, bytes) else str(lo)
            hi = hi.decode() if isinstance(hi, bytes) else str(hi)
            if "%" in lo or "%" in hi:
                return None
            ranges.append(
                (
                    os.path.abspath(unquote(urlparse(lo).path)),
                    os.path.abspath(unquote(urlparse(hi).path)),
                )
            )
    return ranges


def _union(frames: list):
    """One frame of the (same-schema) ``frames``, matched by column name."""
    return functools.reduce(lambda a, b: a.unionByName(b), frames)


def _pos_delete_frame(spark, pos_dels: list[DataFile]):
    """One (file_path, pos) DataFrame across BOTH position-delete
    representations: v2 position-delete parquet files, and v3 Puffin
    deletion vectors (content=1 + referenced_data_file) — each DV blob is
    decoded IN A WORKER via mapInPandas (driver touches only the
    file-count-sized descriptor list), so the two representations feed the
    identical downstream anti-join."""
    import pandas as _pd  # noqa: F401  (worker-side import sanity)

    pq_files = [f for f in pos_dels if not f.referenced_data_file]
    dvs = [f for f in pos_dels if f.referenced_data_file]
    parts = []
    if pq_files:
        parts.append(
            spark.read.schema(POS_DELETE_DDL).parquet(*[f.path for f in pq_files])
        )
    if dvs:
        desc = spark.createDataFrame(
            [
                (f.path, f.referenced_data_file, f.content_offset, f.content_size)
                for f in dvs
            ],
            "puffin string, file_path string, off long, size long",
        )

        def gen(pdfs):
            import pandas as pd

            from parquet_to_arrow_spark.sources import puffin as pf

            for pdf in pdfs:
                for pu, fp, off, size in zip(
                    pdf["puffin"], pdf["file_path"], pdf["off"], pdf["size"]
                ):
                    poss = pf.read_dv_blob(pf.read_blob(pu, int(off), int(size)))
                    yield pd.DataFrame(
                        {"file_path": fp, "pos": pd.Series(poss, dtype="int64")}
                    )

        # one partition per blob would schedule one TASK per blob — at the
        # 10^5-DV scale this path exists for, that is hours of pure
        # dispatch overhead (this box charges ~150 ms/task); size the
        # decode by its OUTPUT instead: ~64 MB of decoded (file_path, pos)
        # rows per task, capped at a few waves of the cluster width
        # (mapInPandas already iterates many rows per partition)
        decoded = sum(f.record_count for f in dvs) * 96
        n_parts = max(
            1,
            min(
                len(dvs),
                spark.sparkContext.defaultParallelism * 4,
                -(-decoded // (64 << 20)),
            ),
        )
        parts.append(desc.repartition(n_parts).mapInPandas(gen, POS_DELETE_DDL))
    return _union(parts)


def read_snapshot(
    spark,
    table_dir: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    range_filter: dict | None = None,
    with_positions: bool = False,
):
    """Snapshot scan as a DataFrame: one state read resolves the selector
    to one snapshot, and one manifest walk of that snapshot yields both its
    data files and its delete files, so the scan can never pair one
    snapshot's files with another's deletes. The (partition-pruned) file
    list goes straight to the parquet reader. For a partitioned table
    the partition columns — not stored in the data files, per the hive
    layout — are re-attached as typed literals per partition group (robust
    across multi-root wave/batch directories where a single basePath does
    not exist). Time travel = pass an older snapshot id.

    Position deletes: when the snapshot carries content=1 delete files,
    their (file_path, pos) pairs are SUBTRACTED via an anti-join against
    the scan's native (_metadata.file_path, _metadata.row_index) — the
    merge-on-read plan every Iceberg reader runs. Parquet row positions
    come from the scanner itself (no window, no shuffle on the data side),
    and the join is doubly bounded for scale: (a) data files OUTSIDE the
    delete files' file_path stat ranges (_delete_target_ranges) bypass the
    join entirely — at 100 TB a delete touching one partition never drags
    the other 99.9% of the scan through a join; (b) the delete set joins
    broadcast when manifest-recorded sizes are small (the common case —
    data side streams, zero shuffle), degrading to a shuffled anti-join of
    only the TARGETED files otherwise. Equality deletes (content=2) apply
    as a null-safe anti-join on their key columns, gated by commit order
    (dseq > data file's sequence — later appends with a deleted key
    survive). materialize_deletes remains the maintenance bound on
    accumulation of either kind.

    ``with_positions``: keep the scan-native ``__fp`` (file: URI) and
    ``__pos`` (row index) columns on the result — the write-side input for
    producing NEW position-delete files."""
    from pyspark.sql import functions as F

    _, meta = _table_state(table_dir)
    data, dels = _live_files(meta, _resolve_sid(meta, snapshot_id))
    files = _prune(meta, data, partition_filter, range_filter, table_dir)
    cur_schema = _current_schema(meta)
    ddl = _spark_ddl(cur_schema)
    if not files:
        from ..session import empty_df

        # every file pruned (or an empty snapshot): an empty TYPED frame,
        # not an error — probing an absent partition is a normal query
        return empty_df(
            spark, ddl + (", __fp string, __pos bigint" if with_positions else "")
        )
    pos_dels = [f for f in dels if f.content == 1]
    eq_dels = [f for f in dels if f.content == 2]
    ranges = _delete_target_ranges(pos_dels) if pos_dels else []
    if pos_dels and not ranges:
        ranges = None  # no usable stats: conservatively target every file

    def _targeted(path: str) -> bool:
        return bool(pos_dels) and (
            ranges is None or any(lo <= path <= hi for lo, hi in ranges)
        )

    ddf = None
    if pos_dels:
        ddf = _pos_delete_frame(spark, pos_dels)
        # broadcast by the DECODED anti-join frame's size — identical rule
        # for both representations, so the plan does not flip between v2
        # parquet and DVs for the same delete set. On-disk bytes would be
        # the wrong scale for DVs (a bitmap container packs 65536 rows
        # into 8 KiB; blob bytes would force-broadcast a multi-GB decoded
        # frame); record_count x ~96 bytes (pos + repeated path string)
        # estimates the expanded rows, 256 MB decoded (~2.8M delete rows)
        # is the ceiling a 1000-executor fetch comfortably absorbs
        est = sum(f.record_count for f in pos_dels) * 96
        if est < (256 << 20):
            ddf = F.broadcast(ddf)

    # equality deletes: one frame per distinct key-column set, each delete
    # file's rows stamped with its commit sequence — application is gated
    # per data file by dseq > data seq (rows appended AFTER an equality
    # delete survive it, the spec's row-delta ordering)
    eqfs: list[tuple[list[str], object]] = []
    if eq_dels:
        names_by_id = {f["id"]: f["name"] for f in cur_schema["fields"]}
        groups_eq: dict[tuple, list[DataFile]] = {}
        for f in eq_dels:
            groups_eq.setdefault(tuple(sorted(f.equality_ids or [])), []).append(f)
        for ids, fs in sorted(groups_eq.items()):
            names = [names_by_id[i] for i in ids]
            fr = _union(
                [
                    spark.read.parquet(f.path)
                    .select(*[F.col(n).alias(f"__eq_{n}") for n in names])
                    .withColumn("__dseq", F.lit(f.sequence))
                    for f in fs
                ]
            )
            if sum(f.file_size for f in fs) < (64 << 20):
                fr = F.broadcast(fr)
            eqfs.append((names, fr))

    def _scan(dfiles: list[DataFile], part_lits=()):
        """One scan node per (pos-targeted?, sequence) file group:
        pos-targeted files carry positions and subtract the delete pairs;
        sequence grouping exists only when equality deletes need their
        dseq > seq gate; untargeted files carry positions only when the
        caller asked for them.

        ``part_lits``: (spec, value) pairs for identity-partition columns.
        Hive layout strips these from the data files, so they MUST be
        re-attached as typed literals BEFORE the equality-delete anti-join
        runs — an equality delete keyed on a partition column would
        otherwise compare against NULL and silently no-op (and a later
        materialize_deletes would then drop the delete file, permanently
        losing the delete)."""
        hit = [f for f in dfiles if _targeted(f.path)]
        miss = [f for f in dfiles if not _targeted(f.path)]
        parts = []
        for sub, apply_pos in ((hit, True), (miss, False)):
            if not sub:
                continue
            seq_groups: dict = {}
            for f in sub:
                seq_groups.setdefault(f.sequence if eqfs else None, []).append(f.path)
            for sq, paths in sorted(
                seq_groups.items(), key=lambda kv: (kv[0] is None, kv[0] or 0)
            ):
                df = spark.read.schema(ddl).parquet(*paths)
                for s, v in part_lits:
                    # withColumn on an existing name keeps schema position
                    df = df.withColumn(
                        s["name"], F.lit(v).cast(_ICEBERG_TO_SPARK[s["value_type"]])
                    )
                if apply_pos or with_positions:
                    df = df.select(
                        "*",
                        F.col("_metadata.file_path").alias("__fp"),
                        F.col("_metadata.row_index").alias("__pos"),
                    )
                if apply_pos:
                    df = df.join(
                        ddf,
                        (F.col("__fp") == F.col("file_path"))
                        & (F.col("__pos") == F.col("pos")),
                        "left_anti",
                    )
                    if not with_positions:
                        df = df.drop("__fp", "__pos")
                for names, fr in eqfs:
                    cond = F.lit(True)
                    for n in names:
                        cond = cond & F.col(n).eqNullSafe(F.col(f"__eq_{n}"))
                    df = df.join(
                        fr, cond & (F.col("__dseq") > F.lit(sq)), "left_anti"
                    )
                parts.append(df)
        return _union(parts)

    # only IDENTITY fields re-attach as literal columns: a bucket field's
    # value is a derived hash, not a table column — its source column is
    # physically present in the data files (bucket-partitioned writes keep
    # it; only the derived <col>_bucket directory column is stripped).
    # After partition spec evolution each file resolves its layout against
    # the spec ITS manifest was written under (files group by spec id
    # first), so mixed-layout snapshots read correctly with zero rewrites.
    multi_spec = len(meta.get("partition-specs", [])) > 1
    id_specs_by_sid: dict[int, list[dict]] = {}

    def _id_specs(sid: int) -> list[dict]:
        if sid not in id_specs_by_sid:
            id_specs_by_sid[sid] = [
                s
                for s in _partition_specs(meta, sid)
                if s["transform"] == "identity"
            ]
        return id_specs_by_sid[sid]

    if not multi_spec and not _id_specs(meta["default-spec-id"]):
        return _scan(files)
    groups: dict[tuple, list[DataFile]] = {}
    for f in files:
        key = (f.spec_id,) + tuple(
            (f.partition or {}).get(s["name"]) for s in _id_specs(f.spec_id)
        )
        groups.setdefault(key, []).append(f)
    out = _union(
        [
            _scan(gfiles, part_lits=list(zip(_id_specs(key[0]), key[1:])))
            for key, gfiles in sorted(groups.items())
        ]
    )
    if partition_filter and multi_spec:
        # residual EXACT filter: metadata pruning could not apply a filter
        # key to manifests whose spec lacks it (kept conservatively), so
        # re-apply identity-column filters on the data — Catalyst pushes
        # them to the scans / constant-folds them on literal-attached
        # groups. A DERIVED-transform key (doc_id_bucket, ts_day, ... — no
        # table column to re-filter on) that is absent from some live
        # file's spec would silently turn exact pruning into a superset
        # read: reject loudly instead (filter on the source column, or
        # compact_files to migrate the old layout first)
        live_sids = {f.spec_id for f in files}
        for k, v in partition_filter.items():
            if k in out.columns:
                out = out.filter(
                    F.col(k).isNull() if v is None else F.col(k) == F.lit(v)
                )
                continue
            missing = [
                sid
                for sid in sorted(live_sids)
                if k not in {s["name"] for s in _partition_specs(meta, sid)}
            ]
            if missing:
                raise ValueError(
                    f"partition_filter key {k!r} is a derived transform "
                    f"absent from live spec(s) {missing} after partition "
                    "spec evolution — pruning would silently return a "
                    "superset; filter on the source column instead, or "
                    "compact_files to migrate old-layout files"
                )
    return out


# ----------------------------------------------------------- maintenance


def expire_snapshots(
    table_dir: str, keep_last: int = 1, remove: bool = False, ts_ms: int | None = None
) -> dict:
    """Expire all but the last ``keep_last`` snapshots (the current one is
    always kept) — the table-hygiene pass a long-lived 100 TB table needs so
    metadata and manifest counts stay bounded by retention, not job count.

    Publishes one new metadata version through _publish_metadata, like
    every metadata writer (a concurrent commit raises CommitConflict).
    Manifest lists of expired snapshots — and manifests no surviving
    snapshot references — become removable; data files are never touched
    here (append-only tables share data files across snapshots via manifest
    reuse; see orphan_files for data-level hygiene). Dry-run by default:
    ``remove=True`` actually unlinks."""
    version, meta = _table_state(table_dir)
    snaps = meta["snapshots"]
    # refs PIN snapshots (spec: expiry never removes a referenced
    # snapshot) — a tag is the retention contract for audits/repro builds
    pinned = {r["snapshot-id"] for r in meta.get("refs", {}).values()}
    keep = [
        s
        for i, s in enumerate(snaps)
        if i >= len(snaps) - max(keep_last, 1) or s["snapshot-id"] in pinned
    ]
    expired = [s for s in snaps if s not in keep]
    keep_ids = {s["snapshot-id"] for s in keep}
    assert meta["current-snapshot-id"] in keep_ids

    live_manifests: set[str] = set()
    for s in keep:
        live_manifests |= {m["manifest_path"] for m in _read_avro(s["manifest-list"])}
    removable: list[str] = [s["manifest-list"] for s in expired]
    for s in expired:
        removable += [
            m["manifest_path"]
            for m in _read_avro(s["manifest-list"])
            if m["manifest_path"] not in live_manifests
        ]
    removable = sorted(set(removable))

    ts = int(ts_ms if ts_ms is not None else time.time() * 1000)
    new_meta = dict(meta)
    new_meta["snapshots"] = keep
    new_meta["snapshot-log"] = [
        e for e in meta["snapshot-log"] if e["snapshot-id"] in keep_ids
    ]
    new_meta["last-updated-ms"] = ts
    _publish_metadata(table_dir, version, new_meta)

    if remove:
        for p in removable:
            try:
                os.remove(p)
            except FileNotFoundError:
                pass
    return {
        "expired_snapshot_ids": [s["snapshot-id"] for s in expired],
        "kept_snapshot_ids": sorted(keep_ids),
        "removable_files": removable,
        "removed": remove,
    }


def rewrite_manifests(table_dir: str, ts_ms: int | None = None) -> int | None:
    """Consolidate the current snapshot's manifests (Iceberg's
    rewrite_manifests): after N commits a snapshot drags N manifest files
    through every planning walk — this folds all live DATA entries into
    ONE manifest (and all delete entries into one content=1 manifest),
    committed as a spec 'replace' snapshot that changes no data. Entries
    keep their ORIGINAL snapshot ids and sequence numbers as EXISTING —
    time travel, incremental consumption boundaries, and the equality-
    delete sequence gate are all preserved; the superseded manifests
    become expirable with their old snapshots. No-op (returns None) when
    there is nothing to fold."""
    version, meta = _table_state(table_dir)
    cur_id = meta.get("current-snapshot-id", -1)
    if cur_id == -1:
        return None
    snap = meta["snapshots"][_snapshot_index(meta["snapshots"], cur_id)]
    manifests = _read_avro(snap["manifest-list"])
    # fold within (content, spec-id) groups: after partition spec
    # evolution, manifests of different specs carry different partition
    # structs and cannot share one file
    by_key: dict[tuple, list[dict]] = {}
    for mf in manifests:
        key = (mf.get("content", 0), mf.get("partition_spec_id", 0))
        by_key.setdefault(key, []).append(mf)
    if all(len(v) <= 1 for v in by_key.values()):
        return None
    meta_dir = _meta_dir(table_dir)
    uid = meta["table-uuid"]
    seq = meta["last-sequence-number"] + 1
    ts = int(ts_ms if ts_ms is not None else time.time() * 1000)

    new_manifests: list[dict] = []
    manifest_names: list[str] = []
    for content, spec_id in sorted(by_key):
        entries: list[dict] = []
        for mf in by_key[(content, spec_id)]:
            for e in _read_avro(mf["manifest_path"]):
                if e["status"] == 2:
                    continue
                e = dict(e)
                e["status"] = 0  # EXISTING: original snapshot/sequence kept
                for fld in ("equality_ids", "referenced_data_file",
                            "content_offset", "content_size_in_bytes"):
                    e["data_file"].setdefault(fld, None)
                entries.append(e)
        digest = hashlib.md5(
            "\n".join(e["data_file"]["file_path"] for e in entries).encode()
        ).hexdigest()[:12]
        name = f"{uid}-seq{seq}-rwm{digest}-c{content}s{spec_id}.avro"
        path = os.path.join(meta_dir, name)
        payload = avro_io.write_container(
            manifest_entry_schema(_partition_fields(meta, spec_id)),
            entries,
            meta={"content": "data" if content == 0 else "deletes"},
        )
        with open(path, "wb") as f:
            f.write(payload)
        manifest_names.append(name)
        new_manifests.append(
            {
                "manifest_path": os.path.abspath(path),
                "manifest_length": len(payload),
                "partition_spec_id": spec_id,
                "content": content,
                "sequence_number": seq,
                "min_sequence_number": min(
                    (e["sequence_number"] for e in entries), default=seq
                ),
                "added_snapshot_id": 0,  # patched below once snap_id exists
                "added_files_count": 0,
                "existing_files_count": len(entries),
                "deleted_files_count": 0,
                "added_rows_count": 0,
                "existing_rows_count": sum(
                    e["data_file"]["record_count"] for e in entries
                ),
                "deleted_rows_count": 0,
                "partitions": [],
            }
        )
    snap_id = _snapshot_id(uid, seq, manifest_names)
    for mf in new_manifests:
        mf["added_snapshot_id"] = snap_id
    mlist_path = os.path.join(meta_dir, f"snap-{snap_id}-1-{uid}.avro")
    with open(mlist_path, "wb") as f:
        f.write(avro_io.write_container(MANIFEST_FILE_SCHEMA, new_manifests))
    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": ts,
        "manifest-list": os.path.abspath(mlist_path),
        "summary": {
            "operation": "replace",
            "operation-detail": f"rewrite-manifests:{len(manifests)}->{len(new_manifests)}",
            "added-data-files": "0",
            "added-records": "0",
        },
        "schema-id": meta["current-schema-id"],
        "parent-snapshot-id": cur_id,
    }
    new_meta = dict(meta)
    new_meta["last-sequence-number"] = seq
    new_meta["last-updated-ms"] = ts
    new_meta["current-snapshot-id"] = snap_id
    new_meta["refs"] = {
        **meta.get("refs", {}),
        "main": {"snapshot-id": snap_id, "type": "branch"},
    }
    new_meta["snapshots"] = meta["snapshots"] + [snapshot]
    new_meta["snapshot-log"] = meta["snapshot-log"] + [
        {"timestamp-ms": ts, "snapshot-id": snap_id}
    ]
    _publish_metadata(table_dir, version, new_meta)
    return snap_id


def orphan_files(table_dir: str, data_dir: str | None = None) -> list[str]:
    """Parquet files under the table's data directory that NO live snapshot
    references — crash leftovers from writes whose commit never landed.
    Listing only (deletion is the operator's call, after a grace period, as
    in Iceberg's own remove_orphan_files action)."""
    _, meta = _table_state(table_dir)
    referenced: set[str] = set()
    for s in meta["snapshots"]:
        for m in _read_avro(s["manifest-list"]):
            referenced |= {
                e["data_file"]["file_path"] for e in _read_avro(m["manifest_path"])
            }
    root = data_dir or os.path.join(table_dir, "data")
    found: list[str] = []
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.abspath(os.path.join(dirpath, n))
                if p not in referenced:
                    found.append(p)
    return sorted(found)


# ------------------------------------------------------------- incremental


def added_files(
    table_dir: str, since_snapshot_id: int | None, to_snapshot_id: int | None = None
) -> list[DataFile]:
    """Data files ADDED between two snapshots (exclusive since, inclusive
    to; since=None means from the table's beginning) — the incremental-
    consumption primitive: a downstream job records the snapshot id it
    last processed and reads only newer files, never rescanning the table.
    Pure metadata set difference over the manifest walks.

    The range must contain only APPEND (or manifest-maintenance REPLACE)
    snapshots: a rewrite commit (compaction, CoW delete/merge) re-files
    old rows, and a path diff would re-deliver them as new — exactly like
    Iceberg's own incremental read, such a snapshot in the range raises
    and the consumer must rebase (full re-read or reconcile) instead of
    double-processing. rewrite_manifests' 'replace' snapshots reorganize
    METADATA only (identical file paths), so they pass through — table
    maintenance must not force consumer rebases."""
    return _added_files(_table_state(table_dir)[1], since_snapshot_id, to_snapshot_id)


def _added_files(
    meta: dict, since_snapshot_id: int | None, to_snapshot_id: int | None
) -> list[DataFile]:
    """added_files over one already-read table state."""
    snaps = meta["snapshots"]
    lo, hi = _snapshot_range(snaps, since_snapshot_id, to_snapshot_id)
    bad = [
        s["snapshot-id"]
        for s in snaps[lo:hi]
        if s.get("summary", {}).get("operation", "append") not in ("append", "replace")
    ]
    if bad:
        raise ValueError(
            f"incremental range contains non-append snapshots {bad} "
            "(rewrite/delete/compaction re-files old rows); rebase the consumer"
        )
    to_files, _ = _live_files(meta, _resolve_sid(meta, to_snapshot_id))
    after = {f.path: f for f in to_files}
    if since_snapshot_id is not None:
        for f in _live_files(meta, since_snapshot_id)[0]:
            after.pop(f.path, None)
    return [after[p] for p in sorted(after)]


def metadata_table(spark, table_dir: str, kind: str):
    """The table's OWN metadata as a queryable DataFrame — the engine's
    analogue of Iceberg's `tbl$files` / `$snapshots` / `$history` /
    `$partitions` / `$manifests` metadata tables, so table-hygiene
    questions ("which partition carries the small files?", "how many
    delete rows are pending?") are plain Spark SQL instead of bespoke
    scripts. Everything comes from the manifest walk — a driver-side
    metadata read, bounded by file count, no data file opened; the frames
    are small and the point is the SQL surface, not parallelism. One state
    read serves every kind."""
    _, meta = _table_state(table_dir)
    cur = meta.get("current-snapshot-id")
    if kind == "snapshots":
        rows = [
            (
                s["snapshot-id"],
                s.get("parent-snapshot-id"),
                s["sequence-number"],
                s["timestamp-ms"],
                s.get("summary", {}).get("operation"),
                json.dumps(s.get("summary", {})),
            )
            for s in meta["snapshots"]
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, sequence_number long, "
            "committed_at_ms long, operation string, summary string",
        )
    if kind == "history":
        rows = [
            (e["timestamp-ms"], e["snapshot-id"], e["snapshot-id"] == cur)
            for e in meta.get("snapshot-log", [])
        ]
        return spark.createDataFrame(
            rows, "made_current_at_ms long, snapshot_id long, is_current boolean"
        )
    if kind == "refs":
        rows = [
            (name, r.get("type", "branch"), r["snapshot-id"])
            for name, r in sorted(meta.get("refs", {}).items())
        ]
        return spark.createDataFrame(
            rows, "name string, type string, snapshot_id long"
        )
    if kind in ("files", "delete_files"):
        fs = _live_files(meta, cur)[0 if kind == "files" else 1]
        rows = [
            (
                f.path,
                f.content,
                f.record_count,
                f.file_size,
                json.dumps(f.partition) if f.partition else None,
                f.sequence,
                f.spec_id,
            )
            for f in fs
        ]
        return spark.createDataFrame(
            rows,
            "file_path string, content int, record_count long, "
            "file_size_bytes long, partition string, sequence_number long, "
            "spec_id int",
        )
    if kind == "partitions":
        groups: dict[str, list] = {}
        for f in _live_files(meta, cur)[0]:
            key = json.dumps(f.partition or {}, sort_keys=True)
            groups.setdefault(key, []).append(f)
        rows = [
            (
                key,
                len(fs),
                sum(f.record_count for f in fs),
                sum(f.file_size for f in fs),
            )
            for key, fs in sorted(groups.items())
        ]
        return spark.createDataFrame(
            rows,
            "partition string, file_count long, record_count long, "
            "total_size_bytes long",
        )
    if kind == "manifests":
        ddl = "path string, length long, content int, added_snapshot_id long"
        if cur in (None, -1):
            from ..session import empty_df

            return empty_df(spark, ddl)
        snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == cur)
        rows = [
            (
                m["manifest_path"],
                m.get("manifest_length", 0),
                m.get("content", 0),
                m["added_snapshot_id"],
            )
            for m in _read_avro(snap["manifest-list"])
        ]
        return spark.createDataFrame(rows, ddl)
    if kind == "partition_specs":
        rows = [
            (
                sp["spec-id"],
                sp["spec-id"] == meta.get("default-spec-id", 0),
                f["field-id"],
                f["name"],
                f["transform"],
                f["source-id"],
            )
            for sp in meta.get("partition-specs", [])
            for f in sp["fields"]
        ] or [(0, True, None, None, None, None)]
        return spark.createDataFrame(
            rows,
            "spec_id int, is_default boolean, field_id int, field_name string, "
            "transform string, source_id int",
        )
    raise ValueError(
        f"unknown metadata table {kind!r} (snapshots, history, refs, files, "
        "delete_files, partitions, manifests, partition_specs)"
    )


def read_changelog(
    spark,
    table_dir: str,
    since_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
):
    """Row-level change stream between two snapshots (Iceberg's changelog
    scan, the CONSUMER side of the engine's CDC sinks): for every snapshot
    in (since, to], emit

    - ``insert`` rows — the content of data files ADDED by the snapshot
      (plain appends, and the append half of a row-delta upsert);
    - ``delete`` rows — full pre-image rows resolved from POSITION delete
      files added by the snapshot (read back from their still-live target
      files by (file_path, pos) — a semi-join against the scanner's native
      positions, bounded to the targeted files);
    - ``delete_key`` rows — EQUALITY delete files' key sets, key columns
      populated and every other column null (the spec's minimal
      representation; resolving full pre-images would re-scan pre-state).

    Output = table columns + ``_change_op`` + ``_snapshot_id`` +
    ``_change_ordinal`` (the snapshot's position in the range — snapshot
    ids are content-derived, NOT monotonic, so consumers order by the
    ordinal and, within one ordinal, apply deletes before inserts: the
    row-delta rule that lets an upsert's new rows survive its own delete).

    Manifest-maintenance ``replace`` snapshots contribute nothing and pass
    through. A rewrite snapshot in the range (compaction, CoW DML, wave
    overwrite) re-files old rows — emitting its file diff would re-deliver
    unchanged rows as changes — so, exactly like added_files, the range
    raises and the consumer rebases.

    Scale shape: pure metadata set-differences pick the per-snapshot file
    lists; each emission is a plain pruned parquet scan (no shuffle except
    the position-delete semi-join, which is bounded to targeted files and
    broadcast-sized delete sets); the union is one plan over at most
    |range| scan nodes, bounded by snapshot retention."""
    from pyspark.sql import functions as F

    _, meta = _table_state(table_dir)
    snaps = meta["snapshots"]
    lo, hi = _snapshot_range(snaps, since_snapshot_id, to_snapshot_id)
    cur_schema = _current_schema(meta)
    ddl = _spark_ddl(cur_schema)
    names = [f["name"] for f in cur_schema["fields"]]
    types = {f["name"]: _spark_type(f["type"]) for f in cur_schema["fields"]}
    names_by_id = {f["id"]: f["name"] for f in cur_schema["fields"]}

    frames = []

    def _emit(df, op: str, sid: int, ordinal: int):
        frames.append(
            df.select(*names)
            .withColumn("_change_op", F.lit(op))
            .withColumn("_snapshot_id", F.lit(sid))
            .withColumn("_change_ordinal", F.lit(ordinal))
        )

    # one manifest walk per snapshot: the one before the range, then each
    # snapshot of the range, all from the same table state
    prev_data: set[str] = set()
    prev_dels: set[str] = set()
    if lo:
        data, dels = _live_files(meta, snaps[lo - 1]["snapshot-id"])
        prev_data, prev_dels = {f.path for f in data}, {f.path for f in dels}
    for ordinal, s in enumerate(snaps[lo:hi]):
        sid = s["snapshot-id"]
        op = s.get("summary", {}).get("operation", "append")
        cur_data_files, cur_del_files = _live_files(meta, sid)
        cur_data = {f.path for f in cur_data_files}
        cur_dels = {f.path for f in cur_del_files}
        if op == "replace":
            prev_data, prev_dels = cur_data, cur_dels
            continue
        if prev_data - cur_data:
            raise ValueError(
                f"changelog range contains rewrite snapshot {sid} "
                "(compaction/CoW/overwrite re-files old rows); rebase the "
                "consumer"
            )
        added_data = [f for f in cur_data_files if f.path not in prev_data]
        added_dels = [f for f in cur_del_files if f.path not in prev_dels]
        if added_data:
            _emit(
                spark.read.schema(ddl).parquet(*[f.path for f in added_data]),
                "insert",
                sid,
                ordinal,
            )
        pos = [f for f in added_dels if f.content == 1]
        eqs = [f for f in added_dels if f.content == 2]
        if pos:
            # both representations: v2 delete parquet AND v3 DVs
            ddf = _pos_delete_frame(spark, pos)
            # targeted-file count is bounded by the delete set, and the
            # URIs are the scanner's own rendering (write-side invariant)
            from urllib.parse import unquote, urlparse

            target_uris = [
                r["file_path"]
                for r in ddf.select("file_path").distinct().collect()
            ]
            targets = sorted(
                os.path.abspath(unquote(urlparse(u).path)) for u in target_uris
            )
            raw = (
                spark.read.schema(ddl)
                .parquet(*targets)
                .select(
                    "*",
                    F.col("_metadata.file_path").alias("__fp"),
                    F.col("_metadata.row_index").alias("__pos"),
                )
            )
            if sum(f.file_size for f in pos) < (64 << 20):
                ddf = F.broadcast(ddf)
            hit = raw.join(
                ddf,
                (F.col("__fp") == F.col("file_path"))
                & (F.col("__pos") == F.col("pos")),
                "semi",
            )
            _emit(hit, "delete", sid, ordinal)
        for f in eqs:
            keys = [names_by_id[i] for i in (f.equality_ids or [])]
            kdf = spark.read.parquet(f.path)
            _emit(
                kdf.select(
                    *[
                        F.col(n).cast(types[n])
                        if n in keys
                        else F.lit(None).cast(types[n]).alias(n)
                        for n in names
                    ]
                ),
                "delete_key",
                sid,
                ordinal,
            )
        prev_data, prev_dels = cur_data, cur_dels
    if not frames:
        from ..session import empty_df

        return empty_df(
            spark, ddl + ", _change_op string, _snapshot_id long, _change_ordinal int"
        )
    return _union(frames)


def read_incremental(
    spark, table_dir: str, since_snapshot_id: int | None, to_snapshot_id: int | None = None
):
    """DataFrame over only the rows appended after ``since_snapshot_id``.
    Empty typed frame when nothing is new."""
    _, meta = _table_state(table_dir)
    ddl = _spark_ddl(_current_schema(meta))
    files = _added_files(meta, since_snapshot_id, to_snapshot_id)
    if not files:
        from ..session import empty_df

        return empty_df(spark, ddl)
    return spark.read.schema(ddl).parquet(*[f.path for f in files])
