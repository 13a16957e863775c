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
being overwritten. The writer passes only its own change; _publish_metadata
is the one transition that derives the rest (last-updated-ms from the one
clock _clock_ms, the metadata-log entry, the snapshot-log entry of a moved
current snapshot, the main ref). The two writers that add a snapshot
(commit_append, rewrite_manifests) write every manifest through
_write_manifest (one spec header, one manifest-list row), carry inherited
manifests forward with _carry_forward / _as_existing, and commit through
_commit_snapshot (manifest list and snapshot). Every
reader — snapshot scans, file lists, changelog and incremental reads,
metadata tables — likewise resolves ONE snapshot from one state read and
takes that snapshot's data files and delete files from one walk of its
manifest list (_live_files), so a commit
landing mid-read can never pair one snapshot's files with another's
deletes. Every reader of data files — read_snapshot, read_incremental
and read_changelog here, materialize_deletes and compact_files
(sources/iceberg.py), point_lookup (sources/bloom_index.py) — then scans
them through one _scan_files (current schema, identity-partition
literals, deletes). Implemented on top of that: identity partitioning with
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
from urllib.parse import unquote, urlparse

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


# Position-delete file columns (spec "Position Delete Files"). The delete
# parquet stores file_path exactly as Spark's _metadata.file_path renders
# the data file (a file: URI) so the read-side anti-join compares raw
# scan-native values on both sides — no decode step whose edge cases
# (percent-encoding, '+') could silently unmatch; driver-side code that
# needs the manifest abspath converts with _uri_path.
POS_DELETE_DDL = "file_path string, pos bigint"


def _uri_path(uri: str) -> str:
    """The manifest abspath of a data file the scanner renders as a
    (percent-encoded) ``file:`` URI."""
    return os.path.abspath(unquote(urlparse(uri).path))


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


def _new_table_metadata(
    table_dir: str, spark_schema, partition_by, properties: dict | None
) -> dict:
    """Table metadata before the first snapshot: schema 0 from
    ``spark_schema``, partition spec 0 from ``partition_by``."""
    if spark_schema is None:
        raise ValueError("first commit needs the table schema")
    schema, last_col = iceberg_schema(spark_schema)
    spec_fields, last_part_id = _build_spec_fields(schema, partition_by)
    return {
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


def _evolve_partition_spec(base: dict, partition_by, allow_spec_evolution: bool) -> dict:
    """``base`` with ``partition_by`` as its default partition spec. On an
    existing table a silently-ignored (or conflicting) partition_by would
    commit hive-layout values under the wrong spec — be loud. A verbatim
    restatement of the current spec is the one harmless case (callers with
    a fixed job config). With allow_spec_evolution=True a DIFFERENT value
    is Iceberg partition spec evolution (Table Spec v2): the new spec is
    appended under a bumped spec-id and becomes the default; EXISTING
    manifests keep their old spec-id and old layout — only metadata
    changes, no data file is rewritten."""
    cur_spec = next(
        s for s in base["partition-specs"] if s["spec-id"] == base["default-spec-id"]
    )
    name_by_id = {f["id"]: f["name"] for s in base["schemas"] for f in s["fields"]}
    want = []
    for f in cur_spec["fields"]:
        src = name_by_id.get(f["source-id"], "?")
        tr = f["transform"]
        want.append(src if tr == "identity" else f"{src}:{tr}")
    if list(partition_by) == want:
        return base
    if not allow_spec_evolution:
        raise ValueError(
            f"table already has partition spec {want}; partition "
            f"spec evolution (-> {list(partition_by)}) needs "
            "allow_spec_evolution=True — or create a new table "
            "or restate the existing spec verbatim"
        )
    last = base.get("last-partition-id", 999)
    new_fields, last_pid = _build_spec_fields(
        _current_schema(base),
        partition_by,
        existing_specs=base["partition-specs"],
        last_partition_id=last,
    )
    new_sid = max(s["spec-id"] for s in base["partition-specs"]) + 1
    return dict(
        base,
        **{
            "partition-specs": base["partition-specs"]
            + [{"spec-id": new_sid, "fields": new_fields}],
            "default-spec-id": new_sid,
            "last-partition-id": max(last, last_pid),
        },
    )


def _current_manifests(meta: dict) -> list[dict]:
    """Manifest-list rows of the current snapshot (none before the first)."""
    cur_id = meta.get("current-snapshot-id", -1)
    if not cur_id or cur_id == -1:
        return []
    return _read_avro(
        meta["snapshots"][_snapshot_index(meta["snapshots"], cur_id)]["manifest-list"]
    )


def _replace_logical_partition(
    base: dict, manifests: list[dict], replace_on: str, key: str, manifest_path: str
) -> tuple[list[dict], dict]:
    """``replace_on``: drop the inherited manifests of logical partition
    ``key`` — those of every prior snapshot whose summary carries the same
    value, and the one the properties' replace index names (which
    survives snapshot expiry: expiry drops the snapshot entries the
    id-based match needs but inherits their manifests forward). Returns
    (kept manifests, properties with the index moved to
    ``manifest_path``)."""
    replaced_ids = {
        s["snapshot-id"]
        for s in base["snapshots"]
        if s.get("summary", {}).get(replace_on) == key
    }
    props = dict(base.get("properties", {}))
    idx_prop = f"replace-index-{replace_on}"
    index = json.loads(props.get(idx_prop, "{}"))
    replaced_paths = {index[key]} if key in index else set()
    kept = [
        m
        for m in manifests
        if m["added_snapshot_id"] not in replaced_ids
        and m["manifest_path"] not in replaced_paths
    ]
    index[key] = os.path.abspath(manifest_path)
    props[idx_prop] = json.dumps(index)
    return kept, props


def _added_entries(meta: dict, files: list[DataFile], snap_id: int, seq: int) -> list[dict]:
    """ADDED manifest entries for ``files`` under the default partition
    spec, each stamped with its DataFile's content kind; column bounds
    are serialized by the current schema."""
    pfields = _partition_fields(meta)
    types = {
        f["id"]: f["type"] for f in _current_schema(meta)["fields"] if isinstance(f["type"], str)
    }

    def bmap(bounds: dict | None):
        if not bounds:
            return None
        return [
            {"key": fid, "value": encode_bound(v, types[fid])}
            for fid, v in sorted(bounds.items())
            if fid in types and v is not None
        ]

    return [
        {
            "status": 1,  # ADDED
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": f.content,
                "file_path": os.path.abspath(f.path),
                "file_format": "PARQUET",
                "partition": {
                    name: _coerce((f.partition or {}).get(name), itype)
                    for name, itype in pfields
                },
                "record_count": f.record_count,
                "file_size_in_bytes": f.file_size,
                "lower_bounds": bmap(f.lower_bounds),
                "upper_bounds": bmap(f.upper_bounds),
                "split_offsets": None,
                "equality_ids": f.equality_ids,
                "sort_order_id": None,
                "referenced_data_file": f.referenced_data_file,
                "content_offset": f.content_offset,
                "content_size_in_bytes": f.content_size,
            },
        }
        for f in files
    ]


def _as_existing(entries: list[dict]) -> list[dict]:
    """Mark entries carried into a rewritten manifest EXISTING: their
    original snapshot and sequence numbers stay, and the fields an older
    manifest may lack are filled with null."""
    for e in entries:
        e["status"] = 0
        for fld in ("equality_ids", "referenced_data_file",
                    "content_offset", "content_size_in_bytes"):
            e["data_file"].setdefault(fld, None)
    return entries


def _write_manifest(
    meta: dict,
    path: str,
    entries: list[dict],
    spec_id: int,
    content: int,
    seq: int,
    snap_id: int,
) -> dict:
    """Write ``entries`` as one manifest under partition spec ``spec_id``
    and return its manifest-list row: the one manifest writer. The header
    carries the keys the spec's "Manifests" section requires; the row's
    file and row counts come from the entries' status (1 ADDED, 0
    EXISTING)."""
    spec = next(s for s in meta["partition-specs"] if s["spec-id"] == spec_id)
    payload = avro_io.write_container(
        manifest_entry_schema(_partition_fields(meta, spec_id)),
        entries,
        meta={
            "schema": json.dumps(_current_schema(meta)),
            "partition-spec": json.dumps(spec["fields"]),
            "partition-spec-id": str(spec_id),
            "format-version": str(FORMAT_VERSION),
            "content": "deletes" if content else "data",
        },
    )
    with open(path, "wb") as f:
        f.write(payload)
    added = [e["data_file"]["record_count"] for e in entries if e["status"] == 1]
    existing = [e["data_file"]["record_count"] for e in entries if e["status"] == 0]
    return {
        "manifest_path": os.path.abspath(path),
        "manifest_length": len(payload),
        "partition_spec_id": spec_id,
        "content": content,
        "sequence_number": seq,
        "min_sequence_number": min((e["sequence_number"] for e in entries), default=seq),
        "added_snapshot_id": snap_id,
        "added_files_count": len(added),
        "existing_files_count": len(existing),
        "deleted_files_count": 0,
        "added_rows_count": sum(added),
        "existing_rows_count": sum(existing),
        "deleted_rows_count": 0,
        "partitions": [],
    }


def _carry_forward(
    manifests: list[dict], removed: set[str], new_dvs: set[str], planned_seq: int
) -> tuple[list[tuple], set[str], list[str], set[str]]:
    """One walk of the manifests a commit inherits. The removal key is
    (file_path, referenced_data_file): an entry goes when its path is in
    ``removed`` (a Puffin path takes all its deletion vectors), or when it
    is a deletion vector (DV) of a data file in ``new_dvs``, which this
    commit gives a new DV (one live DV per data file, spec v3), leaving
    other files' DVs in the same Puffin live. Returns (kept, live, late,
    gone):

    - kept: in manifest order, (row, None) for each manifest that lost
      nothing and (row, surviving entries) for each that lost some but
      not all;
    - live: the paths of the data files that stay;
    - late: delete files whose data sequence number is above
      ``planned_seq`` that this commit replaces (a DV), or that may target
      a removed data file — an equality delete, a position delete without
      a reference, or one whose referenced file is removed;
    - gone: the removed paths no live entry carries."""
    kept: list[tuple] = []
    live: set[str] = set()
    seen: set[str] = set()
    removed_data: set[str] = set()
    recent: list[tuple] = []
    for mf in manifests:
        entries = _read_avro(mf["manifest_path"])
        keep = []
        for e in entries:
            if e["status"] == 2:
                continue
            d, dseq = e["data_file"], e.get("sequence_number")
            path, ref = d["file_path"], d.get("referenced_data_file")
            target = _uri_path(ref) if ref else None
            drop = path in removed or target in new_dvs
            seen.add(path)
            if mf.get("content", 0):
                if (mf["sequence_number"] if dseq is None else dseq) > planned_seq:
                    recent.append((path, target))
            elif drop:
                removed_data.add(path)
            else:
                live.add(path)
            if not drop:
                keep.append(e)
        if keep:
            kept.append((mf, None if len(keep) == len(entries) else keep))
    late = [
        p for p, t in recent
        if t in new_dvs or (removed_data and (t is None or t in removed_data))
    ]
    return kept, live, late, removed - seen


def _check_plan(
    base: dict,
    planned_snapshot_id: int | None,
    delete_files: list[DataFile],
    live: set[str],
    late: list[str],
    gone: set[str],
) -> None:
    """Raise CommitConflict when a commit planned on
    ``planned_snapshot_id`` no longer fits the state it commits on: a file
    it removes is gone; a delete committed since may target a file it
    removes, or is a DV it replaces (``late``); a DV's data file is no
    longer live; or a position delete without a referenced file was
    planned before a commit that removed data files (its rows may now live
    in other files). That last check walks the planned snapshot's
    manifests, only when the current snapshot has moved since planning."""
    if gone:
        # planned on an older snapshot: a concurrent commit already
        # removed these files, and committing the rewrite would bring
        # back rows it deleted and duplicate the rest
        raise CommitConflict(
            f"{len(gone)} remove_paths are no longer live (e.g. "
            f"{min(gone)}); re-plan on the current snapshot"
        )
    stale = late + [
        f.referenced_data_file
        for f in delete_files
        if f.referenced_data_file and _uri_path(f.referenced_data_file) not in live
    ]
    if any(f.content == 1 and not f.referenced_data_file for f in delete_files) and (
        planned_snapshot_id != base.get("current-snapshot-id")
    ):
        try:
            planned = _live_files(base, planned_snapshot_id)[0]
        except ValueError:
            raise CommitConflict(
                f"planned snapshot {planned_snapshot_id} expired; re-plan on the "
                "current snapshot"
            ) from None
        stale += [f.path for f in planned if f.path not in live]
    if stale:
        raise CommitConflict(
            f"{len(stale)} files changed after snapshot {planned_snapshot_id} "
            f"(e.g. {stale[0]}); re-plan on the current snapshot"
        )


def _commit_snapshot(
    table_dir: str,
    version: int,
    base: dict,
    snap_id: int,
    seq: int,
    ts: int,
    manifests: list[dict],
    summary: dict,
) -> int:
    """Commit ``manifests`` as snapshot ``snap_id`` on top of ``base``, the
    state read at ``version``: the one snapshot commit. It writes the
    manifest list, appends the snapshot, makes it current and publishes
    v{version+1} through _publish_metadata, which moves main and writes
    the logs (a crash replay of the same snapshot id is welcomed).
    Returns ``snap_id``."""
    uid = base["table-uuid"]
    mlist_path = os.path.join(_meta_dir(table_dir), f"snap-{snap_id}-1-{uid}.avro")
    with open(mlist_path, "wb") as f:
        f.write(avro_io.write_container(MANIFEST_FILE_SCHEMA, manifests))
    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": ts,
        "manifest-list": os.path.abspath(mlist_path),
        "summary": summary,
        "schema-id": base["current-schema-id"],
    }
    cur_id = base.get("current-snapshot-id", -1)
    if cur_id and cur_id != -1:
        snapshot["parent-snapshot-id"] = cur_id
    _publish_metadata(
        table_dir, version, base,
        {"last-sequence-number": seq, "current-snapshot-id": snap_id,
         "snapshots": base["snapshots"] + [snapshot]},
        ts, snap_id,
    )
    return snap_id


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
    planned_snapshot_id: int | None = None,
) -> int:
    """Append ``files`` as one new snapshot; returns the snapshot id.

    ``delete_files``: position deletes (POS_DELETE_DDL parquet, or
    deletion vectors in a Puffin file) or equality deletes, committed in
    their own content=1 manifest — the spec's row-delta commit.
    A deletion vector (DV) names its data file (``referenced_data_file``)
    and replaces that file's live DV(s): a data file keeps one live DV
    (spec v3), so the caller merges the DV of the planned snapshot into
    the new one (delete_where_dv). ``remove_paths``: files to drop — the
    copy-on-write half of DML, and the delete files a fold replaces (a
    Puffin path drops all its DVs). Manifests that lose entries are
    rewritten, survivors kept as EXISTING; the files stay on disk for
    time travel until expiry.

    ``planned_snapshot_id`` (required with ``remove_paths``) is the
    snapshot the commit was planned on; the commit raises CommitConflict
    when that plan went stale (_check_plan) — a removed path no longer
    live, a later delete that may target a removed file, a DV whose data
    file is gone or whose replaced DV is newer than the plan, or a
    position delete planned before a commit that removed data files.

    ``partition_by`` partitions a new table; on an existing one it must
    restate the spec or, with ``allow_spec_evolution``, evolve it
    (_evolve_partition_spec). ``replace_on`` names a summary key (e.g.
    "wave"): prior manifests of the same value are dropped
    (_replace_logical_partition), so a re-committed wave written under
    fresh file names overwrites its first commit instead of doubling it.

    Protocol: one state read (version N), one walk of the inherited
    manifests (_carry_forward), every manifest through _write_manifest,
    and _commit_snapshot publishes v{N+1} against N. A concurrent commit
    that took v{N+1} raises CommitConflict; a crash replay of this commit
    is welcomed (names and snapshot ids are content-addressed). A crash
    before the publish leaves only unreferenced files (orphans)."""
    if remove_paths and planned_snapshot_id is None:
        raise ValueError("remove_paths needs the planned_snapshot_id it was read from")
    meta_dir = _meta_dir(table_dir)
    os.makedirs(meta_dir, exist_ok=True)
    version, base = _resolve_state(table_dir)
    if base is None:
        version = 0
        base = _new_table_metadata(table_dir, spark_schema, partition_by, properties)
    else:
        if spark_schema is not None:
            base = _maybe_evolve_schema(base, spark_schema)
        if partition_by is not None:
            base = _evolve_partition_spec(base, partition_by, allow_spec_evolution)
    seq = base["last-sequence-number"] + 1
    ts = _clock_ms(ts_ms)
    uid = base["table-uuid"]
    delete_files = delete_files or []
    removed = {os.path.abspath(p) for p in remove_paths or ()}
    new_dvs = {_uri_path(f.referenced_data_file) for f in delete_files if f.referenced_data_file}
    # content-addressed names: a crash replay reproduces them, a different
    # concurrent commit at the same sequence never clobbers a winner's, and
    # the snapshot id inherits the digest (replay vs conflict)
    digest = hashlib.md5(
        "\n".join(
            [f"{f.path}:{f.file_size}:{f.record_count}" for f in files]
            + sorted(f"-{p}" for p in remove_paths or ())
            + [
                # the DV reference keeps DVs sharing one Puffin path apart
                f"+d{f.path}:{f.file_size}:{f.record_count}:{f.referenced_data_file or ''}"
                for f in delete_files
            ]
        ).encode()
    ).hexdigest()[:12]
    names = [f"{uid}-seq{seq}-{digest}-m0.avro", f"{uid}-seq{seq}-{digest}-d0.avro"]
    snap_id = _snapshot_id(uid, seq, names if delete_files else names[:1])
    manifest_path = os.path.join(meta_dir, names[0])

    manifests = _current_manifests(base)
    operation = ("overwrite" if files else "delete") if delete_files else "append"
    props = base.get("properties", {})
    if replace_on and summary and replace_on in summary:
        n = len(manifests)
        manifests, props = _replace_logical_partition(
            base, manifests, replace_on, str(summary[replace_on]), manifest_path
        )
        if len(manifests) != n:
            operation = "overwrite"
    if removed or new_dvs or planned_snapshot_id is not None:
        # an expired (or absent) planned snapshot has no sequence number to
        # compare against: every live delete counts as late (fail closed)
        planned_seq = next((s["sequence-number"] for s in base["snapshots"]
                            if s["snapshot-id"] == planned_snapshot_id), -1)
        kept, live, late, gone = _carry_forward(manifests, removed, new_dvs, planned_seq)
        _check_plan(base, planned_snapshot_id, delete_files, live, late, gone)
        if removed:
            # a pure removal (no surviving rows added back) is a DELETE
            operation = "overwrite" if sum(f.record_count for f in files) else "delete"
        manifests = []
        for mf, keep in kept:
            if keep is not None:
                # rewritten under the manifest's OWN spec, keeping its
                # sequence and added snapshot (replace_on matches by it);
                # named by the kept entries' removal keys, so two commits
                # racing at one sequence that keep different DVs of one
                # Puffin never write the same file
                rw = hashlib.md5("\n".join(
                    f"{d['file_path']}:{d['referenced_data_file']}"
                    if d.get("referenced_data_file") else d["file_path"]
                    for d in (e["data_file"] for e in keep)
                ).encode()).hexdigest()[:12]
                mf = _write_manifest(
                    base, os.path.join(meta_dir, f"{uid}-seq{seq}-rw{rw}-m.avro"),
                    _as_existing(keep), mf.get("partition_spec_id", 0),
                    mf.get("content", 0), mf["sequence_number"], mf["added_snapshot_id"],
                )
            manifests.append(mf)
    spec_id = base.get("default-spec-id", 0)
    if files or not (removed or delete_files):
        manifests.append(_write_manifest(
            base, manifest_path, _added_entries(base, files, snap_id, seq),
            spec_id, 0, seq, snap_id,
        ))
    if delete_files:
        manifests.append(_write_manifest(
            base, os.path.join(meta_dir, names[1]),
            _added_entries(base, delete_files, snap_id, seq), spec_id, 1, seq, snap_id,
        ))
    summary = {
        "operation": operation,
        "added-data-files": str(len(files)),
        "added-records": str(sum(f.record_count for f in files)),
        **({"added-delete-files": str(len(delete_files)),
            "added-position-deletes": str(sum(f.record_count for f in delete_files))}
           if delete_files else {}),
        **{k: str(v) for k, v in (summary or {}).items()},
    }
    return _commit_snapshot(
        table_dir, version, dict(base, properties=props), snap_id, seq, ts, manifests, summary
    )


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
    _publish_metadata(
        table_dir, version, meta,
        {"refs": {**meta.get("refs", {}), name: {"snapshot-id": sid, "type": type}}},
    )


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
    _publish_metadata(
        table_dir, version, meta,
        {"refs": {**meta.get("refs", {}), branch: {"snapshot-id": cur, "type": "branch"}},
         "current-snapshot-id": snap.get("parent-snapshot-id", -1)},
    )
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
    _publish_metadata(
        table_dir, version, meta,
        {"refs": {k: v for k, v in meta["refs"].items() if k != branch},
         "current-snapshot-id": sid},
    )
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
    _publish_metadata(table_dir, version, meta, {"current-snapshot-id": sid})
    return sid


def remove_ref(table_dir: str, name: str) -> None:
    """Drop a named ref; its snapshot becomes expirable again."""
    if name == "main":
        raise ValueError("'main' is managed by commits")
    version, meta = _table_state(table_dir)
    if name not in meta.get("refs", {}):
        raise ValueError(f"no ref named {name!r}")
    _publish_metadata(
        table_dir, version, meta, {"refs": {k: v for k, v in meta["refs"].items() if k != name}}
    )


def _clock_ms(ts_ms: int | None = None) -> int:
    """The writer's timestamp: ``ts_ms`` when the caller gives one, else
    the wall clock — the one clock of the metadata writers."""
    return int(ts_ms if ts_ms is not None else time.time() * 1000)


def _publish_metadata(
    table_dir: str,
    version: int,
    base: dict,
    changes: dict,
    ts_ms: int | None = None,
    snap_id: int | None = None,
) -> None:
    """Publish ``base`` with the writer's ``changes`` as
    v{version+1}.metadata.json — the one metadata transition and the one
    publish of every writer. ``base`` is the state the caller's single
    _resolve_state read returned at ``version`` (0 before the first
    commit), so new metadata only ever replaces the state it was built on.

    A writer passes only its own change (new refs, a new current
    snapshot, new snapshots or a filtered snapshot list); the rest of the
    next version follows from ``base`` here, per the spec's table-metadata
    fields: ``last-updated-ms`` is the writer's timestamp (_clock_ms of
    ``ts_ms``); ``metadata-log`` gains v{version}.metadata.json; when
    ``current-snapshot-id`` moves to a snapshot, ``snapshot-log`` gains one
    entry (entries of snapshots no longer in the table are dropped); and
    ``refs.main`` names the current snapshot, absent while there is none.

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
    ts = _clock_ms(ts_ms)
    new_meta = {**base, **changes, "last-updated-ms": ts}
    if version > 0:
        new_meta["metadata-log"] = base["metadata-log"] + [{
            "timestamp-ms": base["last-updated-ms"],
            "metadata-file": os.path.join(_meta_dir(table_dir), f"v{version}.metadata.json"),
        }]
    cur = new_meta["current-snapshot-id"]
    log = base["snapshot-log"]
    if cur != -1 and cur != base["current-snapshot-id"]:
        log = log + [{"timestamp-ms": ts, "snapshot-id": cur}]
    live = {s["snapshot-id"] for s in new_meta["snapshots"]}
    new_meta["snapshot-log"] = [e for e in log if e["snapshot-id"] in live]
    refs = dict(new_meta.get("refs", {}))
    if cur == -1:
        refs.pop("main", None)
    else:
        refs["main"] = {"snapshot-id": cur, "type": "branch"}
    new_meta["refs"] = refs
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
    planned_snapshot_id: int | None = None,
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
        planned_snapshot_id=planned_snapshot_id,
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
    import pyarrow.parquet as pq

    ranges: list[tuple[str, str]] = []
    for f in dels:
        if f.referenced_data_file:
            # a deletion vector names its one target EXACTLY — no footer
            # read, a degenerate [target, target] interval
            t = f.referenced_data_file
            if "%" in t:
                return None
            t = _uri_path(t)
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
            ranges.append((_uri_path(lo), _uri_path(hi)))
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
    identical downstream anti-join.

    The frame is broadcast when its DECODED size is small — one rule for
    both representations and both readers (read_snapshot, read_changelog),
    so the plan does not flip between v2 parquet and DVs for the same
    delete set. On-disk bytes are the wrong scale for DVs: a bitmap
    container packs 65536 rows into 8 KiB, so blob bytes would
    force-broadcast a multi-GB decoded frame. record_count x ~96 bytes
    (pos + repeated path string) estimates the expanded rows; 256 MiB
    decoded (~2.8M delete rows) is the ceiling a 1000-executor fetch
    comfortably absorbs."""
    import pandas as _pd  # noqa: F401  (worker-side import sanity)
    from pyspark.sql import functions as F

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
    ddf = _union(parts)
    return F.broadcast(ddf) if sum(f.record_count for f in pos_dels) * 96 < (256 << 20) else ddf


def _pos_delete_targets(spark, pos_dels: list[DataFile]) -> set[str]:
    """Exact abspaths of the data files the position deletes name. A
    deletion vector names its one target in its manifest entry
    (referenced_data_file), so no DV blob is decoded; a v2 position-delete
    file's targets come from reading its ``file_path`` column alone."""
    targets = {_uri_path(f.referenced_data_file) for f in pos_dels if f.referenced_data_file}
    v2 = [f.path for f in pos_dels if not f.referenced_data_file]
    if v2:
        rows = (
            spark.read.schema(POS_DELETE_DDL).parquet(*v2)
            .select("file_path").distinct().collect()
        )
        targets |= {_uri_path(r["file_path"]) for r in rows}
    return targets


def _read_eq_keys(spark, f: DataFile, schema: dict):
    """The key columns of equality-delete file ``f``, read with their types
    from ``schema``: a schema-less read runs one schema-inference job per
    delete file while the caller only builds its frame."""
    keys = [x for x in schema["fields"] if x["id"] in set(f.equality_ids or [])]
    return spark.read.schema(_spark_ddl({"fields": keys})).parquet(f.path)


def _eq_delete_frames(spark, eq_dels: list[DataFile], schema: dict) -> list[tuple]:
    """[(key column names, frame)] of the equality deletes: one frame per
    distinct key-column set, each delete file's rows stamped with its
    commit sequence (``__dseq``) — application is gated per data file by
    dseq > data seq (rows appended AFTER an equality delete survive it,
    the spec's row-delta ordering)."""
    from pyspark.sql import functions as F

    names_by_id = {f["id"]: f["name"] for f in schema["fields"]}
    groups: dict[tuple, list[DataFile]] = {}
    for f in eq_dels:
        groups.setdefault(tuple(sorted(f.equality_ids or [])), []).append(f)
    out = []
    for ids, fs in sorted(groups.items()):
        names = [names_by_id[i] for i in ids]
        fr = _union([
            _read_eq_keys(spark, f, schema)
            .select(*[F.col(n).alias(f"__eq_{n}") for n in names])
            .withColumn("__dseq", F.lit(f.sequence))
            for f in fs
        ])
        if sum(f.file_size for f in fs) < (64 << 20):
            fr = F.broadcast(fr)
        out.append((names, fr))
    return out


def _residual_partition_filter(meta: dict, out, files: list[DataFile], partition_filter: dict):
    """``out`` with the EXACT partition filter re-applied after partition
    spec evolution: metadata pruning could not apply a filter key to
    manifests whose spec lacks it (kept conservatively), so identity-column
    filters are re-applied on the data — Catalyst pushes them to the scans
    / constant-folds them on literal-attached groups. A DERIVED-transform
    key (doc_id_bucket, ts_day, ... — no table column to re-filter on)
    that is absent from some live file's spec would silently turn exact
    pruning into a superset read: reject loudly instead (filter on the
    source column, or compact_files to migrate the old layout first)."""
    from pyspark.sql import functions as F

    live_sids = {f.spec_id for f in files}
    for k, v in partition_filter.items():
        if k in out.columns:
            out = out.filter(F.col(k).isNull() if v is None else F.col(k) == F.lit(v))
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


def _scan_files(spark, meta: dict, files: list[DataFile], dels=(), with_positions=False):
    """The one scan of data files every reader builds: ``files`` read with
    the CURRENT schema (files written before an additive evolution project
    the new columns as null), with ``dels`` applied. An empty ``files`` is
    an empty TYPED frame, not an error.

    Identity partitions: the hive layout keeps partition columns out of the
    data files, so each (spec, identity values) group of files gets them
    back as typed literals — robust across multi-root wave/batch
    directories where no single basePath exists. Only IDENTITY fields
    re-attach: a bucket/truncate/temporal value is derived, and its source
    column is physically in the files. Each file resolves its layout
    against the spec ITS manifest was written under, so mixed-layout
    snapshots after partition spec evolution read with zero rewrites. The
    literals attach BEFORE the equality-delete anti-join: a delete keyed
    on a partition column would otherwise compare against NULL and
    silently no-op.

    Position deletes (v2 parquet and v3 DVs, _pos_delete_frame) are
    SUBTRACTED by an anti-join on the scanner's native
    (_metadata.file_path, _metadata.row_index) — no window, no shuffle on
    the data side. Data files outside the delete files' file_path ranges
    (_delete_target_ranges) bypass the join entirely; the delete set joins
    broadcast when its decoded size is small. Equality deletes apply as a
    null-safe anti-join on their key columns, gated by commit order (dseq
    > the data file's sequence: later appends with a deleted key survive).

    ``with_positions``: keep the scan-native ``__fp`` (file: URI) and
    ``__pos`` (row index) columns on the result."""
    from pyspark.sql import functions as F

    cur_schema = _current_schema(meta)
    ddl = _spark_ddl(cur_schema)
    if not files:
        from ..session import empty_df

        # no JVM scan node at all: probing an absent partition is a normal query
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

    ddf = _pos_delete_frame(spark, pos_dels) if pos_dels else None
    eqfs = _eq_delete_frames(spark, eq_dels, cur_schema)

    def _scan(dfiles: list[DataFile], part_lits=()):
        """One scan node per (pos-targeted?, sequence) file group:
        sequence grouping exists only when equality deletes need their
        dseq > seq gate."""
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
    return _union(
        [
            _scan(gfiles, part_lits=list(zip(_id_specs(key[0]), key[1:])))
            for key, gfiles in sorted(groups.items())
        ]
    )


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
    snapshot's files with another's deletes. The (partition- and
    range-pruned) data files go through _scan_files with that snapshot's
    deletes applied. Time travel = pass an older snapshot id.

    ``with_positions``: keep the scan-native ``__fp`` (file: URI) and
    ``__pos`` (row index) columns on the result — the write-side input for
    producing NEW position-delete files."""
    _, meta = _table_state(table_dir)
    data, dels = _live_files(meta, _resolve_sid(meta, snapshot_id))
    files = _prune(meta, data, partition_filter, range_filter, table_dir)
    out = _scan_files(spark, meta, files, dels, with_positions)
    if partition_filter and len(meta.get("partition-specs", [])) > 1:
        out = _residual_partition_filter(meta, out, files, partition_filter)
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

    _publish_metadata(table_dir, version, meta, {"snapshots": keep}, ts_ms)

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
    manifests = _current_manifests(meta)
    # fold within (content, spec-id) groups: after partition spec
    # evolution, manifests of different specs carry different partition
    # structs and cannot share one file
    by_key: dict[tuple, list[dict]] = {}
    for mf in manifests:
        key = (mf.get("content", 0), mf.get("partition_spec_id", 0))
        by_key.setdefault(key, []).append(mf)
    if all(len(v) <= 1 for v in by_key.values()):
        return None
    uid = meta["table-uuid"]
    seq = meta["last-sequence-number"] + 1
    folds = []
    for content, spec_id in sorted(by_key):
        entries = _as_existing([
            e
            for mf in by_key[(content, spec_id)]
            for e in _read_avro(mf["manifest_path"])
            if e["status"] != 2
        ])
        digest = hashlib.md5(
            "\n".join(e["data_file"]["file_path"] for e in entries).encode()
        ).hexdigest()[:12]
        folds.append((f"{uid}-seq{seq}-rwm{digest}-c{content}s{spec_id}.avro",
                      entries, spec_id, content))
    snap_id = _snapshot_id(uid, seq, [name for name, *_ in folds])
    new_manifests = [
        _write_manifest(meta, os.path.join(_meta_dir(table_dir), name), entries,
                        spec_id, content, seq, snap_id)
        for name, entries, spec_id, content in folds
    ]
    summary = {
        "operation": "replace",
        "operation-detail": f"rewrite-manifests:{len(manifests)}->{len(new_manifests)}",
        "added-data-files": "0",
        "added-records": "0",
    }
    return _commit_snapshot(
        table_dir, version, meta, snap_id, seq, _clock_ms(ts_ms), new_manifests, summary
    )


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
    - ``delete`` rows — full pre-image rows of the POSITION deletes
      (v2 files and DVs) added by the snapshot: the targeted data files
      as the PREVIOUS snapshot reads them (its deletes applied, so a row
      deleted earlier — e.g. carried into a merged DV — is not emitted
      again), semi-joined with the added deletes on the scanner's native
      (file_path, pos);
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
    lists, and building the frame runs no Spark job for DV deletes (their
    targets come from the manifests, _pos_delete_targets); each emission
    is a _scan_files scan (no shuffle except the position-delete
    semi-join, which is bounded to targeted files and broadcast-sized
    delete sets); the union is one plan over at most |range| scan nodes,
    bounded by snapshot retention."""
    from pyspark.sql import functions as F

    _, meta = _table_state(table_dir)
    snaps = meta["snapshots"]
    lo, hi = _snapshot_range(snaps, since_snapshot_id, to_snapshot_id)
    cur_schema = _current_schema(meta)
    ddl = _spark_ddl(cur_schema)
    names = [f["name"] for f in cur_schema["fields"]]
    types = {f["name"]: _spark_type(f["type"]) for f in cur_schema["fields"]}

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
    prev_data_files: list[DataFile] = []
    prev_del_files: list[DataFile] = []
    if lo:
        prev_data_files, prev_del_files = _live_files(meta, snaps[lo - 1]["snapshot-id"])
    for ordinal, s in enumerate(snaps[lo:hi]):
        sid = s["snapshot-id"]
        op = s.get("summary", {}).get("operation", "append")
        cur_data_files, cur_del_files = _live_files(meta, sid)
        prev_data = {f.path for f in prev_data_files}
        prev_dels = {f.path for f in prev_del_files}
        cur_data = {f.path for f in cur_data_files}
        if op == "replace":
            prev_data_files, prev_del_files = cur_data_files, cur_del_files
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
            _emit(_scan_files(spark, meta, added_data), "insert", sid, ordinal)
        pos = [f for f in added_dels if f.content == 1]
        eqs = [f for f in added_dels if f.content == 2]
        if pos:
            targets = _pos_delete_targets(spark, pos)
            before = _scan_files(
                spark,
                meta,
                [f for f in prev_data_files if f.path in targets],
                prev_del_files,
                with_positions=True,
            )
            hit = before.join(
                _pos_delete_frame(spark, pos),
                (F.col("__fp") == F.col("file_path"))
                & (F.col("__pos") == F.col("pos")),
                "semi",
            )
            _emit(hit, "delete", sid, ordinal)
        for f in eqs:
            kdf = _read_eq_keys(spark, f, cur_schema)
            _emit(
                kdf.select(
                    *[
                        n if n in kdf.columns else F.lit(None).cast(types[n]).alias(n)
                        for n in names
                    ]
                ),
                "delete_key",
                sid,
                ordinal,
            )
        prev_data_files, prev_del_files = cur_data_files, cur_del_files
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
    return _scan_files(spark, meta, _added_files(meta, since_snapshot_id, to_snapshot_id))
