"""Iceberg table inspection/maintenance CLI (engine-native metadata).

Usage:
    python tools/iceberg_cli.py snapshots <table_dir>
    python tools/iceberg_cli.py files <table_dir> [--snapshot ID] [--partition k=v ...]
    python tools/iceberg_cli.py history <table_dir>
    python tools/iceberg_cli.py expire <table_dir> --keep N [--remove]
    python tools/iceberg_cli.py orphans <table_dir> [--data-dir DIR]
    python tools/iceberg_cli.py deletes <table_dir> [--snapshot ID]
    python tools/iceberg_cli.py tag <table_dir> <name> [--snapshot ID] [--type tag|branch]
    python tools/iceberg_cli.py untag <table_dir> <name>
    python tools/iceberg_cli.py rewrite-manifests <table_dir>
    python tools/iceberg_cli.py lookup <table_dir> --column c --value v
    python tools/iceberg_cli.py stage <table_dir> <branch> [--expect SID]
    python tools/iceberg_cli.py publish <table_dir> <branch>
    python tools/iceberg_cli.py rollback <table_dir> --snapshot SID|ref
    python tools/iceberg_cli.py specs <table_dir>

Every command prints one JSON document to stdout — pipe into jq or a
monitoring job. Pure metadata: no Spark session is started (lookup reads
the Bloom sidecar and prints candidate files; the scan itself is the
caller's job).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_to_arrow_spark.sources import iceberg_meta as ice  # noqa: E402


def _parse_partition(pairs: list[str]) -> dict:
    out: dict = {}
    for p in pairs:
        k, v = p.split("=", 1)
        out[k] = int(v) if v.lstrip("-").isdigit() else v
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in ("snapshots", "files", "history", "expire", "orphans",
                 "incremental", "deletes", "tag", "untag",
                 "rewrite-manifests", "lookup", "stage", "publish",
                 "rollback", "refs", "partitions", "manifests", "specs"):
        s = sub.add_parser(name)
        s.add_argument("table")
        if name == "lookup":
            s.add_argument("--column", required=True)
            s.add_argument("--value", required=True)
        if name in ("stage", "publish"):
            s.add_argument("branch")
        if name == "stage":
            s.add_argument("--expect", type=int, default=None)
        if name == "rollback":
            s.add_argument("--snapshot", required=True)
        if name == "files":
            s.add_argument("--snapshot", type=int, default=None)
            s.add_argument("--partition", action="append", default=[])
        if name == "deletes":
            s.add_argument("--snapshot", type=int, default=None)
        if name == "tag":
            s.add_argument("name")
            s.add_argument("--snapshot", type=int, default=None)
            s.add_argument("--type", default="tag", choices=["tag", "branch"])
        if name == "untag":
            s.add_argument("name")
        if name == "incremental":
            s.add_argument("--since", type=int, required=True)
            s.add_argument("--to", type=int, default=None)
        if name == "expire":
            s.add_argument("--keep", type=int, required=True)
            s.add_argument("--remove", action="store_true")
        if name == "orphans":
            s.add_argument("--data-dir", default=None)
            s.add_argument(
                "--remove-older-than-min",
                type=float,
                default=None,
                help="delete orphans whose mtime is older than this many "
                "minutes (the grace period protects in-flight writes whose "
                "commit has not landed yet)",
            )
    args = p.parse_args(argv)

    if args.cmd == "snapshots":
        out = [
            {
                "snapshot_id": s["snapshot-id"],
                "sequence_number": s["sequence-number"],
                "timestamp_ms": s["timestamp-ms"],
                "operation": s["summary"].get("operation"),
                "summary": s["summary"],
            }
            for s in ice.snapshots(args.table)
        ]
    elif args.cmd == "files":
        files = ice.snapshot_files(
            args.table, args.snapshot, _parse_partition(args.partition) or None
        )
        out = {
            "n_files": len(files),
            "total_records": sum(f.record_count for f in files),
            "total_bytes": sum(f.file_size for f in files),
            "files": [
                {
                    "path": f.path,
                    "records": f.record_count,
                    "bytes": f.file_size,
                    "partition": f.partition,
                }
                for f in files
            ],
        }
    elif args.cmd == "history":
        version, meta = ice._table_state(args.table)
        out = {
            "table_uuid": meta["table-uuid"],
            "current_snapshot_id": meta["current-snapshot-id"],
            "last_sequence_number": meta["last-sequence-number"],
            "current_version": version,
            "snapshot_log": meta["snapshot-log"],
            "partition_spec": meta["partition-specs"][meta["default-spec-id"]],
        }
    elif args.cmd == "incremental":
        files = ice.added_files(args.table, args.since, args.to)
        out = {
            "n_files": len(files),
            "total_records": sum(f.record_count for f in files),
            "files": [f.path for f in files],
        }
    elif args.cmd == "deletes":
        # pending merge-on-read position deletes: nonzero output means
        # readers pay an anti-join — schedule iceberg.materialize_deletes
        dels = ice.snapshot_delete_files(args.table, args.snapshot)
        out = {
            "n_delete_files": len(dels),
            "total_position_deletes": sum(f.record_count for f in dels),
            "files": [
                {"path": f.path, "rows": f.record_count, "bytes": f.file_size}
                for f in dels
            ],
        }
    elif args.cmd == "lookup":
        from parquet_to_arrow_spark.sources import bloom_index as bi

        # coerce by the COLUMN's declared type, never by what the value
        # looks like: '0042' against a string column must stay '0042'
        # one snapshot: the column type, the file count and the candidates
        _, meta = ice._table_state(args.table)
        schema = ice._current_schema(meta)
        ctype = next(
            (f["type"] for f in schema["fields"] if f["name"] == args.column),
            "string",
        )
        v = int(args.value) if ctype in ("int", "long") else args.value
        files = ice._live_files(meta, meta["current-snapshot-id"])[0]
        idx = bi._load_index(args.table, args.column)
        cands = None if idx is None else bi._might_hold(idx, files, v)
        total = len(files)
        out = {
            "indexed": cands is not None,
            "n_files": total,
            "n_candidates": total if cands is None else len(cands),
            "candidates": cands,
        }
    elif args.cmd == "refs":
        out = {
            name: {"type": r.get("type", "branch"),
                   "snapshot_id": r["snapshot-id"]}
            for name, r in sorted(
                ice.current_metadata(args.table).get("refs", {}).items())
        }
    elif args.cmd == "partitions":
        groups: dict = {}
        for f in ice.snapshot_files(args.table):
            key = json.dumps(f.partition or {}, sort_keys=True)
            g = groups.setdefault(
                key, {"file_count": 0, "record_count": 0, "total_bytes": 0})
            g["file_count"] += 1
            g["record_count"] += f.record_count
            g["total_bytes"] += f.file_size
        out = groups
    elif args.cmd == "specs":
        meta = ice.current_metadata(args.table)
        out = [
            {
                "spec_id": sp["spec-id"],
                "is_default": sp["spec-id"] == meta.get("default-spec-id", 0),
                "fields": sp["fields"],
            }
            for sp in meta.get("partition-specs", [])
        ]
    elif args.cmd == "manifests":
        meta = ice.current_metadata(args.table)
        cur = meta.get("current-snapshot-id")
        if cur in (None, -1):
            out = []
        else:
            snap = next(
                s for s in meta["snapshots"] if s["snapshot-id"] == cur)
            out = [
                {"path": m["manifest_path"],
                 "content": m.get("content", 0),
                 "added_snapshot_id": m["added_snapshot_id"]}
                for m in ice._read_avro(snap["manifest-list"])
            ]
    elif args.cmd == "rollback":
        target = (
            int(args.snapshot)
            if args.snapshot.lstrip("-").isdigit()
            else args.snapshot  # a ref name
        )
        out = {"current_snapshot_id": ice.rollback(args.table, target)}
    elif args.cmd == "stage":
        sid = ice.stage_snapshot(args.table, args.branch, expect_sid=args.expect)
        out = {"staged_snapshot_id": sid, "branch": args.branch}
    elif args.cmd == "publish":
        sid = ice.publish_branch(args.table, args.branch)
        out = {"published_snapshot_id": sid}
    elif args.cmd == "rewrite-manifests":
        sid = ice.rewrite_manifests(args.table)
        out = {"snapshot_id": sid, "noop": sid is None}
    elif args.cmd == "tag":
        ice.set_ref(args.table, args.name, args.snapshot, type=args.type)
        out = {"refs": ice.current_metadata(args.table)["refs"]}
    elif args.cmd == "untag":
        ice.remove_ref(args.table, args.name)
        out = {"refs": ice.current_metadata(args.table)["refs"]}
    elif args.cmd == "expire":
        out = ice.expire_snapshots(args.table, keep_last=args.keep, remove=args.remove)
    else:  # orphans
        import time

        orphans = ice.orphan_files(args.table, data_dir=args.data_dir)
        removed = []
        if args.remove_older_than_min is not None:
            cutoff = time.time() - args.remove_older_than_min * 60
            for p in orphans:
                try:
                    if os.path.getmtime(p) < cutoff:
                        os.remove(p)
                        removed.append(p)
                except FileNotFoundError:
                    pass
        out = {"orphans": orphans, "removed": removed}
    print(json.dumps(out, indent=2))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
