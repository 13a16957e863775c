"""Iceberg metadata layer: Avro binary goldens, snapshot commits, time
travel, crash-retry idempotence. No Iceberg jar / avro lib exists in this
image, so the Avro layer is pinned against hand-computed spec bytes (the
strongest independent check available) and the table layer against its own
spec-shaped walk (version-hint -> metadata -> manifest list -> manifests)."""

from __future__ import annotations

import io
import json
import os

import pytest

from parquet_to_arrow_spark.sources import avro_io, iceberg_meta as ice


class TestAvroBinary:
    def test_zigzag_varint_spec_bytes(self):
        """Avro spec 'Binary Encoding': long is zigzag + base-128 varint.
        The spec's own examples: 0->00, -1->01, 1->02, -2->03, 2->04,
        -64->7f, 64->80 01."""
        cases = {0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03", 2: b"\x04",
                 -64: b"\x7f", 64: b"\x80\x01", 8192: b"\x80\x80\x01"}
        for n, want in cases.items():
            out = io.BytesIO()
            avro_io.write_long(out, n)
            assert out.getvalue() == want, n
            assert avro_io.read_long(io.BytesIO(want)) == n

    def test_record_encoding_spec_bytes(self):
        """The spec's worked example: record {a: long, b: string} with
        a=27, b='foo' encodes to 36 06 66 6f 6f."""
        schema = json.dumps({
            "type": "record", "name": "test",
            "fields": [{"name": "a", "type": "long"},
                       {"name": "b", "type": "string"}],
        })
        out = io.BytesIO()
        avro_io.write_datum(out, avro_io.parse_schema(schema), {"a": 27, "b": "foo"})
        assert out.getvalue() == b"\x36\x06\x66\x6f\x6f"

    def test_container_roundtrip_all_types(self):
        schema = json.dumps({
            "type": "record", "name": "t", "fields": [
                {"name": "l", "type": "long"},
                {"name": "i", "type": "int"},
                {"name": "s", "type": "string"},
                {"name": "b", "type": "boolean"},
                {"name": "d", "type": "double"},
                {"name": "by", "type": "bytes"},
                {"name": "u", "type": ["null", "long"]},
                {"name": "arr", "type": {"type": "array", "items": "long"}},
                {"name": "m", "type": {"type": "map", "values": "string"}},
                {"name": "nested", "type": {
                    "type": "record", "name": "n",
                    "fields": [{"name": "x", "type": "int"}]}},
            ],
        })
        rows = [
            {"l": -(1 << 62), "i": 42, "s": "héllo", "b": True, "d": 2.5,
             "by": b"\x00\xff", "u": None, "arr": [1, -2, 3],
             "m": {"k1": "v1", "k2": "v2"}, "nested": {"x": 7}},
            {"l": 0, "i": -1, "s": "", "b": False, "d": -0.0,
             "by": b"", "u": 99, "arr": [], "m": {}, "nested": {"x": 0}},
        ]
        data = avro_io.write_container(schema, rows)
        assert data[:4] == b"Obj\x01"
        meta, back = avro_io.read_container(data)
        assert json.loads(meta["avro.schema"]) == json.loads(schema)
        assert back == rows

    def test_write_is_deterministic(self):
        schema = json.dumps({"type": "record", "name": "t",
                             "fields": [{"name": "a", "type": "long"}]})
        rows = [{"a": i} for i in range(100)]
        assert avro_io.write_container(schema, rows) == avro_io.write_container(schema, rows)

    def test_deflate_codec_read(self):
        """Externally-written Avro files commonly use the deflate codec;
        the reader must inflate blocks (raw zlib, spec 'Required Codecs')."""
        import hashlib
        import zlib

        schema = json.dumps({"type": "record", "name": "t",
                             "fields": [{"name": "a", "type": "long"}]})
        rows = [{"a": i} for i in range(50)]
        plain = avro_io.write_container(schema, rows)
        # rebuild the container with the one block deflated
        buf = io.BytesIO(plain)
        assert buf.read(4) == b"Obj\x01"
        meta, _ = avro_io.read_container(plain)
        sync = hashlib.md5(schema.encode()).digest()
        body = io.BytesIO()
        for r in rows:
            avro_io.write_datum(body, avro_io.parse_schema(schema), r)
        deflated = zlib.compress(body.getvalue())[2:-4]  # raw: strip zlib wrapper
        out = io.BytesIO()
        out.write(b"Obj\x01")
        hdr = {"avro.schema": schema, "avro.codec": "deflate"}
        avro_io.write_long(out, len(hdr))
        for k, v in hdr.items():
            avro_io._write_bytes(out, k.encode())
            avro_io._write_bytes(out, v.encode())
        avro_io.write_long(out, 0)
        out.write(sync)
        avro_io.write_long(out, len(rows))
        avro_io.write_long(out, len(deflated))
        out.write(deflated)
        out.write(sync)
        _, back = avro_io.read_container(out.getvalue())
        assert back == rows

    def test_manifest_schemas_roundtrip(self):
        entry = {
            "status": 1, "snapshot_id": 123, "sequence_number": 1,
            "file_sequence_number": 1,
            "data_file": {
                "content": 0, "file_path": "/tmp/x.parquet",
                "file_format": "PARQUET", "partition": {},
                "record_count": 10, "file_size_in_bytes": 999,
                "lower_bounds": [{"key": 1, "value": b"\x01" * 8}],
                "upper_bounds": None,
                "split_offsets": None, "equality_ids": None,
                "sort_order_id": None,
                # Iceberg v3 deletion-vector reference fields (143/144/145)
                "referenced_data_file": None,
                "content_offset": None,
                "content_size_in_bytes": None,
            },
        }
        _, back = avro_io.read_container(
            avro_io.write_container(ice.MANIFEST_ENTRY_SCHEMA, [entry]))
        assert back == [entry]


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(
        [(i, f"text-{i}", [1, 2, i]) for i in range(20)],
        "doc_id long, text string, tokens array<int>",
    )


class TestIcebergTable:
    def test_commit_read_and_time_travel(self, spark, docs_df, tmp_path):
        table = str(tmp_path / "table")
        d1 = str(tmp_path / "wave1")
        d2 = str(tmp_path / "wave2")
        docs_df.filter("doc_id < 12").coalesce(2).write.parquet(d1)
        docs_df.filter("doc_id >= 12").coalesce(1).write.parquet(d2)

        s1 = ice.commit_parquet_dir(table, d1, spark_schema=docs_df.schema, ts_ms=1000)
        assert ice.read_snapshot(spark, table).count() == 12

        s2 = ice.commit_parquet_dir(table, d2, ts_ms=2000)
        assert s1 != s2
        # current snapshot sees both waves; time travel sees only wave 1
        assert ice.read_snapshot(spark, table).count() == 20
        assert ice.read_snapshot(spark, table, snapshot_id=s1).count() == 12
        ids = {r["doc_id"] for r in ice.read_snapshot(spark, table, s1).collect()}
        assert ids == set(range(12))

        snaps = ice.snapshots(table)
        assert [s["sequence-number"] for s in snaps] == [1, 2]
        assert snaps[1]["parent-snapshot-id"] == s1
        # manifest-list walk agrees with the footers
        files = ice.snapshot_files(table)
        assert sum(f.record_count for f in files) == 20
        assert all(os.path.getsize(f.path) == f.file_size for f in files)

    def test_metadata_spec_shape(self, spark, docs_df, tmp_path):
        """v2 required fields present; schema carries field-ids; array
        element id continues the column counter."""
        table = str(tmp_path / "table")
        d1 = str(tmp_path / "w")
        docs_df.write.parquet(d1)
        ice.commit_parquet_dir(table, d1, spark_schema=docs_df.schema, ts_ms=1)
        meta = ice.current_metadata(table)
        for key in ("format-version", "table-uuid", "last-sequence-number",
                    "schemas", "partition-specs", "sort-orders",
                    "current-snapshot-id", "snapshots", "snapshot-log"):
            assert key in meta, key
        assert meta["format-version"] == 2
        fields = meta["schemas"][0]["fields"]
        assert [f["id"] for f in fields] == [1, 2, 3]
        assert fields[2]["type"]["element-id"] == 4
        assert meta["last-column-id"] == 4
        # every manifest_file / manifest_entry avro field carries a field-id
        for schema_json in (ice.MANIFEST_FILE_SCHEMA, ice.MANIFEST_ENTRY_SCHEMA):
            for f in json.loads(schema_json)["fields"]:
                assert "field-id" in f

    def test_crash_before_hint_swap_is_already_committed(self, spark, docs_df, tmp_path):
        """Hadoop-catalog semantics: creating vN.metadata.json IS the
        commit. A crash before the version-hint swap (stale/mangled hint)
        changes nothing — resolution lists the metadata files — and a torn
        metadata file from a mid-write crash is skipped on read and
        recovered by the next commit."""
        table = str(tmp_path / "table")
        d1 = str(tmp_path / "w1")
        docs_df.write.parquet(d1)
        ice.commit_parquet_dir(table, d1, spark_schema=docs_df.schema, ts_ms=1)
        s2 = ice.commit_parquet_dir(table, d1, ts_ms=2)

        hint = ice._hint_path(table)
        with open(hint, "w") as f:
            f.write("1")  # crashed-before-swap / stale hint
        assert ice.current_version(table) == 2  # listing wins
        assert ice.snapshots(table)[-1]["snapshot-id"] == s2
        assert ice.read_snapshot(spark, table).count() == 40

        # torn v3 from a crashed committer: skipped by readers...
        torn = os.path.join(ice._meta_dir(table), "v3.metadata.json")
        with open(torn, "w") as f:
            f.write('{"half written')
        assert ice.current_version(table) == 2
        # ...and the next commit recovers the slot
        ice.commit_parquet_dir(table, d1, ts_ms=3)
        assert ice.current_version(table) == 3
        assert ice.read_snapshot(spark, table).count() == 60

    def test_empty_snapshot_read_raises(self, spark, tmp_path):
        with pytest.raises(FileNotFoundError):
            ice.snapshot_files(str(tmp_path / "nope"))


class TestMaintenance:
    def _three_commits(self, spark, docs_df, tmp_path):
        from parquet_to_arrow_spark.sources import iceberg_meta as ice

        table = str(tmp_path / "table")
        sids = []
        for i, (lo, hi) in enumerate([(0, 7), (7, 14), (14, 20)]):
            d = str(tmp_path / f"w{i}")
            docs_df.filter(f"doc_id >= {lo} AND doc_id < {hi}").coalesce(1).write.parquet(d)
            sids.append(ice.commit_parquet_dir(
                table, d, spark_schema=docs_df.schema, ts_ms=1000 + i))
        return table, sids

    def test_expire_keeps_current_and_bounds_metadata(self, spark, docs_df, tmp_path):
        from parquet_to_arrow_spark.sources import iceberg_meta as ice

        table, sids = self._three_commits(spark, docs_df, tmp_path)
        rep = ice.expire_snapshots(table, keep_last=1, remove=True, ts_ms=9000)
        assert rep["expired_snapshot_ids"] == sids[:2]
        assert ice.snapshots(table)[0]["snapshot-id"] == sids[2]
        # current snapshot still reads everything (data files shared forward)
        assert ice.read_snapshot(spark, table).count() == 20
        # expired manifest lists are gone; live manifests survive
        for p in rep["removable_files"]:
            assert not __import__("os").path.exists(p)
        with pytest.raises(ValueError, match="rebase the consumer"):
            ice.snapshot_files(table, snapshot_id=sids[0])

    def test_orphan_files_lists_uncommitted_leftovers(self, spark, docs_df, tmp_path):
        import os

        from parquet_to_arrow_spark.sources import iceberg_meta as ice

        table, _ = self._three_commits(spark, docs_df, tmp_path)
        data_root = str(tmp_path)
        assert ice.orphan_files(table, data_dir=data_root) == []
        stray = os.path.join(data_root, "w0", "part-crashed-leftover.parquet")
        with open(stray, "wb") as f:
            f.write(b"PAR1junkPAR1")
        assert ice.orphan_files(table, data_dir=data_root) == [os.path.abspath(stray)]


class TestAvroProperty:
    def test_roundtrip_random_records(self):
        """Hypothesis: any record of the supported types round-trips through
        the container format byte-exactly."""
        from hypothesis import given, settings, strategies as st

        schema = json.dumps({
            "type": "record", "name": "t", "fields": [
                {"name": "l", "type": "long"},
                {"name": "s", "type": "string"},
                {"name": "u", "type": ["null", "long"]},
                {"name": "arr", "type": {"type": "array", "items": "long"}},
                {"name": "by", "type": "bytes"},
            ],
        })
        longs = st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1)
        rec = st.fixed_dictionaries({
            "l": longs,
            "s": st.text(max_size=40),
            "u": st.one_of(st.none(), longs),
            "arr": st.lists(longs, max_size=8),
            "by": st.binary(max_size=20),
        })

        @settings(max_examples=200, deadline=None)
        @given(st.lists(rec, max_size=10))
        def check(rows):
            _, back = avro_io.read_container(avro_io.write_container(schema, rows))
            assert back == rows

        check()


class TestConcurrentCommit:
    def test_conflicting_writer_is_rejected(self, spark, docs_df, tmp_path, monkeypatch):
        """Two uncoordinated writers racing the same metadata version (both
        resolved state BEFORE the other's commit landed): the loser's
        exclusive metadata create fails with a different snapshot id and
        raises CommitConflict; its content-addressed manifests never
        clobber the winner's. The observed trigger is a kill-9 zombie job
        racing its own resume."""
        from parquet_to_arrow_spark.sources.iceberg_meta import CommitConflict

        table = str(tmp_path / "table")
        da, db = str(tmp_path / "a"), str(tmp_path / "b")
        docs_df.filter("doc_id < 10").write.parquet(da)
        docs_df.filter("doc_id >= 10").write.parquet(db)
        s1 = ice.commit_parquet_dir(table, da, spark_schema=docs_df.schema, ts_ms=1)
        stale = ice._resolve_state(table)  # writer B reads state here...
        s2 = ice.commit_parquet_dir(table, db, ts_ms=2)  # ...writer A wins v2

        monkeypatch.setattr(ice, "_resolve_state", lambda _t: stale)
        with pytest.raises(CommitConflict):
            ice.commit_parquet_dir(table, da, ts_ms=3)  # B commits off stale state
        monkeypatch.undo()

        assert [s["snapshot-id"] for s in ice.snapshots(table)] == [s1, s2]
        assert ice.read_snapshot(spark, table).count() == 20


    def test_replace_on_makes_wave_recommit_an_overwrite(self, spark, docs_df, tmp_path):
        """Committing the same logical wave twice (duplicate job / replay
        with fresh file names) must REPLACE the prior wave manifest: the
        current snapshot sees each wave exactly once, no stale paths, and
        the recommit's operation reads 'overwrite'."""
        table = str(tmp_path / "table")
        w0a, w0b, w1 = (str(tmp_path / n) for n in ("w0a", "w0b", "w1"))
        docs_df.filter("doc_id < 10").write.parquet(w0a)
        docs_df.filter("doc_id < 10").write.parquet(w0b)  # same rows, new files
        docs_df.filter("doc_id >= 10").write.parquet(w1)

        ice.commit_parquet_dir(table, w0a, spark_schema=docs_df.schema,
                               ts_ms=1, summary={"wave": 0}, replace_on="wave")
        ice.commit_parquet_dir(table, w1, ts_ms=2,
                               summary={"wave": 1}, replace_on="wave")
        ice.commit_parquet_dir(table, w0b, ts_ms=3,
                               summary={"wave": 0}, replace_on="wave")

        snaps = ice.snapshots(table)
        assert [s["summary"]["operation"] for s in snaps] == [
            "append", "append", "overwrite"]
        files = ice.snapshot_files(table)
        assert sum(f.record_count for f in files) == 20  # not 30
        for f in files:
            assert os.path.exists(f.path)  # no stale paths from wave 0a
        assert not any(f.path.startswith(w0a) for f in files)
        assert ice.read_snapshot(spark, table).count() == 20

    def test_stale_copy_on_write_removal_fails_closed(self, tmp_path):
        """A copy-on-write rewrite planned before a concurrent rewrite
        removed its file ("remove f1, add f3" after "remove f1, add f2")
        reads a state where f1 is no longer live. Publishing it would bring
        f1's deleted rows back as f3; it must raise CommitConflict and
        leave the table at [f2]."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.types import LongType, StructField, StructType

        from parquet_to_arrow_spark.sources.iceberg_meta import CommitConflict

        table = str(tmp_path / "table")
        paths = {}
        for name, ids in (("f1", range(10)), ("f2", range(5)), ("f3", range(5, 10))):
            paths[name] = str(tmp_path / f"{name}.parquet")
            pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), paths[name])

        def data_file(name):
            p = paths[name]
            return ice.DataFile(p, pq.ParquetFile(p).metadata.num_rows, os.path.getsize(p))

        schema = StructType([StructField("id", LongType())])
        ice.commit_append(table, [data_file("f1")], spark_schema=schema, ts_ms=1)
        ice.commit_append(table, [data_file("f2")], ts_ms=2, remove_paths={paths["f1"]})
        with pytest.raises(CommitConflict):
            ice.commit_append(table, [data_file("f3")], ts_ms=3, remove_paths={paths["f1"]})
        assert [f.path for f in ice.snapshot_files(table)] == [paths["f2"]]

    @pytest.mark.parametrize(
        "writer",
        ["commit_append", "set_ref", "remove_ref", "stage_snapshot",
         "publish_branch", "rollback", "expire_snapshots", "rewrite_manifests"],
    )
    def test_stale_read_never_loses_a_concurrent_commit(
        self, spark, docs_df, tmp_path, monkeypatch, writer
    ):
        """A writer builds its new metadata from ONE state read and
        publishes against the version of that read. Here only the writer's
        first read is stale (every later read is live) while a concurrent
        commit s3 has landed: the writer must raise CommitConflict, and s3
        must stay in the history and current — not be dropped by a publish
        of stale content at the next free version."""
        from parquet_to_arrow_spark.sources.iceberg_meta import CommitConflict

        table = str(tmp_path / "table")
        dirs = [str(tmp_path / n) for n in ("a", "b", "c")]
        for i, d in enumerate(dirs):
            docs_df.filter(f"doc_id % 3 = {i}").coalesce(1).write.parquet(d)
        s1 = ice.commit_parquet_dir(table, dirs[0], spark_schema=docs_df.schema, ts_ms=1)
        ice.commit_parquet_dir(table, dirs[1], ts_ms=2)
        if writer == "publish_branch":
            ice.stage_snapshot(table, "audit")  # main steps back to s1
        if writer == "remove_ref":
            ice.set_ref(table, "pin", s1)
        stale = ice._resolve_state(table)
        s3 = ice.commit_parquet_dir(table, dirs[2], ts_ms=3)  # lands concurrently

        live = ice._resolve_state
        calls = []

        def first_read_stale(table_dir):
            calls.append(table_dir)
            return stale if len(calls) == 1 else live(table_dir)

        monkeypatch.setattr(ice, "_resolve_state", first_read_stale)
        run = {
            "commit_append": lambda: ice.commit_append(
                table, [ice.DataFile(os.path.join(dirs[0], "x.parquet"), 1, 1)],
                ts_ms=4),
            "set_ref": lambda: ice.set_ref(table, "tag1", s1),
            "remove_ref": lambda: ice.remove_ref(table, "pin"),
            "stage_snapshot": lambda: ice.stage_snapshot(table, "audit"),
            "publish_branch": lambda: ice.publish_branch(table, "audit"),
            "rollback": lambda: ice.rollback(table, s1),
            "expire_snapshots": lambda: ice.expire_snapshots(table, ts_ms=4),
            "rewrite_manifests": lambda: ice.rewrite_manifests(table, ts_ms=4),
        }[writer]
        with pytest.raises(CommitConflict):
            run()
        monkeypatch.undo()

        assert s3 in [s["snapshot-id"] for s in ice.snapshots(table)]
        assert ice.current_metadata(table)["current-snapshot-id"] == s3


class TestScratchTables:
    def test_scratch_path_tracks_the_writer_source(self, tmp_path, monkeypatch):
        """Query scratch tables are keyed by the writer's source digest: a
        changed writer gets a fresh path (and so a rebuild), not the table
        an older writer left behind."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from parquet_to_arrow_spark.sources import iceberg

        pq.write_table(pa.table({"doc_id": [1]}), str(tmp_path / "documents.parquet"))
        before = iceberg._scratch_table(str(tmp_path), "docs")
        assert iceberg._scratch_table(str(tmp_path), "docs") == before
        monkeypatch.setattr(iceberg, "_writer_digest", lambda: "0" * 32)
        assert iceberg._scratch_table(str(tmp_path), "docs") != before


class TestPartitionedTable:
    def test_identity_partition_commit_prune_and_read(self, spark, tmp_path):
        """Identity-partitioned commits: spec/field-ids in metadata,
        partition values in manifests, file-level pruning by filter, and a
        snapshot read that re-attaches the partition column — counts equal
        a direct groupBy of the source data."""
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(i, f"t{i}", ["web", "books", "code"][i % 3]) for i in range(30)],
            "doc_id long, text string, source string",
        )
        d = str(tmp_path / "w")
        df.write.partitionBy("source").parquet(d)
        table = str(tmp_path / "table")
        ice.commit_parquet_dir(
            table, d, spark_schema=df.schema, ts_ms=1, partition_by=["source"]
        )

        meta = ice.current_metadata(table)
        spec = meta["partition-specs"][0]["fields"]
        assert spec == [{"name": "source", "transform": "identity",
                         "source-id": 3, "field-id": 1000}]

        # pruning: the filtered walk returns ONLY that partition's files
        all_files = ice.snapshot_files(table)
        web_files = ice.snapshot_files(table, partition_filter={"source": "web"})
        assert 0 < len(web_files) < len(all_files)
        assert all(f.partition == {"source": "web"} for f in web_files)
        assert sum(f.record_count for f in web_files) == 10

        # read: partition column restored, full and pruned
        full = ice.read_snapshot(spark, table)
        assert full.count() == 30
        got = {r["source"]: r["n"] for r in
               full.groupBy("source").agg(F.count("*").alias("n")).collect()}
        assert got == {"web": 10, "books": 10, "code": 10}
        web = ice.read_snapshot(spark, table, partition_filter={"source": "web"})
        assert {r["doc_id"] % 3 for r in web.collect()} == {0}

    def test_partitioned_appends_accumulate(self, spark, tmp_path):
        df1 = spark.createDataFrame(
            [(1, "a", 7), (2, "b", 8)], "doc_id long, text string, bucket int")
        df2 = spark.createDataFrame(
            [(3, "c", 7)], "doc_id long, text string, bucket int")
        d1, d2 = str(tmp_path / "w1"), str(tmp_path / "w2")
        df1.write.partitionBy("bucket").parquet(d1)
        df2.write.partitionBy("bucket").parquet(d2)
        table = str(tmp_path / "table")
        ice.commit_parquet_dir(table, d1, spark_schema=df1.schema, ts_ms=1,
                               partition_by=["bucket"])
        ice.commit_parquet_dir(table, d2, ts_ms=2)
        # int-typed partition values survive the path round trip
        seven = ice.snapshot_files(table, partition_filter={"bucket": 7})
        assert sum(f.record_count for f in seven) == 2
        got = ice.read_snapshot(spark, table, partition_filter={"bucket": 7})
        assert {r["doc_id"] for r in got.collect()} == {1, 3}
        assert dict(got.dtypes)["bucket"] == "int"


class TestCli:
    def test_cli_commands_roundtrip(self, spark, docs_df, tmp_path, capsys):
        import sys

        sys.path.insert(0, "tools")
        import iceberg_cli

        table = str(tmp_path / "table")
        d = str(tmp_path / "w")
        docs_df.write.parquet(d)
        ice.commit_parquet_dir(table, d, spark_schema=docs_df.schema, ts_ms=1)

        assert iceberg_cli.main(["snapshots", table]) == 0
        snaps = json.loads(capsys.readouterr().out)
        assert len(snaps) == 1 and snaps[0]["operation"] == "append"

        assert iceberg_cli.main(["files", table]) == 0
        files = json.loads(capsys.readouterr().out)
        assert files["total_records"] == 20

        assert iceberg_cli.main(["history", table]) == 0
        hist = json.loads(capsys.readouterr().out)
        assert hist["current_version"] == 1 and hist["last_sequence_number"] == 1

        assert iceberg_cli.main(["orphans", table, "--data-dir", d]) == 0
        assert json.loads(capsys.readouterr().out)["orphans"] == []

        assert iceberg_cli.main(["expire", table, "--keep", "1"]) == 0
        assert json.loads(capsys.readouterr().out)["expired_snapshot_ids"] == []

        assert iceberg_cli.main(["deletes", table]) == 0
        assert json.loads(capsys.readouterr().out)["n_delete_files"] == 0
        from parquet_to_arrow_spark.sources.iceberg import delete_where_mor

        delete_where_mor(spark, table, "doc_id = 1")
        assert iceberg_cli.main(["deletes", table]) == 0
        dels = json.loads(capsys.readouterr().out)
        assert dels["n_delete_files"] == 1 and dels["total_position_deletes"] == 1



    def test_cli_incremental_lists_added_files(self, spark, docs_df, tmp_path, capsys):
        import sys

        sys.path.insert(0, "tools")
        import iceberg_cli

        table = str(tmp_path / "table")
        d1, d2 = str(tmp_path / "w1"), str(tmp_path / "w2")
        docs_df.filter("doc_id < 12").write.parquet(d1)
        docs_df.filter("doc_id >= 12").write.parquet(d2)
        s1 = ice.commit_parquet_dir(table, d1, spark_schema=docs_df.schema, ts_ms=1)
        ice.commit_parquet_dir(table, d2, ts_ms=2)

        assert iceberg_cli.main(["incremental", table, "--since", str(s1)]) == 0
        out = json.loads(capsys.readouterr().out)
        assert out["total_records"] == 8

    def test_cli_orphan_removal_respects_grace_period(self, spark, docs_df, tmp_path, capsys):
        import os
        import sys

        sys.path.insert(0, "tools")
        import iceberg_cli

        table = str(tmp_path / "table")
        d = str(tmp_path / "w")
        docs_df.write.parquet(d)
        ice.commit_parquet_dir(table, d, spark_schema=docs_df.schema, ts_ms=1)
        fresh = os.path.join(d, "part-inflight.parquet")
        stale = os.path.join(d, "part-crashed.parquet")
        for p in (fresh, stale):
            with open(p, "wb") as f:
                f.write(b"PAR1x")
        os.utime(stale, (1, 1))  # ancient mtime

        assert iceberg_cli.main(["orphans", table, "--data-dir", d,
                                 "--remove-older-than-min", "60"]) == 0
        out = json.loads(capsys.readouterr().out)
        assert out["removed"] == [os.path.abspath(stale)]
        assert not os.path.exists(stale)
        assert os.path.exists(fresh)  # inside the grace period: kept


class TestMinMaxBounds:
    def test_bounds_recorded_and_roundtrip(self):
        assert ice.encode_bound(-5, "long") == (-5).to_bytes(8, "little", signed=True)
        assert ice.decode_bound(ice.encode_bound(3.5, "double"), "double") == 3.5
        assert ice.decode_bound(ice.encode_bound("abc", "string"), "string") == "abc"
        assert ice.decode_bound(ice.encode_bound(True, "boolean"), "boolean") is True

    def test_range_filter_skips_disjoint_files(self, spark, tmp_path):
        """Three files with disjoint doc_id ranges: a range predicate must
        prune at the manifest walk (no file opens), and the pruned read
        plus the row predicate returns exactly the right rows."""
        df = spark.createDataFrame(
            [(i, f"t{i}") for i in range(300)], "doc_id long, text string"
        )
        d = str(tmp_path / "w")
        # one file per 100-id block
        df.repartitionByRange(3, "doc_id").write.parquet(d)
        table = str(tmp_path / "table")
        ice.commit_parquet_dir(table, d, spark_schema=df.schema, ts_ms=1)

        all_files = ice.snapshot_files(table)
        assert len(all_files) == 3
        assert all(f.lower_bounds and f.upper_bounds for f in all_files)
        # ids 0..299 split by range: [150, 160] intersects exactly one file
        hit = ice.snapshot_files(table, range_filter={"doc_id": (150, 160)})
        assert len(hit) == 1
        lo, hi = list(hit[0].lower_bounds.values())[0], list(hit[0].upper_bounds.values())[0]
        assert lo <= 150 and hi >= 160

        got = (
            ice.read_snapshot(spark, table, range_filter={"doc_id": (150, 160)})
            .filter("doc_id BETWEEN 150 AND 160")
            .count()
        )
        assert got == 11
        # half-open filters: (None, 99) and (200, None)
        low = ice.snapshot_files(table, range_filter={"doc_id": (None, 99)})
        high = ice.snapshot_files(table, range_filter={"doc_id": (200, None)})
        assert len(low) == 1 and len(high) == 1
        # a column with no bounds recorded is conservatively kept
        none = ice.snapshot_files(table, range_filter={"text": ("zzz", None)})
        assert len(none) <= 3  # strings bounded too: may prune, never errors


class TestSchemaEvolution:
    def test_additive_column_projects_null_for_old_files(self, spark, tmp_path):
        """Commit v1 with (doc_id, text); commit v2 adding lang: the table
        schema evolves with a FRESH field id, old files read lang as null,
        and bounds for the new column only exist on new files."""
        table = str(tmp_path / "table")
        d1, d2 = str(tmp_path / "w1"), str(tmp_path / "w2")
        df1 = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
        df2 = spark.createDataFrame(
            [(3, "c", "en"), (4, "d", "de")], "doc_id long, text string, lang string")
        df1.write.parquet(d1)
        df2.write.parquet(d2)
        ice.commit_parquet_dir(table, d1, spark_schema=df1.schema, ts_ms=1)
        ice.commit_parquet_dir(table, d2, spark_schema=df2.schema, ts_ms=2)

        meta = ice.current_metadata(table)
        assert len(meta["schemas"]) == 2 and meta["current-schema-id"] == 1
        lang = [f for f in meta["schemas"][1]["fields"] if f["name"] == "lang"][0]
        assert lang["id"] == 3 and meta["last-column-id"] == 3
        # ids of pre-existing columns unchanged
        assert [f["id"] for f in meta["schemas"][1]["fields"]] == [1, 2, 3]

        rows = {r["doc_id"]: r["lang"]
                for r in ice.read_snapshot(spark, table).collect()}
        assert rows == {1: None, 2: None, 3: "en", 4: "de"}

        # same-schema recommit is a no-op on the schema list
        d3 = str(tmp_path / "w3")
        df2.write.parquet(d3)
        ice.commit_parquet_dir(table, d3, spark_schema=df2.schema, ts_ms=3)
        assert len(ice.current_metadata(table)["schemas"]) == 2

    def test_type_change_is_rejected(self, spark, tmp_path):
        table = str(tmp_path / "table")
        d1, d2 = str(tmp_path / "w1"), str(tmp_path / "w2")
        df1 = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        df2 = spark.createDataFrame([(2, 9)], "doc_id long, text long")
        df1.write.parquet(d1)
        df2.write.parquet(d2)
        ice.commit_parquet_dir(table, d1, spark_schema=df1.schema, ts_ms=1)
        with pytest.raises(ValueError, match="unsupported schema evolution"):
            ice.commit_parquet_dir(table, d2, spark_schema=df2.schema, ts_ms=2)


class TestReviewRegressions:
    def test_replace_on_survives_snapshot_expiry(self, spark, docs_df, tmp_path):
        """The properties replace-index keeps wave overwrites idempotent
        even after expiry removed the wave's snapshot entry (the id-based
        match alone would double-append)."""
        table = str(tmp_path / "table")
        w0a, w0b, w1 = (str(tmp_path / n) for n in ("w0a", "w0b", "w1"))
        docs_df.filter("doc_id < 10").write.parquet(w0a)
        docs_df.filter("doc_id < 10").write.parquet(w0b)
        docs_df.filter("doc_id >= 10").write.parquet(w1)
        ice.commit_parquet_dir(table, w0a, spark_schema=docs_df.schema,
                               ts_ms=1, summary={"wave": 0}, replace_on="wave")
        ice.commit_parquet_dir(table, w1, ts_ms=2,
                               summary={"wave": 1}, replace_on="wave")
        ice.expire_snapshots(table, keep_last=1, ts_ms=3)
        # zombie replay of wave 0 AFTER its snapshot entry is gone
        ice.commit_parquet_dir(table, w0b, ts_ms=4,
                               summary={"wave": 0}, replace_on="wave")
        files = ice.snapshot_files(table)
        assert sum(f.record_count for f in files) == 20  # not 30
        assert all(os.path.exists(f.path) for f in files)
        assert ice.read_snapshot(spark, table).count() == 20

    def test_empty_filter_result_is_typed_empty_frame(self, spark, docs_df, tmp_path):
        df = spark.createDataFrame([(1, "a", "en")],
                                   "doc_id long, text string, lang string")
        d = str(tmp_path / "w")
        df.write.partitionBy("lang").parquet(d)
        table = str(tmp_path / "table")
        ice.commit_parquet_dir(table, d, spark_schema=df.schema, ts_ms=1,
                               partition_by=["lang"])
        empty = ice.read_snapshot(spark, table, partition_filter={"lang": "xx"})
        assert empty.count() == 0
        assert set(empty.columns) == {"doc_id", "text", "lang"}

    def test_date_bound_serialization(self):
        import datetime

        d = datetime.date(1970, 1, 11)
        assert ice.decode_bound(ice.encode_bound(d, "date"), "date") == d
        assert ice.decode_bound(ice.encode_bound("1970-01-11", "date"), "date") == d

    def test_schema_subset_commit_is_rejected(self, spark, tmp_path):
        """A commit whose schema silently DROPS a column must fail loudly
        (a renamed column would otherwise read as all-null forever)."""
        table = str(tmp_path / "table")
        d1, d2 = str(tmp_path / "w1"), str(tmp_path / "w2")
        df1 = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        df2 = spark.createDataFrame([(2, "b")], "doc_id long, body string")
        df1.write.parquet(d1)
        df2.write.parquet(d2)
        ice.commit_parquet_dir(table, d1, spark_schema=df1.schema, ts_ms=1)
        with pytest.raises(ValueError, match="absent from the committed schema"):
            ice.commit_parquet_dir(table, d2, spark_schema=df2.schema, ts_ms=2)

    def test_expiry_racing_commit_is_detected(self, spark, docs_df, tmp_path, monkeypatch):
        from parquet_to_arrow_spark.sources.iceberg_meta import CommitConflict

        table = str(tmp_path / "table")
        d = str(tmp_path / "w")
        docs_df.write.parquet(d)
        ice.commit_parquet_dir(table, d, spark_schema=docs_df.schema, ts_ms=1)
        ice.commit_parquet_dir(table, d, ts_ms=2)
        stale = ice._resolve_state(table)
        s3 = ice.commit_parquet_dir(table, d, ts_ms=3)  # a writer lands v3
        monkeypatch.setattr(ice, "_resolve_state", lambda _t: stale)
        with pytest.raises(CommitConflict):
            ice.expire_snapshots(table, keep_last=1, ts_ms=4)
        monkeypatch.undo()
        assert ice.snapshots(table)[-1]["snapshot-id"] == s3  # commit intact


class TestIncremental:
    def test_added_files_between_snapshots(self, spark, docs_df, tmp_path):
        """A downstream consumer tracking its last snapshot id reads ONLY
        files appended since — across single and multi-snapshot gaps, and
        an up-to-date consumer gets an empty typed frame."""
        table = str(tmp_path / "table")
        sids = []
        for i, (lo, hi) in enumerate([(0, 7), (7, 14), (14, 20)]):
            d = str(tmp_path / f"w{i}")
            docs_df.filter(f"doc_id >= {lo} AND doc_id < {hi}").coalesce(1).write.parquet(d)
            sids.append(ice.commit_parquet_dir(
                table, d, spark_schema=docs_df.schema, ts_ms=1000 + i))

        assert sum(f.record_count for f in ice.added_files(table, None)) == 20
        inc = ice.read_incremental(spark, table, sids[0])
        assert {r["doc_id"] for r in inc.collect()} == set(range(7, 20))
        inc2 = ice.read_incremental(spark, table, sids[1], to_snapshot_id=sids[2])
        assert {r["doc_id"] for r in inc2.collect()} == set(range(14, 20))
        empty = ice.read_incremental(spark, table, sids[2])
        assert empty.count() == 0 and "doc_id" in empty.columns


class TestSnapshotEncode:
    def test_encode_from_snapshot_is_consistent_under_appends(self, spark, tmp_path):
        """encode_parquet_dir(table, id) encodes EXACTLY snapshot id's
        files: rows appended afterwards are invisible, and the decoded
        output is bit-identical to the snapshot's content."""
        from parquet_to_arrow_spark.encode import decode_chunks_df
        from parquet_to_arrow_spark.sources import iceberg as icebergmod
        from parquet_to_arrow_spark.sources.io import encode_parquet_dir
        from parquet_to_arrow_spark.sources.synth import synth_tokens_df
        from parquet_to_arrow_spark.verify import diff_report

        table = str(tmp_path / "table")
        first = synth_tokens_df(spark, 300, n_partitions=2).cache()
        s1 = icebergmod.append(first, table)

        extra = (synth_tokens_df(spark, 500, n_partitions=1)
                 .filter("doc_id >= 'doc-000000000300'").cache())
        icebergmod.append(extra, table)

        enc_old = encode_parquet_dir(spark, table, snapshot_id=s1)
        rep = diff_report(first, decode_chunks_df(enc_old))
        assert rep["equal"] and rep["n_left"] == 300, rep

        enc_now = encode_parquet_dir(spark, table)
        rep2 = diff_report(first.union(extra), decode_chunks_df(enc_now))
        assert rep2["equal"] and rep2["n_left"] == 500, rep2  # 300 + 200 appended
        first.unpersist(); extra.unpersist()


class TestCowDelete:
    def test_delete_where_rewrites_only_affected_files(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, delete_where, read_table

        table = str(tmp_path / "table")
        mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
            [(i, f"t{i}") for i in range(lo, hi)], "doc_id long, text string"
        ).coalesce(1)
        for lo, hi in [(0, 10), (10, 20), (20, 30)]:
            append(mk(lo, hi), table)
        before = ice.current_metadata(table)["current-snapshot-id"]
        files_before = {f.path for f in ice.snapshot_files(table)}

        sid = delete_where(spark, table, "doc_id >= 5 AND doc_id < 8")
        assert sid is not None
        got = {r["doc_id"] for r in read_table(spark, table).collect()}
        assert got == set(range(30)) - {5, 6, 7}

        files_after = {f.path for f in ice.snapshot_files(table)}
        # the two untouched files are carried forward by identity
        assert len(files_before & files_after) == 2
        # the affected file is gone from the scan but kept for time travel
        removed = files_before - files_after
        assert len(removed) == 1 and all(os.path.exists(p) for p in removed)
        assert read_table(spark, table, snapshot_id=before).count() == 30
        # no-match predicate: explicit no-op
        assert delete_where(spark, table, "doc_id = 999") is None

    def test_delete_where_can_empty_a_file(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, delete_where, read_table

        table = str(tmp_path / "table")
        df1 = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string").coalesce(1)
        df2 = spark.createDataFrame([(3, "c")], "doc_id long, text string").coalesce(1)
        append(df1, table)
        append(df2, table)
        sid = delete_where(spark, table, "doc_id <= 2")  # wipes file 1 entirely
        assert sid is not None
        assert {r["doc_id"] for r in read_table(spark, table).collect()} == {3}
        snaps = ice.snapshots(table)
        assert snaps[-1]["summary"]["operation"] == "delete"


    def test_exact_dedup_table_in_place(self, spark, tmp_path):
        """The lakehouse dedup loop end to end: planted duplicate texts are
        physically removed as one snapshot (min doc_id wins), the table
        reads clean, and the pre-dedup state survives as history."""
        from parquet_to_arrow_spark.sources.iceberg import (
            append,
            exact_dedup_table,
            read_table,
        )

        table = str(tmp_path / "table")
        rows1 = [(1, "alpha"), (2, "beta"), (3, "alpha")]   # 3 dups 1
        rows2 = [(4, "beta"), (5, "gamma"), (6, "alpha")]   # 4 dups 2, 6 dups 1
        append(spark.createDataFrame(rows1, "doc_id long, text string").coalesce(1), table)
        append(spark.createDataFrame(rows2, "doc_id long, text string").coalesce(1), table)
        before = ice.current_metadata(table)["current-snapshot-id"]

        sid = exact_dedup_table(spark, table)
        assert sid is not None
        got = {r["doc_id"]: r["text"] for r in read_table(spark, table).collect()}
        assert got == {1: "alpha", 2: "beta", 5: "gamma"}
        assert read_table(spark, table, snapshot_id=before).count() == 6
        # idempotent: a second pass finds nothing to remove
        assert exact_dedup_table(spark, table) is None


    def test_merge_keys_upserts_in_one_snapshot(self, spark, tmp_path):
        """MERGE: matched keys replaced, unmatched inserted, one snapshot;
        old values survive via time travel; insert-only merges append."""
        from parquet_to_arrow_spark.sources.iceberg import append, merge_keys, read_table

        table = str(tmp_path / "table")
        append(spark.createDataFrame(
            [(1, "old-a"), (2, "old-b")], "doc_id long, text string").coalesce(1), table)
        append(spark.createDataFrame(
            [(3, "old-c")], "doc_id long, text string").coalesce(1), table)
        before = ice.current_metadata(table)["current-snapshot-id"]

        updates = spark.createDataFrame(
            [(2, "NEW-b"), (4, "NEW-d")], "doc_id long, text string")
        sid = merge_keys(spark, table, updates, "doc_id")
        assert sid is not None
        got = {r["doc_id"]: r["text"] for r in read_table(spark, table).collect()}
        assert got == {1: "old-a", 2: "NEW-b", 3: "old-c", 4: "NEW-d"}
        old = {r["doc_id"]: r["text"]
               for r in read_table(spark, table, snapshot_id=before).collect()}
        assert old == {1: "old-a", 2: "old-b", 3: "old-c"}

        # insert-only merge: pure append path
        sid2 = merge_keys(
            spark, table,
            spark.createDataFrame([(9, "NEW-i")], "doc_id long, text string"),
            "doc_id",
        )
        assert sid2 is not None
        assert read_table(spark, table).count() == 5
        assert ice.snapshots(table)[-1]["summary"]["operation-detail"] == "merge-insert-only"


    def test_compact_files_preserves_content(self, spark, tmp_path):
        """Five tiny appends compact into one file with identical rows;
        history still reads the uncompacted layout."""
        from parquet_to_arrow_spark.sources.iceberg import append, compact_files, read_table

        table = str(tmp_path / "table")
        for i in range(5):
            append(spark.createDataFrame(
                [(i * 10 + j, f"t{i}-{j}") for j in range(10)],
                "doc_id long, text string").coalesce(1), table)
        before = ice.current_metadata(table)["current-snapshot-id"]
        assert len(ice.snapshot_files(table)) == 5

        sid = compact_files(spark, table, target_bytes=1 << 20)
        assert sid is not None
        files = ice.snapshot_files(table)
        assert len(files) == 1
        assert {r["doc_id"] for r in read_table(spark, table).collect()} == set(range(50))
        assert len(ice.snapshot_files(table, snapshot_id=before)) == 5
        assert ice.snapshots(table)[-1]["summary"]["operation-detail"] == "compact:5->1"
        # already compact: no-op
        assert compact_files(spark, table, target_bytes=1 << 20) is None


class TestSecondReviewRegressions:
    def test_delete_where_keeps_null_predicate_rows(self, spark, tmp_path):
        """SQL DELETE removes pred=TRUE rows only: a NULL-predicate row in
        an affected file must SURVIVE the rewrite."""
        from parquet_to_arrow_spark.sources.iceberg import append, delete_where, read_table

        table = str(tmp_path / "table")
        df = spark.createDataFrame(
            [(1, "a"), (None, "n"), (9, "z")], "doc_id long, text string"
        ).coalesce(1)
        append(df, table)
        assert delete_where(spark, table, "doc_id >= 5") is not None
        got = {(r["doc_id"], r["text"]) for r in read_table(spark, table).collect()}
        assert got == {(1, "a"), (None, "n")}

    def test_cow_paths_survive_percent_encoded_uris(self, spark, tmp_path):
        """input_file_name() percent-encodes special characters; the
        remove-path match must still hit the manifests (a miss silently
        duplicates survivors instead of deleting)."""
        from parquet_to_arrow_spark.sources.iceberg import append, delete_where, read_table

        table = str(tmp_path / "my table with spaces")
        append(
            spark.createDataFrame([(i, f"t{i}") for i in range(6)],
                                  "doc_id long, text string").coalesce(1),
            table,
        )
        assert delete_where(spark, table, "doc_id < 2") is not None
        assert {r["doc_id"] for r in read_table(spark, table).collect()} == {2, 3, 4, 5}

    def test_incremental_read_rejects_rewrite_ranges(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, compact_files

        table = str(tmp_path / "table")
        mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
            [(i, f"t{i}") for i in range(lo, hi)], "doc_id long, text string"
        ).coalesce(1)
        s1 = append(mk(0, 5), table)
        append(mk(5, 10), table)
        compact_files(spark, table, target_bytes=1 << 20)
        with pytest.raises(ValueError, match="non-append"):
            ice.added_files(table, s1)
        s_after = ice.current_metadata(table)["current-snapshot-id"]
        append(mk(10, 12), table)
        # append-only range after the compaction is fine
        inc = ice.added_files(table, s_after)
        assert sum(f.record_count for f in inc) == 2

    def test_partitioned_snapshot_encode_rejected(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.io import (
            encode_parquet_dir,
            token_hashes_from_parquet,
        )

        df = spark.createDataFrame(
            [(f"doc-{i}", [1, 2], 2, ["a", "b"][i % 2]) for i in range(4)],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        d = str(tmp_path / "w")
        df.write.partitionBy("source").parquet(d)
        table = str(tmp_path / "table")
        ice.commit_parquet_dir(table, d, spark_schema=df.schema, ts_ms=1,
                               partition_by=["source"])
        with pytest.raises(NotImplementedError, match="partitioned"):
            encode_parquet_dir(spark, table)
        # the verify hash side reads only doc_id and tokens, both in the files
        assert token_hashes_from_parquet(spark, table).count() == 4

    def test_token_hashes_honor_snapshot_id(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append
        from parquet_to_arrow_spark.sources.io import token_hashes_from_parquet
        from parquet_to_arrow_spark.sources.synth import synth_tokens_df

        table = str(tmp_path / "table")
        first = synth_tokens_df(spark, 100, n_partitions=1)
        s1 = append(first, table)
        append(synth_tokens_df(spark, 200, n_partitions=1)
               .filter("doc_id >= 'doc-000000000100'"), table)
        assert token_hashes_from_parquet(spark, table, snapshot_id=s1).count() == 100
        assert token_hashes_from_parquet(spark, table).count() == 200


    def test_sorted_compaction_clusters_bounds_for_pruning(self, spark, tmp_path):
        """Sort-order compaction: interleaved appends compact into files
        with DISJOINT doc_id bounds, so a range filter prunes to one file
        where the unsorted layout had to keep several."""
        from parquet_to_arrow_spark.sources.iceberg import append, compact_files, read_table

        table = str(tmp_path / "table")
        # 4 appends, each spanning the WHOLE id range (maximally interleaved)
        for k in range(4):
            append(spark.createDataFrame(
                [(i * 4 + k, f"t{i}-{k}") for i in range(50)],
                "doc_id long, text string").coalesce(1), table)
        pre = ice.snapshot_files(table, range_filter={"doc_id": (10, 12)})
        assert len(pre) == 4  # every file's bounds span 10..12

        sid = compact_files(spark, table, target_bytes=3000, sort_by="doc_id")
        assert sid is not None
        allf = ice.snapshot_files(table)
        assert len(allf) >= 2  # range partition produced multiple files
        # disjoint bounds: at most one file can hold any narrow range
        hit = ice.snapshot_files(table, range_filter={"doc_id": (10, 12)})
        assert len(hit) == 1
        assert read_table(spark, table).count() == 200
        got = {r["doc_id"] for r in read_table(
            spark, table, range_filter={"doc_id": (10, 12)}).collect()}
        assert {10, 11, 12} <= got

    def test_zorder_compaction_prunes_on_both_dimensions(self, spark, tmp_path):
        """Z-order compaction: a linear sort serves only its leading
        column (files sorted by x all span the full y range), while the
        Morton-curve rewrite keeps BOTH columns' per-file bounds tight —
        a range filter on either dimension skips files."""
        from parquet_to_arrow_spark.sources.iceberg import (
            append,
            compact_files,
            read_table,
        )

        # 4096 points on a 64x64 grid scaled to [0, 4096) on each axis
        rows = [(i, (i % 64) * 64, (i // 64) * 64) for i in range(4096)]

        def build(path, **compact_kw):
            table = str(tmp_path / path)
            for k in range(8):  # 8 appends, each spanning the whole plane
                append(
                    spark.createDataFrame(
                        rows[k::8], "id long, x long, y long"
                    ).coalesce(1),
                    table,
                )
            total = sum(f.file_size for f in ice.snapshot_files(table))
            compact_files(
                spark, table, target_bytes=total // 8 + 1, **compact_kw
            )
            return table

        ztab = build("ztbl", zorder=["x", "y"])
        n = len(ice.snapshot_files(ztab))
        assert n >= 4  # the range partition actually split the rewrite
        hit_x = len(ice.snapshot_files(ztab, range_filter={"x": (0, 511)}))
        hit_y = len(ice.snapshot_files(ztab, range_filter={"y": (0, 511)}))
        assert hit_x < n and hit_y < n  # pruning on BOTH dimensions
        # content identical through the rewrite, and the pruned read exact
        got = {
            (r["id"], r["x"], r["y"])
            for r in read_table(
                spark, ztab, range_filter={"y": (0, 511)}
            ).collect()
        }
        # file-level pruning: every matching row survives (rows from the
        # surviving files' wider y ranges ride along, as with any
        # min/max skipping — the query's own predicate finishes the job)
        assert {(i, x, y) for i, x, y in rows if y <= 511} <= got
        assert read_table(spark, ztab).count() == 4096

        # contrast: linear sort on x leaves y un-prunable
        stab = build("stbl", sort_by="x")
        ns = len(ice.snapshot_files(stab))
        assert ns >= 4
        assert len(ice.snapshot_files(stab, range_filter={"y": (0, 511)})) == ns

    def test_zorder_rejects_non_numeric(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, compact_files

        table = str(tmp_path / "zbad")
        for _ in range(2):
            append(
                spark.createDataFrame([(1, "a")], "id long, s string").coalesce(1),
                table,
            )
        with pytest.raises(ValueError, match="numeric"):
            compact_files(spark, table, target_bytes=1 << 20, zorder=["id", "s"])


class TestPartitionedCow:
    """The round-3 scope cut closed: CoW DML + compaction on
    identity-partitioned tables. Replacement files must keep their
    partition values, other partitions' files carry forward by identity,
    and history time-travels."""

    def _ptable(self, spark, tmp_path):
        # web/books get 10 docs each in the first commit; code lands as a
        # separate append so its file identity can be tracked
        df = spark.createDataFrame(
            [(i, f"t{i}", ["web", "books"][i % 2]) for i in range(20)],
            "doc_id long, text string, source string",
        )
        d = str(tmp_path / "w0")
        df.coalesce(1).write.partitionBy("source").parquet(d)
        table = str(tmp_path / "ptable")
        ice.commit_parquet_dir(
            table, d, spark_schema=df.schema, ts_ms=1, partition_by=["source"]
        )
        from parquet_to_arrow_spark.sources.iceberg import append

        append(
            spark.createDataFrame(
                [(100 + i, f"c{i}", "code") for i in range(5)],
                "doc_id long, text string, source string",
            ).coalesce(1),
            table,
        )
        return table

    def test_partitioned_append_lands_with_partition_values(self, spark, tmp_path):
        table = self._ptable(spark, tmp_path)
        code = ice.snapshot_files(table, partition_filter={"source": "code"})
        assert code and all(f.partition == {"source": "code"} for f in code)
        assert sum(f.record_count for f in code) == 5

    def test_partitioned_delete_where_preserves_partition_values(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import delete_where, read_table

        table = self._ptable(spark, tmp_path)
        before = ice.current_metadata(table)["current-snapshot-id"]
        files_before = {f.path for f in ice.snapshot_files(table)}

        # the doomed rows live ONLY in web: prune the search to it
        sid = delete_where(
            spark, table, "doc_id < 4", partition_filter={"source": "web"}
        )
        assert sid is not None
        got = {r["doc_id"] for r in read_table(spark, table).collect()}
        assert got == (set(range(20)) - {0, 2}) | {100 + i for i in range(5)}

        files_after = {f.path for f in ice.snapshot_files(table)}
        # books + code untouched, carried forward by identity
        assert len(files_before & files_after) == 2
        # the replacement file kept its partition value in the manifests
        web = ice.snapshot_files(table, partition_filter={"source": "web"})
        assert len(web) == 1 and web[0].partition == {"source": "web"}
        assert web[0].path not in files_before
        # the re-read re-attaches the partition column on the rewritten file
        web_rows = read_table(spark, table, partition_filter={"source": "web"})
        assert {r["doc_id"] for r in web_rows.collect()} == {4, 6, 8, 10, 12, 14, 16, 18}
        assert all(r["source"] == "web" for r in web_rows.collect())
        # history time-travels to the pre-delete layout
        assert read_table(spark, table, snapshot_id=before).count() == 25

    def test_partitioned_merge_keys_upserts_across_partitions(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import merge_keys, read_table

        table = self._ptable(spark, tmp_path)
        updates = spark.createDataFrame(
            [(1, "NEW-1", "books"), (999, "NEW-999", "newsrc")],
            "doc_id long, text string, source string",
        )
        sid = merge_keys(spark, table, updates, "doc_id")
        assert sid is not None
        rows = {r["doc_id"]: (r["text"], r["source"]) for r in read_table(spark, table).collect()}
        assert rows[1] == ("NEW-1", "books")          # matched: replaced
        assert rows[999] == ("NEW-999", "newsrc")     # unmatched: inserted
        assert len(rows) == 26
        # the insert landed in its OWN partition, visible to pruned scans
        new = ice.snapshot_files(table, partition_filter={"source": "newsrc"})
        assert sum(f.record_count for f in new) == 1

    def test_partitioned_compaction_compacts_within_partitions(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, compact_files, read_table

        table = str(tmp_path / "ctable")
        df0 = spark.createDataFrame(
            [(0, "t0", "web"), (1, "t1", "books")],
            "doc_id long, text string, source string",
        )
        d = str(tmp_path / "cw0")
        df0.coalesce(1).write.partitionBy("source").parquet(d)
        ice.commit_parquet_dir(table, d, spark_schema=df0.schema, ts_ms=1,
                               partition_by=["source"])
        # two more appends touch ONLY web -> web has 3 small files, books 1
        for i in range(2):
            append(
                spark.createDataFrame(
                    [(10 + i, f"w{i}", "web")],
                    "doc_id long, text string, source string",
                ).coalesce(1),
                table,
            )
        before = ice.current_metadata(table)["current-snapshot-id"]
        assert len(ice.snapshot_files(table)) == 4
        books_before = {f.path for f in ice.snapshot_files(
            table, partition_filter={"source": "books"})}

        sid = compact_files(spark, table, target_bytes=1 << 20, min_group=2)
        assert sid is not None
        files = ice.snapshot_files(table)
        # web's 3 -> 1; books' single file SKIPPED (min_group) and untouched
        assert len(files) == 2
        web = ice.snapshot_files(table, partition_filter={"source": "web"})
        assert len(web) == 1 and web[0].partition == {"source": "web"}
        assert {f.path for f in ice.snapshot_files(
            table, partition_filter={"source": "books"})} == books_before
        got = {(r["doc_id"], r["source"]) for r in read_table(spark, table).collect()}
        assert got == {(0, "web"), (1, "books"), (10, "web"), (11, "web")}
        assert len(ice.snapshot_files(table, snapshot_id=before)) == 4


class TestBucketTransform:
    """Iceberg bucket[N] partition transform: spec-correct murmur3 hashing
    (Appendix B published vectors), spec serialization, bucket-pruned
    scans, and CoW on a bucket-partitioned table."""

    def test_murmur3_spec_vectors(self):
        import struct

        # Iceberg Table Spec, Appendix B "32-bit Hash Requirements"
        assert ice.murmur3_32(struct.pack("<q", 34)) == 2017239379
        assert ice.murmur3_32(b"iceberg") == 1210000089
        assert ice.murmur3_32(struct.pack("<q", 17486)) == -653330422  # date 2017-11-16
        # int and long bucket identically (ints hashed as 8-byte longs)
        assert ice.bucket_of(34, "int", 16) == ice.bucket_of(34, "long", 16)
        with pytest.raises(ValueError):
            ice.bucket_of(None, "long", 16)

    def _btable(self, spark, tmp_path, n=8):
        from parquet_to_arrow_spark.sources.iceberg import with_bucket_column

        df = spark.createDataFrame(
            [(i, f"t{i}") for i in range(40)], "doc_id long, text string"
        )
        d = str(tmp_path / "w0")
        with_bucket_column(df, "doc_id", n).write.partitionBy("doc_id_bucket").parquet(d)
        table = str(tmp_path / "btable")
        ice.commit_parquet_dir(
            table, d, spark_schema=df.schema, ts_ms=1,
            partition_by=[f"doc_id:bucket[{n}]"],
        )
        return table, df

    def test_spec_serialization_and_manifest_values(self, spark, tmp_path):
        table, _ = self._btable(spark, tmp_path)
        meta = ice.current_metadata(table)
        assert meta["partition-specs"][0]["fields"] == [
            {"name": "doc_id_bucket", "transform": "bucket[8]",
             "source-id": 1, "field-id": 1000}
        ]
        # every manifest partition value equals the spec transform of the
        # file's keys (verified per file by re-reading its doc_ids)
        import pyarrow.parquet as pq

        for f in ice.snapshot_files(table):
            b = f.partition["doc_id_bucket"]
            assert isinstance(b, int)
            ids = pq.read_table(f.path, columns=["doc_id"])["doc_id"].to_pylist()
            assert {ice.bucket_of(i, "long", 8) for i in ids} == {b}

    def test_spark_bucket_matches_reference_for_longs_and_strings(self, spark):
        from parquet_to_arrow_spark.sources.iceberg import with_bucket_column

        rows = [(i * 7919 - 1000, f"doc-{i:09d}") for i in range(500)]
        df = spark.createDataFrame(rows, "k long, s string")
        got = (
            with_bucket_column(with_bucket_column(df, "k", 32), "s", 32)
            .select("k", "s", "k_bucket", "s_bucket")
            .collect()
        )
        for r in got:
            assert r["k_bucket"] == ice.bucket_of(r["k"], "long", 32)
            assert r["s_bucket"] == ice.bucket_of(r["s"], "string", 32)

    def test_bucket_pruned_scan_and_read(self, spark, tmp_path):
        table, df = self._btable(spark, tmp_path)
        all_files = ice.snapshot_files(table)
        key = 17
        b = ice.bucket_of(key, "long", 8)
        pruned = ice.snapshot_files(table, partition_filter={"doc_id_bucket": b})
        assert 0 < len(pruned) < len(all_files)
        assert all(f.partition == {"doc_id_bucket": b} for f in pruned)
        # the pruned read still contains the key's row, with doc_id intact
        # in the data files (no identity injection for derived fields)
        got = ice.read_snapshot(spark, table, partition_filter={"doc_id_bucket": b})
        assert key in {r["doc_id"] for r in got.collect()}
        assert "doc_id_bucket" not in got.columns

    def test_append_and_cow_delete_on_bucket_table(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, delete_keys, read_table

        table, _ = self._btable(spark, tmp_path)
        # append WITHOUT the derived column: recomputed automatically
        append(
            spark.createDataFrame([(100, "new")], "doc_id long, text string"),
            table,
        )
        b100 = ice.bucket_of(100, "long", 8)
        hit = ice.snapshot_files(table, partition_filter={"doc_id_bucket": b100})
        assert 100 in {
            r["doc_id"]
            for r in ice.read_snapshot(
                spark, table, partition_filter={"doc_id_bucket": b100}
            ).collect()
        }
        assert all(f.partition == {"doc_id_bucket": b100} for f in hit)

        before = ice.current_metadata(table)["current-snapshot-id"]
        doomed = spark.createDataFrame([(3,), (100,)], "doc_id long")
        sid = delete_keys(spark, table, doomed, "doc_id")
        assert sid is not None
        ids = {r["doc_id"] for r in read_table(spark, table).collect()}
        assert ids == set(range(40)) - {3}
        # replacement files carry recomputed bucket values
        for f in ice.snapshot_files(table):
            assert set(f.partition) == {"doc_id_bucket"}
        assert read_table(spark, table, snapshot_id=before).count() == 41


class TestPositionDeletes:
    """Merge-on-read row deletes (Iceberg spec v2 'Position Delete Files'):
    delete parquet of (file_path, pos) under a content=1 manifest, applied
    by the reader as an anti-join on the scanner's native row positions."""

    def _table(self, spark, tmp_path, n_files=3, rows=10):
        from parquet_to_arrow_spark.sources.iceberg import append

        table = str(tmp_path / "table")
        for i in range(n_files):
            append(
                spark.createDataFrame(
                    [(i * rows + j, f"t{i}-{j}") for j in range(rows)],
                    "doc_id long, text string",
                ).coalesce(1),
                table,
            )
        return table

    def test_mor_delete_leaves_data_files_untouched(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import delete_where_mor, read_table

        table = self._table(spark, tmp_path)
        before = ice.current_metadata(table)["current-snapshot-id"]
        files_before = {f.path for f in ice.snapshot_files(table)}

        sid = delete_where_mor(spark, table, "doc_id >= 5 AND doc_id < 8")
        assert sid is not None
        got = {r["doc_id"] for r in read_table(spark, table).collect()}
        assert got == set(range(30)) - {5, 6, 7}
        # CoW would rewrite the affected file; MoR must not touch ANY
        assert {f.path for f in ice.snapshot_files(table)} == files_before
        dels = ice.snapshot_delete_files(table)
        assert len(dels) == 1 and dels[0].record_count == 3
        snap = ice.snapshots(table)[-1]
        assert snap["summary"]["operation"] == "delete"
        assert snap["summary"]["added-delete-files"] == "1"
        assert snap["summary"]["added-position-deletes"] == "3"
        # pre-delete snapshot still reads everything
        assert read_table(spark, table, snapshot_id=before).count() == 30
        # no-match predicate: explicit no-op, no delete file committed
        assert delete_where_mor(spark, table, "doc_id = 999") is None
        assert len(ice.snapshot_delete_files(table)) == 1

    def test_mor_deletes_compound_and_spare_new_appends(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import (
            append,
            delete_where_mor,
            read_table,
        )

        table = self._table(spark, tmp_path, n_files=2)
        delete_where_mor(spark, table, "doc_id = 0")
        # rows appended AFTER a delete commit must be untouched by it
        append(
            spark.createDataFrame([(100, "new")], "doc_id long, text string"), table
        )
        delete_where_mor(spark, table, "doc_id = 19")
        got = {r["doc_id"] for r in read_table(spark, table).collect()}
        assert got == (set(range(20)) | {100}) - {0, 19}
        assert len(ice.snapshot_delete_files(table)) == 2

    def test_materialize_folds_deletes_into_data(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import (
            delete_where_mor,
            materialize_deletes,
            read_table,
        )

        table = self._table(spark, tmp_path)
        files_before = {f.path for f in ice.snapshot_files(table)}
        delete_where_mor(spark, table, "doc_id IN (5, 25)")  # hits files 0 and 2
        mor_snap = ice.current_metadata(table)["current-snapshot-id"]

        sid = materialize_deletes(spark, table)
        assert sid is not None
        got = {r["doc_id"] for r in read_table(spark, table).collect()}
        assert got == set(range(30)) - {5, 25}
        # deletes are gone from metadata; the two affected files rewritten,
        # the untouched one carried forward
        assert ice.snapshot_delete_files(table) == []
        files_after = {f.path for f in ice.snapshot_files(table)}
        assert len(files_before & files_after) == 1
        # the MoR snapshot still time-travels WITH its deletes applied
        assert {
            r["doc_id"] for r in read_table(spark, table, snapshot_id=mor_snap).collect()
        } == set(range(30)) - {5, 25}
        # nothing pending: no-op
        assert materialize_deletes(spark, table) is None

    def test_compaction_and_encode_refuse_pending_deletes(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import compact_files, delete_where_mor
        from parquet_to_arrow_spark.sources.io import (
            encode_parquet_dir,
            token_hashes_from_parquet,
        )

        table = self._table(spark, tmp_path)
        delete_where_mor(spark, table, "doc_id = 1")
        with pytest.raises(ValueError, match="position deletes"):
            compact_files(spark, table, target_bytes=1 << 20)
        with pytest.raises(ValueError, match="position deletes"):
            encode_parquet_dir(spark, table)
        # the verify hash side scans the same raw files: it refuses too
        # instead of hashing the deleted row back in
        with pytest.raises(ValueError, match="position deletes"):
            token_hashes_from_parquet(spark, table)

    def test_partitioned_mor_delete_with_pruning(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import delete_where_mor, read_table

        table = str(tmp_path / "ptable")
        df = spark.createDataFrame(
            [(i, "en" if i % 2 == 0 else "de", f"t{i}") for i in range(20)],
            "doc_id long, lang string, text string",
        )
        rows = [(r["doc_id"], r["lang"], r["text"]) for r in df.collect()]
        for lang in ("en", "de"):
            part = [t for t in rows if t[1] == lang]
            pdf = spark.createDataFrame(part, "doc_id long, lang string, text string")
            pdf.coalesce(1).write.mode("overwrite").partitionBy("lang").parquet(
                str(tmp_path / f"stage_{lang}")
            )
            ice.commit_parquet_dir(
                table, str(tmp_path / f"stage_{lang}"),
                spark_schema=pdf.schema,
                partition_by=["lang"] if ice.current_metadata(table) is None else None,
            )
        sid = delete_where_mor(
            spark, table, "doc_id < 4", partition_filter={"lang": "en"}
        )
        assert sid is not None
        got = {r["doc_id"] for r in read_table(spark, table).collect()}
        # only en rows in the pruned partition were considered: 0 and 2 go,
        # de rows 1 and 3 match the predicate but live outside the filter
        assert got == set(range(20)) - {0, 2}
        # partition literal column survives the anti-join
        langs = {
            (r["doc_id"], r["lang"]) for r in read_table(spark, table).collect()
        }
        assert all(lang == ("en" if i % 2 == 0 else "de") for i, lang in langs)

    def test_delete_files_are_not_orphans(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import delete_where_mor

        table = self._table(spark, tmp_path)
        delete_where_mor(spark, table, "doc_id = 7")
        assert ice.orphan_files(table) == []

    def test_untargeted_files_bypass_the_delete_join(self, spark, tmp_path):
        """The delete anti-join applies only to files inside the delete
        files' file_path stat ranges: a delete confined to one file must
        leave the others' scan nodes join-free (the 100 TB shape — a
        one-partition purge cannot drag the whole table through a join)."""
        from parquet_to_arrow_spark.sources.iceberg import delete_where_mor, read_table

        table = self._table(spark, tmp_path)
        delete_where_mor(spark, table, "doc_id = 7")  # one row, file 0 only
        dels = ice.snapshot_delete_files(table)
        ranges = ice._delete_target_ranges(dels)
        assert ranges is not None and len(ranges) == 1
        lo, hi = ranges[0]
        files = sorted(f.path for f in ice.snapshot_files(table))
        targeted = [p for p in files if lo <= p <= hi]
        assert len(targeted) == 1  # tight: exactly the file holding row 7
        # and the whole-table read stays correct through the split plan
        got = {r["doc_id"] for r in read_table(spark, table).collect()}
        assert got == set(range(30)) - {7}
        plan = read_table(spark, table)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("LeftAnti") == 1


class TestTruncateTemporalTransforms:
    """Iceberg truncate[W] and day/month/year partition transforms: spec
    value semantics (negative-safe truncate, epoch ordinals), manifest
    values, pruned scans, and CoW recomputation of derived fields."""

    def test_transform_value_spec_semantics(self):
        import datetime

        # spec examples: truncate[10] of -1 -> -10; string prefix
        assert ice.truncate_of(-1, "long", 10) == -10
        assert ice.truncate_of(22, "int", 10) == 20
        assert ice.truncate_of(0, "long", 10) == 0
        assert ice.truncate_of("iceberg", "string", 3) == "ice"
        assert ice.truncate_of(None, "string", 3) is None
        d = datetime.date(2017, 11, 16)  # Appendix B's day ordinal 17486
        assert ice.temporal_of(d, "day") == 17486
        assert ice.temporal_of(d, "month") == (2017 - 1970) * 12 + 10
        assert ice.temporal_of(d, "year") == 47
        assert ice.temporal_of(datetime.datetime(2017, 11, 16, 23, 59), "day") == 17486

    def test_spark_transforms_match_reference(self, spark):
        import datetime

        from parquet_to_arrow_spark.sources.iceberg import with_transform_column

        rows = [
            (i * 7 - 50, f"doc-{i:04d}", datetime.datetime(2017, 1 + i % 12, 1 + i % 28))
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "k long, s string, ts timestamp")
        df = with_transform_column(
            df, {"transform": "truncate", "source": "k", "source_type": "long", "n": 10}, "k_trunc"
        )
        df = with_transform_column(
            df, {"transform": "truncate", "source": "s", "source_type": "string", "n": 5}, "s_trunc"
        )
        for unit in ("day", "month", "year"):
            df = with_transform_column(
                df, {"transform": unit, "source": "ts"}, f"ts_{unit}"
            )
        for r in df.collect():
            assert r["k_trunc"] == ice.truncate_of(r["k"], "long", 10)
            assert r["s_trunc"] == ice.truncate_of(r["s"], "string", 5)
            for unit in ("day", "month", "year"):
                assert r[f"ts_{unit}"] == ice.temporal_of(r["ts"], unit), (r, unit)

    def _ttable(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import with_transform_column

        df = spark.createDataFrame(
            [(i, f"t{i}") for i in range(-20, 20)], "doc_id long, text string"
        )
        d = str(tmp_path / "w0")
        with_transform_column(
            df, {"transform": "truncate", "source": "doc_id", "source_type": "long", "n": 10}, "doc_id_trunc"
        ).write.partitionBy("doc_id_trunc").parquet(d)
        table = str(tmp_path / "ttable")
        ice.commit_parquet_dir(
            table, d, spark_schema=df.schema, ts_ms=1,
            partition_by=["doc_id:truncate[10]"],
        )
        return table, df

    def test_truncate_table_spec_and_pruned_scan(self, spark, tmp_path):
        table, _ = self._ttable(spark, tmp_path)
        meta = ice.current_metadata(table)
        assert meta["partition-specs"][0]["fields"] == [
            {"name": "doc_id_trunc", "transform": "truncate[10]",
             "source-id": 1, "field-id": 1000}
        ]
        # typed manifest values, each the spec transform of the file's keys
        import pyarrow.parquet as pq

        for f in ice.snapshot_files(table):
            t = f.partition["doc_id_trunc"]
            ids = pq.read_table(f.path, columns=["doc_id"])["doc_id"].to_pylist()
            assert {ice.truncate_of(i, "long", 10) for i in ids} == {t}
        pruned = ice.snapshot_files(table, partition_filter={"doc_id_trunc": -20})
        assert 0 < len(pruned) < len(ice.snapshot_files(table))
        got = ice.read_snapshot(spark, table, partition_filter={"doc_id_trunc": -20})
        assert {r["doc_id"] for r in got.collect()} == set(range(-20, -10))

    def test_cow_delete_recomputes_truncate_values(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, delete_where, read_table

        table, _ = self._ttable(spark, tmp_path)
        # append without the derived column: recomputed automatically
        append(spark.createDataFrame([(105, "new")], "doc_id long, text string"), table)
        assert ice.snapshot_files(table, partition_filter={"doc_id_trunc": 100})
        sid = delete_where(spark, table, "doc_id = -15")
        assert sid is not None
        ids = {r["doc_id"] for r in read_table(spark, table).collect()}
        assert ids == (set(range(-20, 20)) | {105}) - {-15}
        for f in ice.snapshot_files(table):
            assert set(f.partition) == {"doc_id_trunc"}

    def test_day_partitioned_timestamps(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import with_transform_column

        df = spark.sql(
            "SELECT id AS doc_id, "
            "timestamp'2017-11-16 00:00:00' + make_interval(0,0,0,CAST(id AS INT),0,0,0) AS ts "
            "FROM range(6)"
        )
        d = str(tmp_path / "w0")
        with_transform_column(
            df, {"transform": "day", "source": "ts"}, "ts_day"
        ).write.partitionBy("ts_day").parquet(d)
        table = str(tmp_path / "dtable")
        ice.commit_parquet_dir(
            table, d, spark_schema=df.schema, ts_ms=1, partition_by=["ts:day"]
        )
        spec = ice._partition_specs(ice.current_metadata(table))[0]
        assert spec["transform"] == "day" and spec["value_type"] == "date"
        days = {f.partition["ts_day"] for f in ice.snapshot_files(table)}
        assert days == set(range(17486, 17492))
        pruned = ice.snapshot_files(table, partition_filter={"ts_day": 17489})
        assert len(pruned) == 1
        got = ice.read_snapshot(spark, table, partition_filter={"ts_day": 17489})
        assert [r["doc_id"] for r in got.collect()] == [3]
        # timestamps live in the data files untouched
        assert got.columns == ["doc_id", "ts"]


class TestEqualityDeletes:
    """Iceberg v2 equality deletes (content=2): key-set MoR removal that
    never opens a data file, gated by commit sequence so later re-appends
    of a deleted key survive."""

    def _table(self, spark, tmp_path, n_files=3, rows=10):
        from parquet_to_arrow_spark.sources.iceberg import append

        table = str(tmp_path / "table")
        for i in range(n_files):
            append(
                spark.createDataFrame(
                    [(i * rows + j, f"t{i}-{j}") for j in range(rows)],
                    "doc_id long, text string",
                ).coalesce(1),
                table,
            )
        return table

    def test_eq_delete_is_metadata_plus_keys_only(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import delete_keys_mor, read_table

        table = self._table(spark, tmp_path)
        before = ice.current_metadata(table)["current-snapshot-id"]
        files_before = {f.path for f in ice.snapshot_files(table)}

        keys = spark.createDataFrame([(5,), (25,)], "doc_id long")
        sid = delete_keys_mor(spark, table, keys, "doc_id")
        assert sid is not None
        got = {r["doc_id"] for r in read_table(spark, table).collect()}
        assert got == set(range(30)) - {5, 25}
        # no data file touched, no data file even referenced by the delete
        assert {f.path for f in ice.snapshot_files(table)} == files_before
        dels = ice.snapshot_delete_files(table)
        assert len(dels) == 1 and dels[0].content == 2
        assert dels[0].equality_ids == [1]  # doc_id is field id 1
        snap = ice.snapshots(table)[-1]
        assert snap["summary"]["operation"] == "delete"
        assert snap["summary"]["operation-detail"] == "delete-keys-mor:doc_id"
        assert read_table(spark, table, snapshot_id=before).count() == 30
        # empty key set: no-op
        assert (
            delete_keys_mor(
                spark, table, spark.createDataFrame([], "doc_id long"), "doc_id"
            )
            is None
        )

    def test_later_append_of_deleted_key_survives(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import (
            append,
            delete_keys_mor,
            read_table,
        )

        table = self._table(spark, tmp_path, n_files=2)
        delete_keys_mor(
            spark, table, spark.createDataFrame([(0,)], "doc_id long"), "doc_id"
        )
        assert 0 not in {r["doc_id"] for r in read_table(spark, table).collect()}
        # the spec's row-delta ordering: a row appended AFTER the equality
        # delete commit carries a higher sequence and must survive it
        append(
            spark.createDataFrame([(0, "reborn")], "doc_id long, text string"), table
        )
        got = {r["doc_id"]: r["text"] for r in read_table(spark, table).collect()}
        assert got[0] == "reborn"
        assert len(got) == 20

    def test_materialize_folds_equality_deletes(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import (
            append,
            delete_keys_mor,
            materialize_deletes,
            read_table,
        )

        table = self._table(spark, tmp_path)
        delete_keys_mor(
            spark, table, spark.createDataFrame([(5,), (25,)], "doc_id long"), "doc_id"
        )
        # a post-delete append must pass through materialization untouched
        append(
            spark.createDataFrame([(100, "new")], "doc_id long, text string"), table
        )
        sid = materialize_deletes(spark, table)
        assert sid is not None
        assert ice.snapshot_delete_files(table) == []
        got = {r["doc_id"] for r in read_table(spark, table).collect()}
        assert got == (set(range(30)) | {100}) - {5, 25}
        # second read path: no deletes pending, plain scan gives the same
        assert read_table(spark, table).count() == 29

    def test_mixed_position_and_equality_deletes(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import (
            delete_keys_mor,
            delete_where_mor,
            materialize_deletes,
            read_table,
        )

        table = self._table(spark, tmp_path)
        delete_where_mor(spark, table, "doc_id = 3")
        delete_keys_mor(
            spark, table, spark.createDataFrame([(17,)], "doc_id long"), "doc_id"
        )
        dels = ice.snapshot_delete_files(table)
        assert sorted(f.content for f in dels) == [1, 2]
        got = {r["doc_id"] for r in read_table(spark, table).collect()}
        assert got == set(range(30)) - {3, 17}
        sid = materialize_deletes(spark, table)
        assert sid is not None
        assert ice.snapshot_delete_files(table) == []
        assert {r["doc_id"] for r in read_table(spark, table).collect()} == got


class TestMorUpsert:
    def test_upsert_is_one_snapshot_and_touches_no_data_file(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import (
            append,
            read_table,
            upsert_keys_mor,
        )

        table = str(tmp_path / "table")
        append(
            spark.createDataFrame(
                [(1, "old-a"), (2, "old-b")], "doc_id long, text string"
            ).coalesce(1),
            table,
        )
        append(
            spark.createDataFrame([(3, "old-c")], "doc_id long, text string"), table
        )
        before = ice.current_metadata(table)["current-snapshot-id"]
        files_before = {f.path for f in ice.snapshot_files(table)}
        n_snaps = len(ice.snapshots(table))

        updates = spark.createDataFrame(
            [(2, "NEW-b"), (4, "NEW-d")], "doc_id long, text string"
        )
        sid = upsert_keys_mor(spark, table, updates, "doc_id")
        assert sid is not None
        assert len(ice.snapshots(table)) == n_snaps + 1  # ONE snapshot
        got = {r["doc_id"]: r["text"] for r in read_table(spark, table).collect()}
        assert got == {1: "old-a", 2: "NEW-b", 3: "old-c", 4: "NEW-d"}
        # prior data files all carried forward untouched (plus the new one)
        files_after = {f.path for f in ice.snapshot_files(table)}
        assert files_before < files_after
        snap = ice.snapshots(table)[-1]
        assert snap["summary"]["operation"] == "overwrite"  # row-delta commit
        assert snap["summary"]["operation-detail"] == "upsert-keys-mor:doc_id"
        # time travel shows the pre-upsert rows
        old = {
            r["doc_id"]: r["text"]
            for r in read_table(spark, table, snapshot_id=before).collect()
        }
        assert old == {1: "old-a", 2: "old-b", 3: "old-c"}
        # a second upsert of the SAME key wins again (sequence ordering)
        upsert_keys_mor(
            spark,
            table,
            spark.createDataFrame([(2, "NEWER-b")], "doc_id long, text string"),
            "doc_id",
        )
        got2 = {r["doc_id"]: r["text"] for r in read_table(spark, table).collect()}
        assert got2[2] == "NEWER-b" and len(got2) == 4

    def test_upsert_on_missing_table_is_first_append(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import read_table, upsert_keys_mor

        table = str(tmp_path / "table")
        upsert_keys_mor(
            spark,
            table,
            spark.createDataFrame([(1, "a")], "doc_id long, text string"),
            "doc_id",
        )
        assert {r["doc_id"] for r in read_table(spark, table).collect()} == {1}
        assert ice.snapshot_delete_files(table) == []


class TestSnapshotRefs:
    """Named snapshot references (spec 'Snapshot References'): tags pin
    snapshots under stable names for by-name time travel AND against
    expiry; 'main' moves with commits; branches are movable heads."""

    def _t3(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append

        table = str(tmp_path / "table")
        for i in range(3):
            append(
                spark.createDataFrame(
                    [(i, f"v{i}")], "doc_id long, text string"
                ),
                table,
            )
        return table

    def test_tag_read_and_commit_preservation(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, read_table

        table = self._t3(spark, tmp_path)
        first = ice.snapshots(table)[0]["snapshot-id"]
        ice.set_ref(table, "golden-v0", first)
        # read by NAME resolves to the pinned snapshot
        assert {r["doc_id"] for r in read_table(spark, table, snapshot_id="golden-v0").collect()} == {0}
        # a later commit moves main but keeps the tag
        append(spark.createDataFrame([(9, "v9")], "doc_id long, text string"), table)
        refs = ice.current_metadata(table)["refs"]
        assert refs["golden-v0"] == {"snapshot-id": first, "type": "tag"}
        assert refs["main"]["snapshot-id"] == ice.snapshots(table)[-1]["snapshot-id"]
        assert read_table(spark, table, snapshot_id="golden-v0").count() == 1
        with pytest.raises(ValueError, match="no ref named"):
            ice.snapshot_files(table, "nope")
        with pytest.raises(ValueError):
            ice.set_ref(table, "main", first)

    def test_tag_pins_snapshot_against_expiry(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import read_table

        table = self._t3(spark, tmp_path)
        first = ice.snapshots(table)[0]["snapshot-id"]
        ice.set_ref(table, "audit", first)
        rep = ice.expire_snapshots(table, keep_last=1)
        # the tagged first snapshot survived; the untagged middle expired
        kept = {s["snapshot-id"] for s in ice.snapshots(table)}
        assert first in kept and len(kept) == 2
        assert len(rep["expired_snapshot_ids"]) == 1
        assert read_table(spark, table, snapshot_id="audit").count() == 1
        # dropping the ref makes it expirable again
        ice.remove_ref(table, "audit")
        ice.expire_snapshots(table, keep_last=1)
        assert first not in {s["snapshot-id"] for s in ice.snapshots(table)}


class TestRewriteManifests:
    def test_consolidates_without_changing_data(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, read_table

        table = str(tmp_path / "table")
        for i in range(5):
            append(
                spark.createDataFrame(
                    [(i * 10 + j, f"t{i}-{j}") for j in range(10)],
                    "doc_id long, text string",
                ).coalesce(1),
                table,
            )
        before = ice.current_metadata(table)["current-snapshot-id"]
        files_before = {f.path for f in ice.snapshot_files(table)}
        seqs_before = {f.path: f.sequence for f in ice.snapshot_files(table)}

        sid = ice.rewrite_manifests(table)
        assert sid is not None
        snap = ice.snapshots(table)[-1]
        assert snap["summary"]["operation"] == "replace"
        # ONE data manifest now; same files, ORIGINAL sequences preserved
        _, mfs = __import__(
            "parquet_to_arrow_spark.sources.avro_io", fromlist=["read_container"]
        ).read_container(open(snap["manifest-list"], "rb").read())
        assert len(mfs) == 1 and mfs[0]["existing_files_count"] == 5
        assert {f.path for f in ice.snapshot_files(table)} == files_before
        assert {f.path: f.sequence for f in ice.snapshot_files(table)} == seqs_before
        assert {r["doc_id"] for r in read_table(spark, table).collect()} == set(range(50))
        # history intact; second call is a no-op
        assert len(ice.snapshot_files(table, snapshot_id=before)) == 5
        assert ice.rewrite_manifests(table) is None
        # expiry can now reclaim the superseded manifests
        rep = ice.expire_snapshots(table, keep_last=1)
        assert len(rep["removable_files"]) >= 5

    def test_preserves_equality_delete_gating(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import (
            append,
            delete_keys_mor,
            read_table,
        )

        table = str(tmp_path / "table")
        append(spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string"), table)
        delete_keys_mor(spark, table, spark.createDataFrame([(1,)], "doc_id long"), "doc_id")
        # re-append key 1 AFTER the delete: must survive, also after rewrite
        append(spark.createDataFrame([(1, "reborn")], "doc_id long, text string"), table)
        want = {r["doc_id"]: r["text"] for r in read_table(spark, table).collect()}
        assert want == {1: "reborn", 2: "b"}
        sid = ice.rewrite_manifests(table)
        assert sid is not None
        got = {r["doc_id"]: r["text"] for r in read_table(spark, table).collect()}
        assert got == want  # original sequences kept -> delete gate unchanged
        assert len(ice.snapshot_delete_files(table)) == 1


class TestEqMaterializeNarrowing:
    def test_one_key_purge_rewrites_one_file(self, spark, tmp_path):
        """Equality-delete materialization must use the manifest key bounds:
        a delete key living only in file 0's range leaves files 1 and 2
        carried forward by identity."""
        from parquet_to_arrow_spark.sources.iceberg import (
            append,
            delete_keys_mor,
            materialize_deletes,
            read_table,
        )

        table = str(tmp_path / "table")
        for i in range(3):  # disjoint doc_id ranges: [0,10) [10,20) [20,30)
            append(
                spark.createDataFrame(
                    [(i * 10 + j, f"t{i}-{j}") for j in range(10)],
                    "doc_id long, text string",
                ).coalesce(1),
                table,
            )
        files_before = {f.path for f in ice.snapshot_files(table)}
        delete_keys_mor(
            spark, table, spark.createDataFrame([(5,)], "doc_id long"), "doc_id"
        )
        sid = materialize_deletes(spark, table)
        assert sid is not None
        files_after = {f.path for f in ice.snapshot_files(table)}
        # exactly ONE original file was rewritten
        assert len(files_before & files_after) == 2
        assert ice.snapshot_delete_files(table) == []
        assert {r["doc_id"] for r in read_table(spark, table).collect()} == (
            set(range(30)) - {5}
        )


class TestDerivedPartitionEncode:
    def test_bucket_partitioned_table_fast_path_encodes(self, spark, tmp_path):
        """Derived-transform partitioning (bucket/truncate/day) keeps every
        table column physically in the data files — the Arrow file-split
        fast path must accept such tables (only IDENTITY strips columns)
        and the decode must be bit-identical."""
        from parquet_to_arrow_spark.encode import decode_chunks_df
        from parquet_to_arrow_spark.sources.iceberg import with_bucket_column
        from parquet_to_arrow_spark.sources.io import encode_parquet_dir
        from parquet_to_arrow_spark.sources.synth import synth_tokens_df
        from parquet_to_arrow_spark.verify import diff_report

        tokens = synth_tokens_df(spark, 500).cache()
        d = str(tmp_path / "w")
        with_bucket_column(tokens, "doc_id", 4).write.partitionBy(
            "doc_id_bucket"
        ).parquet(d)
        table = str(tmp_path / "table")
        ice.commit_parquet_dir(
            table, d, spark_schema=tokens.schema, ts_ms=1,
            partition_by=["doc_id:bucket[4]"],
        )
        dec = decode_chunks_df(encode_parquet_dir(spark, table))
        rep = diff_report(tokens, dec)
        assert rep["equal"] and rep["ok"] == 500, rep
        tokens.unpersist()


class TestIncrementalAcrossMaintenance:
    def test_added_files_passes_through_rewrite_manifests(self, spark, tmp_path):
        """A manifest-maintenance 'replace' snapshot in the incremental
        range must NOT force a consumer rebase — file paths are identical,
        so the path diff stays exact; only the truly new append shows up."""
        from parquet_to_arrow_spark.sources.iceberg import append

        table = str(tmp_path / "table")
        mk = lambda r: spark.createDataFrame([r], "doc_id long, text string").coalesce(1)  # noqa: E731
        append(mk((1, "a")), table)
        append(mk((2, "b")), table)
        cursor = ice.current_metadata(table)["current-snapshot-id"]
        assert ice.rewrite_manifests(table) is not None
        append(mk((3, "c")), table)
        got = ice.added_files(table, cursor)
        assert len(got) == 1
        import pyarrow.parquet as pq

        assert pq.read_table(got[0].path)["doc_id"].to_pylist() == [3]


class TestBloomIndex:
    """Per-file Bloom sidecar: point lookups on hash-distributed keys prune
    to ~1 file where min/max bounds prune nothing."""

    def _table(self, spark, tmp_path, n_files=8, rows_per=200):
        from parquet_to_arrow_spark.sources.iceberg import append

        table = str(tmp_path / "btable")
        # doc ids deliberately hash-distributed across appends: every
        # file's lexicographic [lo, hi] spans ~the whole key space
        for k in range(n_files):
            ids = [f"doc-{(i * n_files + k) * 2654435761 % 10**9:09d}"
                   for i in range(rows_per)]
            append(
                spark.createDataFrame(
                    [(d, len(d)) for d in ids], "doc_id string, n long"
                ).coalesce(1),
                table,
            )
        return table

    def test_point_lookup_prunes_and_is_exact(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources import bloom_index as bi

        table = self._table(spark, tmp_path)
        out = bi.build_bloom_index(spark, table, "doc_id")
        assert out.endswith("bloom-doc_id.parquet")
        # a key that exists (from file k=3)
        key = f"doc-{(5 * 8 + 3) * 2654435761 % 10**9:09d}"
        cands = bi.bloom_candidate_files(table, "doc_id", key)
        assert len(cands) <= 2  # 1 true file + rare false positives
        got = bi.point_lookup(spark, table, "doc_id", key).collect()
        assert [r["doc_id"] for r in got] == [key]
        # a key that does not exist: near-zero candidates, empty exact read
        missing = bi.bloom_candidate_files(table, "doc_id", "doc-nope")
        assert len(missing) <= 1
        assert bi.point_lookup(spark, table, "doc_id", "doc-nope").count() == 0

    def test_post_index_appends_stay_conservative(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources import bloom_index as bi
        from parquet_to_arrow_spark.sources.iceberg import append

        table = self._table(spark, tmp_path, n_files=4)
        bi.build_bloom_index(spark, table, "doc_id")
        append(
            spark.createDataFrame([("late-doc", 8)], "doc_id string, n long")
            .coalesce(1),
            table,
        )
        # the unindexed new file is always a candidate -> the row is found
        cands = bi.bloom_candidate_files(table, "doc_id", "late-doc")
        assert len(cands) >= 1
        got = bi.point_lookup(spark, table, "doc_id", "late-doc").collect()
        assert [r["doc_id"] for r in got] == ["late-doc"]

    def test_no_index_falls_back_to_full_scan(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources import bloom_index as bi

        table = self._table(spark, tmp_path, n_files=2)
        assert bi.bloom_candidate_files(table, "doc_id", "x") is None
        key = f"doc-{(0 * 2 + 0) * 2654435761 % 10**9:09d}"
        assert bi.point_lookup(spark, table, "doc_id", key).count() == 1

    def test_cli_lookup_reports_candidates(self, spark, tmp_path, capsys):
        import sys

        from parquet_to_arrow_spark.sources import bloom_index as bi

        sys.path.insert(0, "tools")
        import iceberg_cli

        table = self._table(spark, tmp_path, n_files=4)
        # unindexed: every file is a candidate
        assert iceberg_cli.main(
            ["lookup", table, "--column", "doc_id", "--value", "x"]
        ) == 0
        out = json.loads(capsys.readouterr().out)
        assert not out["indexed"] and out["n_candidates"] == out["n_files"] == 4
        bi.build_bloom_index(spark, table, "doc_id")
        key = f"doc-{(7 * 4 + 2) * 2654435761 % 10**9:09d}"
        assert iceberg_cli.main(
            ["lookup", table, "--column", "doc_id", "--value", key]
        ) == 0
        out = json.loads(capsys.readouterr().out)
        assert out["indexed"] and 1 <= out["n_candidates"] <= 2

    def test_bloom_roundtrip_and_fpp(self):
        from parquet_to_arrow_spark.sources.bloom_index import Bloom

        keys = [f"k{i}" for i in range(5000)]
        b = Bloom.build(keys, fpp=0.01)
        b2 = Bloom.from_bytes(b.m_bits, b.k, b.to_bytes())
        assert all(b2.might_contain(k) for k in keys)  # zero false negatives
        fp = sum(b2.might_contain(f"absent{i}") for i in range(5000))
        assert fp < 150  # ~1% target, generous 3x headroom


class TestChangelog:
    """read_changelog: row-level CDC consumption — inserts from appends,
    full pre-image deletes from position deletes, key-only deletes from
    equality deletes; rewrites force a rebase."""

    def test_appends_emit_ordered_inserts(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append

        table = str(tmp_path / "t")
        s1 = append(
            spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
            .coalesce(1), table)
        s2 = append(
            spark.createDataFrame([(3, "c")], "k long, v string").coalesce(1),
            table)
        rows = ice.read_changelog(spark, table).collect()
        assert {(r["k"], r["_change_op"], r["_snapshot_id"], r["_change_ordinal"])
                for r in rows} == {
            (1, "insert", s1, 0), (2, "insert", s1, 0), (3, "insert", s2, 1)}
        # since= bounds the range
        inc = ice.read_changelog(spark, table, since_snapshot_id=s1).collect()
        assert [(r["k"], r["_change_ordinal"]) for r in inc] == [(3, 0)]

    def test_position_deletes_emit_full_preimage(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, delete_where_mor

        table = str(tmp_path / "t")
        s1 = append(
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(6)], "k long, v string"
            ).coalesce(1), table)
        delete_where_mor(spark, table, "k >= 4")
        rows = ice.read_changelog(spark, table, since_snapshot_id=s1).collect()
        assert {(r["k"], r["v"], r["_change_op"]) for r in rows} == {
            (4, "v4", "delete"), (5, "v5", "delete")}

    def test_upsert_emits_delete_key_then_insert(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, upsert_keys_mor

        table = str(tmp_path / "t")
        s1 = append(
            spark.createDataFrame([(1, "old"), (2, "keep")], "k long, v string")
            .coalesce(1), table)
        upsert_keys_mor(
            spark, table,
            spark.createDataFrame([(1, "new")], "k long, v string"), "k")
        rows = ice.read_changelog(spark, table, since_snapshot_id=s1).collect()
        got = {(r["k"], r["v"], r["_change_op"]) for r in rows}
        assert got == {(1, None, "delete_key"), (1, "new", "insert")}
        assert len({r["_change_ordinal"] for r in rows}) == 1  # one snapshot

    def test_rewrite_in_range_requires_rebase(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, compact_files

        table = str(tmp_path / "t")
        for i in range(3):
            append(spark.createDataFrame([(i, "x")], "k long, v string")
                   .coalesce(1), table)
        compact_files(spark, table, target_bytes=1 << 20)
        with pytest.raises(ValueError, match="rebase"):
            ice.read_changelog(spark, table)

    def test_replay_reproduces_table_state(self, spark, tmp_path):
        """Folding the changelog in ordinal order (deletes before inserts
        within a snapshot) over an empty state reproduces the live table —
        the property a downstream CDC consumer relies on."""
        from parquet_to_arrow_spark.sources.iceberg import (
            append, read_table, upsert_keys_mor)

        table = str(tmp_path / "t")
        append(spark.createDataFrame(
            [(i, f"v{i}") for i in range(5)], "k long, v string").coalesce(1),
            table)
        upsert_keys_mor(spark, table, spark.createDataFrame(
            [(2, "u2"), (7, "v7")], "k long, v string"), "k")
        upsert_keys_mor(spark, table, spark.createDataFrame(
            [(2, "u2b")], "k long, v string"), "k")
        rows = ice.read_changelog(spark, table).collect()
        state: dict = {}
        for ordinal in sorted({r["_change_ordinal"] for r in rows}):
            batch = [r for r in rows if r["_change_ordinal"] == ordinal]
            for r in batch:
                if r["_change_op"] in ("delete", "delete_key"):
                    state.pop(r["k"], None)
            for r in batch:
                if r["_change_op"] == "insert":
                    state[r["k"]] = r["v"]
        live = {(r["k"], r["v"]) for r in read_table(spark, table).collect()}
        assert set(state.items()) == live and (2, "u2b") in live


class TestMetadataTables:
    def test_metadata_tables_are_queryable(self, spark, tmp_path, capsys):
        from parquet_to_arrow_spark.sources.iceberg import (
            append, delete_keys_mor)

        table = str(tmp_path / "t")
        s1 = append(
            spark.createDataFrame(
                [(i, f"v{i}", ["a", "b"][i % 2]) for i in range(10)],
                "k long, v string, g string",
            ).repartition(2), table)
        s2 = append(
            spark.createDataFrame([(10, "x", "a")], "k long, v string, g string")
            .coalesce(1), table)
        delete_keys_mor(
            spark, table, spark.createDataFrame([(3,)], "k long"), "k"
        )
        ice.set_ref(table, "audit", s1)

        snaps = ice.metadata_table(spark, table, "snapshots")
        assert snaps.count() == 3
        assert snaps.filter("operation = 'delete'").count() == 1
        hist = ice.metadata_table(spark, table, "history").collect()
        assert sum(r["is_current"] for r in hist) == 1
        files = ice.metadata_table(spark, table, "files")
        assert files.count() == 3  # 2 + 1 data files
        dels = ice.metadata_table(spark, table, "delete_files")
        assert dels.count() == 1 and dels.first()["content"] == 2
        refs = {r["name"]: r["snapshot_id"]
                for r in ice.metadata_table(spark, table, "refs").collect()}
        assert refs["audit"] == s1 and "main" in refs
        mans = ice.metadata_table(spark, table, "manifests")
        assert mans.filter("content = 1").count() == 1  # the delete manifest
        # the CLI mirrors of the same walks
        import sys

        sys.path.insert(0, "tools")
        import iceberg_cli

        for cmd, check in (
            ("refs", lambda o: o["audit"]["snapshot_id"] == s1),
            ("partitions", lambda o: sum(
                g["record_count"] for g in o.values()) == 11),
            ("manifests", lambda o: sum(
                m["content"] == 1 for m in o) == 1),
        ):
            assert iceberg_cli.main([cmd, table]) == 0
            import json as _json

            assert check(_json.loads(capsys.readouterr().out)), cmd
        # plain SQL over the metadata frame
        files.createOrReplaceTempView("tfiles")
        assert spark.sql(
            "SELECT sum(record_count) FROM tfiles WHERE content = 0"
        ).first()[0] == 11

    def test_partitions_metadata_table_groups_by_partition(self, spark, tmp_path):
        docs = spark.createDataFrame(
            [(i, f"t{i}", ["web", "books"][i % 2]) for i in range(20)],
            "doc_id long, text string, source string")
        d = str(tmp_path / "w")
        docs.coalesce(1).write.partitionBy("source").parquet(d)
        table = str(tmp_path / "pt")
        ice.commit_parquet_dir(
            table, d, spark_schema=docs.schema, ts_ms=1, partition_by=["source"])
        parts = {r["partition"]: r["record_count"]
                 for r in ice.metadata_table(spark, table, "partitions").collect()}
        assert len(parts) == 2 and sum(parts.values()) == 20


class TestWriteAuditPublish:
    def test_wap_cycle_hides_then_publishes(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, read_table

        table = str(tmp_path / "t")
        append(spark.createDataFrame([(1, "a")], "k long, v string")
               .coalesce(1), table)
        sid = append(spark.createDataFrame([(2, "b")], "k long, v string")
                     .coalesce(1), table)
        staged = ice.stage_snapshot(table, "audit", expect_sid=sid)
        assert staged == sid
        # main readers see the pre-stage state; auditors read the branch
        assert {r["k"] for r in read_table(spark, table).collect()} == {1}
        audit = ice.read_snapshot(spark, table, "audit")
        assert {r["k"] for r in audit.collect()} == {1, 2}
        # expiry cannot reap the staged snapshot (branch ref pins it)
        ice.expire_snapshots(table, keep_last=1)
        assert {r["k"] for r in ice.read_snapshot(spark, table, "audit")
                .collect()} == {1, 2}
        pub = ice.publish_branch(table, "audit")
        assert pub == sid
        assert {r["k"] for r in read_table(spark, table).collect()} == {1, 2}
        refs = ice.current_metadata(table)["refs"]
        assert "audit" not in refs and refs["main"]["snapshot-id"] == sid

    def test_stage_detects_concurrent_commit(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append

        table = str(tmp_path / "t")
        sid = append(spark.createDataFrame([(1, "a")], "k long, v string")
                     .coalesce(1), table)
        append(spark.createDataFrame([(2, "b")], "k long, v string")
               .coalesce(1), table)  # someone else's commit
        with pytest.raises(ice.CommitConflict):
            ice.stage_snapshot(table, "audit", expect_sid=sid)

    def test_stage_first_snapshot_empties_main(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, read_table

        table = str(tmp_path / "t")
        sid = append(spark.createDataFrame([(1, "a")], "k long, v string")
                     .coalesce(1), table)
        ice.stage_snapshot(table, "wip", expect_sid=sid)
        assert read_table(spark, table).count() == 0  # empty table state
        assert ice.publish_branch(table, "wip") == sid
        assert read_table(spark, table).count() == 1


class TestReviewRound4:
    """Regressions from the round-4 session review."""

    def test_publish_rejects_moved_main(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append

        table = str(tmp_path / "t")
        append(spark.createDataFrame([(1, "a")], "k long, v string")
               .coalesce(1), table)
        sid = append(spark.createDataFrame([(2, "b")], "k long, v string")
                     .coalesce(1), table)
        ice.stage_snapshot(table, "audit", expect_sid=sid)
        # a commit lands while the audit runs
        append(spark.createDataFrame([(3, "c")], "k long, v string")
               .coalesce(1), table)
        with pytest.raises(ice.CommitConflict, match="rebase"):
            ice.publish_branch(table, "audit")

    def test_stage_rejects_main_branch(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append

        table = str(tmp_path / "t")
        sid = append(spark.createDataFrame([(1, "a")], "k long, v string")
                     .coalesce(1), table)
        with pytest.raises(ValueError, match="main"):
            ice.stage_snapshot(table, "main", expect_sid=sid)

    def test_compact_rejects_both_policies_up_front(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, compact_files

        table = str(tmp_path / "t")
        append(spark.createDataFrame([(1, 2)], "x long, y long").coalesce(1),
               table)  # single file: no eligible group, but still rejected
        with pytest.raises(ValueError, match="not both"):
            compact_files(spark, table, target_bytes=1, sort_by="x",
                          zorder=["x", "y"])

    def test_zvalue_bits_capped_for_many_columns(self, spark):
        from parquet_to_arrow_spark.sources.iceberg import _zvalue_expr

        cols = ["a", "b", "c", "d", "e"]
        bounds = {c: (0.0, 1000.0) for c in cols}
        df = spark.createDataFrame(
            [tuple(float(i * j) for j in range(1, 6)) for i in range(100)],
            "a double, b double, c double, d double, e double",
        ).withColumn("z", _zvalue_expr(cols, bounds))
        rows = df.collect()
        # 5 cols x 12 bits = 60 positions: every z fits a positive long
        # and the ordering is non-degenerate
        assert all(0 <= r["z"] < (1 << 63) for r in rows)
        assert len({r["z"] for r in rows}) > 50

    def test_cli_lookup_string_column_keeps_leading_zeros(
        self, spark, tmp_path, capsys
    ):
        import sys

        from parquet_to_arrow_spark.sources import bloom_index as bi
        from parquet_to_arrow_spark.sources.iceberg import append

        sys.path.insert(0, "tools")
        import iceberg_cli

        table = str(tmp_path / "t")
        append(spark.createDataFrame([("0042", 1)], "doc_id string, n long")
               .coalesce(1), table)
        bi.build_bloom_index(spark, table, "doc_id")
        assert iceberg_cli.main(
            ["lookup", table, "--column", "doc_id", "--value", "0042"]
        ) == 0
        out = json.loads(capsys.readouterr().out)
        assert out["n_candidates"] == 1  # '0042' must not hash as 42


class TestBloomIncremental:
    def test_update_builds_only_missing_files(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources import bloom_index as bi
        from parquet_to_arrow_spark.sources.iceberg import append

        table = str(tmp_path / "t")
        for k in range(3):
            append(
                spark.createDataFrame([(f"doc-{k}-{i}", i) for i in range(50)],
                                      "doc_id string, n long").coalesce(1),
                table)
        _, built = bi.update_bloom_index(spark, table, "doc_id")
        assert built == 3  # no index yet: full build
        _, built = bi.update_bloom_index(spark, table, "doc_id")
        assert built == 0  # nothing new: no tasks
        append(spark.createDataFrame([("late-1", 1)], "doc_id string, n long")
               .coalesce(1), table)
        _, built = bi.update_bloom_index(spark, table, "doc_id")
        assert built == 1  # only the new file
        # pruning now covers the late file too
        cands = bi.bloom_candidate_files(table, "doc_id", "late-1")
        assert len(cands) == 1
        assert bi.point_lookup(spark, table, "doc_id", "late-1").count() == 1
        # old keys still found
        assert bi.point_lookup(spark, table, "doc_id", "doc-2-7").count() == 1


class TestZorderTemporal:
    def test_zorder_on_timestamp_and_value(self, spark, tmp_path):
        """Z-order over (timestamp, long) — the time-series clustering
        key: temporal columns normalize through their epoch ordinals, and
        range filters prune files on EITHER dimension."""
        import datetime

        from pyspark.sql import functions as F

        from parquet_to_arrow_spark.sources.iceberg import append, compact_files, read_table

        table = str(tmp_path / "t")
        base = datetime.datetime(2024, 1, 1)
        df = spark.range(4096).select(
            F.col("id"),
            (F.lit(base) + F.make_interval(mins=(F.col("id") % 64) * 60)
             ).alias("ts"),
            ((F.col("id") * 2654435761) % 4096).alias("v"),
        )
        for k in range(8):
            append(df.filter(F.col("id") % 8 == k).coalesce(1), table)
        sizes = [f.file_size for f in ice.snapshot_files(table)]
        sid = compact_files(spark, table, target_bytes=max(sizes) + 1,
                            zorder=["ts", "v"])
        assert sid is not None
        n = len(ice.snapshot_files(table))
        assert n >= 4
        hit_ts = len(ice.snapshot_files(table, range_filter={
            "ts": (base, base + datetime.timedelta(hours=7))}))
        hit_v = len(ice.snapshot_files(table, range_filter={"v": (0, 511)}))
        assert hit_ts < n and hit_v < n
        assert read_table(spark, table).count() == 4096


class TestBloomDrift:
    def test_update_rebuilds_drifted_loose_filters(self, spark, tmp_path):
        """Filters sized for a much smaller table (loose fpp) are rebuilt
        when the current file count demands a tighter target — otherwise
        expected false-positive FILES per lookup would grow with the
        table instead of staying ~1."""
        from parquet_to_arrow_spark.sources import bloom_index as bi
        from parquet_to_arrow_spark.sources.iceberg import append

        table = str(tmp_path / "t")
        for k in range(2):
            append(spark.createDataFrame([(f"a-{k}-{i}",) for i in range(30)],
                                         "doc_id string").coalesce(1), table)
        bi.build_bloom_index(spark, table, "doc_id", fpp=0.1)  # loose
        df = spark.createDataFrame(
            [(f"b-{i}",) for i in range(30)], "doc_id string")
        for k in range(6):
            append(df.filter(f"pmod(xxhash64(doc_id), 6) = {k}").coalesce(1),
                   table)
        # loose originals (0.1) exceed 4x today's auto target (0.01):
        # the update rebuilds them alongside the 6 new files
        _, built = bi.update_bloom_index(spark, table, "doc_id")
        assert built == 8
        _, built = bi.update_bloom_index(spark, table, "doc_id")
        assert built == 0  # converged
        # a mildly loose explicit target does NOT force a rebuild
        _, built = bi.update_bloom_index(spark, table, "doc_id", fpp=0.02)
        assert built == 0


class TestTimestampGuards:
    def test_identity_partition_on_timestamp_rejected_loudly(
        self, spark, tmp_path
    ):
        import datetime

        df = spark.createDataFrame(
            [(1, datetime.datetime(2024, 1, 1))], "k long, ts timestamp"
        )
        d = str(tmp_path / "w")
        df.coalesce(1).write.parquet(d)
        with pytest.raises(ValueError, match="temporal transform"):
            ice.commit_parquet_dir(
                str(tmp_path / "t"), d, spark_schema=df.schema, ts_ms=1,
                partition_by=["ts"])

    def test_aware_timestamp_bound_pins_epoch_to_utc(self):
        import datetime

        tz5 = datetime.timezone(datetime.timedelta(hours=5))
        aware = datetime.datetime(2024, 1, 1, 5, 0, tzinfo=tz5)
        naive_utc = datetime.datetime(2024, 1, 1, 0, 0)
        a = ice.encode_bound(aware, "timestamptz")
        b = ice.encode_bound(naive_utc, "timestamptz")
        assert a == b  # same instant, same stored micros
        assert ice.decode_bound(a, "timestamptz") == naive_utc


class TestRollback:
    def test_rollback_moves_main_and_keeps_history(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, read_table

        table = str(tmp_path / "t")
        s1 = append(spark.createDataFrame([(1, "a")], "k long, v string")
                    .coalesce(1), table)
        s2 = append(spark.createDataFrame([(2, "b")], "k long, v string")
                    .coalesce(1), table)
        assert ice.rollback(table, s1) == s1
        assert {r["k"] for r in read_table(spark, table).collect()} == {1}
        # the abandoned snapshot is still time-travelable
        assert ice.read_snapshot(spark, table, s2).count() == 2
        # a new append builds on the rolled-back state
        append(spark.createDataFrame([(3, "c")], "k long, v string")
               .coalesce(1), table)
        assert {r["k"] for r in read_table(spark, table).collect()} == {1, 3}

    def test_rollback_by_ref_name(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import append, read_table

        table = str(tmp_path / "t")
        s1 = append(spark.createDataFrame([(1, "a")], "k long, v string")
                    .coalesce(1), table)
        ice.set_ref(table, "good", s1)
        append(spark.createDataFrame([(2, "bad")], "k long, v string")
               .coalesce(1), table)
        assert ice.rollback(table, "good") == s1
        assert read_table(spark, table).count() == 1


class TestZorderDate:
    def test_zorder_on_date_and_value(self, spark, tmp_path):
        """Date columns z-order through epoch days, with normalization
        bounds coming straight from the manifests' date bounds."""
        import datetime

        from pyspark.sql import functions as F

        from parquet_to_arrow_spark.sources.iceberg import append, compact_files, read_table

        table = str(tmp_path / "t")
        df = spark.range(4096).select(
            F.col("id"),
            F.date_add(F.lit(datetime.date(2024, 1, 1)),
                       (F.col("id") % 64).cast("int")).alias("d"),
            ((F.col("id") * 2654435761) % 4096).alias("v"),
        )
        for k in range(8):
            append(df.filter(F.col("id") % 8 == k).coalesce(1), table)
        sizes = [f.file_size for f in ice.snapshot_files(table)]
        assert compact_files(spark, table, target_bytes=max(sizes) + 1,
                             zorder=["d", "v"]) is not None
        n = len(ice.snapshot_files(table))
        hit_d = len(ice.snapshot_files(table, range_filter={
            "d": (datetime.date(2024, 1, 1), datetime.date(2024, 1, 8))}))
        hit_v = len(ice.snapshot_files(table, range_filter={"v": (0, 511)}))
        assert n >= 4 and hit_d < n and hit_v < n
        assert read_table(spark, table).count() == 4096


class TestSpecChangeGuard:
    def test_conflicting_partition_by_on_existing_table_rejected(
        self, spark, tmp_path
    ):
        docs_df = spark.createDataFrame(
            [(i, f"t{i}", ["en", "de"][i % 2]) for i in range(8)],
            "doc_id long, text string, lang string",
        )
        d1 = str(tmp_path / "w1")
        docs_df.coalesce(1).write.partitionBy("lang").parquet(d1)
        table = str(tmp_path / "t")
        ice.commit_parquet_dir(
            table, d1, spark_schema=docs_df.schema, ts_ms=1,
            partition_by=["lang"])
        d2 = str(tmp_path / "w2")
        docs_df.coalesce(1).write.partitionBy("lang").parquet(d2)
        # restating the same spec is harmless...
        ice.commit_parquet_dir(
            table, d2, spark_schema=docs_df.schema, ts_ms=2,
            partition_by=["lang"])
        # ...a DIFFERENT spec is spec evolution — loud rejection
        d3 = str(tmp_path / "w3")
        docs_df.coalesce(1).write.parquet(d3)
        with pytest.raises(ValueError, match="spec evolution"):
            ice.commit_parquet_dir(
                table, d3, spark_schema=docs_df.schema, ts_ms=3,
                partition_by=["doc_id:bucket[4]"])


class TestReviewRound5:
    """Regressions from the round-4 external review (ADVICE.md round 5)."""

    def test_eq_delete_on_identity_partition_key(self, spark, tmp_path):
        """An equality delete keyed on an identity-PARTITION column must
        actually delete. Regression: the hive layout strips the column
        from data files and read_snapshot used to re-attach the literal
        only AFTER _scan's eq anti-join, so eqNullSafe compared NULL to
        the key and the delete silently no-opped — and materialize_deletes
        then dropped the delete file, permanently losing a GDPR purge."""
        from parquet_to_arrow_spark.sources.iceberg import (
            delete_keys_mor,
            materialize_deletes,
            read_table,
        )

        df = spark.createDataFrame(
            [(i, f"t{i}", ["web", "books", "code"][i % 3]) for i in range(30)],
            "doc_id long, text string, source string",
        )
        d = str(tmp_path / "w")
        df.coalesce(1).write.partitionBy("source").parquet(d)
        table = str(tmp_path / "table")
        ice.commit_parquet_dir(
            table, d, spark_schema=df.schema, ts_ms=1, partition_by=["source"]
        )
        sid = delete_keys_mor(
            spark,
            table,
            spark.createDataFrame([("books",)], "source string"),
            "source",
        )
        assert sid is not None
        got = read_table(spark, table).collect()
        assert {r["source"] for r in got} == {"web", "code"}
        assert len(got) == 20
        # folding the delete keeps it deleted (the permanent-loss half)
        assert materialize_deletes(spark, table) is not None
        assert ice.snapshot_delete_files(table) == []
        after = read_table(spark, table).collect()
        assert {r["source"] for r in after} == {"web", "code"}
        assert len(after) == 20

    def test_eq_delete_mixed_partition_and_data_key(self, spark, tmp_path):
        """Composite equality key spanning a partition column AND a data
        column: both halves must participate in the anti-join."""
        from parquet_to_arrow_spark.sources.iceberg import (
            delete_keys_mor,
            read_table,
        )

        df = spark.createDataFrame(
            [(i, f"t{i}", ["web", "books"][i % 2]) for i in range(20)],
            "doc_id long, text string, source string",
        )
        d = str(tmp_path / "w")
        df.coalesce(1).write.partitionBy("source").parquet(d)
        table = str(tmp_path / "table")
        ice.commit_parquet_dir(
            table, d, spark_schema=df.schema, ts_ms=1, partition_by=["source"]
        )
        delete_keys_mor(
            spark,
            table,
            spark.createDataFrame([(3, "books"), (4, "web")],
                                  "doc_id long, source string"),
            ["doc_id", "source"],
        )
        got = {r["doc_id"] for r in read_table(spark, table).collect()}
        assert got == set(range(20)) - {3, 4}

    def test_reconcile_oserror_never_unlinks(self, tmp_path, monkeypatch):
        """A transient read error on a peer's valid committed metadata must
        not unlink it (it may be a live snapshot) — retry, then raise
        CommitConflict leaving the file in place."""
        import builtins

        meta_path = tmp_path / "v3.metadata.json"
        meta_path.write_text(json.dumps({"current-snapshot-id": 42}))
        tmp_meta = tmp_path / "ours.json"
        tmp_meta.write_text(json.dumps({"current-snapshot-id": 7}))
        real_open = builtins.open

        def flaky(path, *a, **k):
            if str(path) == str(meta_path) and (not a or "r" in str(a[0])):
                raise OSError(24, "too many open files")
            return real_open(path, *a, **k)

        monkeypatch.setattr(builtins, "open", flaky)
        with pytest.raises(ice.CommitConflict, match="refusing to unlink"):
            ice._reconcile_existing_commit(str(meta_path), str(tmp_meta), 7)
        monkeypatch.undo()
        assert meta_path.exists()
        assert json.loads(meta_path.read_text())["current-snapshot-id"] == 42

    def test_reconcile_oserror_then_success_retries(self, tmp_path, monkeypatch):
        """One transient failure followed by a clean read resolves normally
        (same snapshot id == crash replay of our own commit)."""
        import builtins

        meta_path = tmp_path / "v3.metadata.json"
        meta_path.write_text(json.dumps({"current-snapshot-id": 7}))
        tmp_meta = tmp_path / "ours.json"
        tmp_meta.write_text(json.dumps({"current-snapshot-id": 7}))
        real_open = builtins.open
        fails = {"n": 1}

        def flaky(path, *a, **k):
            if str(path) == str(meta_path) and fails["n"] > 0:
                fails["n"] -= 1
                raise OSError(5, "input/output error")
            return real_open(path, *a, **k)

        monkeypatch.setattr(builtins, "open", flaky)
        ice._reconcile_existing_commit(str(meta_path), str(tmp_meta), 7)  # no raise
        monkeypatch.undo()
        assert meta_path.exists()

    def test_bucket_column_null_to_null(self, spark):
        """bucket[n] over a column containing NULLs: null -> null (the
        spec's transform rule, bucket_of's explicit guard). Regression:
        pandas delivers nullable ints as float+NaN and the unmasked numpy
        cast crashed with 'cannot convert float NaN to integer'."""
        from parquet_to_arrow_spark.sources.iceberg import with_bucket_column

        df = spark.createDataFrame(
            [(1, "a"), (None, None), (7, "b")], "k long, s string"
        )
        got = {
            (r["k"], r["s"]): (r["k_bucket"], r["s_bucket"])
            for r in with_bucket_column(
                with_bucket_column(df, "k", 32), "s", 32
            ).collect()
        }
        assert got[(None, None)] == (None, None)
        assert got[(1, "a")] == (
            ice.bucket_of(1, "long", 32),
            ice.bucket_of("a", "string", 32),
        )
        assert got[(7, "b")] == (
            ice.bucket_of(7, "long", 32),
            ice.bucket_of("b", "string", 32),
        )


class TestPartitionSpecEvolution:
    """Iceberg Table Spec v2 'Partition Evolution': a new spec commits as a
    spec-id bump (metadata only — no data file rewritten); manifests
    resolve partition tuples against THEIR spec; pruning applies
    per-manifest with conservative keeps across specs; compaction migrates
    old-layout files into the current spec."""

    def _mk(self, spark, tmp_path, part, rows, ts):
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, source string"
        )
        d = str(tmp_path / f"w{ts}")
        w = df.coalesce(1).write
        if part:
            w = w.partitionBy(*part)
        w.parquet(d)
        return d, df.schema

    def test_partition_filter_tolerates_spec_with_dropped_source(
        self, spark, tmp_path
    ):
        """A spec whose source column is absent from the current schema
        (another writer dropped the column after evolving away from it)
        must not break the filter's unknown-key check: names come from the
        specs themselves. A key no spec defines still raises."""
        table = str(tmp_path / "t")
        rows = [(1, "en", "web"), (2, "de", "web"), (3, "en", "books")]
        d0, schema = self._mk(spark, tmp_path, ["source"], rows, 1)
        ice.commit_parquet_dir(
            table, d0, spark_schema=schema, ts_ms=1, partition_by=["source"]
        )
        version, meta = ice._resolve_state(table)
        meta["partition-specs"].append(
            {"spec-id": 1, "fields": [{"name": "gone", "transform": "identity",
                                       "source-id": 99, "field-id": 1001}]}
        )
        with open(os.path.join(table, "metadata",
                               f"v{version + 1}.metadata.json"), "w") as f:
            json.dump(meta, f)

        web = ice.snapshot_files(table, partition_filter={"source": "web"})
        assert [f.partition for f in web] == [{"source": "web"}]
        assert sum(f.record_count for f in web) == 2
        with pytest.raises(ValueError, match="not defined by any"):
            ice.snapshot_files(table, partition_filter={"sorce": "web"})

    def test_evolve_identity_to_identity_reads_and_prunes_both_ways(
        self, spark, tmp_path
    ):
        table = str(tmp_path / "t")
        rows0 = [(1, "en", "web"), (2, "de", "web"), (3, "en", "books")]
        d0, schema = self._mk(spark, tmp_path, ["lang"], rows0, 1)
        ice.commit_parquet_dir(
            table, d0, spark_schema=schema, ts_ms=1, partition_by=["lang"]
        )
        # loud reject without the flag (true-conflict path retained)
        rows1 = [(4, "fr", "web"), (5, "en", "code")]
        d1, _ = self._mk(spark, tmp_path, ["source"], rows1, 2)
        with pytest.raises(ValueError, match="spec evolution"):
            ice.commit_parquet_dir(table, d1, ts_ms=2, partition_by=["source"])
        ice.commit_parquet_dir(
            table, d1, ts_ms=2, partition_by=["source"],
            allow_spec_evolution=True,
        )
        meta = ice.current_metadata(table)
        assert [s["spec-id"] for s in meta["partition-specs"]] == [0, 1]
        assert meta["default-spec-id"] == 1
        fids = {
            f["field-id"]
            for s in meta["partition-specs"]
            for f in s["fields"]
        }
        assert fids == {1000, 1001}  # fresh id, no reuse across transforms
        assert meta["last-partition-id"] == 1001

        # full read: old files re-attach lang literals, new files source
        got = {
            r["doc_id"]: (r["lang"], r["source"])
            for r in ice.read_snapshot(spark, table).collect()
        }
        assert got == {
            1: ("en", "web"), 2: ("de", "web"), 3: ("en", "books"),
            4: ("fr", "web"), 5: ("en", "code"),
        }
        # prune on the OLD spec's key: old manifests prune, new files pass
        # the residual filter exactly
        en = {
            r["doc_id"]
            for r in ice.read_snapshot(
                spark, table, partition_filter={"lang": "en"}
            ).collect()
        }
        assert en == {1, 3, 5}
        # prune on the NEW spec's key: new manifests prune, old files pass
        # the residual filter exactly
        web = {
            r["doc_id"]
            for r in ice.read_snapshot(
                spark, table, partition_filter={"source": "web"}
            ).collect()
        }
        assert web == {1, 2, 4}
        # file-level pruning actually happened (not just residual filters)
        files_en = ice.snapshot_files(table, partition_filter={"lang": "en"})
        assert len(files_en) < len(ice.snapshot_files(table))
        assert all(
            f.spec_id == 1 or (f.partition or {}).get("lang") == "en"
            for f in files_en
        )

    def test_field_id_reused_when_same_transform_returns(self, spark, tmp_path):
        table = str(tmp_path / "t")
        d0, schema = self._mk(
            spark, tmp_path, ["lang"], [(1, "en", "web")], 1
        )
        ice.commit_parquet_dir(
            table, d0, spark_schema=schema, ts_ms=1, partition_by=["lang"]
        )
        d1, _ = self._mk(spark, tmp_path, ["source"], [(2, "de", "books")], 2)
        ice.commit_parquet_dir(
            table, d1, ts_ms=2, partition_by=["source"], allow_spec_evolution=True
        )
        # back to lang: the (source-id, transform) pair must REUSE 1000
        d2, _ = self._mk(spark, tmp_path, ["lang"], [(3, "fr", "code")], 3)
        ice.commit_parquet_dir(
            table, d2, ts_ms=3, partition_by=["lang"], allow_spec_evolution=True
        )
        meta = ice.current_metadata(table)
        spec2 = next(s for s in meta["partition-specs"] if s["spec-id"] == 2)
        assert spec2["fields"][0]["field-id"] == 1000
        assert meta["last-partition-id"] == 1001
        got = {
            r["doc_id"]: r["lang"]
            for r in ice.read_snapshot(spark, table).collect()
        }
        assert got == {1: "en", 2: "de", 3: "fr"}

    def test_rewrite_manifests_folds_per_spec(self, spark, tmp_path):
        table = str(tmp_path / "t")
        d0, schema = self._mk(spark, tmp_path, ["lang"], [(1, "en", "web")], 1)
        ice.commit_parquet_dir(
            table, d0, spark_schema=schema, ts_ms=1, partition_by=["lang"]
        )
        d1, _ = self._mk(spark, tmp_path, ["lang"], [(2, "de", "web")], 2)
        ice.commit_parquet_dir(table, d1, ts_ms=2)
        d2, _ = self._mk(spark, tmp_path, ["source"], [(3, "fr", "books")], 3)
        ice.commit_parquet_dir(
            table, d2, ts_ms=3, partition_by=["source"], allow_spec_evolution=True
        )
        d3, _ = self._mk(spark, tmp_path, ["source"], [(4, "en", "code")], 4)
        ice.commit_parquet_dir(table, d3, ts_ms=4)
        sid = ice.rewrite_manifests(table, ts_ms=5)
        assert sid is not None
        mans = ice.metadata_table(spark, table, "manifests").collect()
        assert len(mans) == 2  # one folded manifest PER SPEC
        # all four rows still read with correct layouts
        got = {
            r["doc_id"]: (r["lang"], r["source"])
            for r in ice.read_snapshot(spark, table).collect()
        }
        assert got == {
            1: ("en", "web"), 2: ("de", "web"),
            3: ("fr", "books"), 4: ("en", "code"),
        }
        # spec ids survive the fold
        specs = {
            r["spec_id"]
            for r in ice.metadata_table(spark, table, "files").collect()
        }
        assert specs == {0, 1}

    def test_compaction_migrates_old_spec_files(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import compact_files

        table = str(tmp_path / "t")
        d0, schema = self._mk(
            spark, tmp_path, ["lang"],
            [(1, "en", "web"), (2, "en", "books"), (3, "de", "web")], 1,
        )
        ice.commit_parquet_dir(
            table, d0, spark_schema=schema, ts_ms=1, partition_by=["lang"]
        )
        d1, _ = self._mk(spark, tmp_path, ["lang"], [(4, "en", "code")], 2)
        ice.commit_parquet_dir(table, d1, ts_ms=2)
        d2, _ = self._mk(spark, tmp_path, ["source"], [(5, "fr", "web")], 3)
        ice.commit_parquet_dir(
            table, d2, ts_ms=3, partition_by=["source"], allow_spec_evolution=True
        )
        before = {
            r["doc_id"]: (r["lang"], r["source"])
            for r in ice.read_snapshot(spark, table).collect()
        }
        sid = compact_files(spark, table, target_bytes=1 << 30)
        assert sid is not None
        after = {
            r["doc_id"]: (r["lang"], r["source"])
            for r in ice.read_snapshot(spark, table).collect()
        }
        assert after == before  # identity columns survived the migration
        # every live file now carries the CURRENT spec
        assert {
            f.spec_id for f in ice.snapshot_files(table)
        } == {1}
        # and the new-spec pruning now covers the migrated rows exactly
        web = {
            r["doc_id"]
            for r in ice.read_snapshot(
                spark, table, partition_filter={"source": "web"}
            ).collect()
        }
        assert web == {1, 3, 5}

    def test_partition_specs_metadata_table(self, spark, tmp_path):
        table = str(tmp_path / "t")
        d0, schema = self._mk(spark, tmp_path, ["lang"], [(1, "en", "web")], 1)
        ice.commit_parquet_dir(
            table, d0, spark_schema=schema, ts_ms=1, partition_by=["lang"]
        )
        d1, _ = self._mk(spark, tmp_path, ["source"], [(2, "de", "books")], 2)
        ice.commit_parquet_dir(
            table, d1, ts_ms=2, partition_by=["source"], allow_spec_evolution=True
        )
        rows = {
            (r["spec_id"], r["field_name"], r["is_default"])
            for r in ice.metadata_table(spark, table, "partition_specs").collect()
        }
        assert rows == {(0, "lang", False), (1, "source", True)}


class TestBloomDistributed:
    """The >10^5-files membership path: index parquet read as a DataFrame,
    double-hash bit test evaluated as a column expression — must agree
    with Bloom.might_contain bit-for-bit."""

    def _table(self, spark, tmp_path, n_files=8, rows_per=200):
        return TestBloomIndex._table(self, spark, tmp_path, n_files, rows_per)

    def test_distributed_matches_driver_side(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources import bloom_index as bi

        table = self._table(spark, tmp_path)
        bi.build_bloom_index(spark, table, "doc_id")
        keys = [
            f"doc-{(i * 8 + k) * 2654435761 % 10**9:09d}"
            for i in (0, 5, 17)
            for k in (0, 3, 7)
        ] + ["doc-nope", "doc-x1", "doc-x2", "", "late"]
        for key in keys:
            drv = sorted(bi.bloom_candidate_files(table, "doc_id", key))
            dist = sorted(
                r["path"]
                for r in bi.bloom_candidate_files_distributed(
                    spark, table, "doc_id", key
                ).collect()
            )
            assert dist == drv, key

    def test_distributed_keeps_unindexed_files(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources import bloom_index as bi
        from parquet_to_arrow_spark.sources.iceberg import append

        table = self._table(spark, tmp_path, n_files=3)
        bi.build_bloom_index(spark, table, "doc_id")
        append(
            spark.createDataFrame([("late-doc", 8)], "doc_id string, n long")
            .coalesce(1),
            table,
        )
        got = {
            r["path"]
            for r in bi.bloom_candidate_files_distributed(
                spark, table, "doc_id", "late-doc"
            ).collect()
        }
        # the post-index file has no filter row -> always a candidate
        assert any("seq-4" in p for p in got)

    def test_distributed_none_without_index(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources import bloom_index as bi

        table = self._table(spark, tmp_path, n_files=2)
        assert (
            bi.bloom_candidate_files_distributed(spark, table, "doc_id", "x")
            is None
        )

    def test_expression_agrees_with_might_contain_on_edge_params(self, spark):
        """Pin the column expression against the Python reference across
        filters whose m_bits stress the modulus/byte math (tiny m, odd m,
        k up to the cap)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from parquet_to_arrow_spark.sources import bloom_index as bi

        blooms = [
            bi.Bloom.build([f"v{i}" for i in range(n)], fpp)
            for n, fpp in [(1, 0.5), (3, 0.01), (100, 1e-6), (7, 1e-18)]
        ]
        assert max(b.k for b in blooms) >= 55  # the cap region is exercised
        for key in ["v0", "v1", "v99", "absent", ""]:
            h1, h2 = bi._hash_pair(key)
            probes = []
            for i in range(bi._MAX_K):
                num = h1 + i * h2
                pos = f"CAST(pmod(CAST('{num}' AS DECIMAL(38,0)), m_bits) AS BIGINT)"
                probes.append(
                    f"({i} >= k OR ("
                    f"CAST(conv(hex(substring(bits, CAST(({pos}) DIV 8 AS INT) + 1, 1)),"
                    f" 16, 10) AS INT)"
                    f" >> CAST(pmod({pos}, 8) AS INT)) & 1 = 1)"
                )
            df = spark.createDataFrame(
                pa.table(
                    {
                        "m_bits": [b.m_bits for b in blooms],
                        "k": [b.k for b in blooms],
                        "bits": [b.to_bytes() for b in blooms],
                    }
                ).to_pandas()
            ).withColumn("might", F.expr(" AND ".join(probes)))
            got = [r["might"] for r in df.collect()]
            want = [b.might_contain(key) for b in blooms]
            assert got == want, key


class TestDeletionVectors:
    """Iceberg v3 deletion vectors: Puffin DV blobs (spec framing + 64-bit
    portable Roaring), committed as content=1 entries with
    referenced_data_file/content_offset/content_size, consumed through the
    same anti-join plan as v2 position-delete parquet."""

    def test_roaring_spec_bytes(self):
        """Pin the 32-bit portable layout against hand-computed spec bytes:
        values {1, 3} = cookie 12346 LE, 1 container, key 0, card-1 = 1,
        offset 16, then the sorted uint16 array [1, 3]."""
        from parquet_to_arrow_spark.sources import puffin as pf

        got = pf._roaring32_bytes([1, 3])
        want = (
            b"\x3a\x30\x00\x00"  # SERIAL_COOKIE_NO_RUNCONTAINER = 12346
            b"\x01\x00\x00\x00"  # 1 container
            b"\x00\x00\x01\x00"  # key 0, cardinality-1 = 1
            b"\x10\x00\x00\x00"  # offset 16 from stream start
            b"\x01\x00\x03\x00"  # values 1, 3 as uint16 LE
        )
        assert got == want
        # 64-bit wrapper: map count 1 (8B LE) + high key 0 (4B LE) + the 32-bit map
        got64 = pf.roaring64_bytes([1, 3])
        assert got64 == b"\x01" + b"\x00" * 7 + b"\x00\x00\x00\x00" + want
        assert pf.read_roaring64(got64).tolist() == [1, 3]

    def test_roaring32_accepts_any_iterable(self):
        """A generator serializes exactly like the sorted list of its values."""
        from parquet_to_arrow_spark.sources import puffin as pf

        assert pf._roaring32_bytes(iter([3, 1, 2])) == pf._roaring32_bytes([1, 2, 3])

    def test_roaring_container_edges(self):
        from parquet_to_arrow_spark.sources import puffin as pf

        cases = [
            [0],
            [65535, 65536],  # straddles two 16-bit containers
            list(range(4096)),  # exactly at the bitmap-container threshold
            list(range(0, 140000, 2)),  # bitmap containers across keys
            [2**32 - 1, 2**32, 2**40 + 7],  # multiple high-32 keys
        ]
        for vals in cases:
            assert pf.read_roaring64(pf.roaring64_bytes(vals)).tolist() == sorted(set(vals))

    def test_dv_blob_crc_guard(self):
        from parquet_to_arrow_spark.sources import puffin as pf

        blob = pf.dv_blob_bytes([5, 7])
        assert pf.read_dv_blob(blob).tolist() == [5, 7]
        bad = bytearray(blob)
        bad[9] ^= 0x40
        with pytest.raises(ValueError, match="CRC|magic"):
            pf.read_dv_blob(bytes(bad))

    def _table(self, spark, tmp_path, n_files=3, rows=10):
        from parquet_to_arrow_spark.sources.iceberg import append

        table = str(tmp_path / "table")
        for i in range(n_files):
            append(
                spark.createDataFrame(
                    [(i * rows + j, f"t{i}-{j}") for j in range(rows)],
                    "doc_id long, text string",
                ).coalesce(1),
                table,
            )
        return table

    def test_dv_delete_reads_and_time_travels(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import (
            delete_where_dv,
            read_table,
        )

        table = self._table(spark, tmp_path)
        before = ice.current_metadata(table)["current-snapshot-id"]
        files_before = {f.path for f in ice.snapshot_files(table)}
        sid = delete_where_dv(spark, table, "doc_id % 10 = 3")
        assert sid is not None
        got = {r["doc_id"] for r in read_table(spark, table).collect()}
        assert got == {i for i in range(30) if i % 10 != 3}
        # data files untouched; delete entries are DV blobs in ONE puffin
        assert {f.path for f in ice.snapshot_files(table)} == files_before
        dels = ice.snapshot_delete_files(table)
        assert len(dels) == 3 and all(f.content == 1 for f in dels)
        assert all(f.referenced_data_file for f in dels)
        assert len({f.path for f in dels}) == 1  # one shared puffin file
        assert dels[0].path.endswith(".puffin")
        assert read_table(spark, table, snapshot_id=before).count() == 30
        # no match: no commit
        assert delete_where_dv(spark, table, "doc_id = 999") is None

    def test_dv_accumulates_and_mixes_with_v2(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import (
            delete_where_dv,
            delete_where_mor,
            read_table,
        )

        table = self._table(spark, tmp_path)
        delete_where_dv(spark, table, "doc_id = 3")
        delete_where_mor(spark, table, "doc_id = 17")  # v2 parquet rep
        delete_where_dv(spark, table, "doc_id = 21")  # second DV commit
        got = {r["doc_id"] for r in read_table(spark, table).collect()}
        assert got == set(range(30)) - {3, 17, 21}

    def test_materialize_folds_dvs(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import (
            delete_where_dv,
            delete_where_mor,
            materialize_deletes,
            read_table,
        )

        table = self._table(spark, tmp_path)
        delete_where_dv(spark, table, "doc_id IN (3, 14)")
        delete_where_mor(spark, table, "doc_id = 25")
        sid = materialize_deletes(spark, table)
        assert sid is not None
        assert ice.snapshot_delete_files(table) == []
        got = {r["doc_id"] for r in read_table(spark, table).collect()}
        assert got == set(range(30)) - {3, 14, 25}
        # plain re-read (no pending deletes): same rows
        assert read_table(spark, table).count() == 27

    def test_dv_changelog_pre_images(self, spark, tmp_path):
        from parquet_to_arrow_spark.sources.iceberg import delete_where_dv

        table = self._table(spark, tmp_path, n_files=2)
        sid0 = ice.current_metadata(table)["current-snapshot-id"]
        delete_where_dv(spark, table, "doc_id IN (1, 12)")
        ch = ice.read_changelog(spark, table, since_snapshot_id=sid0).collect()
        dels = [r for r in ch if r["_change_op"] == "delete"]
        assert {r["doc_id"] for r in dels} == {1, 12}
        # full pre-image rows, not key-only
        assert all(r["text"] is not None for r in dels)

    def test_dv_bitmap_container_end_to_end(self, spark, tmp_path):
        """>4096 deleted positions in one file exercises the 8 KiB bitmap
        container on the write AND read side."""
        from parquet_to_arrow_spark.sources.iceberg import (
            append,
            delete_where_dv,
            read_table,
        )

        table = str(tmp_path / "big")
        append(
            spark.range(10_000)
            .selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
            .coalesce(1),
            table,
        )
        delete_where_dv(spark, table, "doc_id < 5000")
        dels = ice.snapshot_delete_files(table)
        assert len(dels) == 1 and dels[0].record_count == 5000
        # a 5000-bit-per-64k-block bitmap costs ~8 KiB; v2 parquet of the
        # same rows costs many times that
        assert dels[0].content_size < 16 << 10
        got = read_table(spark, table)
        assert got.count() == 5000
        assert got.agg({"doc_id": "min"}).collect()[0][0] == 5000

    def test_dv_on_identity_partitioned_table(self, spark, tmp_path):
        """DVs over a hive-partitioned table: positions come from the
        literal-attached scan, pruning + materialize keep the deletion."""
        from parquet_to_arrow_spark.sources.iceberg import (
            delete_where_dv,
            materialize_deletes,
            read_table,
        )

        df = spark.createDataFrame(
            [(i, f"t{i}", ["web", "books"][i % 2]) for i in range(20)],
            "doc_id long, text string, source string",
        )
        d = str(tmp_path / "w")
        df.coalesce(1).write.partitionBy("source").parquet(d)
        table = str(tmp_path / "t")
        ice.commit_parquet_dir(
            table, d, spark_schema=df.schema, ts_ms=1, partition_by=["source"]
        )
        delete_where_dv(spark, table, "source = 'books' AND doc_id < 10")
        got = sorted(r["doc_id"] for r in read_table(spark, table).collect())
        assert got == [0, 2, 4, 6, 8] + list(range(10, 20))
        pf = sorted(
            r["doc_id"]
            for r in read_table(
                spark, table, partition_filter={"source": "books"}
            ).collect()
        )
        assert pf == [11, 13, 15, 17, 19]
        assert materialize_deletes(spark, table) is not None
        assert (
            sorted(r["doc_id"] for r in read_table(spark, table).collect()) == got
        )


class TestReviewRound5b:
    """Round-5 self-review findings (code-review pass over the round diff)."""

    def test_bucket_precision_above_2_53_with_nulls(self, spark):
        """A long batch CONTAINING a null used to reach pandas as float64,
        silently rounding keys above 2^53 before hashing — the row would
        land in the wrong bucket and a bucket-pruned read would miss it.
        The UDF input is now null-free (coalesce, nulls masked JVM-side)."""
        from parquet_to_arrow_spark.sources.iceberg import with_bucket_column

        big = [2**60 + 1, 2**60 + 3, 2**53 + 1, 9_223_372_036_854_775_806]
        rows = [(v,) for v in big] + [(None,)]
        got = {
            r["k"]: r["k_bucket"]
            for r in with_bucket_column(
                spark.createDataFrame(rows, "k long").coalesce(1), "k", 1024
            ).collect()
        }
        assert got[None] is None
        for v in big:
            assert got[v] == ice.bucket_of(v, "long", 1024), v

    def test_roaring_4096_container_is_array(self):
        """RoaringFormatSpec: containers hold UP TO 4096 values as arrays;
        strictly more converts to a bitmap. Both encodings are exactly
        8192 bytes AT 4096, so an off-by-one corrupts interop silently —
        pin the writer's payload bytes and the reader's symmetric cut."""
        import struct

        import numpy as np

        from parquet_to_arrow_spark.sources import puffin as pf

        vals = list(range(0, 8192, 2))  # 4096 values in one 16-bit container
        raw = pf._roaring32_bytes(vals)
        # header: cookie + count + (key, card-1) + 1 offset = 16 bytes
        payload = raw[16:]
        assert len(payload) == 8192
        # ARRAY encoding: the sorted uint16 values themselves — a bitmap
        # of the same values would start with bytes 0x55... pattern instead
        assert payload == np.asarray(vals, dtype=np.uint16).tobytes()
        got, _ = pf._read_roaring32(raw, 0)
        assert got.tolist() == vals
        # 4097 values: now a bitmap container
        vals2 = vals + [8193]
        raw2 = pf._roaring32_bytes(vals2)
        assert len(raw2[16:]) == 8192  # bitmap, not 2*4097 array bytes
        got2, _ = pf._read_roaring32(raw2, 0)
        assert got2.tolist() == sorted(vals2)

    def test_derived_filter_key_rejected_after_evolution(self, spark, tmp_path):
        """partition_filter on a derived-transform key that old-spec files
        cannot prune must raise, not silently return a superset."""
        df = spark.createDataFrame(
            [(i, f"t{i}", ["en", "de"][i % 2]) for i in range(8)],
            "doc_id long, text string, lang string",
        )
        d0 = str(tmp_path / "w0")
        df.coalesce(1).write.partitionBy("lang").parquet(d0)
        table = str(tmp_path / "t")
        ice.commit_parquet_dir(
            table, d0, spark_schema=df.schema, ts_ms=1, partition_by=["lang"]
        )
        from parquet_to_arrow_spark.sources.iceberg import with_bucket_column

        d1 = str(tmp_path / "w1")
        with_bucket_column(
            spark.createDataFrame([(100, "x", "fr")], df.schema), "doc_id", 4
        ).coalesce(1).write.partitionBy("doc_id_bucket").parquet(d1)
        ice.commit_parquet_dir(
            table, d1, ts_ms=2, partition_by=["doc_id:bucket[4]"],
            allow_spec_evolution=True,
        )
        with pytest.raises(ValueError, match="derived transform"):
            ice.read_snapshot(
                spark, table, partition_filter={"doc_id_bucket": 1}
            ).collect()
        # identity keys stay exact through the residual filter
        got = {
            r["doc_id"]
            for r in ice.read_snapshot(
                spark, table, partition_filter={"lang": "en"}
            ).collect()
        }
        assert got == {0, 2, 4, 6}

    def test_compaction_migration_honors_zorder(self, spark, tmp_path):
        """A zorder request must cluster MIGRATED files too (it used to
        silently degrade to coalesce on exactly the old-spec groups)."""
        from parquet_to_arrow_spark.sources.iceberg import compact_files

        df = spark.createDataFrame(
            [(i, i % 7, (i * 3) % 11, ["a", "b"][i % 2]) for i in range(1000)],
            "doc_id long, x long, y long, lang string",
        )
        d0 = str(tmp_path / "w0")
        df.coalesce(1).write.partitionBy("lang").parquet(d0)
        table = str(tmp_path / "t")
        ice.commit_parquet_dir(
            table, d0, spark_schema=df.schema, ts_ms=1, partition_by=["lang"]
        )
        d1 = str(tmp_path / "w1")
        df.limit(10).coalesce(1).write.parquet(d1)
        ice.commit_parquet_dir(
            table, d1, ts_ms=2, partition_by=[], allow_spec_evolution=True
        )
        before = {
            (r["doc_id"], r["lang"])
            for r in ice.read_snapshot(spark, table).collect()
        }
        sid = compact_files(spark, table, target_bytes=1 << 30, zorder=["x", "y"])
        assert sid is not None
        after = {
            (r["doc_id"], r["lang"])
            for r in ice.read_snapshot(spark, table).collect()
        }
        assert after == before
        assert {f.spec_id for f in ice.snapshot_files(table)} == {1}

    def test_scratch_lock_released_on_builder_failure(self, tmp_path):
        """A failing builder must free the lock so the next contender can
        rebuild; a successful retry completes normally."""
        from parquet_to_arrow_spark.sources.iceberg import _build_scratch_once

        table = str(tmp_path / "scratch")

        def bad():
            raise RuntimeError("boom")

        with pytest.raises(RuntimeError, match="boom"):
            _build_scratch_once(table, bad)
        assert not os.path.exists(table + ".lock")

        def good():
            os.makedirs(table, exist_ok=True)

        _build_scratch_once(table, good)
        assert os.path.exists(os.path.join(table, "_complete"))
        # idempotent re-entry: marker short-circuits
        _build_scratch_once(table, bad)  # builder never runs

    def test_scratch_lock_steal_does_not_regress(self, tmp_path):
        """A stale foreign lock (presumed-crashed builder) is stolen; the
        marker belongs to the thief and the stale owner's token is gone."""
        from parquet_to_arrow_spark.sources.iceberg import _build_scratch_once

        table = str(tmp_path / "scratch")
        lock = table + ".lock"
        with open(lock, "w") as f:
            f.write("dead-owner-token")
        old = 1_000_000.0
        os.utime(lock, (old, old))  # ancient: steal-eligible

        def good():
            os.makedirs(table, exist_ok=True)

        _build_scratch_once(table, good)
        assert os.path.exists(os.path.join(table, "_complete"))
        assert not os.path.exists(lock)

    def test_point_lookup_distributed_path(self, spark, tmp_path):
        """point_lookup(distributed=True) routes candidates through the
        column-expression membership and returns the same exact row."""
        from parquet_to_arrow_spark.sources import bloom_index as bi

        table = TestBloomIndex._table(self, spark, tmp_path, 4, 100)
        bi.build_bloom_index(spark, table, "doc_id")
        key = f"doc-{(5 * 4 + 2) * 2654435761 % 10**9:09d}"
        got = bi.point_lookup(spark, table, "doc_id", key, distributed=True).collect()
        assert [r["doc_id"] for r in got] == [key]
        assert (
            bi.point_lookup(spark, table, "doc_id", "doc-nope", distributed=True)
            .count()
            == 0
        )

    def test_eq_delete_spans_spec_evolution(self, spark, tmp_path):
        """An equality delete committed BEFORE spec evolution keeps
        applying to old-layout files (partition literal re-attached in
        their scan group) while rows appended AFTER it — under the new
        spec, with the column physically present — survive by the strict
        sequence gate."""
        from parquet_to_arrow_spark.sources.iceberg import (
            delete_keys_mor,
            materialize_deletes,
            read_table,
        )

        df = spark.createDataFrame(
            [(i, f"t{i}", ["en", "de"][i % 2]) for i in range(10)],
            "doc_id long, text string, lang string",
        )
        d0 = str(tmp_path / "w0")
        df.coalesce(1).write.partitionBy("lang").parquet(d0)
        table = str(tmp_path / "t")
        ice.commit_parquet_dir(
            table, d0, spark_schema=df.schema, ts_ms=1, partition_by=["lang"]
        )
        delete_keys_mor(
            spark, table, spark.createDataFrame([("de",)], "lang string"), "lang"
        )
        post = spark.createDataFrame(
            [(100, "new-de", "de"), (101, "new-en", "en")], df.schema
        )
        # evolve to bucket partitioning; the new files keep lang physically
        d1 = str(tmp_path / "w1")
        from parquet_to_arrow_spark.sources.iceberg import with_bucket_column

        with_bucket_column(post, "doc_id", 4).coalesce(1).write.partitionBy(
            "doc_id_bucket"
        ).parquet(d1)
        ice.commit_parquet_dir(
            table, d1, ts_ms=2, partition_by=["doc_id:bucket[4]"],
            allow_spec_evolution=True,
        )
        got = {r["doc_id"]: r["lang"] for r in read_table(spark, table).collect()}
        # pre-delete 'de' rows (1,3,5,7,9) gone; post-delete 'de' row 100 survives
        assert got == {0: "en", 2: "en", 4: "en", 6: "en", 8: "en",
                       100: "de", 101: "en"}
        assert materialize_deletes(spark, table) is not None
        got2 = {r["doc_id"]: r["lang"] for r in read_table(spark, table).collect()}
        assert got2 == got


class TestRound6Fixes:
    def test_unknown_partition_filter_key_raises(self, spark, tmp_path):
        """A partition_filter key no spec defines must raise loudly:
        silently dropping it would return the FULL table (fail-open) to
        callers like delete_where that scope destructive work with it."""
        df = spark.createDataFrame(
            [(i, f"t{i}", ["en", "de"][i % 2]) for i in range(6)],
            "doc_id long, text string, lang string",
        )
        d0 = str(tmp_path / "w0")
        df.coalesce(1).write.partitionBy("lang").parquet(d0)
        table = str(tmp_path / "t")
        ice.commit_parquet_dir(
            table, d0, spark_schema=df.schema, ts_ms=1, partition_by=["lang"]
        )
        with pytest.raises(ValueError, match="not defined by any"):
            ice.snapshot_files(table, partition_filter={"lagn": "en"})
        with pytest.raises(ValueError, match="not defined by any"):
            ice.read_snapshot(
                spark, table, partition_filter={"doc_id": 3}
            ).collect()
        # valid keys still prune
        got = {
            r["doc_id"]
            for r in ice.read_snapshot(
                spark, table, partition_filter={"lang": "en"}
            ).collect()
        }
        assert got == {0, 2, 4}


# ------------------------------------------------ one snapshot per read


def _pre_materialize_table(spark, tmp_path):
    """A 10-row table, a merge-on-read delete of id < 3, then
    materialize_deletes. Returns (table, the state read just before the
    materialize)."""
    from parquet_to_arrow_spark.sources import iceberg

    table = str(tmp_path / "table")
    iceberg.append(spark.range(10).coalesce(1), table)
    iceberg.delete_where_mor(spark, table, "id < 3")
    pre = ice._resolve_state(table)
    iceberg.materialize_deletes(spark, table)
    return table, pre


@pytest.mark.parametrize("k", [1, 2, 3])
def test_reader_sees_one_snapshot(spark, tmp_path, monkeypatch, k):
    """The first k state reads see the table as it was before the
    materialize: however many of them a scan makes, it must pair that
    snapshot's data files with that snapshot's delete files — taking the
    data from one state and the (since folded) deletes from another would
    resurrect the deleted rows."""
    table, pre = _pre_materialize_table(spark, tmp_path)
    real = ice._resolve_state
    calls = []

    def stale_then_real(table_dir):
        calls.append(table_dir)
        return pre if len(calls) <= k else real(table_dir)

    monkeypatch.setattr(ice, "_resolve_state", stale_then_real)
    got = sorted(r["id"] for r in ice.read_snapshot(spark, table).collect())
    assert got == list(range(3, 10))


def test_each_reader_makes_one_state_read(spark, tmp_path, monkeypatch):
    from parquet_to_arrow_spark.sources import iceberg, io as pio

    table = str(tmp_path / "table")
    for i in range(3):
        iceberg.append(spark.range(i * 10, i * 10 + 10).coalesce(1), table)
    first = ice.snapshots(table)[0]["snapshot-id"]
    real = ice._resolve_state
    calls = []

    def counting(table_dir):
        calls.append(table_dir)
        return real(table_dir)

    monkeypatch.setattr(ice, "_resolve_state", counting)
    readers = {
        "read_snapshot": lambda: ice.read_snapshot(spark, table),
        "input_files_df": lambda: pio.input_files_df(spark, table, ("id",)),
        "read_changelog": lambda: ice.read_changelog(spark, table),
        "added_files": lambda: ice.added_files(table, first),
        "metadata_table files": lambda: ice.metadata_table(spark, table, "files"),
    }
    reads = {}
    for name, call in readers.items():
        calls.clear()
        call()
        reads[name] = len(calls)
    assert reads == dict.fromkeys(readers, 1)
