"""Exactly-once durability of the keyed encode job's wave commits.

The crash window is between a wave's data write and its checkpoint
mark_done. Waves write to deterministic ``wave=<first bucket>``
subdirectories with overwrite semantics, so a replayed wave REPLACES the
orphaned data instead of appending duplicates (ADVICE r01; the reference
analogue is parquet-diff failing on any row-count drift,
src/parquet-diff.cc:238-245).
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "scripts"))

import encode_job  # noqa: E402

from parquet_to_arrow_spark.encode import decode_chunks_df
from parquet_to_arrow_spark.sources.synth import synth_tokens_df
from parquet_to_arrow_spark.verify import diff_report

N_ROWS = 1500


class _NoStop:
    """Session proxy so encode_job.main's spark.stop() can't kill the
    session-scoped pytest fixture."""

    def __init__(self, real):
        self._real = real

    def __getattr__(self, name):
        return getattr(self._real, name)

    def stop(self):  # noqa: D401
        pass


@pytest.fixture()
def job_spark(spark, monkeypatch):
    import parquet_to_arrow_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda **kw: _NoStop(spark))
    return spark


def test_keyed_wave_replay_is_exactly_once(job_spark, tmp_path):
    spark = job_spark
    tokens = synth_tokens_df(spark, N_ROWS, avg_tokens=32, n_partitions=4).cache()
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    man = str(tmp_path / "man")
    ckpt = str(tmp_path / "ckpt")
    tokens.write.mode("overwrite").parquet(inp)

    args = [
        "--input", inp, "--output", out, "--manifest", man,
        "--checkpoint", ckpt, "--buckets", "8", "--mode", "keyed",
        "--wave-size", "4", "--chunk-rows", "256", "--verify",
    ]
    assert encode_job.main(args) == 0

    # simulate a crash between the second wave's data commit and mark_done:
    # the data for buckets 4..7 is on disk but the checkpoint says pending
    done = [r["pkey"] for r in spark.read.parquet(ckpt).collect()]
    assert sorted(done) == list(range(8))
    survivors = spark.createDataFrame([(k,) for k in done if k < 4], "pkey int")
    survivors_rows = survivors.collect()
    shutil.rmtree(ckpt)
    spark.createDataFrame(survivors_rows, "pkey int").write.parquet(ckpt)

    # replay: wave {4..7} re-encodes into the SAME wave=4 subdir (overwrite);
    # --verify row-count check proves nothing was duplicated
    assert encode_job.main(args) == 0

    written = spark.read.parquet(out).drop("wave")
    decoded = decode_chunks_df(written)
    rep = diff_report(tokens, decoded)
    assert rep["equal"], rep
    assert rep["n_left"] == rep["n_right"] == N_ROWS
    tokens.unpersist()


def test_keyed_no_cache_rescans_per_wave(job_spark, tmp_path):
    """--cache-input never re-scans the input parquet on every wave — the
    only plan shape that exists at 100 TB (no cluster caches its whole
    input). Output must be bit-identical to the cached path."""
    spark = job_spark
    tokens = synth_tokens_df(spark, N_ROWS, avg_tokens=32, n_partitions=4).cache()
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    tokens.write.mode("overwrite").parquet(inp)

    args = [
        "--input", inp, "--output", out, "--manifest", str(tmp_path / "man"),
        "--checkpoint", str(tmp_path / "ckpt"), "--buckets", "8",
        "--mode", "keyed", "--wave-size", "4", "--chunk-rows", "256",
        "--cache-input", "never", "--verify",
    ]
    assert encode_job.main(args) == 0
    decoded = decode_chunks_df(spark.read.parquet(out).drop("wave"))
    rep = diff_report(tokens, decoded)
    assert rep["equal"] and rep["n_left"] == N_ROWS, rep
    tokens.unpersist()


def test_keyed_iceberg_commit_per_wave(job_spark, tmp_path):
    """--iceberg-table commits one snapshot per wave with per-wave lineage
    in the summary, the snapshot walk reads back the whole encoded table
    bit-identically, and a crash BETWEEN the iceberg commit and mark_done
    does not replay the wave (the snapshot is the commit marker)."""
    from parquet_to_arrow_spark.sources import iceberg as ice
    from parquet_to_arrow_spark.sources import iceberg_meta

    spark = job_spark
    tokens = synth_tokens_df(spark, N_ROWS, avg_tokens=32, n_partitions=4).cache()
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    tbl = str(tmp_path / "iceberg")
    tokens.write.mode("overwrite").parquet(inp)

    args = [
        "--input", inp, "--output", out, "--manifest", str(tmp_path / "man"),
        "--checkpoint", ckpt, "--buckets", "8", "--mode", "keyed",
        "--wave-size", "4", "--chunk-rows", "256", "--verify",
        "--iceberg-table", tbl,
    ]
    assert encode_job.main(args) == 0

    snaps = iceberg_meta.snapshots(tbl)
    assert len(snaps) == 2  # one snapshot per wave
    waves = [sorted(__import__("json").loads(s["summary"]["buckets"])) for s in snaps]
    assert waves == [[0, 1, 2, 3], [4, 5, 6, 7]]

    # snapshot scan == direct parquet scan, decoded bit-identical
    via_iceberg = ice.read_table(spark, tbl)
    rep = diff_report(tokens, decode_chunks_df(via_iceberg))
    assert rep["equal"] and rep["n_left"] == N_ROWS, rep
    # time travel to wave 1 sees only buckets 0..3
    first = ice.read_table(spark, tbl, snapshot_id=snaps[0]["snapshot-id"])
    assert set(r["pkey"] for r in first.select("pkey").distinct().collect()) == {0, 1, 2, 3}

    # crash window: checkpoint lost its second wave but the snapshot exists
    # -> resume must SKIP (replaying would orphan the snapshot's files)
    done_rows = [(k,) for k in range(4)]
    shutil.rmtree(ckpt)
    spark.createDataFrame(done_rows, "pkey int").write.parquet(ckpt)
    assert encode_job.main(args) == 0
    assert len(iceberg_meta.snapshots(tbl)) == 2  # no third snapshot
    rep2 = diff_report(tokens, decode_chunks_df(ice.read_table(spark, tbl)))
    assert rep2["equal"], rep2
    tokens.unpersist()


def test_fast_mode_iceberg_commits_only_new_files(job_spark, tmp_path):
    """fast mode appends files per run; the iceberg commit must add each
    run's files exactly once (known-file diff), so every data file is
    referenced by exactly one ADDED manifest entry."""
    from collections import Counter

    from parquet_to_arrow_spark.sources import iceberg_meta as ice

    spark = job_spark
    tokens = synth_tokens_df(spark, 500, avg_tokens=32, n_partitions=2)
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    tbl = str(tmp_path / "tbl")
    tokens.write.parquet(inp)

    args = ["--input", inp, "--output", out, "--manifest", str(tmp_path / "man"),
            "--mode", "fast", "--chunk-rows", "256", "--iceberg-table", tbl]
    assert encode_job.main(args) == 0
    n1 = len(ice.snapshot_files(tbl))
    assert encode_job.main(args) == 0  # append semantics: second run = new files

    files = ice.snapshot_files(tbl)
    assert len(files) > n1
    counts = Counter(f.path for f in files)
    assert all(c == 1 for c in counts.values()), counts  # no double-commits
    assert len(ice.orphan_files(tbl, data_dir=out)) == 0


def test_fast_mode_encodes_from_iceberg_input(job_spark, tmp_path):
    """--input can be an Iceberg table: the fast path encodes exactly the
    current snapshot's files (resolved via manifests, not a dir listing),
    and verify hashes the same snapshot — an orphan file planted in the
    data directory changes nothing."""
    import os

    from parquet_to_arrow_spark.sources import iceberg as ice

    spark = job_spark
    tokens = synth_tokens_df(spark, 600, avg_tokens=32, n_partitions=2).cache()
    table = str(tmp_path / "intable")
    ice.append(tokens, table)
    # orphan in the data dir: a crashed write whose commit never landed
    seq_dir = next(
        os.path.join(table, "data", d) for d in os.listdir(f"{table}/data")
    )
    synth_tokens_df(spark, 50, n_partitions=1).write.mode("overwrite").parquet(
        f"{seq_dir}-orphan"
    )

    out = str(tmp_path / "out")
    args = ["--input", table, "--output", out, "--manifest", str(tmp_path / "man"),
            "--mode", "fast", "--chunk-rows", "256", "--verify"]
    assert encode_job.main(args) == 0
    decoded = decode_chunks_df(spark.read.parquet(out))
    rep = diff_report(tokens, decoded)
    assert rep["equal"] and rep["n_left"] == 600, rep
    tokens.unpersist()


def test_verify_refuses_pending_deletes_before_writing(job_spark, tmp_path):
    """A merge-on-read delete leaves the deleted row in the raw data files
    that the verify hash side scans. --verify must refuse such a snapshot
    (not report a false 'missing' row) and stop before the first wave
    writes or checkpoints anything."""
    from parquet_to_arrow_spark.sources import iceberg as ice

    spark = job_spark
    table = str(tmp_path / "intable")
    ice.append(synth_tokens_df(spark, 100, avg_tokens=16, n_partitions=1), table)
    ice.delete_where_mor(spark, table, "doc_id = 'doc-000000000001'")

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    args = ["--input", table, "--output", out, "--manifest", str(tmp_path / "man"),
            "--checkpoint", ckpt, "--buckets", "4", "--mode", "keyed", "--verify"]
    with pytest.raises(ValueError, match="position deletes"):
        encode_job.main(args)
    assert not os.path.exists(out) and not os.path.exists(ckpt)
