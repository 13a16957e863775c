"""The benchmark's workloads: set-up, the timed operation, output checks,
query-plan sources and the in-process kernel replay of each.

A rep is one call of the engine's public entry points, exactly as
``scripts/encode_job.py`` makes them.
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil

AVG_TOKENS = 256


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(suffix))
    return total


class Workload:
    """One workload over a generated tokens table: a repeated operation plus
    its set-up, output checks and kernel replay."""

    name = ""
    rows = 100_000  # size of the generated input

    def __init__(self, bench) -> None:
        self.b = bench
        self.pending = None  # the last rep's result, checked after timing
        self.input = ""
        self.snappy_bytes = 0
        self.total_tokens = 0
        self.raw_bytes = 0
        self.last_output = ""

    def rep(self, tag: str) -> int:
        """The timed operation; returns the number of units attempted."""
        raise NotImplementedError

    def check(self) -> list[str]:
        """Check the last rep's outputs (untimed); returns failures."""
        raise NotImplementedError

    def plans(self) -> dict:
        """The DataFrames a rep runs, by name, for the plan fingerprints."""
        raise NotImplementedError

    def prepare_replay(self) -> None:
        """Untraced preparation of the in-process kernel replay."""

    def replay(self) -> None:
        """Repeat, in this process, the kernel calls the workers made."""
        raise NotImplementedError

    def setup(self, i: int) -> None:
        """Materialize the input once (set-up is timed and repeated)."""
        from parquet_to_arrow_spark.sources.synth import synth_tokens_df

        self.input = self.b.path(f"input{i}")
        synth_tokens_df(
            self.b.spark,
            self.rows,
            avg_tokens=AVG_TOKENS,
            n_partitions=2 * self.b.cores,
            seed=self.b.args.seed,
        ).write.mode("overwrite").parquet(self.input)

    def after_setup(self) -> None:
        """Untimed work between set-up and the first rep."""
        from pyspark.sql import functions as F

        self.drop_other_copies("input", self.input)
        self.snappy_bytes = dir_bytes(self.input)
        row = (
            self.b.spark.read.parquet(self.input)
            .agg(F.count("*").alias("n"), F.sum("n_tok").alias("t"))
            .collect()[0]
        )
        if row["n"] != self.rows:
            raise RuntimeError(f"input has {row['n']} rows, expected {self.rows}")
        self.total_tokens = int(row["t"])

    def drop_other_copies(self, prefix: str, keep: str) -> None:
        """Delete the earlier set-up repetitions' copies, keeping ``keep``."""
        for path in glob.glob(self.b.path(prefix + "*")):
            if path != keep:
                shutil.rmtree(path)

    def write_and_total(self, encoded, out: str, man: str) -> dict:
        """Write the chunks, the manifest, then its totals, as
        ``scripts/encode_job.py`` does."""
        from parquet_to_arrow_spark import manifest as mf

        spark = self.b.spark
        if encoded is not None:
            encoded.write.mode("overwrite").option("compression", "zstd").parquet(out)
        written = spark.read.parquet(out)
        if "wave" in written.columns:  # keyed output: partition-discovery column
            written = written.drop("wave")
        mf.write_manifest(mf.manifest_from_encoded(written), man, mode="overwrite")
        return mf.totals(spark.read.parquet(man))

    def keep_output(self, out: str, totals: dict) -> list[str]:
        """Check a rep's manifest totals; keep its output for the final checks."""
        if self.last_output and self.last_output != out:
            shutil.rmtree(self.last_output, ignore_errors=True)
        self.last_output, self.raw_bytes = out, totals["raw_bytes"]
        if totals["n_rows"] != self.rows or totals["n_values"] != self.total_tokens:
            return [
                f"manifest has {totals['n_rows']} rows / {totals['n_values']} tokens, "
                f"input {self.rows} / {self.total_tokens}"
            ]
        return []

    def checksum_pass(self, encoded_dir: str) -> tuple[int, int, list[str]]:
        """Decode every chunk with its stored checksum verified (the default)."""
        from pyspark.sql import functions as F

        from parquet_to_arrow_spark.encode import decode_chunks_df

        enc = self.b.spark.read.parquet(encoded_dir)
        n_chunks = enc.count()
        try:
            row = (
                decode_chunks_df(enc, columns=("n_tok",))
                .agg(F.count("*").alias("n"), F.sum("n_tok").alias("t"))
                .collect()[0]
            )
        except Exception as e:  # a checksum mismatch fails the task
            return n_chunks, n_chunks, [f"checksum decode: {str(e).splitlines()[0][:300]}"]
        if row["n"] != self.rows or row["t"] != self.total_tokens:
            return n_chunks, n_chunks, [f"decoded {row['n']} rows / {row['t']} tokens"]
        return n_chunks, 0, []

    def size_metrics(self) -> dict:
        enc_bytes = dir_bytes(self.last_output)
        return {
            "stored_bytes_per_raw_byte": enc_bytes / self.raw_bytes,
            "size_vs_snappy": enc_bytes / self.snappy_bytes,
        }

    def final_checks(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, messages) of the checks made once per run."""
        attempted, failed, msgs = self.checksum_pass(self.last_output)
        ratio = self.size_metrics()["size_vs_snappy"]
        if ratio > 1.0:
            failed += 1
            msgs.append(f"size_vs_snappy {ratio:.4f} > 1.0")
        return attempted + 1, failed, msgs

    def n_tasks(self) -> int:
        from parquet_to_arrow_spark.sources import io as pio

        return pio.files_df(self.b.spark, self.input).rdd.getNumPartitions()

    def hash_frames(self, encoded_dir: str) -> list:
        """Per-row hashes of the input and of the decoded chunks, as
        ``scripts/encode_job.py --verify`` builds them."""
        from parquet_to_arrow_spark.sources import io as pio

        spark = self.b.spark
        written = spark.read.parquet(encoded_dir)
        if "wave" in written.columns:
            written = written.drop("wave")
        return [
            pio.token_hashes_from_parquet(spark, self.input),
            pio.token_hashes_from_encoded(written),
        ]

    def hash_plans(self, encoded_dir: str) -> dict:
        left, right = self.hash_frames(encoded_dir)
        return {"token_hashes_from_parquet": left, "token_hashes_from_encoded": right}

    def verify(self, encoded_dir: str) -> dict:
        from parquet_to_arrow_spark.sources import io as pio

        return pio.verify_hashes(*self.hash_frames(encoded_dir))

    def check_verify(self, r: dict) -> list[str]:
        if not r["equal"] or r["n_left"] != self.rows or r["n_right"] != self.rows:
            return [f"verify_hashes: {r}"]
        return []

    def replay_verify(self, encoded_dir: str) -> None:
        """The hash workers' kernel calls: both scans, the chunk decode and the
        per-row hashes."""
        from parquet_to_arrow_spark import encode
        from parquet_to_arrow_spark.sources import io as pio

        for batch, _ in self.scan_batches(["doc_id", "tokens"]):
            pio._hash_batch(batch)
        for meta, payload, n_rows in _encoded_chunks(encoded_dir, ("meta", "payload", "n_rows")):
            decoded = encode.decode_chunk_row(meta, payload, n_rows, columns=("doc_id", "tokens"))
            pio._hash_batch(decoded)

    def scan_batches(self, columns=("doc_id", "tokens", "n_tok", "source")):
        """(batch, chunk id) as the file-split workers of ``sources.io`` read
        them."""
        from parquet_to_arrow_spark.session import DEFAULT_CHUNK_ROWS
        from parquet_to_arrow_spark.sources import io as pio

        for fpath in pio.list_parquet_files(self.input):
            batches = pio.open_parquet(fpath).iter_batches(
                batch_size=DEFAULT_CHUNK_ROWS, columns=list(columns)
            )
            base = os.path.splitext(os.path.basename(fpath))[0]
            for seq in itertools.count():
                with self.b.span("sources.io.scan") as s:
                    batch = next(batches, None)
                    if s is not None and batch is not None:
                        s.attrs["out_bytes"] = batch.nbytes
                if batch is None:
                    break
                if batch.num_rows:
                    yield batch, f"{base}.{seq:05d}"


class EncodeFast(Workload):
    name = "encode_fast"

    def rep(self, tag: str) -> int:
        from parquet_to_arrow_spark.sources import io as pio

        out = self.b.path("out", tag)
        encoded = pio.encode_parquet_dir(self.b.spark, self.input)
        self.pending = (out, self.write_and_total(encoded, out, self.b.path("manifest", tag)))
        return self.pending[1]["n_chunks"]

    def check(self) -> list[str]:
        return self.keep_output(*self.pending)

    def plans(self) -> dict:
        from parquet_to_arrow_spark.sources import io as pio

        return {"encode_parquet_dir": pio.encode_parquet_dir(self.b.spark, self.input)}

    def replay(self) -> None:
        from parquet_to_arrow_spark import encode

        for batch, chunk_id in self.scan_batches():
            encode.encode_batch(batch, chunk_id=chunk_id)


class KeyedVerify(Workload):
    """``encode_job --mode keyed --verify``: the keyed encode, then the
    per-row hash comparison of its output against the input."""

    name = "keyed_verify"
    # a hash shuffle of array rows takes several times the fast path's time
    # per row; half the rows keep a run inside the benchmark's time limit
    rows = 50_000

    def __init__(self, bench) -> None:
        super().__init__(bench)
        # encode_job's resumable path sized to the box: two buckets per core
        self.n_buckets = 2 * bench.cores

    def rep(self, tag: str) -> int:
        from pyspark.sql import functions as F

        from parquet_to_arrow_spark import checkpoint as ckpt
        from parquet_to_arrow_spark.encode import encode_tokens_df
        from parquet_to_arrow_spark.sources import io as pio

        spark, n = self.b.spark, self.n_buckets
        out, ck = self.b.path("out", tag), self.b.path("ckpt", tag)
        keyed = ckpt.with_pkey(spark.read.parquet(self.input), n)
        # encode_job --cache-input auto: cache inputs under 8 GiB across waves
        if sum(i.size for i in pio.resolve_files(self.input)[1]) < (8 << 30):
            keyed = keyed.cache()
        with self.b.span("checkpoint.read_done"):
            done = {r["pkey"] for r in ckpt.read_done(spark, ck).collect()}
        pending = sorted(set(range(n)) - done)
        wave = (len(pending) + 1) // 2
        for w0 in range(0, len(pending), wave):
            keys = pending[w0 : w0 + wave]
            part = keyed.filter(F.col("pkey").isin(keys))
            encoded = encode_tokens_df(part, by_key=True, n_buckets=n)
            encoded.write.mode("overwrite").option("compression", "zstd").parquet(
                os.path.join(out, f"wave={keys[0]}")
            )
            ckpt.mark_done(spark.createDataFrame([(k,) for k in keys], "pkey int"), ck)
        self.pending = (out, self.write_and_total(None, out, self.b.path("manifest", tag)), ck)
        self.verified = self.verify(out)
        return self.pending[1]["n_chunks"] + self.verified["n_left"]

    def check(self) -> list[str]:
        from parquet_to_arrow_spark import checkpoint as ckpt

        out, totals, ck = self.pending
        failures = self.keep_output(out, totals)
        n_done = ckpt.read_done(self.b.spark, ck).count()
        if n_done != self.n_buckets:
            failures.append(f"checkpoint holds {n_done} of {self.n_buckets} buckets")
        return failures + self.check_verify(self.verified)

    def plans(self) -> dict:
        from pyspark.sql import functions as F

        from parquet_to_arrow_spark import checkpoint as ckpt
        from parquet_to_arrow_spark.encode import encode_tokens_df

        n = self.n_buckets
        keyed = ckpt.with_pkey(self.b.spark.read.parquet(self.input), n)
        wave = keyed.filter(F.col("pkey").isin(list(range(n // 2))))
        return {
            "encode_tokens_df": encode_tokens_df(wave, by_key=True, n_buckets=n)
        } | self.hash_plans(self.last_output)

    def prepare_replay(self) -> None:
        """Decode the last keyed output into the chunks its workers encoded."""
        from parquet_to_arrow_spark import encode

        self.chunks = [
            (encode.decode_chunk_row(meta, payload, n_rows), chunk_id, pkey)
            for chunk_id, pkey, meta, payload, n_rows in _encoded_chunks(
                self.last_output, ("chunk_id", "pkey", "meta", "payload", "n_rows")
            )
        ]

    def replay(self) -> None:
        from parquet_to_arrow_spark import encode

        for batch, chunk_id, pkey in self.chunks:
            encode.encode_batch(batch, chunk_id=chunk_id, pkey=pkey)
        self.replay_verify(self.last_output)


def _encoded_chunks(encoded_dir: str, columns: tuple[str, ...]):
    """Rows of every encoded parquet file under ``encoded_dir``, in path order."""
    import pyarrow.parquet as pq

    for dirpath, _, files in sorted(os.walk(encoded_dir)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                table = pq.read_table(os.path.join(dirpath, f), columns=list(columns))
                yield from zip(*(table.column(c).to_pylist() for c in columns))


WORKLOADS = {w.name: w for w in (EncodeFast, KeyedVerify)}
