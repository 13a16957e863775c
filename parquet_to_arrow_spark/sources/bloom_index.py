"""Per-data-file Bloom filter index: point-lookup file pruning for
hash-distributed keys.

Manifest min/max bounds (iceberg_meta) prune RANGE queries, but they are
useless for hash-like keys: every file of a corpus keyed by doc_id spans
essentially the whole lexicographic range, so ``doc_id = X`` still scans
every file. This sidecar stores one Bloom filter per data file for a chosen
column; an equality lookup then tests the key against each file's filter
and reads only the files that might contain it — at 10^12 rows that is the
difference between a full-corpus scan and ~1 file.

Design (modeled on Iceberg's Puffin statistics sidecars — advisory blobs
keyed by snapshot + data file, never load-bearing for correctness):

- The index is a PARQUET file under ``metadata/`` (columnar:
  ``path, m_bits, k, bits``), published atomically via tmp+hard-link
  like every other metadata artifact. One row per data file; blobs are
  ~10 bits/row at the default 1% fpp (125 KB for a 100k-row file).
- Build runs over the engine's file-split scan (sources/io.py files_df,
  size-balanced file groups per task): the worker reads ONLY the indexed
  column via pyarrow and emits one packed filter per file — no shuffle,
  no driver data pass.
- Lookup is conservative by construction: a data file with no recorded
  filter (appended after the index was built, or indexed under another
  column) is always a candidate. A stale index can therefore only cost
  pruning efficiency, never rows.
- At larger file counts than a driver comfortably holds (>~10^5), the
  same parquet index reads as a DataFrame and the membership test runs
  distributed; per-partition filter sharding is the next step up, noted
  in build_bloom_index.

Reference precedent for the "decide from per-chunk metadata before reading
data" idea: parquet-to-arrow's dictionary decision pass
(src/parquet-to-arrow.cc:25-33) — the same probe-metadata-first shape, here
extended to membership sketches.
"""

from __future__ import annotations

import base64
import hashlib
import math
import os
import uuid

import numpy as np

from . import iceberg_meta
from .io import files_df


def _hash_pair(value) -> tuple[int, int]:
    """Two independent 64-bit hashes of a key via md5 (deterministic across
    processes/retries — never a seeded RNG). Keys canonicalize as
    ``str(value)`` bytes: stable for the string/int key columns this index
    targets (floats are not exact-match keys; don't index them)."""
    d = hashlib.md5(str(value).encode("utf-8")).digest()
    return int.from_bytes(d[:8], "little"), int.from_bytes(d[8:], "little")


def _params(n: int, fpp: float) -> tuple[int, int]:
    """Optimal (m_bits, k) for n keys at the target false-positive rate.
    k caps at 64 (reached only below fpp ~1e-19) so the distributed
    membership expression can unroll a FIXED number of probe terms."""
    n = max(1, n)
    m = max(8, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    k = min(64, max(1, int(round(m / n * math.log(2)))))
    return m, k


class Bloom:
    """Packed Bloom filter with double hashing (h1 + i*h2 mod m); the
    standard Kirsch–Mitzenmacher construction, so membership tests cost two
    md5-derived hashes regardless of k."""

    def __init__(self, m_bits: int, k: int, bits: np.ndarray):
        self.m_bits = int(m_bits)
        self.k = int(k)
        self.bits = bits  # uint8 packed, little bit-order
        self.fpp: float | None = None  # build-time target (index drift check)

    @classmethod
    def build(cls, values, fpp: float = 0.01) -> "Bloom":
        vals = [v for v in values if v is not None]
        m, k = _params(len(vals), fpp)
        bits = np.zeros((m + 7) // 8, dtype=np.uint8)
        for v in vals:
            h1, h2 = _hash_pair(v)
            for i in range(k):
                pos = (h1 + i * h2) % m
                bits[pos >> 3] |= np.uint8(1 << (pos & 7))
        return cls(m, k, bits)

    def might_contain(self, value) -> bool:
        h1, h2 = _hash_pair(value)
        for i in range(self.k):
            pos = (h1 + i * h2) % self.m_bits
            if not (self.bits[pos >> 3] >> (pos & 7)) & 1:
                return False
        return True

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, m_bits: int, k: int, raw: bytes) -> "Bloom":
        return cls(m_bits, k, np.frombuffer(raw, dtype=np.uint8))


def _index_path(table_dir: str, column: str) -> str:
    return os.path.join(table_dir, "metadata", f"bloom-{column}.parquet")


def build_bloom_index(
    spark, table_or_path: str, column: str, fpp: float | None = None
) -> str:
    """Build (or rebuild) the per-file Bloom index for ``column`` over the
    CURRENT snapshot's data files. One Spark task per file; each worker
    reads only the indexed column with pyarrow and emits the packed
    filter. The parquet index publishes atomically (tmp + hard-link over
    os.replace semantics — last build wins; the index is advisory, so a
    lost race costs nothing).

    Scale note: the index is one row per data file and rides the same
    parquet reader as everything else; past ~10^5 files, read it as a
    DataFrame and run the membership test distributed (or shard the index
    per partition directory). Blobs do NOT belong in the manifests — they
    would bloat every snapshot walk; Iceberg's Puffin made the same call.
    """
    out, _ = _refresh_index(spark, table_or_path, column, fpp, full=True)
    return out


_INDEX_CACHE: dict[tuple, tuple[float, dict]] = {}


def update_bloom_index(
    spark, table_or_path: str, column: str, fpp: float | None = None
) -> tuple[str, int]:
    """Incremental maintenance: build filters ONLY for live data files
    whose recorded filter is missing (new appends) or DRIFTED — built
    under a false-positive target more than 4x looser than what today's
    file count calls for (without the drift rebuild, early small-table
    filters would keep their loose fpp forever and the expected stray
    files per lookup would grow with the table instead of staying ~1).
    Dead files' rows are dropped. Cost is O(new + drifted files), not
    O(table). Returns (index_path, n_files_built)."""
    return _refresh_index(spark, table_or_path, column, fpp, full=False)


def _refresh_index(
    spark, table_or_path: str, column: str, fpp: float | None, full: bool
) -> tuple[str, int]:
    _, meta = iceberg_meta._table_state(table_or_path)
    sid = meta.get("current-snapshot-id")
    sizes = {f.path: f.file_size for f in iceberg_meta._live_files(meta, sid)[0]}
    live = sorted(sizes)
    if fpp is None:
        # the quantity that matters is EXPECTED FALSE-POSITIVE FILES per
        # lookup (n_files * fpp), so the default tightens with file count:
        # ~1 stray file at any table size, ~2 bits/row per file-count
        # doubling (16.6 bits/row at 10^2 files, 33 at 10^7)
        fpp = min(0.01, 1.0 / max(1, len(live)))
    idx = {} if full else (_load_index(table_or_path, column) or {})
    live_set = set(live)
    rebuild = [
        p
        for p in live
        if p not in idx or (idx[p].fpp is not None and idx[p].fpp > 4 * fpp)
    ]
    if not rebuild and set(idx) <= live_set:
        return _index_path(table_or_path, column), 0
    built = _build_blooms(spark, {p: sizes[p] for p in rebuild}, column, fpp)
    keep = {p: b for p, b in idx.items() if p in live_set}
    keep.update(built)
    return _write_index(table_or_path, column, keep, sid), len(rebuild)


def _build_blooms(spark, sizes: dict[str, int], column: str, fpp: float) -> dict:
    """{path: Bloom} for the files of ``sizes`` (path -> bytes), built in
    the workers over the engine's file-split scan (``sources.io.files_df``);
    the build kernel shared by full and incremental builds."""
    import pandas as pd

    if not sizes:
        return {}

    def gen(pdfs):
        import pyarrow.parquet as pq

        for pdf in pdfs:
            for p in pdf["path"]:
                col = pq.read_table(p, columns=[column])[column]
                b = Bloom.build(col.to_pylist(), fpp)
                yield pd.DataFrame(
                    {
                        "path": [p],
                        "m_bits": [b.m_bits],
                        "k": [b.k],
                        "bits": [base64.b64encode(b.to_bytes()).decode()],
                    }
                )

    rows = (
        files_df(spark, None, files=list(sizes), sizes=sizes)
        .mapInPandas(gen, "path string, m_bits long, k int, bits string")
        .collect()
    )
    out = {}
    for r in rows:
        b = Bloom.from_bytes(r["m_bits"], r["k"], base64.b64decode(r["bits"]))
        b.fpp = fpp
        out[r["path"]] = b
    return out


def _write_index(
    table_or_path: str, column: str, blooms: dict, snapshot_id
) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = sorted(blooms)
    table = pa.table(
        {
            "path": paths,
            "m_bits": [blooms[p].m_bits for p in paths],
            "k": [blooms[p].k for p in paths],
            "bits": [blooms[p].to_bytes() for p in paths],
            "fpp": [blooms[p].fpp for p in paths],
            "snapshot_id": [snapshot_id] * len(paths),
        }
    )
    out = _index_path(table_or_path, column)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = out + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    pq.write_table(table, tmp)
    os.replace(tmp, out)
    return out


def _load_index(table_or_path: str, column: str) -> dict[str, Bloom] | None:
    """Read the index parquet, cached per (path, mtime) — repeated point
    lookups in one process pay the parse once; a rebuilt index (new mtime)
    invalidates naturally."""
    import pyarrow.parquet as pq

    p = _index_path(table_or_path, column)
    if not os.path.exists(p):
        return None
    mtime = os.path.getmtime(p)
    hit = _INDEX_CACHE.get(p)
    if hit is not None and hit[0] == mtime:
        return hit[1]
    t = pq.read_table(p)
    fpps = (
        t["fpp"].to_pylist()
        if "fpp" in t.column_names
        else [None] * len(t)
    )
    idx = {}
    for path, m, k, raw, pf in zip(
        t["path"].to_pylist(),
        t["m_bits"].to_pylist(),
        t["k"].to_pylist(),
        t["bits"].to_pylist(),
        fpps,
    ):
        b = Bloom.from_bytes(m, k, raw)
        b.fpp = pf
        idx[path] = b
    _INDEX_CACHE.clear()  # one-slot: lookups cluster on one table
    _INDEX_CACHE[p] = (mtime, idx)
    return idx


def bloom_candidate_files(
    table_or_path: str, column: str, value
) -> list[str] | None:
    """Live data files that might contain ``column = value``: files whose
    filter rejects the key are pruned; files without a recorded filter
    (post-index appends) stay candidates. Returns None when no index
    exists for the column (caller falls back to the full scan)."""
    idx = _load_index(table_or_path, column)
    if idx is None:
        return None
    return _might_hold(idx, iceberg_meta.snapshot_files(table_or_path), value)


def _might_hold(idx: dict, files: list, value) -> list[str]:
    """Paths of ``files`` whose filter in ``idx`` might contain ``value``;
    files without a recorded filter stay candidates."""
    return [
        f.path
        for f in files
        if f.path not in idx or idx[f.path].might_contain(value)
    ]


_MAX_K = 64  # _params cap; the unrolled membership expression relies on it


def bloom_candidate_files_distributed(spark, table_or_path: str, column: str, value):
    """Distributed membership test — the >10^5-files path the driver-side
    bloom_candidate_files loop does not scale to: the index parquet reads
    as a DataFrame and the Kirsch–Mitzenmacher double-hash bit test
    evaluates as a pure COLUMN EXPRESSION per index row (the two md5
    halves of the key are deterministic scalars, computed once
    driver-side), so no filter blob is ever parsed on the driver.

    Exactness: h1 + i*h2 overflows int64 (both halves are uint64), so
    each probe's numerator is pre-computed as an exact Python bigint and
    reduced per row with DECIMAL(38,0) pmod — bit-identical to
    Bloom.might_contain (pinned by test). Probes beyond a row's k are
    short-circuited with ``i >= k``.

    Returns a DataFrame ``path string`` of candidate files: indexed files
    whose filter might contain the key, PLUS live files with no recorded
    filter (post-index appends — conservative by construction, same rule
    as the driver-side path). None when no index exists for the column."""
    return _distributed_candidates(
        spark, table_or_path, column, value, iceberg_meta.snapshot_files(table_or_path)
    )


def _distributed_candidates(spark, table_or_path: str, column: str, value, files):
    """bloom_candidate_files_distributed over the live data ``files`` of
    one snapshot."""
    from pyspark.sql import functions as F

    p = _index_path(table_or_path, column)
    if not os.path.exists(p):
        return None
    h1, h2 = _hash_pair(value)
    idx = spark.read.parquet(p).select("path", "m_bits", "k", "bits")
    probes = []
    for i in range(_MAX_K):
        num = h1 + i * h2  # exact bigint, never truncated through int64
        pos = (
            f"CAST(pmod(CAST('{num}' AS DECIMAL(38,0)), m_bits) AS BIGINT)"
        )
        probes.append(
            f"({i} >= k OR ("
            f"CAST(conv(hex(substring(bits, CAST(({pos}) DIV 8 AS INT) + 1, 1)),"
            f" 16, 10) AS INT)"
            f" >> CAST(pmod({pos}, 8) AS INT)) & 1 = 1)"
        )
    might = F.expr(" AND ".join(probes))
    live = spark.createDataFrame([(f.path,) for f in files], "path string")
    # unindexed live files (bits null after the left join) stay candidates;
    # the index side is file-count-sized — broadcast it
    joined = live.join(F.broadcast(idx), "path", "left")
    return joined.filter(F.col("bits").isNull() | might).select("path")


def point_lookup(spark, table_or_path: str, column: str, value,
                 distributed: bool = False):
    """Equality lookup through the Bloom index: read only the candidate
    files, through the same data-file scan as read_snapshot
    (iceberg_meta._scan_files), so pending merge-on-read deletes apply and
    identity-partition columns carry their values. Without an index every
    live file is read; when every file is pruned the result is an empty
    typed frame.

    ``distributed``: resolve candidates through the column-expression
    membership path (bloom_candidate_files_distributed) instead of the
    driver-side loop — the >10^5-files regime where parsing every filter
    blob on the driver is the bottleneck; the candidate list itself is
    lookup-sized either way."""
    from pyspark.sql import functions as F

    # one snapshot for the whole lookup: the candidate files and the
    # deletes they are read with come from this state read
    _, meta = iceberg_meta._table_state(table_or_path)
    files, dels = iceberg_meta._live_files(meta, meta["current-snapshot-id"])
    if distributed:
        cdf = _distributed_candidates(spark, table_or_path, column, value, files)
        cands = None if cdf is None else {r["path"] for r in cdf.collect()}
    else:
        idx = _load_index(table_or_path, column)
        cands = None if idx is None else set(_might_hold(idx, files, value))
    if cands is not None:
        files = [f for f in files if f.path in cands]
    return iceberg_meta._scan_files(spark, meta, files, dels).filter(
        F.col(column) == F.lit(value)
    )
