"""Deterministic synthesis of the pre-tokenized training-sequence table.

Target schema (BASELINE.json input_hint):
    (doc_id: string, tokens: array<int32>, n_tok: int32, source: string)

Every value is a pure function of the global row id via a splitmix64-style
counter hash — NOT of partitioning, batch boundaries, or RNG state — so any
slice of the conceptual 10^12-row table is reproducible independently
(SURVEY.md §7.4 item 6: seed-per-row generation so any slice is reproducible
without materializing the whole table). Generation runs distributed via
``spark.range(n).mapInArrow`` with zero per-row Python.

Row regimes rotate per doc to exercise every codec (FIXTURES.md §1):
small-vocab / long-runs / constant / narrow-range / full-range-int32 /
text-like-periodic / zipf vocab / empty arrays. ``source`` is deliberately
zipf-skewed across ["web", "books", "code", "wiki", "forum"].
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

SCHEMA_DDL = "doc_id string, tokens array<int>, n_tok int, source string"

_PAD = np.int32(0)

SOURCES = ["web", "books", "code", "wiki", "forum"]
# zipf-ish cumulative thresholds over 2^64 for the skewed source column
_SOURCE_CDF = np.array([0.62, 0.82, 0.92, 0.98, 1.0]) * float(2**64)


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    """Vectorized splitmix64: uint64 -> uint64, deterministic."""
    z = x.astype(np.uint64) + np.uint64((salt * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _gen_batch(ids: np.ndarray, avg_tokens: int, seed: int) -> pa.RecordBatch:
    n = len(ids)
    u = ids.astype(np.uint64) + np.uint64(seed) * np.uint64(0x0000_0001_0000_0001)
    regime = (_mix(u, 2) % np.uint64(8)).astype(np.int64)
    # lengths: 0 for the empty-array regime, else 1..2*avg (regime-dependent)
    lengths = (_mix(u, 3) % np.uint64(2 * avg_tokens)).astype(np.int64) + 1
    lengths[regime == 6] = 0
    total = int(lengths.sum())

    row_of = np.repeat(np.arange(n, dtype=np.int64), lengths)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    within = np.arange(total, dtype=np.int64) - offsets[:-1][row_of]
    g = u[row_of] * np.uint64(0x1FFFF) + within.astype(np.uint64)
    h = _mix(g, 7)

    r = regime[row_of]
    vals = np.empty(total, dtype=np.int64)
    vals[r == 0] = (h[r == 0] % np.uint64(256)).astype(np.int64)  # small vocab
    m1 = r == 1  # long runs of PAD with sparse non-pad values
    v1 = (h[m1] % np.uint64(50000)).astype(np.int64)
    v1[(_mix(g[m1], 11) % np.uint64(16)) != 0] = int(_PAD)
    vals[m1] = v1
    vals[r == 2] = int(_PAD)  # constant / single-run
    vals[r == 3] = 10_000_000 + (h[r == 3] % np.uint64(128)).astype(np.int64)  # narrow
    vals[r == 4] = h[r == 4].view(np.int64)[...] >> np.int64(32)  # full int32 range
    vals[r == 5] = 1000 + (within[r == 5] % 17)  # text-like periodic
    m6 = r >= 6  # zipf-ish realistic vocab (squared uniform -> skew)
    f = (h[m6] % np.uint64(1 << 16)).astype(np.float64) / float(1 << 16)
    vals[m6] = (f * f * 50257.0).astype(np.int64)
    tokens_flat = vals.astype(np.int32)

    src_idx = np.searchsorted(_SOURCE_CDF, _mix(u, 5).astype(np.float64))
    src_idx = np.clip(src_idx, 0, len(SOURCES) - 1)
    source = pa.DictionaryArray.from_arrays(
        pa.array(src_idx, type=pa.int32()), pa.array(SOURCES)
    ).cast(pa.string())

    doc_id = np.char.add("doc-", np.char.zfill(ids.astype("U12"), 12))
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(tokens_flat, type=pa.int32())
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_id, type=pa.string()),
            tokens,
            pa.array(lengths.astype(np.int32)),
            source,
        ],
        names=["doc_id", "tokens", "n_tok", "source"],
    )


def synth_tokens_df(
    spark: SparkSession,
    n_rows: int,
    avg_tokens: int = 128,
    n_partitions: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Distributed deterministic tokens table of ``n_rows`` docs."""
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(0).to_numpy()
            yield _gen_batch(ids, avg_tokens, seed)

    return spark.range(0, n_rows, 1, n_partitions).mapInArrow(gen, SCHEMA_DDL)
