"""Skew-aware bucket planning: salted repartition + adaptive coalescing.

The tokens table's ``source`` column is deliberately zipf-skewed (FIXTURES.md:
one source can be 90% of rows). Encoding chunks aligned with ``source`` is
desirable — same-source documents share token statistics, so codecs fit
better — but a naive ``repartition("source")`` serializes the hot source on
one task.

``plan_buckets`` measures the distribution (one cheap count aggregation — the
same move as the codec selector's stats pass) and builds an explicit plan:

- hot sources are SALTED across ceil(share * n_buckets) buckets
  (xxhash64(doc_id) picks the salt deterministically);
- tiny sources are COALESCED into shared buckets (adaptive coalescing) so
  no task is starved by a thousand near-empty groups.

The plan is a small dict broadcast into an expression — no UDF, no second
shuffle. At 100 TB the count aggregation is a metadata-cheap scan of one
string column; everything else is unchanged.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F


def plan_buckets(df: DataFrame, n_buckets: int = 256, min_rows_per_bucket: int = 4096) -> dict:
    """{source: (first_bucket, n_salts)} proportional to measured row share."""
    counts = [(r["source"], r["count"]) for r in df.groupBy("source").count().collect()]
    counts.sort(key=lambda t: (-t[1], t[0]))  # deterministic: big first
    total = sum(c for _, c in counts) or 1
    plan: dict[str, tuple[int, int]] = {}
    next_bucket = 0
    shared_start = None
    for source, c in counts:
        share = c / total
        salts = min(max(int(math.ceil(share * n_buckets)), 1), n_buckets)
        if c < min_rows_per_bucket:
            # adaptive coalescing: tiny sources share one rotating bucket range
            if shared_start is None:
                shared_start = next_bucket
                next_bucket += 1
            plan[source] = (shared_start, 1)
        else:
            plan[source] = (next_bucket, salts)
            next_bucket += salts
    plan["__n_buckets__"] = (next_bucket, 0)
    return plan


def with_salted_pkey(df: DataFrame, plan: dict) -> DataFrame:
    """pkey = first_bucket(source) + xxhash64(doc_id) % n_salts(source).

    Deterministic per row (content-addressed), so checkpoint/resume semantics
    are identical to the uniform bucketing in checkpoint.py.
    """
    expr = F.lit(None).cast("int")
    for source, (first, salts) in plan.items():
        if source == "__n_buckets__":
            continue
        bucket = F.lit(first) + (
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(max(salts, 1))).cast("int")
            if salts > 1
            else F.lit(0)
        )
        expr = F.when(F.col("source") == source, bucket.cast("int")).otherwise(expr)
    # unseen sources (late data): deterministic overflow bucket
    n_total = plan["__n_buckets__"][0]
    expr = F.coalesce(expr, F.pmod(F.xxhash64(F.col("source")), F.lit(max(n_total, 1))).cast("int"))
    return df.withColumn("pkey", expr)


def compact_small_chunks(
    encoded: DataFrame, min_rows: int = 2048, target_rows: int = 8192
) -> DataFrame:
    """Adaptive coalescing of undersized encoded chunks.

    Chunks below ``min_rows`` (stragglers from small files / tail buckets /
    incremental micro-batches) are decoded, concatenated to ``target_rows``
    and re-encoded; full-size chunks pass through untouched. One narrow
    filter + one small shuffle over only the undersized chunks — at scale the
    pass-through majority never moves.
    """
    from collections.abc import Iterator

    import pyarrow as pa

    from pyspark import TaskContext

    from .encode import ENCODED_SCHEMA_DDL, TOKENS_COLUMNS, decode_chunks, encode_batch

    big = encoded.filter(F.col("n_rows") >= min_rows)
    small = encoded.filter(F.col("n_rows") < min_rows)

    def recombine(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = TaskContext.get().partitionId()
        buffer: list[pa.RecordBatch] = []
        buffered = 0
        seq = 0

        def flush():
            nonlocal buffer, buffered, seq
            if not buffer:
                return None
            merged = (
                pa.Table.from_batches(buffer).combine_chunks().to_batches()[0]
                if len(buffer) > 1
                else buffer[0]
            )
            out = encode_batch(merged, chunk_id=f"compact-{pid:05d}.{seq:05d}")
            buffer, buffered = [], 0
            seq += 1
            return out

        for decoded in decode_chunks(batches, TOKENS_COLUMNS, False):
            buffer.append(decoded)
            buffered += decoded.num_rows
            if buffered >= target_rows:
                yield flush()
        out = flush()
        if out is not None:
            yield out

    n_small_parts = max(small.sparkSession.sparkContext.defaultParallelism // 2, 1)
    recombined = small.repartition(n_small_parts).mapInArrow(recombine, ENCODED_SCHEMA_DDL)
    return big.unionByName(recombined)


def encode_skew_aware(df: DataFrame, n_buckets: int = 256) -> DataFrame:
    """Source-aligned, skew-safe keyed encode: plan -> salt -> bucket encode."""
    from .encode import encode_tokens_df

    plan = plan_buckets(df, n_buckets)
    keyed = with_salted_pkey(df, plan)
    n_total = max(plan["__n_buckets__"][0], 1)
    return encode_tokens_df(keyed, by_key=True, n_buckets=n_total)