"""parquet-diff parity CLI: strict positional equality of two Parquet inputs.

Spark-first restatement of /root/reference/src/parquet-diff.cc — exit code
IS the result: 0 equal, 1 different, 2 unsupported (nested) schema.

Strictness axes (reference README.md:83-97):
- column count, names, types (physical+logical as Spark sees them)
- row count
- values: positional, null == null (eqNullSafe), floats by exact bits,
  strings by raw bytes
- encoding differences are invisible (dictionary-vs-plain compare equal):
  Spark decodes to logical values before the compare, same rule as the
  reference.

Positional identity uses the scan's (file_path, row_index) metadata on each
side independently, densified to a global ordinal, so two files with equal
rows in equal order compare equal regardless of partitioning. The ordinal is
computed WITHOUT a global window: per-file row counts (a tiny aggregate)
become cumulative offsets on the driver, broadcast-joined back, so
ordinal = offset(file) + row_index — no single-task stage anywhere, the plan
survives 100 TB inputs.

Row-group boundaries are an equality axis in the reference (two files with
different chunking are different by definition, src/parquet-diff.cc:238-245,
README.md:81-82). Spark's unit of chunking is not user-visible, so that axis
is opt-in here: --strict-chunking compares footer-level row-group row counts
(pyarrow metadata, driver-side — footers only, no data read) before the
value compare.

    python tools/spark_diff.py A.parquet B.parquet [--strict-chunking]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F, types as T  # noqa: E402


def _nested(dtype: T.DataType) -> bool:
    return isinstance(dtype, (T.ArrayType, T.MapType, T.StructType))


def _with_ordinal(df: DataFrame) -> DataFrame:
    """Global file-order ordinal with no global window.

    A `row_number().over(Window.orderBy(...))` with no partitionBy funnels
    the ENTIRE table through one task. Instead: per-file row counts (tiny
    aggregate), cumulative offsets built on the driver in file-path order,
    broadcast-joined back; ordinal = offset(file) + _metadata.row_index.
    The only shuffle is the count aggregate's (rows-per-file sized)."""
    spark = df.sparkSession
    counts = (
        df.groupBy(F.col("_metadata.file_path").alias("__fp")).count().collect()
    )
    acc, rows = 0, []
    for r in sorted(counts, key=lambda r: r["__fp"]):
        rows.append((r["__fp"], acc))
        acc += r["count"]
    offsets = spark.createDataFrame(rows or [("", 0)], "__fp string, __off long")
    return (
        df.withColumn("__fp", F.col("_metadata.file_path"))
        .withColumn("__ri", F.col("_metadata.row_index"))
        .join(F.broadcast(offsets), "__fp")
        .withColumn("__ord", F.col("__off") + F.col("__ri"))
        .drop("__fp", "__ri", "__off")
    )


def _footer_schema(path: str) -> list[tuple[str, str]]:
    """(name, arrow type) per column from the parquet footer — catches the
    logical-type axes Spark's reader normalizes away (timestamp unit ms/us/ns
    and isAdjustedToUTC are schema DIFFERENCES in the reference,
    src/parquet-diff.cc:24-64, tests/test_parquet_diff.py:308-338), while
    staying encoding-blind (dictionary pages are not part of the schema)."""
    from parquet_to_arrow_spark.sources.io import footer_file

    schema = footer_file(path).schema_arrow
    return [(f.name, str(f.type)) for f in schema]


def _row_group_layout(path: str) -> list[int]:
    """Per-row-group row counts in file order — the reference's chunking
    strictness axis (src/parquet-diff.cc:238-245, 276-281), read from
    footers only."""
    import pyarrow.parquet as pq

    from parquet_to_arrow_spark.sources.io import resolve_files

    filesystem, infos = resolve_files(path)
    layout: list[int] = []
    for i in infos:
        md = pq.ParquetFile(filesystem.open_input_file(i.path)).metadata
        layout.extend(md.row_group(g).num_rows for g in range(md.num_row_groups))
    return layout


def diff(
    spark, path1: str, path2: str, max_report: int = 1, strict_chunking: bool = False
) -> tuple[int, list[str]]:
    a, b = spark.read.parquet(path1), spark.read.parquet(path2)
    if strict_chunking:
        la, lb = _row_group_layout(path1), _row_group_layout(path2)
        if len(la) != len(lb):
            return 1, [f"RowGroup count: -{len(la)} +{len(lb)}"]
        for i, (x, y) in enumerate(zip(la, lb)):
            if x != y:
                return 1, [f"RowGroup {i} row count: -{x} +{y}"]
    msgs: list[str] = []
    for side, df in (("old", a), ("new", b)):
        for f in df.schema.fields:
            if _nested(f.dataType):
                return 2, [f"{side}: unsupported nested column {f.name}"]
    fa, fb = a.schema.fields, b.schema.fields
    if len(fa) != len(fb):
        return 1, [f"Column count: -{len(fa)} +{len(fb)}"]
    for i, (x, y) in enumerate(zip(fa, fb)):
        if x.name != y.name:
            return 1, [f"Column {i} name: -{x.name} +{y.name}"]
        if x.dataType != y.dataType:
            return 1, [
                f"Column {i} ({x.name}) type: -{x.dataType.simpleString()} +{y.dataType.simpleString()}"
            ]
    # footer-level logical types: timestamp unit / isAdjustedToUTC / narrow
    # ints survive here even though Spark's reader widens or normalizes them
    for i, (x, y) in enumerate(zip(_footer_schema(path1), _footer_schema(path2))):
        if x[1] != y[1]:
            return 1, [f"Column {i} ({x[0]}) logical type: -{x[1]} +{y[1]}"]
    na, nb = a.count(), b.count()
    if na != nb:
        return 1, [f"Row count: -{na} +{nb}"]
    if na == 0:
        return 0, []
    left = _with_ordinal(a).select("__ord", *[F.col(f.name).alias(f"l_{f.name}") for f in fa])
    right = _with_ordinal(b).select("__ord", *[F.col(f.name).alias(f"r_{f.name}") for f in fb])
    joined = left.join(right, "__ord")
    neq = None
    for f in fa:
        cond = ~F.col(f"l_{f.name}").eqNullSafe(F.col(f"r_{f.name}"))
        neq = cond if neq is None else (neq | cond)
    bad = joined.filter(neq).orderBy("__ord").limit(max_report).collect()
    if not bad:
        return 0, []
    for row in bad:
        for f in fa:
            lv, rv = row[f"l_{f.name}"], row[f"r_{f.name}"]
            if not (lv == rv or (lv is None and rv is None)):
                msgs.append(f"Column {f.name}, Row {row['__ord']}:")
                msgs.append(f"-{lv}")
                msgs.append(f"+{rv}")
                break
    return 1, msgs


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("old")
    p.add_argument("new")
    p.add_argument("--strict-chunking", action="store_true")
    p.add_argument("--cores", default=None, help="local[N] cores (default: env/all)")
    args = p.parse_args(argv)

    from parquet_to_arrow_spark.session import get_spark

    spark = get_spark(app="spark_diff", cores=args.cores)
    try:
        code, msgs = diff(spark, args.old, args.new, strict_chunking=args.strict_chunking)
    except Exception as e:  # noqa: BLE001
        print(str(e), file=sys.stderr)
        return 2
    finally:
        spark.stop()
    for m in msgs:
        print(m)
    return code


if __name__ == "__main__":
    raise SystemExit(main())
