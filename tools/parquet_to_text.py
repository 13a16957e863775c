"""parquet-to-text-stream parity CLI: Parquet -> CSV / JSON on stdout.

Spark-first restatement of the reference binary
(/root/reference/src/parquet-to-text-stream.cc): same flags, same output
framing, same scalar rendering:

    python tools/parquet_to_text.py IN.parquet csv \
        [--row-range A-B] [--column-range A-B]

- CSV: header, CRLF records, RFC-4180 minimal quoting, null -> empty (S6)
- JSON: single array of objects, nulls kept, NaN/inf -> null, ECMAScript
  number rendering (S7/F1/F2)
- timestamps -> shortest ISO-8601 UTC (F3); dates -> yyyy-MM-dd (F4)
- --column-range: ordinal [a, b) projection, clipped (P1 — Catalyst prunes
  the scan to exactly these columns)
- --row-range: [a, b) slice in FILE ORDER (P2) — the stable ordinal comes
  from the scan's _metadata (file_path, row_index), not from a sort of data
  columns, so semantics match the reference's positional ranges.

The per-row pivot happens at the very end (concat of rendered columns),
exactly like the reference pivots columns to rows only at the sink
(src/parquet-to-text-stream.cc:793-801).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402

from pyspark.sql import Column, DataFrame, functions as F, types as T  # noqa: E402


def parse_range(spec: str) -> tuple[int, int]:
    a, _, b = spec.partition("-")
    start, stop = int(a), int(b)
    if start > stop:
        raise ValueError(f"range start > stop: {spec}")
    return start, stop


def _json_escaped_str(c: Column) -> Column:
    """JSON string token incl. quotes, \\uXXXX control escapes (F7)."""

    def esc(s: pd.Series) -> pd.Series:
        return s.map(lambda v: json.dumps(v, ensure_ascii=False), na_action="ignore")

    return F.pandas_udf(esc, "string")(c)


def render_column(c: Column, dtype: T.DataType, mode: str, is_ns: bool = False) -> Column:
    """The makeTranscriberForColumn analogue: type -> rendered string token
    (reference src/parquet-to-text-stream.cc:746-765). ``is_ns`` marks int64
    columns that are TIMESTAMP(NANOS) in the parquet footer (read as long
    under spark.sql.legacy.parquet.nanosAsLong — Spark's timestamp is us)."""
    from parquet_to_arrow_spark.functions.render import (
        date_ymd,
        ecma_double_str,
        ecma_float_str,
        iso8601_shortest,
        iso8601_shortest_ns,
    )

    if is_ns:
        out = iso8601_shortest_ns(c)
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        # reference ignores is_adjusted_to_utc and always renders as UTC
        # (src/parquet-to-text-stream.cc:678-685)
        out = iso8601_shortest(c)
    elif isinstance(dtype, T.DateType):
        out = date_ymd(c)
    elif isinstance(dtype, T.DoubleType):
        out = ecma_double_str(c)
    elif isinstance(dtype, T.FloatType):
        out = ecma_float_str(c)
    elif isinstance(dtype, (T.StringType,)):
        return (
            _json_escaped_str(c)
            if mode == "json"
            else c
        )
    else:
        out = c.cast("string")
    return out


def text_lines(df: DataFrame, mode: str, ns_cols: frozenset = frozenset()) -> DataFrame:
    """df -> one rendered record per row (column 'line'), in input order of
    the provided ordinal column '__ord'."""
    from parquet_to_arrow_spark.functions.render import csv_field

    cols = [f.name for f in df.schema.fields if f.name != "__ord"]
    pieces = []
    for f in df.schema.fields:
        if f.name == "__ord":
            continue
        is_ns = f.name in ns_cols
        rendered = render_column(F.col(f.name), f.dataType, mode, is_ns=is_ns)
        if mode == "csv":
            pieces.append(csv_field(rendered if isinstance(f.dataType, T.StringType) else rendered))
        else:
            name_tok = json.dumps(f.name, ensure_ascii=False)
            if is_ns or isinstance(
                f.dataType,
                (T.StringType, T.TimestampType, T.TimestampNTZType, T.DateType),
            ):
                tok = F.coalesce(
                    rendered if isinstance(f.dataType, T.StringType) else _json_escaped_str(rendered),
                    F.lit("null"),
                )
            else:
                tok = F.coalesce(rendered, F.lit("null"))
            pieces.append(F.concat(F.lit(name_tok + ":"), tok))
    if mode == "csv":
        line = F.concat_ws(",", *pieces)
    else:
        line = F.concat(F.lit("{"), F.concat_ws(",", *pieces), F.lit("}"))
    return df.select(F.col("__ord"), line.alias("line")).orderBy("__ord"), cols


def convert(spark, path: str, mode: str, row_range=None, column_range=None) -> str:
    lines_df, cols = prepare(spark, path, mode, row_range, column_range)
    return "".join(iter_text(lines_df, cols, mode))


def _ns_timestamp_columns(path: str) -> frozenset:
    """Footer probe: columns whose parquet logical type is TIMESTAMP(NANOS)
    (reference dispatches on the footer's logical type the same way,
    src/parquet-to-text-stream.cc:673-696). Footers only, driver-side."""
    import pyarrow as pa

    from parquet_to_arrow_spark.sources.io import footer_file

    schema = footer_file(path).schema_arrow
    return frozenset(
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


def prepare(spark, path: str, mode: str, row_range=None, column_range=None):
    ns_cols = _ns_timestamp_columns(path)
    if ns_cols:
        # TIMESTAMP(NANOS) parquet reads as int64 under this conf (Spark's
        # timestamp type is us-precision); iso8601_shortest_ns renders it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    # stable file-order ordinal from scan metadata (no data-column sort)
    df = df.withColumn(
        "__ord",
        F.struct(F.col("_metadata.file_path"), F.col("_metadata.row_index")),
    )
    names = [c for c in df.columns if c != "__ord"]
    if column_range:
        a, b = column_range
        keep = names[min(a, len(names)) : min(b, len(names))]  # clipped, P1
        df = df.select(*keep, "__ord")
    if row_range:
        a, b = row_range
        w = df.orderBy("__ord")
        df = w.offset(a).limit(max(b - a, 0))
    return text_lines(df, mode, ns_cols=ns_cols)


def iter_text(lines_df: DataFrame, cols: list[str], mode: str):
    """Stream the rendered output. ``toLocalIterator`` pulls one partition
    at a time from the (range-partitioned) sorted frame, so driver memory is
    bounded by a partition, not the table — the Spark analogue of the
    reference's pull-based time-to-first-byte design
    (src/parquet-to-text-stream.cc:69-73)."""
    if mode == "csv":
        yield ",".join(cols)
        for r in lines_df.toLocalIterator():
            yield "\r\n" + r["line"]
    else:
        yield "["
        first = True
        for r in lines_df.toLocalIterator():
            yield r["line"] if first else "," + r["line"]
            first = False
        yield "]"


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("input")
    p.add_argument("format", choices=["csv", "json"])
    p.add_argument("--row-range", type=parse_range, default=None)
    p.add_argument("--column-range", type=parse_range, default=None)
    p.add_argument("--cores", default=None, help="local[N] cores (default: env/all)")
    args = p.parse_args(argv)

    from parquet_to_arrow_spark.session import get_spark

    spark = get_spark(app="parquet_to_text", cores=args.cores)
    try:
        lines_df, cols = prepare(
            spark, args.input, args.format, args.row_range, args.column_range
        )
        for piece in iter_text(lines_df, cols, args.format):
            sys.stdout.write(piece)
        sys.stdout.flush()
    except Exception as e:  # noqa: BLE001  (reference: stderr + exit 1)
        print(str(e), file=sys.stderr)
        return 1
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
