"""parquet-to-arrow parity CLI: Parquet -> single-batch Arrow IPC file.

Spark-first restatement of /root/reference/src/parquet-to-arrow.cc:

    python tools/parquet_to_arrow.py IN.parquet OUT.arrow

- whole table via the Spark scan, collected to Arrow (df.toArrow(), Spark 4)
- dictionary preservation analogue (reference :25-33): the reference flips
  set_read_dictionary per column when row-group 0 has a dictionary page;
  Spark always decodes, so we re-establish the property explicitly — probe
  the source footer with pyarrow and dictionary-encode exactly those
  columns in the output table
- writer metadata scrubbed (RemoveMetadata analogue, reference :42-46)
- single IPC file, one record batch, exit 1 + stderr on invalid input
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


def dictionary_columns(parquet_path: str) -> set[str]:
    """Columns whose row-group-0 chunk carries a dictionary page."""
    from parquet_to_arrow_spark.sources.io import list_parquet_files

    first = list_parquet_files(parquet_path)[0]
    meta = pq.ParquetFile(first).metadata
    out: set[str] = set()
    if meta.num_row_groups == 0:
        return out
    rg = meta.row_group(0)
    for i in range(rg.num_columns):
        col = rg.column(i)
        # has_dictionary_page is the reference's probe (parquet-to-arrow.cc:
        # 25-33) and catches writers (e.g. fastparquet) that don't list a
        # *_DICTIONARY data-page encoding even though a dictionary page exists
        if col.has_dictionary_page or (
            {"PLAIN_DICTIONARY", "RLE_DICTIONARY"} & set(col.encodings)
        ):
            out.add(col.path_in_schema)
    return out


def convert(spark, in_path: str, out_path: str) -> None:
    df = spark.read.parquet(in_path)
    table = df.toArrow()
    dict_cols = dictionary_columns(in_path)
    arrays, fields = [], []
    for i, field in enumerate(table.schema):
        col = table.column(i).combine_chunks()
        if field.name in dict_cols:
            col = col.dictionary_encode()
        arrays.append(col)
        fields.append(pa.field(field.name, col.type, field.nullable))
    out = pa.table(arrays, schema=pa.schema(fields))  # metadata scrubbed
    with pa.OSFile(out_path, "wb") as sink:
        with pa.ipc.new_file(sink, out.schema) as writer:
            writer.write_table(out)


def main(argv=None) -> int:
    argv = argv if argv is not None else sys.argv[1:]
    if len(argv) != 2:
        print("usage: parquet_to_arrow.py IN.parquet OUT.arrow", file=sys.stderr)
        return 1
    from parquet_to_arrow_spark.session import get_spark

    spark = get_spark(app="parquet_to_arrow")
    try:
        convert(spark, argv[0], argv[1])
    except Exception as e:  # noqa: BLE001
        print(str(e), file=sys.stderr)
        return 1
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
