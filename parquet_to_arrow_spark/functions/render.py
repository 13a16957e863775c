"""Scalar render functions: the reference's expression library (SURVEY.md §2.8).

- ECMAScript shortest round-trip float rendering (reference F1:
  src/parquet-to-text-stream.cc:321-355, double-conversion ToShortest):
  vectorized Pandas UDF (no JVM equivalent produces these exact strings).
- NaN/±inf -> null (F2: :333-336).
- Shortest ISO-8601 UTC timestamps (F3: :372-440) — trailing zero component
  and 3-digit fraction-group truncation, always 'T..Z', midnight as T00Z —
  implemented as JVM-side date_format + regexp_replace chain (whole-stage
  codegen, no Python).
- Date yyyy-MM-dd (F4), RFC-4180 CSV quoting (F6: :473-502), JSON line
  rendering (F7).
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F


# --- F1: ECMAScript Number::toString (shortest round-trip) -------------------


def ecma_format_float(x: float) -> str | None:
    """ECMAScript ToString(Number) for a Python float (float64 semantics).

    Decimal notation for 1e-6 <= |x| < 1e21, exponent form outside, exponent
    rendered as e±D (no zero padding) — matches the reference's
    double-conversion ToShortest output (e.g. 1e+52, 10000000000000000000).
    """
    if x is None or math.isnan(x) or math.isinf(x):
        return None
    if x == 0:
        return "0"
    return _format_from_repr(repr(float(x)))  # repr = shortest round-trip


def ecma_format_float32(x: float) -> str | None:
    """ECMAScript rendering from the shortest *single-precision* decimal
    (reference uses ToShortestSingle for FLOAT, :756-757)."""
    import numpy as np

    if x is None or math.isnan(x) or math.isinf(x):
        return None
    if x == 0:
        return "0"
    return _format_from_repr(str(np.float32(x)))  # str() = shortest single


def _format_from_repr(s: str) -> str:
    mant, _, exp = s.partition("e")
    e = int(exp) if exp else 0
    if "." in mant:
        intpart, frac = mant.split(".")
        if frac == "0":
            frac = ""
    else:
        intpart, frac = mant, ""
    neg = intpart.startswith("-")
    digits = (intpart.lstrip("-") + frac).lstrip("0") or "0"
    # decimal exponent of the first significant digit
    point = len(intpart.lstrip("-")) + e
    lead_zeros = len(intpart.lstrip("-") + frac) - len((intpart.lstrip("-") + frac).lstrip("0"))
    point -= lead_zeros
    sign = "-" if neg else ""
    if -6 < point <= 21:
        if point <= 0:
            out = "0." + "0" * (-point) + digits
        elif point >= len(digits):
            out = digits + "0" * (point - len(digits))
        else:
            out = digits[:point] + "." + digits[point:]
    else:
        d = digits[0] + ("." + digits[1:] if len(digits) > 1 else "")
        out = f"{d}e{'+' if point - 1 >= 0 else '-'}{abs(point - 1)}"
    return sign + out


def _ecma_series(s: pd.Series) -> pd.Series:
    """Vectorized ECMA formatting: Arrow's float->string cast (C++ shortest
    round-trip, the double-conversion library — same engine the reference
    links) does the hot path; only strings outside ECMA's positional band
    styling (scientific with exponent <= 20, and "-0") are repaired, and
    those are rare in real data. No per-element Python on the common path."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    s = s.mask(np.isinf(s))  # F2: inf -> null (NaN becomes null in from_pandas)
    out = pc.cast(pa.Array.from_pandas(s), pa.string()).to_pandas()
    if len(out):
        out = out.mask(out == "-0", "0")  # ECMA ToString(-0) is "0"
        exp = pd.to_numeric(out.str.extract(r"e\+(\d+)$", expand=False))
        fix = exp.notna() & (exp <= 20)
        if fix.any():
            out.loc[fix] = out[fix].map(_format_from_repr)
    return out


def ecma_double_str(c: Column) -> Column:
    """Column of float64 -> ECMAScript shortest strings (vectorized UDF;
    created lazily — pandas_udf registration needs an active session)."""
    return F.pandas_udf(_ecma_series, "string")(c)


def ecma_float_str(c: Column) -> Column:
    """float32: Arrow casts from the float32 array, so the shortest *single*
    decimal is produced (reference ToShortestSingle, :756-757)."""
    return F.pandas_udf(_ecma_series, "string")(c)


# --- F3: shortest ISO-8601 UTC ------------------------------------------------

_ISO_FULL = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def iso8601_shortest(ts: Column) -> Column:
    """Timestamp(us) -> shortest ISO-8601 UTC string, all JVM-side:
    2019-03-04T05Z / ...T05:06Z / ...T05:06:07Z / ...T05:06:07.008Z /
    ...T05:06:07.000008Z ; midnight renders as T00Z (reference CHANGELOG v3)."""
    s = F.date_format(ts, _ISO_FULL)
    s = F.regexp_replace(s, r"(\.\d{3})000$", r"$1")  # us group zero -> drop
    s = F.regexp_replace(s, r"\.000$", "")  # ms group zero -> drop
    s = F.regexp_replace(s, r":00$", "")  # :ss == 00 -> drop
    s = F.regexp_replace(s, r":00$", "")  # :mm == 00 -> drop
    return F.concat(s, F.lit("Z"))


def iso8601_shortest_ns(c: Column) -> Column:
    """int64 nanoseconds-since-epoch -> shortest ISO-8601 UTC, 3/6/9-digit
    fraction groups (reference renders ms, us AND ns:
    src/parquet-to-text-stream.cc:77-80, 372-440; ns golden
    tests/test_parquet_to_text_stream.py:404-435).

    Spark reads TIMESTAMP(NANOS) parquet as long under
    spark.sql.legacy.parquet.nanosAsLong; this renders that long. Integer
    arithmetic throughout — double division of ns-scale int64 loses
    precision above 2^53. pmod gives the non-negative fraction, so negative
    epochs floor-divide correctly (the reference's negative-epoch fix)."""
    frac = F.pmod(c, F.lit(1_000_000_000))
    secs = ((c - frac).cast("decimal(38,0)") / F.lit(1_000_000_000)).cast("long")
    base = F.date_format(F.timestamp_seconds(secs), "yyyy-MM-dd'T'HH:mm:ss")
    s = F.concat(base, F.lit("."), F.lpad(frac.cast("string"), 9, "0"))
    s = F.regexp_replace(s, r"(\.\d{6})000$", r"$1")  # ns group zero -> drop
    s = F.regexp_replace(s, r"(\.\d{3})000$", r"$1")  # us group zero -> drop
    s = F.regexp_replace(s, r"\.000$", "")  # ms group zero -> drop
    s = F.regexp_replace(s, r":00$", "")  # :ss == 00 -> drop
    s = F.regexp_replace(s, r":00$", "")  # :mm == 00 -> drop
    return F.concat(s, F.lit("Z"))


# --- F5: unsigned reinterpret of signed physical storage -----------------------

_TWO_64 = "18446744073709551616"  # 2**64 — exceeds a JVM long, ship as string
_TWO_32 = 4294967296  # 2**32


def uint64_reinterpret_str(c: Column) -> Column:
    """Render a signed int64 column as the uint64 sharing its bits —
    the reference reinterprets signed physical storage as unsigned at print
    time (src/parquet-to-text-stream.cc:203-204, 712-719; the
    9223372039002259456 round-trip). Spark has no uint64; decimal(20,0)
    holds the full range exactly."""
    wide = c.cast("decimal(20,0)")
    two64 = F.lit(_TWO_64).cast("decimal(21,0)")  # constant-folded
    return (
        F.when(c < 0, (wide + two64).cast("decimal(20,0)")).otherwise(wide).cast("string")
    )


def uint32_reinterpret_str(c: Column) -> Column:
    """Signed int32 -> the uint32 sharing its bits, as a string (F5)."""
    v = c.cast("long")
    return F.when(c < 0, v + F.lit(_TWO_32)).otherwise(v).cast("string")


def date_ymd(ts: Column) -> Column:
    """F4: date -> yyyy-MM-dd (Neri-Schneider parity comes free from Spark)."""
    return F.date_format(ts, "yyyy-MM-dd")


# --- F6: RFC-4180 CSV ----------------------------------------------------------

_CSV_HAZARD = '[",\r\n]'


def csv_field(c: Column) -> Column:
    """Quote iff the value contains '"', ',', CR or LF; escape '"' as '""';
    null -> empty (reference: src/parquet-to-text-stream.cc:469-502)."""
    quoted = F.concat(F.lit('"'), F.regexp_replace(c, '"', '""'), F.lit('"'))
    return F.coalesce(F.when(c.rlike(_CSV_HAZARD), quoted).otherwise(c), F.lit(""))


def csv_lines(df: DataFrame, columns: list[str]) -> DataFrame:
    """One RFC-4180 record per row (no CRLF terminator — the sink,
    tools/parquet_to_text.iter_text, joins with CRLF and prepends the
    header, reference :444-507)."""
    fields = [csv_field(F.col(c).cast("string")) for c in columns]
    return df.select(F.concat_ws(",", *fields).alias("line"))


# --- F7/S7: JSON array-of-objects ---------------------------------------------


def json_objects(df: DataFrame, columns: list[str]) -> DataFrame:
    """One JSON object per row ({col: val}, nulls kept, control chars escaped
    by Spark's to_json — reference :510-576)."""
    return df.select(
        F.to_json(F.struct(*[F.col(c) for c in columns]), {"ignoreNullFields": "false"}).alias(
            "obj"
        )
    )
