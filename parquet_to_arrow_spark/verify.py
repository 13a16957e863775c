"""Round-trip verification: the ``parquet-diff`` role, Spark-first.

The reference zip-compares two files positionally with null-safe typed
equality and reports the first mismatch (reference: src/parquet-diff.cc:
67-81 schema, 167-211 values, 264-289 drive loop). Positional compare does
not distribute, so the Spark restatement keys rows by ``doc_id`` (stable row
identity) and compares payloads with ``eqNullSafe`` — null == null, exactly
the reference's rule (src/parquet-diff.cc:197-207). Encoding differences are
invisible by design: equality is on *decoded logical values*
(reference README.md:93-95).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TOKEN_COLUMNS = ("tokens", "n_tok", "source")


def multiset_diff(
    left: DataFrame, right: DataFrame, key: str, columns: tuple[str, ...]
) -> dict:
    """Counts of a full outer join of ``left`` and ``right`` on ``key``,
    taken in ONE pass over each side, without materialising the join.

    Both sides are tagged, unioned and shuffled once on ``key``; rows are
    counted per ``(key, *columns)`` value on each side (``cl``/``cr``), then
    per key (``nl = Σcl``, ``nr = Σcr``, ``okp = Σ cl·cr``), and one collect
    reads off exactly what the join would report:

    - ``ok``: joined pairs whose columns match null-safely (``Σ okp``) and
      ``mismatch`` the other pairs (``Σ nl·nr − okp``), so a key present
      k times on each side joins k² times, as in the join;
    - ``missing``: left rows whose key is absent on the right;
    - ``extra``: right rows whose key is absent on the left, plus the rows
      of BOTH sides with a null key, which never joins.

    Grouping treats nulls as equal, which is ``eqNullSafe``; the columns
    must be groupable (no map columns). Row counts are compared explicitly:
    a side with duplicated keys joins every duplicate as 'ok', so without
    the count check duplicate-row corruption would be silent (the reference
    parquet-diff fails on row-count mismatch, src/parquet-diff.cc:238-245).
    Returns {'equal', 'n_left', 'n_right', 'ok', 'missing', 'extra',
    'mismatch'}."""
    cols = [key, *columns]
    tagged = left.select(*cols, F.lit(1).alias("__cl"), F.lit(0).alias("__cr")).union(
        right.select(*cols, F.lit(0).alias("__cl"), F.lit(1).alias("__cr"))
    )
    per_key = (
        tagged.repartition(key)
        .groupBy(*cols)
        .agg(F.sum("__cl").alias("cl"), F.sum("__cr").alias("cr"))
        .groupBy(key)
        .agg(
            F.sum("cl").alias("nl"),
            F.sum("cr").alias("nr"),
            F.sum(F.col("cl") * F.col("cr")).alias("okp"),
        )
    )
    nl, nr, okp = F.col("nl"), F.col("nr"), F.col("okp")
    keyed = F.col(key).isNotNull()

    def total(value, cond=F.lit(True)):
        return F.coalesce(F.sum(F.when(cond, value)), F.lit(0))

    row = per_key.agg(
        total(nl).alias("n_left"),
        total(nr).alias("n_right"),
        total(okp, keyed).alias("ok"),
        total(nl, keyed & (nr == 0)).alias("missing"),
        (total(nr, keyed & (nl == 0)) + total(nl + nr, ~keyed)).alias("extra"),
        total(nl * nr - okp, keyed).alias("mismatch"),
    ).first()
    counts = row.asDict()
    bad = [counts[k] for k in ("missing", "extra", "mismatch")]
    return {
        "equal": not any(bad) and counts["n_left"] == counts["n_right"],
        **counts,
    }


def diff_report(
    original: DataFrame,
    decoded: DataFrame,
    key: str = "doc_id",
    columns: tuple[str, ...] = TOKEN_COLUMNS,
) -> dict:
    """Compare ``original`` and ``decoded`` on ``(key, *columns)``.

    Returns ``multiset_diff``'s counts — {'equal': bool, 'n_left': int,
    'n_right': int, 'ok', 'missing', 'extra', 'mismatch'} — plus, when
    unequal, 'sample': up to 5 diff rows of the full outer join on the key,
    the distributed analogue of the reference's "RowGroup i, Column j,
    Row k" first-difference report. The join runs only for that sample.
    """
    if original.schema != decoded.schema:
        # schema difference short-circuits, like parquet-diff exit 1 on
        # column name/type mismatch (src/parquet-diff.cc:24-64)
        return {
            "equal": False,
            "reason": "schema",
            "left_schema": original.schema.simpleString(),
            "right_schema": decoded.schema.simpleString(),
        }
    report = multiset_diff(original, decoded, key, columns)
    if not report["equal"]:
        left = original.select(key, *columns).alias("l")
        right = decoded.select(key, *columns).alias("r")
        joined = left.join(right, on=F.col(f"l.{key}") == F.col(f"r.{key}"), how="full_outer")
        match_expr = F.lit(True)
        for c in columns:
            match_expr = match_expr & F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}"))
        status = (
            F.when(F.col(f"l.{key}").isNull(), "extra")
            .when(F.col(f"r.{key}").isNull(), "missing")
            .when(~match_expr, "mismatch")
            .otherwise("ok")
        )
        sample = (
            joined.withColumn("status", status)
            .filter(F.col("status") != "ok")
            .select("status", f"l.{key}", *[f"l.{c}" for c in columns], *[f"r.{c}" for c in columns])
            .limit(5)
            .collect()
        )
        report["sample"] = [row.asDict() for row in sample]
    return report


def assert_roundtrip(original: DataFrame, decoded: DataFrame, **kw) -> dict:
    report = diff_report(original, decoded, **kw)
    assert report["equal"], f"round-trip mismatch: {report}"
    return report
