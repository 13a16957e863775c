"""Round-6 optimization profiling harness (bench.py stays FROZEN).

Modes:
  python bench_extra.py queries  [sf_dir] [reps] [name ...]
      Time headline queries exactly the way bench.py does (.count(), warm
      session, best-of-N) without the encode/decode/scaling legs; each query
      runs once untimed before its timed reps. Prints one JSON line
      {name: [samples...]}.
  python bench_extra.py plans    [sf_dir] [outdir] [suffix] [name ...]
      Write .explain("formatted") for each headline query to
      <outdir>/<name>_<suffix>.txt (judge-checkable plan evidence).
  python bench_extra.py minhash  [sf_dir] [reps]
      Stage-by-stage timing of the minhash_lsh_pairs pipeline: scan, the
      signature mapInArrow, the full query (noop-sink isolation per stage).

All timing uses the same session config as bench.py (session.get_spark).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402


def _session(cores=None):
    from parquet_to_arrow_spark.session import get_spark

    return get_spark(app="bench_extra", cores=cores)


def _warm(spark, qs, sf_dir):
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    qs["scan_full"](spark, sf_dir).count()


def run_queries(sf_dir: str, reps: int, names: list[str]) -> None:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = _session()
    _warm(spark, qs, sf_dir)
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        qs[name](spark, sf_dir).count()  # untimed: no timed rep is the query's first
        ts = []
        for _ in range(reps):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            ts.append(round(time.time() - t0, 3))
        out[name] = ts
    spark.stop()
    print(json.dumps(out))


def write_plans(sf_dir: str, outdir: str, suffix: str, names: list[str]) -> None:
    import io
    from contextlib import redirect_stdout

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    os.makedirs(outdir, exist_ok=True)
    spark = _session()
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {name}_{suffix}.txt", file=sys.stderr)
    spark.stop()


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def run_minhash_stages(sf_dir: str, reps: int) -> None:
    from parquet_to_arrow_spark.operators import dedup

    spark = _session()
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    out = {}

    def stage(name, mk):
        ts = []
        for _ in range(reps):
            t0 = time.time()
            _noop(mk())
            ts.append(round(time.time() - t0, 3))
        out[name] = ts

    stage("scan", lambda: spark.read.parquet(f"{sf_dir}/documents.parquet"))
    stage("signatures", lambda: dedup.minhash_signatures(spark, sf_dir))
    stage("full", lambda: dedup.minhash_lsh_pairs(spark, sf_dir))
    spark.stop()
    print(json.dumps(out))


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    if mode == "queries":
        reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        names = sys.argv[4:] or bench.HEADLINE
        run_queries(sf_dir, reps, names)
    elif mode == "plans":
        outdir = sys.argv[3] if len(sys.argv) > 3 else "plans/r06"
        suffix = sys.argv[4] if len(sys.argv) > 4 else "before"
        names = sys.argv[5:] or bench.HEADLINE
        write_plans(sf_dir, outdir, suffix, names)
    elif mode == "minhash":
        reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
        run_minhash_stages(sf_dir, reps)
    else:
        raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
