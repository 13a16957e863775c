"""What the traced run wraps, and how its spans and the Spark event log
become the per-layer metrics listed in ``BENCHMARK.json``.
"""

from __future__ import annotations

import statistics

from tracing import percentile, union_length

MIB = float(1 << 20)

_PKG = "parquet_to_arrow_spark"
# codec NAME -> module under parquet_to_arrow_spark.codecs
CODECS = {
    "plain": "plain",
    "bitpack": "bitpack",
    "for": "for_",
    "delta": "delta",
    "rle": "rle",
    "dict": "dictionary",
    "fsst": "fsst",
}

# driver-side entry points, wrapped while the traced Spark reps run
DRIVER_TARGETS = {
    f"{_PKG}.sources.io:files_df": "sources.io.files_df",
    f"{_PKG}.sources.io:encode_parquet_dir": "sources.io.encode_parquet_dir",
    f"{_PKG}.sources.io:token_hashes_from_parquet": "sources.io.token_hashes_from_parquet",
    f"{_PKG}.sources.io:token_hashes_from_encoded": "sources.io.token_hashes_from_encoded",
    f"{_PKG}.sources.io:verify_hashes": "sources.io.verify_hashes",
    f"{_PKG}.encode:encode_tokens_df": "encode.encode_tokens_df",
    f"{_PKG}.checkpoint:with_pkey": "checkpoint.with_pkey",
    f"{_PKG}.checkpoint:mark_done": "checkpoint.mark_done",
    f"{_PKG}.manifest:manifest_from_encoded": "manifest.manifest_from_encoded",
    f"{_PKG}.manifest:write_manifest": "manifest.write_manifest",
    f"{_PKG}.manifest:totals": "manifest.totals",
}

# worker-side kernels, wrapped during the in-process replay
KERNEL_TARGETS = {
    f"{_PKG}.sources.io:open_parquet": "sources.io.open_parquet",
    f"{_PKG}.encode:encode_batch": "encode.encode_batch",
    f"{_PKG}.encode:decode_chunk_row": "encode.decode_chunk_row",
    f"{_PKG}.column:encode_int_array": "column.encode_int_array",
    f"{_PKG}.column:decode_int_array": "column.decode_int_array",
    f"{_PKG}.column:encode_string_array": "column.encode_string_array",
    f"{_PKG}.column:decode_string_array": "column.decode_string_array",
    f"{_PKG}.stats:int_stats": "stats.int_stats",
    f"{_PKG}.selector:rank_int_codecs": "selector.rank_int_codecs",
    f"{_PKG}.hashing:chunk_checksum": "hashing.chunk_checksum",
    f"{_PKG}.hashing:row_token_hashes": "hashing.row_token_hashes",
    **{
        f"{_PKG}.codecs.{mod}:{fn}": f"codecs.{name}.{fn}"
        for name, mod in CODECS.items()
        for fn in ("encode", "decode", "estimate")
    },
}

# modules whose `from x import f` aliases are wrapped as well
ALIAS_MODULES = [
    f"{_PKG}.{m}"
    for m in (
        "sources.io",
        "encode",
        "column",
        "stats",
        "selector",
        "hashing",
        "checkpoint",
        "manifest",
        *(f"codecs.{mod}" for mod in CODECS.values()),
    )
]

PER_LAYER_UNITS = {
    **{f"codecs.{c}.encode_us_per_mib": "us/MiB" for c in CODECS},
    **{f"codecs.{c}.decode_us_per_mib": "us/MiB" for c in CODECS},
    **{f"codecs.{c}.raw_share": "ratio" for c in CODECS},
    "stats.int_stats_us_per_mib": "us/MiB",
    "selector.rank_int_codecs_us_per_call": "us",
    "selector.fsst_probes": "count",
    "selector.plain_fallback_ratio": "ratio",
    "column.encode_int_array_self_us_per_mib": "us/MiB",
    "column.encode_string_array_us_per_mib": "us/MiB",
    "column.int_parts_per_chunk": "count",
    "column.decode_int_array_us_per_mib": "us/MiB",
    "column.decode_string_array_us_per_mib": "us/MiB",
    "encode.encode_batch_us_per_mib": "us/MiB",
    "encode.encode_batch_self_us_per_mib": "us/MiB",
    "encode.chunk_ms_p50": "ms",
    "encode.chunk_ms_p90": "ms",
    "encode.decode_chunk_row_us_per_mib": "us/MiB",
    "encode.decode_chunk_row_self_us_per_mib": "us/MiB",
    "hashing.chunk_checksum_us_per_mib": "us/MiB",
    "hashing.row_token_hashes_us_per_mib": "us/MiB",
    "sources.io.plan_s": "s",
    "sources.io.n_tasks": "count",
    "sources.io.scan_us_per_mib": "us/MiB",
    "sources.io.verify_hashes_s": "s",
    "checkpoint.mark_done_s": "s",
    "checkpoint.read_done_s": "s",
    "manifest.totals_s": "s",
    "session.start_s": "s",
    "session.cold_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_overhead_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.peak_exec_mem_mib": "MiB",
    "spark.output_mib": "MiB",
    "spark.shuffle_write_mib": "MiB",
    "spark.shuffle_read_mib": "MiB",
    "spark.spill_mib": "MiB",
    "spark.exchanges": "count",
    "spark.py.sent_mib": "MiB",
    "spark.py.returned_mib": "MiB",
    "spark.py.run_s": "s",
    "spark.py.boot_s": "s",
    "spark.py.init_s": "s",
    "trace.wall_s": "s",
    "trace.replay_overhead_frac": "ratio",
    "trace.unattributed_frac": "ratio",
}

# event-log field -> per-layer metric; boot and init come from the cold rep
_SPARK_WARM = {
    "jobs": "spark.jobs",
    "stages": "spark.stages",
    "tasks": "spark.tasks",
    "task_overhead_s": "spark.task_overhead_s",
    "executor_run_s": "spark.executor_run_s",
    "executor_cpu_s": "spark.executor_cpu_s",
    "jvm_gc_s": "spark.jvm_gc_s",
    "peak_exec_mem_mib": "spark.peak_exec_mem_mib",
    "output_mib": "spark.output_mib",
    "shuffle_write_mib": "spark.shuffle_write_mib",
    "shuffle_read_mib": "spark.shuffle_read_mib",
    "spill_mib": "spark.spill_mib",
    "exchanges": "spark.exchanges",
    "py_sent_mib": "spark.py.sent_mib",
    "py_returned_mib": "spark.py.returned_mib",
    "py_run_s": "spark.py.run_s",
}
_SPARK_COLD = {"py_boot_s": "spark.py.boot_s", "py_init_s": "spark.py.init_s"}

# driver span -> per-layer metric (seconds per warm rep)
_DRIVER_SPANS = {
    "sources.io.files_df": "sources.io.plan_s",
    "sources.io.verify_hashes": "sources.io.verify_hashes_s",
    "checkpoint.mark_done": "checkpoint.mark_done_s",
    "checkpoint.read_done": "checkpoint.read_done_s",
    "manifest.totals": "manifest.totals_s",
}


def kernel_metrics(t) -> dict:
    """Per-layer kernel metrics from the spans of the in-process replay."""
    spans = t.spans
    ids: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        ids.setdefault(s.name, []).append(i)

    def named(name: str) -> list[int]:
        return ids.get(name, [])

    def under(name: str, parent: str) -> list[int]:
        """Spans of ``name`` called directly from a ``parent`` span: a codec
        the column layer chose, not one nested inside another codec."""
        return [
            i
            for i in named(name)
            if spans[i].parent is not None and spans[spans[i].parent].name == parent
        ]

    def us_per_mib(sel: list[int], key: str, self_time: bool = False) -> float:
        mib = sum(spans[i].attrs.get(key, 0) for i in sel) / MIB
        secs = sum(t.self_time(i) if self_time else spans[i].duration for i in sel)
        return secs * 1e6 / mib if mib else 0.0

    m: dict[str, float] = {}
    enc_int, dec_int = named("column.encode_int_array"), named("column.decode_int_array")
    # raw bytes per chosen codec: from the encodes, or else from the decodes
    if enc_int:
        weights = [(spans[i].attrs["codec"], spans[i].attrs.get("raw_bytes", 0)) for i in enc_int]
    else:
        weights = [(spans[i].attrs.get("arg0"), spans[i].attrs["out_bytes"]) for i in dec_int]
    total_raw = sum(w for _, w in weights) or 1
    for c in CODECS:
        enc = under(f"codecs.{c}.encode", "column.encode_int_array")
        dec = under(f"codecs.{c}.decode", "column.decode_int_array")
        m[f"codecs.{c}.encode_us_per_mib"] = us_per_mib(enc, "in_bytes")
        m[f"codecs.{c}.decode_us_per_mib"] = us_per_mib(dec, "out_bytes")
        m[f"codecs.{c}.raw_share"] = sum(w for name, w in weights if name == c) / total_raw
    rank = named("selector.rank_int_codecs")
    m["stats.int_stats_us_per_mib"] = us_per_mib(named("stats.int_stats"), "in_bytes")
    m["selector.rank_int_codecs_us_per_call"] = (
        sum(spans[i].duration for i in rank) * 1e6 / len(rank) if rank else 0.0
    )
    m["selector.fsst_probes"] = len(named("codecs.fsst.estimate"))
    # the measured guard threw away the ranked winner's encode for PLAIN
    fallbacks = 0
    for i in enc_int:
        tops = [
            spans[c].attrs.get("top")
            for c in t.children(i)
            if spans[c].name == "selector.rank_int_codecs"
        ]
        if tops and tops[0] != "plain" and spans[i].attrs["codec"] == "plain":
            fallbacks += 1
    m["selector.plain_fallback_ratio"] = fallbacks / len(enc_int) if enc_int else 0.0
    m["column.encode_int_array_self_us_per_mib"] = us_per_mib(enc_int, "in_bytes", self_time=True)
    m["column.encode_string_array_us_per_mib"] = us_per_mib(
        named("column.encode_string_array"), "raw_bytes"
    )
    batches = named("encode.encode_batch")
    m["column.int_parts_per_chunk"] = len(enc_int) / len(batches) if batches else 0.0
    m["column.decode_int_array_us_per_mib"] = us_per_mib(dec_int, "out_bytes")
    m["column.decode_string_array_us_per_mib"] = us_per_mib(
        named("column.decode_string_array"), "out_bytes"
    )
    m["encode.encode_batch_us_per_mib"] = us_per_mib(batches, "in_bytes")
    m["encode.encode_batch_self_us_per_mib"] = us_per_mib(batches, "in_bytes", self_time=True)
    chunk_ms = [spans[i].duration * 1e3 for i in batches]
    m["encode.chunk_ms_p50"] = percentile(chunk_ms, 50) if chunk_ms else 0.0
    m["encode.chunk_ms_p90"] = percentile(chunk_ms, 90) if chunk_ms else 0.0
    decodes = named("encode.decode_chunk_row")
    m["encode.decode_chunk_row_us_per_mib"] = us_per_mib(decodes, "out_bytes")
    m["encode.decode_chunk_row_self_us_per_mib"] = us_per_mib(decodes, "out_bytes", self_time=True)
    m["hashing.chunk_checksum_us_per_mib"] = us_per_mib(named("hashing.chunk_checksum"), "in_bytes")
    m["hashing.row_token_hashes_us_per_mib"] = us_per_mib(
        named("hashing.row_token_hashes"), "in_bytes"
    )
    m["sources.io.scan_us_per_mib"] = us_per_mib(named("sources.io.scan"), "out_bytes")
    return m


def rep_layers(t, groups: dict, workload: str, cold, warm: list) -> tuple[dict, list[float]]:
    """Spark metrics (from the event-log ``groups``) and driver-span metrics
    (from tracer ``t``) as medians over the warm reps, plus, per warm rep,
    the share of its wall time that neither the engine's driver spans nor
    Spark's jobs and SQL executions cover."""

    def median_of(values) -> float:
        values = list(values)
        return statistics.median(values) if values else 0.0

    empty = {"intervals": []}
    m: dict[str, float] = {}
    per_rep = [groups.get(f"{workload}:{r.tag}", empty) for r in warm]
    for field, name in _SPARK_WARM.items():
        m[name] = median_of(g.get(field, 0.0) for g in per_rep)
    cold_group = groups.get(f"{workload}:{cold.tag}", empty)
    for field, name in _SPARK_COLD.items():
        m[name] = cold_group.get(field, 0.0)

    def in_rep(r):
        return [s for s in t.spans if s.start >= r.start and s.end <= r.end]

    for span_name, name in _DRIVER_SPANS.items():
        m[name] = median_of(
            sum(s.duration for s in in_rep(r) if s.name == span_name) for r in warm
        )
    engine_spans = set(DRIVER_TARGETS.values()) | set(_DRIVER_SPANS)
    unattributed = []
    for r, g in zip(warm, per_rep):
        covered = union_length(
            [(s.start, s.end) for s in in_rep(r) if s.name in engine_spans]
            + [(max(a, r.start), min(z, r.end)) for a, z in g["intervals"]]
        )
        unattributed.append(1.0 - covered / r.wall)
    return m, unattributed
