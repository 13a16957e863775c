"""Layered benchmark of the columnar encode engine.

    python3 perfbench/run.py --workload encode_fast --seed 1 --seconds 6 --trace 0

Each run starts one Spark session (``local[nproc]``) through the engine's
``get_spark``, materializes its input from ``--seed`` three times (set-up is
the session start plus the median materialization), times one cold rep and
then warm reps for ``--seconds`` (at least three), checks every output
outside the timed region, and prints as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  The load is one
closed-loop client: the next rep starts when the previous one has finished.
Every rep starts with ``spark.catalog.clearCache()`` and fails if an RDD is
still persisted, so no rep reuses an earlier rep's cache.

``wall_s`` and ``cpu_s`` are medians over the quiet warm reps, those during
which the hypervisor stole under 5% of the machine's CPU time (see
``QUIET_STEAL``); every rep, its steal share, the cold rep's time and the
highest percentile of ``wall_s`` the quiet reps support (``wall_s_percentiles``)
are in the report printed on the line before the result.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the same
untraced leg, then the reps again in a fresh JVM with Spark's event log on
and the engine's driver-side entry points wrapped, then an in-process replay
of the workers' kernel calls over the same chunks with the kernel layers
wrapped, and reports the per-layer metrics.  ``layers.json`` says which
end-to-end metric each layer metric should move.

Workloads (tokens input from
``sources.synth.synth_tokens_df``, avg 256 tokens/row):

- ``encode_fast``: ``sources.io.encode_parquet_dir`` -> zstd write -> manifest
  -> ``manifest.totals`` (``scripts/encode_job.py --mode fast``).
- ``keyed_verify``: ``checkpoint.with_pkey`` -> ``encode_tokens_df(by_key=True)``
  in two waves -> write -> ``checkpoint.mark_done`` from an empty checkpoint,
  then ``verify_hashes(token_hashes_from_parquet, token_hashes_from_encoded)``
  (``encode_job --mode keyed --verify``).

Everything a run writes stays under ``.perfbench_work/`` in the checkout;
the per-run data directory is deleted at the end and the full report (with
the layer metrics when traced) is kept in ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

from layer_metrics import (
    ALIAS_MODULES,
    DRIVER_TARGETS,
    KERNEL_TARGETS,
    PER_LAYER_UNITS,
    kernel_metrics,
    rep_layers,
)
from workloads import WORKLOADS, Workload

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

SETUP_REPEATS = 3
MIN_WARM_REPS = 3
TRACED_WARM_REPS = 2
# A rep during which the hypervisor stole more than this share of the
# machine's CPU time is not quiet; steal comes in episodes of a minute or
# more on a shared host and slows every rep in them by up to 2x.  A run adds
# up to MAX_EXTRA_REPS reps to collect MIN_WARM_REPS quiet ones; more would
# cost a keyed_verify run more time than the benchmark's budget has.
QUIET_STEAL = 0.05
MAX_EXTRA_REPS = 1
# a fixed, fully sized heap (-Xms = -Xmx) keeps the JVM's resident size from
# varying with when G1 decides to grow the heap
DRIVER_MEMORY = "2g"
GIB = float(1 << 30)

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "gib_per_s": "GiB/s",
    "cpu_s": "s",
    "peak_rss_gib": "GiB",
    "stored_bytes_per_raw_byte": "ratio",
    "size_vs_snappy": "ratio",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def plan_fingerprints(plans: dict, work: str) -> dict[str, str]:
    """Hash of each plan's ``explain("formatted")``, with run-specific ids and
    paths removed, so that only a change of the plan's shape changes it."""
    out = {}
    for name, df in plans.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        norm = buf.getvalue().replace(work, "<work>")
        norm = re.sub(r"#\d+L?|\[\d+\]|plan_id=\d+|RDD\[\d+\]|\d+ bytes", "<n>", norm)
        norm = re.sub(r"(traced-)?(cold|warm\d+)", "<rep>", norm)  # per-rep output paths
        out[name] = hashlib.sha256(norm.encode()).hexdigest()[:16]
    return out


class Bench:
    """State of one run: session, paths, optional tracer."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.cores = nproc()
        self.spark = None
        self.tracer = None
        self.session_start_s = 0.0

    def start(self, app: str, extra: dict | None = None) -> None:
        from parquet_to_arrow_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
            # -XX:-UsePerfData: no hsperfdata file in /tmp, outside the checkout
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
            ),
        }
        conf.update(extra or {})
        t0 = time.time()
        self.spark = get_spark(app=app, cores=self.cores, extra=conf)
        self.spark.range(1).count()  # the JVM and scheduler are up
        self.session_start_s = time.time() - t0

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until every process this
        run started has exited; the next ``start`` launches a fresh JVM."""
        import signal

        from pyspark import SparkContext

        from proctree import tree_pids

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        me, deadline = os.getpid(), time.time() + 30
        while rest := [p for p in tree_pids(me) if p != me]:
            if time.time() > deadline:
                for p in rest:
                    with contextlib.suppress(OSError):
                        os.kill(p, signal.SIGKILL)
            time.sleep(0.2)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def config(self) -> dict:
        conf = self.spark.conf
        keys = [
            "spark.master",
            "spark.driver.memory",
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
        ]
        out = {k: conf.get(k, None) for k in keys}
        out["nproc"] = self.cores
        out["default_parallelism"] = self.spark.sparkContext.defaultParallelism
        return out


# --- measurement ------------------------------------------------------------------


@dataclass
class Rep:
    tag: str
    start: float
    end: float
    cpu_s: float
    steal_frac: float
    units: int
    failures: list[str]

    @property
    def wall(self) -> float:
        return self.end - self.start


def run_rep(b: Bench, wl: Workload, tag: str, sampler, warm: bool) -> Rep:
    """One timed rep, with nothing cached from an earlier rep, then its checks."""
    from proctree import cpu_seconds, host_ticks

    sc = b.spark.sparkContext
    b.spark.catalog.clearCache()
    persisted = sc._jsc.getPersistentRDDs().size()
    sc.setJobDescription(f"{wl.name}:{tag}")
    failures, units = [], 0
    cpu0, ticks0 = cpu_seconds(os.getpid()), host_ticks()
    sampler.active = warm
    t0 = time.time()
    try:
        if persisted:
            raise RuntimeError(f"{persisted} RDDs still persisted before rep {tag}")
        units = wl.rep(tag)
    except Exception:
        failures.append(f"{tag}: {traceback.format_exc(limit=3)[-600:]}")
    t1 = time.time()
    sampler.active = False
    cpu1, ticks1 = cpu_seconds(os.getpid()), host_ticks()
    sc.setJobDescription(None)
    if not failures:
        try:
            failures += wl.check()
        except Exception:
            failures.append(f"{tag} check: {traceback.format_exc(limit=3)[-600:]}")
    steal = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
    return Rep(tag, t0, t1, cpu1 - cpu0, steal, units, failures)


def measure(
    b: Bench, wl: Workload, seconds: float, min_reps: int, extra_reps: int, sampler, leg: str = ""
) -> tuple[Rep, list[Rep]]:
    """A cold rep, then warm reps until ``seconds`` have passed, ``min_reps``
    ran and, within ``extra_reps`` more, ``min_reps`` of them were quiet.
    ``leg`` prefixes the rep tags, so each leg writes its own paths."""
    cold = run_rep(b, wl, f"{leg}cold", sampler, warm=False)
    warm: list[Rep] = []
    t_start = time.time()
    while (
        len(warm) < min_reps
        or time.time() - t_start < seconds
        or (n_quiet(warm) < min_reps and len(warm) < min_reps + extra_reps)
    ):
        warm.append(run_rep(b, wl, f"{leg}warm{len(warm)}", sampler, warm=True))
    return cold, warm


def n_quiet(warm: list[Rep]) -> int:
    return sum(r.steal_frac < QUIET_STEAL for r in warm)


def quiet(warm: list[Rep], min_reps: int) -> list[Rep]:
    """The reps the timings are taken from: those with little steal, or, when
    fewer than ``min_reps`` were quiet, the ``min_reps`` least stolen."""
    if n_quiet(warm) >= min_reps:
        return [r for r in warm if r.steal_frac < QUIET_STEAL]
    return sorted(warm, key=lambda r: r.steal_frac)[:min_reps]


def tally(reps: list[Rep]) -> tuple[int, int, list[str]]:
    """(attempted, failed, messages); a failed rep fails all its units."""
    known = max((r.units for r in reps), default=0) or 1
    attempted = failed = 0
    msgs: list[str] = []
    for r in reps:
        units = r.units or known
        attempted += units
        if r.failures:
            failed += units
            msgs += r.failures
    return attempted, failed, msgs


def end_to_end(
    b: Bench, wl: Workload, setup_times: list[float], timed: list[Rep], peak_rss: int
) -> dict:
    wall = statistics.median(r.wall for r in timed)
    return {
        "setup_s": b.session_start_s + statistics.median(setup_times),
        "wall_s": wall,
        "gib_per_s": wl.raw_bytes / GIB / wall,
        "cpu_s": statistics.median(r.cpu_s for r in timed),
        "peak_rss_gib": peak_rss / GIB,
        **wl.size_metrics(),
    }


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(p, value): the highest percentile ``len(values)`` samples support.
    Python's default (exclusive) quantile method reaches the percentile
    ``100 n / (n + 1)`` without extrapolating, and its value there is the
    largest sample."""
    n = len(values)
    return 100.0 * n / (n + 1), max(values)


# --- tracing ---------------------------------------------------------------------


def traced_leg(
    b: Bench, wl: Workload, seconds: float, sampler, untraced_cold: float
) -> tuple[dict, dict, list[Rep]]:
    """Event-logged Spark reps in a fresh JVM with the driver entry points
    wrapped, then the in-process kernel replay, untraced and traced."""
    import eventlog
    from tracing import Tracer, instrument

    session_start_s = b.session_start_s
    b.stop()
    evdir = b.path("eventlog")
    b.tracer = Tracer()
    b.start(
        app=f"perfbench_{wl.name}_traced",
        extra={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    with instrument(b.tracer, DRIVER_TARGETS, ALIAS_MODULES):
        cold, warm = measure(b, wl, seconds, TRACED_WARM_REPS, 0, sampler, leg="traced-")
    n_tasks = wl.n_tasks()
    driver_tracer = b.tracer
    b.tracer = None
    b.stop()  # flushes the event log
    groups = eventlog.summarize(eventlog.read_events(evdir))
    layers, unattributed = rep_layers(driver_tracer, groups, wl.name, cold, warm)

    wl.prepare_replay()
    wl.replay()  # warm-up: page cache and allocator, so the two timed passes compare fairly
    t0 = time.time()
    wl.replay()
    plain_s = time.time() - t0
    b.tracer = Tracer()
    with instrument(b.tracer, KERNEL_TARGETS, ALIAS_MODULES):
        t0 = time.time()
        wl.replay()
        traced_s = time.time() - t0
    layers.update(kernel_metrics(b.tracer))

    traced_wall = statistics.median(r.wall for r in quiet(warm, TRACED_WARM_REPS))
    layers["sources.io.n_tasks"] = n_tasks
    layers["session.start_s"] = session_start_s
    layers["session.cold_s"] = untraced_cold
    layers["trace.wall_s"] = traced_wall
    layers["trace.replay_overhead_frac"] = traced_s / plain_s - 1.0 if b.tracer.spans else 0.0
    layers["trace.unattributed_frac"] = max(unattributed)
    b.tracer = None
    detail = {
        "replay_plain_s": plain_s,
        "replay_traced_s": traced_s,
        "unattributed_frac_per_rep": unattributed,
        "warm_walls_s": [r.wall for r in warm],
        "warm_steal_frac": [r.steal_frac for r in warm],
        "cold_s": cold.wall,
        "spark_by_rep": {
            k: {f: v for f, v in g.items() if f != "intervals"}
            for k, g in groups.items()
            if k.startswith(wl.name + ":")
        },
    }
    return layers, detail, [cold, *warm]


# --- driver -------------------------------------------------------------------------


def run(b: Bench, wl: Workload, args) -> dict:
    from proctree import RssSampler

    with RssSampler(os.getpid()) as sampler:
        b.start(app=f"perfbench_{wl.name}")
        setup_times = []
        for i in range(1 if args.trace else SETUP_REPEATS):  # a traced run reports no setup_s
            t0 = time.time()
            wl.setup(i)
            setup_times.append(time.time() - t0)
        wl.after_setup()
        # a traced run has two legs and reports no bounded metric: fewer reps
        min_reps, extra = (TRACED_WARM_REPS, 0) if args.trace else (MIN_WARM_REPS, MAX_EXTRA_REPS)
        cold, warm = measure(b, wl, args.seconds, min_reps, extra, sampler)
        config = b.config()
        fingerprints = plan_fingerprints(wl.plans(), b.work)
        timed = quiet(warm, min_reps)
        metrics = end_to_end(b, wl, setup_times, timed, sampler.peak)
        p_tail, v_tail = tail_percentile([r.wall for r in timed])
        attempted, failed, msgs = tally([cold, *warm])
        a, f, m = wl.final_checks()
        attempted, failed, msgs = attempted + a, failed + f, msgs + m
        report = {
            "workload": wl.name,
            "seed": args.seed,
            "rows": wl.rows,
            "config": config,
            "plan_fingerprints": fingerprints,
            "setup_repeats_s": setup_times,
            "session_start_s": b.session_start_s,
            "cold_s": cold.wall,
            "cold_steal_frac": cold.steal_frac,
            "warm_reps": len(warm),
            "timed_reps": [r.tag for r in timed],
            "warm_walls_s": [r.wall for r in warm],
            "warm_cpu_s": [r.cpu_s for r in warm],
            "warm_steal_frac": [r.steal_frac for r in warm],
            "wall_s_percentiles": {
                "n": len(timed),
                "p50": metrics["wall_s"],
                f"p{p_tail:.0f}": v_tail,
            },
            "peak_rss_split": sampler.peak_split,
            "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()},
        }
        if args.trace:
            layers, detail, reps = traced_leg(b, wl, args.seconds, sampler, cold.wall)
            a, f, m = tally(reps)
            attempted, failed, msgs = attempted + a, failed + f, msgs + m
            report["per_layer"] = {
                k: {"value": v, "unit": PER_LAYER_UNITS.get(k, "s")} for k, v in layers.items()
            }
            report["trace_detail"] = detail
    report.update(
        attempted=attempted, failed=failed, fail_frac=failed / max(attempted, 1), failures=msgs
    )
    return report


def parse_args(argv):
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "parquet_to_arrow_spark", "session.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    rows = WORKLOADS[args.workload].rows
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-r{rows}")
    results = os.path.join(WORK_ROOT, "results")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(results, exist_ok=True)
    # every file Spark, the JVM and the workers write stays in the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    os.chdir(work)

    b = Bench(args, work)
    wl = WORKLOADS[args.workload](b)
    try:
        report = run(b, wl, args)
    finally:
        b.stop()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    section = report["per_layer"] if args.trace else report["end_to_end"]
    line = {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": section,
    }
    name = f"{args.workload}-s{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(report, f, indent=1)
    for msg in report["failures"]:
        print(f"FAILED: {msg}", file=sys.stderr)
    shown = "per_layer" if args.trace else "end_to_end"  # printed on the last line
    print(json.dumps({k: v for k, v in report.items() if k != shown}))
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
