"""Summarize benchmark result files into a baseline record.

    python3 perfbench/baseline.py OUT.json RESULT.json [RESULT.json ...]

Each RESULT is a report ``run.py`` keeps in ``.perfbench_work/results/``.
Untraced reports add their end-to-end metrics, traced reports their
per-layer metrics; every metric of every workload gets its values (in
seed order), median, first and third quartile and the spread
``(q3 - q1) / median``, the statistic the benchmark's bounds apply to.
Each workload also keeps its distinct session configs and the plan
fingerprints of its highest seed.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    out = {"n": len(values), "median": med, "values": values}
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3, spread=(q3 - q1) / med if med else 0.0)
    return out


def build(reports: list[dict]) -> dict:
    table: dict = defaultdict(lambda: defaultdict(lambda: defaultdict(list)))
    meta: dict = defaultdict(lambda: {"seeds": [], "configs": []})
    for r in sorted(reports, key=lambda r: (r["workload"], r["seed"])):
        section = "per_layer" if "per_layer" in r else "end_to_end"
        for name, metric in r[section].items():
            table[r["workload"]][section][name].append(metric["value"])
        m = meta[r["workload"]]
        m["seeds"].append(r["seed"])
        m["plan_fingerprints"] = r["plan_fingerprints"]  # of the highest seed
        if r["config"] not in m["configs"]:
            m["configs"].append(r["config"])
    return {
        wl: {
            "seeds": meta[wl]["seeds"],
            "plan_fingerprints": meta[wl]["plan_fingerprints"],
            "configs": meta[wl]["configs"],
            **{
                section: {name: summarize(vs) for name, vs in metrics.items()}
                for section, metrics in sections.items()
            },
        }
        for wl, sections in table.items()
    }


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    reports = []
    for path in argv[1:]:
        with open(path) as f:
            reports.append(json.load(f))
    with open(argv[0], "w") as f:
        json.dump(build(reports), f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
