import pytest

import baseline


def report(workload, seed, section, **metrics):
    return {
        "workload": workload,
        "seed": seed,
        "plan_fingerprints": {"q": "f"},
        "config": {"nproc": 4},
        section: {k: {"value": v, "unit": "s"} for k, v in metrics.items()},
    }


def test_spread_is_interquartile_range_over_median():
    s = baseline.summarize([4.0, 1.0, 3.0, 2.0, 5.0])
    assert s["median"] == 3.0
    assert (s["q1"], s["q3"]) == (1.5, 4.5)
    assert s["spread"] == pytest.approx(1.0)


def test_build_groups_by_workload_and_section_in_seed_order():
    out = baseline.build(
        [
            report("w", 2, "end_to_end", wall_s=2.0),
            report("w", 1, "end_to_end", wall_s=1.0),
            report("w", 3, "per_layer", **{"spark.tasks": 7}),
        ]
    )
    assert out["w"]["seeds"] == [1, 2, 3]
    assert out["w"]["end_to_end"]["wall_s"]["values"] == [1.0, 2.0]
    assert out["w"]["per_layer"]["spark.tasks"]["median"] == 7
