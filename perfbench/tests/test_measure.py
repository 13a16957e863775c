import run


def rep(i, steal, wall=1.0):
    return run.Rep(f"warm{i}", 0.0, wall, 1.0, steal, 1, [])


def test_quiet_reps_are_those_with_little_steal():
    warm = [rep(0, 0.0), rep(1, 0.2), rep(2, 0.01), rep(3, 0.03)]
    assert [r.tag for r in run.quiet(warm, 3)] == ["warm0", "warm2", "warm3"]


def test_too_few_quiet_reps_fall_back_to_the_least_stolen():
    warm = [rep(0, 0.3), rep(1, 0.2), rep(2, 0.01), rep(3, 0.5)]
    assert [r.tag for r in run.quiet(warm, 3)] == ["warm2", "warm1", "warm0"]
    assert run.n_quiet(warm) == 1


def test_tail_percentile_is_the_largest_sample_at_n_over_n_plus_1():
    import statistics

    walls = [3.0, 1.0, 2.0]
    p, v = run.tail_percentile(walls)
    assert (p, v) == (75.0, 3.0)
    # the exclusive method's quartiles reach the largest sample exactly at p75
    assert statistics.quantiles(walls, n=4)[2] == v
