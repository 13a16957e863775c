import sys
import types

import pytest

from tracing import Tracer, instrument, percentile, union_length


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


@pytest.fixture
def fake_modules():
    """Two modules: `fake_lib` defines f/g, `fake_user` imported f by name."""
    lib = types.ModuleType("fake_lib")
    exec("def f(x):\n    return g(x) + 1\n\ndef g(x):\n    return x * 2\n", lib.__dict__)
    user = types.ModuleType("fake_user")
    user.f = lib.f
    sys.modules.update(fake_lib=lib, fake_user=user)
    yield lib, user
    del sys.modules["fake_lib"], sys.modules["fake_user"]


def test_instrument_records_nested_spans_and_restores(fake_modules):
    lib, user = fake_modules
    f, g = lib.f, lib.g
    t = Tracer()
    with instrument(t, {"fake_lib:f": "lib.f", "fake_lib:g": "lib.g"}, ["fake_user"]):
        assert user.f(3) == 7  # the alias is traced too
    assert [s.name for s in t.spans] == ["lib.f", "lib.g"]
    assert t.spans[1].parent == 0
    assert (lib.f, lib.g, user.f) == (f, g, f)


def test_instrument_restores_after_an_exception(fake_modules):
    lib, user = fake_modules
    f = lib.f
    with pytest.raises(RuntimeError):
        with instrument(Tracer(), {"fake_lib:f": "lib.f"}, ["fake_user"]):
            raise RuntimeError("boom")
    assert lib.f is f and user.f is f


def test_missing_attribute_fails_loudly_and_patches_nothing(fake_modules):
    lib, _ = fake_modules
    f = lib.f
    with pytest.raises(AttributeError, match="renamed"):
        with instrument(Tracer(), {"fake_lib:f": "lib.f", "fake_lib:renamed": "x"}):
            pass
    assert lib.f is f


def test_engine_targets_all_resolve_and_are_restored():
    import importlib

    import layer_metrics

    targets = {**layer_metrics.KERNEL_TARGETS, **layer_metrics.DRIVER_TARGETS}
    def current(target):
        mod, attr = target.split(":")
        return getattr(importlib.import_module(mod), attr)

    before = {t: current(t) for t in targets}
    with instrument(Tracer(), targets, layer_metrics.ALIAS_MODULES):
        assert all(current(t) is not fn for t, fn in before.items())
    assert all(current(t) is fn for t, fn in before.items())
    for m in layer_metrics.ALIAS_MODULES:
        assert not any(hasattr(v, "__wrapped__") for v in vars(importlib.import_module(m)).values())


def test_self_time_subtracts_the_union_of_children():
    clock = FakeClock()
    t = Tracer(clock)
    with t.span("parent"):
        clock.now = 1.0
        with t.span("a"):
            clock.now = 3.0
        with t.span("b"):
            clock.now = 4.0
        clock.now = 10.0
    assert t.spans[0].duration == 10.0
    assert t.self_time(0) == pytest.approx(7.0)
    assert t.self_time(1) == pytest.approx(2.0)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 7), (4, 4)]) == 5
    assert union_length([]) == 0


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == pytest.approx(2.5)
    assert percentile(xs, 90) == pytest.approx(3.7)
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 4.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_kernel_metrics_from_a_traced_encode_and_decode():
    import numpy as np

    import layer_metrics
    from parquet_to_arrow_spark import encode
    from parquet_to_arrow_spark.sources.synth import _gen_batch

    batch = _gen_batch(np.arange(2000, dtype=np.int64), 64, seed=7)
    t = Tracer()
    with instrument(t, layer_metrics.KERNEL_TARGETS, layer_metrics.ALIAS_MODULES):
        row = encode.encode_batch(batch, chunk_id="c0")
        meta, payload = row.column("meta")[0].as_py(), row.column("payload")[0].as_py()
        encode.decode_chunk_row(meta, payload, batch.num_rows)
    m = layer_metrics.kernel_metrics(t)
    assert set(m) <= set(layer_metrics.PER_LAYER_UNITS)
    assert m["encode.encode_batch_us_per_mib"] > m["encode.encode_batch_self_us_per_mib"] > 0
    assert m["encode.decode_chunk_row_us_per_mib"] > 0
    assert m["column.int_parts_per_chunk"] >= 3  # lengths + at least two token groups
    assert sum(m[f"codecs.{c}.raw_share"] for c in layer_metrics.CODECS) == pytest.approx(1.0)
    assert 0.0 <= m["selector.plain_fallback_ratio"] <= 1.0
