"""Golden round-trip tests for the codec kernels (Spark-free).

Mirrors the reference's round-trip test strategy
(/root/reference/tests/test_parquet_to_arrow.py:40-177): every codec × every
edge case mandated by the north rule — empty arrays, single-run columns,
full-range int32 — must decode bit-identical.
"""

from __future__ import annotations

import numpy as np
import pytest

from parquet_to_arrow_spark.codecs import ALL, bitpack, delta, dictionary, for_, fsst, plain, rle
from parquet_to_arrow_spark.codecs.base import pack_bits, unpack_bits
from parquet_to_arrow_spark.column import encode_int_array, decode_int_array
from parquet_to_arrow_spark.selector import rank_int_codecs
from parquet_to_arrow_spark.stats import int_stats

I32 = np.int32
I64 = np.int64
RNG = np.random.default_rng(42)

FIXTURES = {
    # FIXTURES.md §1 regimes
    "uniform_small_vocab": RNG.integers(0, 256, size=5000).astype(I32),
    "runs": np.repeat(RNG.integers(0, 50, size=100).astype(I32), RNG.integers(1, 200, size=100)),
    "single_run": np.full(4096, 7, dtype=I32),
    "single_value": np.array([123456], dtype=I32),
    "narrow_range_offset": RNG.integers(10_000_000, 10_000_128, size=3000).astype(I32),
    "full_range_int32": np.concatenate(
        [
            np.array([-(2**31), 2**31 - 1, 0, -1, 1], dtype=I32),
            RNG.integers(-(2**31), 2**31 - 1, size=2000).astype(I32),
        ]
    ),
    "empty": np.empty(0, dtype=I32),
    "negatives_small": np.array([-5, -5, -5, -4, 0, 3], dtype=I32),
    "int64_wide": RNG.integers(-(2**62), 2**62, size=1000).astype(I64),
    "int64_full_range": np.array([-(2**63), 2**63 - 1, 0, -1], dtype=I64),
    "text_like_bytes": np.frombuffer(
        (b"the quick brown fox " * 800)[:16000], dtype=np.uint8
    ).astype(I32),
    # delta-codec regimes: wide value span (kills FoR) but tiny step span
    "sorted_ids": np.cumsum(RNG.integers(0, 3, size=8000)).astype(I64) + 5_000_000_000,
    "sorted_timestamps_ns": (
        1_700_000_000_000_000_000 + np.cumsum(RNG.integers(1, 1000, size=4000))
    ).astype(I64),
    "descending": (10**9 - np.cumsum(RNG.integers(0, 5, size=3000))).astype(I32),
}

NONNEG = {k: v for k, v in FIXTURES.items() if len(v) == 0 or v.min() >= 0}


@pytest.mark.parametrize("name", list(FIXTURES))
@pytest.mark.parametrize("codec", ["plain", "for", "delta", "rle", "dict"])
def test_codec_roundtrip(codec, name):
    values = FIXTURES[name]
    mod = ALL[codec]
    payload, meta = mod.encode(values)
    out = mod.decode(payload, meta, len(values))
    assert out.dtype == values.dtype
    np.testing.assert_array_equal(out, values)


@pytest.mark.parametrize("name", list(NONNEG))
def test_bitpack_roundtrip(name):
    values = NONNEG[name]
    payload, meta = bitpack.encode(values)
    out = bitpack.decode(payload, meta, len(values))
    np.testing.assert_array_equal(out, values)


@pytest.mark.parametrize("width", [0, 1, 3, 7, 8, 11, 16, 17, 31, 32, 40, 64])
def test_pack_bits_widths(width):
    n = 257
    vals = RNG.integers(0, 2**width if width < 64 else 2**63, size=n, dtype=np.uint64)
    if width == 0:
        vals = np.zeros(n, dtype=np.uint64)
    out = unpack_bits(pack_bits(vals, width), width, n)
    np.testing.assert_array_equal(out, vals)


def test_bitpack_rejects_negatives():
    with pytest.raises(ValueError):
        bitpack.encode(np.array([-1, 2], dtype=I32))


def test_rle_single_run_is_tiny():
    payload, meta = rle.encode(FIXTURES["single_run"])
    assert meta["n_runs"] == 1
    assert len(payload) <= 2


def test_dict_small_vocab_beats_plain():
    values = FIXTURES["uniform_small_vocab"]
    payload, _ = dictionary.encode(values)
    assert len(payload) < values.nbytes // 2


def test_for_narrow_range_beats_plain():
    values = FIXTURES["narrow_range_offset"]
    payload, _ = for_.encode(values)
    assert len(payload) < values.nbytes // 3


def test_fsst_bytes_roundtrip_and_compresses():
    data = (b"http://example.com/page?" * 300) + bytes(range(256)) + b"\xff\xff\xffliteral"
    symbols = fsst.build_symbol_table(data)
    payload = fsst.compress(data, symbols)
    assert fsst.decompress(payload, symbols) == data
    assert len(payload) < len(data)


def test_delta_sorted_beats_for():
    # sorted_ids spans ~8000*avg_step ≈ 2^13.x values over a 5e9 base: FoR
    # needs ~14 bits/value but delta steps are 0..2 -> 2 bits/value
    values = FIXTURES["sorted_ids"]
    d_payload, _ = delta.encode(values)
    f_payload, _ = for_.encode(values)
    assert len(d_payload) < len(f_payload) // 4


def test_delta_estimate_tracks_actual():
    from parquet_to_arrow_spark.stats import int_stats

    for name in ("sorted_ids", "sorted_timestamps_ns", "descending", "runs"):
        values = FIXTURES[name]
        est = delta.estimate(int_stats(values))
        payload, _ = delta.encode(values)
        # sample-based estimate may be optimistic but never wildly off here
        # (fixtures have stationary step distributions)
        assert est <= len(payload) * 1.5 + 64
        assert len(payload) <= est * 1.5 + 64


def test_fsst_empty_and_escape_heavy():
    assert fsst.compress(b"", []) == b""
    assert fsst.decompress(b"", []) == b""
    data = b"\xff" * 101 + b"\x00\xff" * 17
    symbols = fsst.build_symbol_table(data)
    assert fsst.decompress(fsst.compress(data, symbols), symbols) == data
    # no table at all -> everything escaped, still round-trips
    assert fsst.decompress(fsst.compress(data, []), []) == data


SELECTOR_EXPECT = {
    # constant column: FoR at width 0 stores zero payload bits and beats RLE
    "single_run": {"rle", "for", "delta"},
    "runs": "rle",
    "narrow_range_offset": {"for", "bitpack"},
    "full_range_int32": {"plain", "for"},
    "uniform_small_vocab": {"bitpack", "dict", "for"},
    # wide span, tiny steps: only delta packs these narrow
    "sorted_ids": "delta",
    "sorted_timestamps_ns": "delta",
    "descending": "delta",
}


@pytest.mark.parametrize("name", list(SELECTOR_EXPECT))
def test_selector_picks_sensible_codec(name):
    choice = rank_int_codecs(int_stats(FIXTURES[name]))[0][1]
    expect = SELECTOR_EXPECT[name]
    assert choice in (expect if isinstance(expect, set) else {expect})


@pytest.mark.parametrize("name", list(FIXTURES))
def test_column_encode_roundtrip_and_never_worse_than_plain(name):
    values = FIXTURES[name]
    enc = encode_int_array(values)
    out = decode_int_array(enc["codec"], enc["meta"], enc["payload"], len(values))
    np.testing.assert_array_equal(out, values)
    assert out.dtype == values.dtype
    assert len(enc["payload"]) <= max(enc["raw_bytes"], 1)


def test_selector_deterministic():
    values = FIXTURES["uniform_small_vocab"]
    choices = {encode_int_array(values)["codec"] for _ in range(3)}
    assert len(choices) == 1


def test_int_encode_never_probes_fsst(monkeypatch):
    """FSST is the byte-blob codec only: an integer part never builds a
    symbol table, even where every analytic codec leaves PLAIN-size output."""

    def boom(*_args, **_kwargs):
        raise AssertionError("integer encode built an FSST symbol table")

    monkeypatch.setattr(fsst, "build_symbol_table", boom)
    values = FIXTURES["full_range_int32"]
    enc = encode_int_array(values)
    np.testing.assert_array_equal(
        decode_int_array(enc["codec"], enc["meta"], enc["payload"], len(values)), values
    )
    assert "fsst" not in ALL
