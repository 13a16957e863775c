"""Lightweight-compression codec kernels (pure numpy, Spark-free).

``ALL`` registers the integer codecs: PLAIN (the fallback), bit-packing,
frame-of-reference, DELTA (sorted-column differences), RLE and dictionary.
Each exposes ``NAME``, ``encode(values) -> (payload, meta)``,
``decode(payload, meta, n) -> values`` and ``estimate(stats) -> bytes``.
FSST is the byte-blob codec of string columns only (column._encode_blob);
it is not in ``ALL``.
"""

from . import bitpack, delta, dictionary, for_, fsst, plain, rle

# order = the selector's deterministic tie-break (cheapest decode first)
ALL = {m.NAME: m for m in (plain, bitpack, for_, delta, rle, dictionary)}

__all__ = ["plain", "bitpack", "for_", "delta", "rle", "dictionary", "fsst", "ALL"]
