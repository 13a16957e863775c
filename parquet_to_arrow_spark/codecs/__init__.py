"""Lightweight-compression codec kernels (pure numpy, Spark-free).

Registry of the five codecs mandated by the north rule plus the PLAIN
fallback and DELTA (sorted-column differences — the classic sixth
lightweight codec). Each module exposes ``NAME``,
``encode(values) -> (payload, meta)``, ``decode(payload, meta, n) -> values``
and ``estimate(stats) -> bytes``.
"""

from . import bitpack, delta, dictionary, for_, fsst, plain, rle

# order = the selector's deterministic tie-break (cheapest decode first)
ALL = {m.NAME: m for m in (plain, bitpack, for_, delta, rle, dictionary, fsst)}

__all__ = ["plain", "bitpack", "for_", "delta", "rle", "dictionary", "fsst", "ALL"]
