"""Per-chunk codec auto-selector.

A pure, deterministic function of chunk statistics → ranked codec candidates.
Mirrors (and generalizes) the reference's one-bit decision "does this column
chunk have a dictionary page?" (reference: src/parquet-to-arrow.cc:25-33) into
a size-model competition across the integer codecs of ``codecs.ALL``, with a
final *measured* guard: the encoder compares the actual payload against PLAIN
and falls back if the model was wrong (SURVEY.md §7.4: compare actual encoded
sizes, not just heuristics).
"""

from __future__ import annotations

from .codecs import ALL


def rank_int_codecs(stats: dict) -> list[tuple[int, str]]:
    """Ranked (estimated_bytes, codec_name), best first; deterministic.
    Every estimate is an analytic size model over ``stats``; the stable
    sort keeps the registry's order on ties (cheapest decode first)."""
    ranked = [(codec.estimate(stats), name) for name, codec in ALL.items()]
    return sorted(ranked, key=lambda t: t[0])
