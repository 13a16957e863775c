"""Per-chunk codec auto-selector.

A pure, deterministic function of chunk statistics → ranked codec candidates.
Mirrors (and generalizes) the reference's one-bit decision "does this column
chunk have a dictionary page?" (reference: src/parquet-to-arrow.cc:25-33) into
a size-model competition across all five lightweight codecs, with a final
*measured* guard: the encoder compares the actual payload against PLAIN and
falls back if the model was wrong (SURVEY.md §7.4: compare actual encoded
sizes, not just heuristics).
"""

from __future__ import annotations

from .codecs import ALL, fsst


def rank_int_codecs(stats: dict) -> list[tuple[int, str]]:
    """Ranked (estimated_bytes, codec_name), best first; deterministic.

    FSST's estimate is the only *measured* one (sample compression — two
    orders of magnitude costlier than the analytic models), so it only runs
    when every analytic codec leaves >45% of PLAIN on the table; on token
    data dict/bitpack/FoR almost always win and FSST never gets probed.
    """
    ranked = []
    for name, codec in ALL.items():
        if name != fsst.NAME:
            ranked.append((codec.estimate(stats), name))
    plain_size = stats["n"] * stats["itemsize"]
    if stats["n"] > 0 and min(e for e, _ in ranked) > 0.55 * plain_size:
        ranked.append((fsst.estimate(stats), fsst.NAME))
    # stable sort: ties keep the registry's order (cheapest decode first)
    ranked.sort(key=lambda t: t[0])
    return ranked


def select_int_codec(stats: dict) -> str:
    return rank_int_codecs(stats)[0][1]
