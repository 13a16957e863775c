"""Per-chunk column statistics feeding the codec auto-selector.

The Spark-scale generalization of the reference's metadata probe — it decides
per column from row-group-0 metadata whether to preserve dictionary encoding
(reference: src/parquet-to-arrow.cc:25-33). Here the decision inputs are
measured chunk statistics: value range, run structure, cardinality estimate
and delta width.

All passes are vectorized numpy; cardinality is estimated on a fixed-size
prefix sample (deterministic) because the exact unique pass is only needed if
DICT actually wins.
"""

from __future__ import annotations

import numpy as np

_CARD_SAMPLE = 1 << 16


def int_stats(values: np.ndarray, vmin: int | None = None, vmax: int | None = None) -> dict:
    """Chunk stats; pass ``vmin``/``vmax`` when already known (the encoder's
    clustering pass computes per-row extrema, so group extrema are free)."""
    n = len(values)
    stats: dict = {
        "n": n,
        "dtype": values.dtype.name,
        "itemsize": values.dtype.itemsize,
    }
    if n == 0:
        stats.update(vmin=0, vmax=0, n_runs=0, max_run=0, card=0)
        return stats
    stats["vmin"] = int(values.min()) if vmin is None else int(vmin)
    stats["vmax"] = int(values.max()) if vmax is None else int(vmax)
    # run structure estimated on a prefix sample (deterministic); the RLE
    # encoder recomputes exact runs if selected, and the PLAIN actual-size
    # guard catches estimate misses
    rs = values[: _CARD_SAMPLE]
    change = np.flatnonzero(rs[1:] != rs[:-1])
    starts = np.concatenate((np.zeros(1, dtype=np.int64), change + 1))
    bounds = np.concatenate((starts, np.array([len(rs)], dtype=np.int64)))
    run_lengths = np.diff(bounds)
    scale = n / len(rs)
    stats["n_runs"] = max(int(len(starts) * scale), 1)
    stats["max_run"] = max(int(run_lengths.max()), 1)
    vrange = stats["vmax"] - stats["vmin"]
    if vrange < (1 << 16):
        # exact cardinality via bincount — one O(n) pass, no sort
        hist = np.bincount(
            (values.astype(np.int64) - stats["vmin"]).astype(np.intp), minlength=vrange + 1
        )
        card = int(np.count_nonzero(hist))
    else:
        sample = values[:_CARD_SAMPLE]
        card = len(np.unique(sample))
        if n > len(sample):
            # Deterministic projection from the sample's distinct ratio:
            # near-all-distinct sample => cardinality grows ~linearly with n
            # (dict would be useless); saturated sample => vocab already seen.
            ratio = card / len(sample)
            if ratio >= 0.5:
                card = int(n * ratio)
            elif ratio >= 0.1:
                card = int(card * min((n / len(sample)) ** 0.5, 8.0))
            card = min(card, n, vrange + 1)
    stats["card"] = max(card, 1)
    # sorted-structure probe for the DELTA codec, on the same prefix sample:
    # wrap-around differences reinterpreted signed (exact mod 2^w), span ->
    # estimated packed width. Sample-optimistic like n_runs; encode() uses
    # exact widths so a miss costs size-model accuracy, never correctness.
    if len(rs) > 1:
        u = rs.view(f"uint{rs.dtype.itemsize * 8}") if rs.dtype.kind == "i" else rs
        ds = (u[1:] - u[:-1]).view(f"int{rs.dtype.itemsize * 8}")
        stats["delta_width"] = (int(ds.max()) - int(ds.min())).bit_length()
    else:
        stats["delta_width"] = 0
    return stats
