"""FSST codec: Fast Static Symbol Table compression (Boncz, Neumann, Leis;
VLDB 2020) — from-scratch simplified implementation.

A per-chunk table of up to 255 byte-gram symbols (2..8 bytes) is built
greedily from frequency counts over a sample; the stream is re-coded as
1-byte symbol ids with an escape byte (0xFF) + literal for uncovered bytes.

- Table construction is fully vectorized: sliding-window n-gram counting via
  numpy stride tricks, deterministic tie-breaking (gain desc, symbol asc).
- Compression walks a single pre-compiled alternation regex (longest-first =
  greedy longest match) — the only non-vectorized inner loop in the engine,
  amortized per match, not per byte.
- Decompression is fully vectorized: escape/literal positions are resolved
  from 0xFF-run parity, then a (512 x 8) symbol matrix gather emits output.

The byte-blob codec of string and binary columns (documents.text); the
integer token streams never reach it. Round-trip is byte-exact (reference
round-trip contract: README.md:93-95).
"""

from __future__ import annotations

import re

import numpy as np

NAME = "fsst"

ESCAPE = 255
MAX_SYMBOLS = 255  # codes 0..254; 255 is the escape
MAX_SYMBOL_LEN = 8
_SAMPLE_BYTES = 1 << 14
_GRAM_LENGTHS = (2, 3, 4, 6, 8)


def build_symbol_table(sample: bytes, max_symbols: int = MAX_SYMBOLS) -> list[bytes]:
    """Greedy symbol table from byte-gram frequencies over ``sample``.

    Deterministic: candidates ranked by (saved bytes desc, symbol bytes asc).
    """
    sample = sample[:_SAMPLE_BYTES]
    a = np.frombuffer(sample, dtype=np.uint8)
    seen: set[bytes] = set()
    cands: list[tuple[int, bytes]] = []
    for n in _GRAM_LENGTHS:
        if len(a) < n * 2:
            break
        win = np.lib.stride_tricks.sliding_window_view(a, n)
        weights = np.uint64(256) ** np.arange(n, dtype=np.uint64)
        keys = win.astype(np.uint64) @ weights
        uniq, counts = np.unique(keys, return_counts=True)
        # top candidates for this length, deterministic order
        order = np.lexsort((uniq, -counts))[:512]
        for k, c in zip(uniq[order], counts[order]):
            c = int(c)
            if c < 4:
                break
            sym = int(k).to_bytes(n, "little")
            if sym in seen:
                continue
            seen.add(sym)
            cands.append(((n - 1) * c, sym))
    cands.sort(key=lambda t: (-t[0], t[1]))
    return [sym for _, sym in cands[:max_symbols]]


def _compile(symbols: list[bytes]) -> re.Pattern | None:
    if not symbols:
        return None
    # longest-first alternation => leftmost-longest (greedy) matching
    ordered = sorted(symbols, key=lambda s: (-len(s), s))
    return re.compile(b"|".join(re.escape(s) for s in ordered))


def _escape_literals(chunk: bytes) -> bytes:
    """Interleave ESCAPE before every literal byte (vectorized)."""
    a = np.frombuffer(chunk, dtype=np.uint8)
    out = np.empty(2 * len(a), dtype=np.uint8)
    out[0::2] = ESCAPE
    out[1::2] = a
    return out.tobytes()


def compress(data: bytes, symbols: list[bytes]) -> bytes:
    if not data:
        return b""
    pat = _compile(symbols)
    if pat is None:
        return _escape_literals(data)
    code_of = {s: bytes([i]) for i, s in enumerate(symbols)}
    parts: list[bytes] = []
    pos = 0
    for m in pat.finditer(data):
        s, e = m.span()
        if s > pos:
            parts.append(_escape_literals(data[pos:s]))
        parts.append(code_of[m.group()])
        pos = e
    if pos < len(data):
        parts.append(_escape_literals(data[pos:]))
    return b"".join(parts)


def decompress(payload: bytes, symbols: list[bytes]) -> bytes:
    if not payload:
        return b""
    arr = np.frombuffer(payload, dtype=np.uint8)
    n = len(arr)
    is_esc_byte = arr == ESCAPE
    escape_mask = np.zeros(n, dtype=bool)
    literal_mask = np.zeros(n, dtype=bool)
    idx = np.flatnonzero(is_esc_byte)
    if len(idx):
        # Runs of consecutive 0xFF bytes: within a run, even offsets are
        # escapes, odd offsets are their literals; an odd-length run's final
        # escape consumes the next (non-0xFF) byte.
        new_run = np.empty(len(idx), dtype=bool)
        new_run[0] = True
        np.not_equal(idx[1:], idx[:-1] + 1, out=new_run[1:])
        run_id = np.cumsum(new_run) - 1
        run_start = idx[new_run][run_id]
        parity = (idx - run_start) % 2
        escapes = idx[parity == 0]
        escape_mask[escapes] = True
        literal_mask[escapes + 1] = True
    item_mask = ~literal_mask
    # Extended id: 0..254 = symbol code, 256+b = literal byte b.
    ids = arr.astype(np.int64)
    ids[escape_mask] = 256 + arr[np.flatnonzero(escape_mask) + 1].astype(np.int64)
    ids = ids[item_mask]
    table = np.zeros((512, MAX_SYMBOL_LEN), dtype=np.uint8)
    lens = np.zeros(512, dtype=np.int64)
    for i, s in enumerate(symbols):
        table[i, : len(s)] = np.frombuffer(s, dtype=np.uint8)
        lens[i] = len(s)
    lit = np.arange(256, dtype=np.uint8)
    table[256:512, 0] = lit
    lens[256:512] = 1
    mat = table[ids]
    keep = np.arange(MAX_SYMBOL_LEN)[None, :] < lens[ids][:, None]
    return mat[keep].tobytes()


# --- byte-blob codec interface (column._encode_blob / _decode_blob) --------

PROBE_BYTES = 4096


def estimate(blob: bytes, symbols: list[bytes]) -> int:
    """Compressed size of the blob's first PROBE_BYTES under ``symbols``:
    the measured probe the column layer gates a full compress on
    (SURVEY.md §7.4 item 4)."""
    return len(compress(blob[:PROBE_BYTES], symbols))


def encode(blob: bytes, symbols: list[bytes]) -> tuple[bytes, dict]:
    return compress(blob, symbols), {"symbols": [s.hex() for s in symbols]}


def decode(payload: bytes, meta: dict, n: int) -> bytes:
    return decompress(payload, [bytes.fromhex(h) for h in meta["symbols"]])
