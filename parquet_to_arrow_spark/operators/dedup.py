"""Deduplication operators over the documents table.

Scale design notes (100 TB):
- exact: one hash-shuffle on the content fingerprint (md5), min-key wins.
- shingles: one worker kernel (_shingle_hashes) turns an Arrow batch of
  text into each doc's sorted distinct md5-derived 5-gram hashes; MinHash,
  the exact hash-set verify and n-gram Jaccard all take them from it.
- MinHash+LSH: the per-bin minima of those hashes (one-permutation
  hashing) in one zero-shuffle mapInArrow; band into B buckets (the one
  shuffle, keyed by band signature, so skewed popular shingles never form
  a hot key), per-band candidate cap, and a streaming vectorized verify of
  each bucket in the workers.
- SimHash: per-batch vectorized bit-majority in one zero-shuffle mapInArrow.
- n-gram Jaccard: a self-join of (doc, hash) rows on the long hash, with
  stop-shingle removal (document frequency cap) to bound the join.
- embedding near-dup: see similarity.py (cosine over the embeddings table).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..column import _strings_from, _utf8_parts
from ..sources.io import spread

# K=64 signatures in 16 bands of 4 rows: the (1/b)^(1/r) S-curve threshold
# is (1/16)^(1/4) = 0.5 — exactly the operator's default similarity
# threshold — and est_jaccard granularity improves from 1/16 to 1/64.
N_MINHASH = 64
_BIN_BITS = 6
assert N_MINHASH == 1 << _BIN_BITS
N_BANDS = 16  # 4 rows per band
SHINGLE = 5


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def content_fp(col=None):
    """The exact-dedup grouping key: md5 of the raw UTF-8. Grouping by the
    128-bit fingerprint instead of the text itself keeps the dedup shuffle
    narrow — (fp, doc_id) rows, ~25× less wire than full documents — which
    is the difference between feasible and not at 100 TB. (Industry-standard
    md5-collision risk accepted, as in every content-addressed store.)"""
    return F.md5(F.encode(col if col is not None else F.col("text"), "UTF-8"))


def exact_dedup_groups(spark, sf_dir) -> DataFrame:
    """Exact duplicate groups by content: keeper id + group size per text.
    One hash shuffle carrying only (fp, doc_id)."""
    return (
        _docs(spark, sf_dir)
        .select(content_fp().alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def exact_dedup_kept(spark, sf_dir) -> DataFrame:
    """The deduplicated corpus: one row per distinct text (min doc_id wins).
    Keepers are resolved on (fp, doc_id) — full text never shuffles — then a
    semi join on doc_id selects the surviving rows in place."""
    df = _docs(spark, sf_dir)
    keep = (
        df.select(content_fp().alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return df.join(keep, "doc_id", "left_semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


def _shingle_hashes(text: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """The shingle kernel, the one place text becomes shingle hashes:
    (h, counts) for one Arrow batch's ``text`` column, where document d
    owns the next counts[d] entries of the int64 ``h``, its distinct
    shingle hashes in ascending order. A shingle is a distinct code-point
    5-gram, ``s[i:i+5]`` for i < max(len(s) - 4, 1) (Spark's
    sequence(1, greatest(length - 4, 1)) + substr, so empty text has the
    one shingle ""); its hash is the first 8 bytes of md5(UTF-8) as a
    big-endian signed int64, which is the DuckDB twins' md5 hex halves
    recombined as hi_signed * 2^32 + lo. md5 runs once per distinct
    shingle of the batch (a dict vocabulary, as simhash64 does); a null
    text has no shingles."""
    n = len(text)
    vocab: dict[str, int] = {}
    ids: list[int] = []
    counts = np.zeros(n, dtype=np.int64)
    for d, s in enumerate(text.to_pylist()):
        if s is not None:
            sh = {s[i : i + SHINGLE] for i in range(max(len(s) - SHINGLE + 1, 1))}
            ids.extend(vocab.setdefault(x, len(vocab)) for x in sh)
            counts[d] = len(sh)
    hv = np.frombuffer(
        b"".join(hashlib.md5(x.encode("utf-8")).digest()[:8] for x in vocab),
        dtype=">i8",
    ).astype(np.int64)
    # one sort of (doc, hash rank) keys orders every doc's hashes and drops
    # a doc's duplicate hash (two shingles whose md5 prefixes collide)
    uniq, rank = np.unique(hv, return_inverse=True)
    u = max(len(uniq), 1)
    key = np.unique(np.repeat(np.arange(n), counts) * u + rank[np.asarray(ids, dtype=np.int64)])
    return uniq[key % u], np.bincount(key // u, minlength=n)


def _signature_batches(batches):
    """mapInArrow body of minhash_signatures: (doc_id, text) batches ->
    (doc_id, 512-byte signature blob) batches, one output row per doc.
    The per-bin minima of the shingle kernel's hashes; a hash's bin is its
    top 6 bits (digest[0] >> 2)."""
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        if batch.column(1).null_count:
            raise ValueError("minhash_signatures: text is null")
        h, counts = _shingle_hashes(batch.column(1))
        slot = np.repeat(np.arange(n) * N_MINHASH, counts) + (
            (h >> (64 - _BIN_BITS)) & (N_MINHASH - 1)
        )
        sig = np.full(n * N_MINHASH, np.iinfo(np.int64).max)
        np.minimum.at(sig, slot, h)
        empty = np.ones(n * N_MINHASH, dtype=bool)
        empty[slot] = False
        sig, empty = sig.reshape(n, N_MINHASH), empty.reshape(n, N_MINHASH)
        g = sig.min(axis=1)  # empty bins hold int64 max: the filled-bin min
        for d, i in zip(*np.nonzero(empty)):
            fill = hashlib.md5(f"{g[d]}:{i}".encode()).digest()
            sig[d, i] = int.from_bytes(fill[:8], "big", signed=True)
        blob = sig.astype(">i8").tobytes()
        yield pa.RecordBatch.from_arrays(
            [batch.column(0), _strings_from(blob, np.full(n, 8 * N_MINHASH), binary=True)],
            names=["doc_id", "sig"],
        )


def minhash_signatures(spark, sf_dir, docs: DataFrame | None = None) -> DataFrame:
    """(doc_id, sig): K min-hashes per doc via ONE-PERMUTATION HASHING
    (Li/Owen/Zhang, NeurIPS 2012): each distinct char-5-gram shingle is
    hashed ONCE, assigned to one of K bins by the hash's own top bits, and
    the signature is the per-bin minimum. ``sig`` is one 512-byte blob,
    the K slots as big-endian int64, computed per Arrow batch by one
    zero-shuffle mapInArrow (_signature_batches; one row per input row, a
    null ``text`` raises ValueError). The hash is the shingle kernel's
    md5-derived value (_shingle_hashes), so the signature — and therefore
    minhash_lsh_pairs — has an exact DuckDB oracle. Within a bin the top 6
    bits are constant, so the SIGNED per-bin min ranks identically to the
    unsigned one. Empty bins are densified with md5(global_min ':' bin):
    for two docs both missing bin i the fill collides exactly when their
    global minima collide — itself a minhash event — so the estimator
    stays honest; single-sided empties almost never collide (slight
    underestimate)."""
    if docs is None:
        docs = _docs(spark, sf_dir)
    return _shingled(docs, _signature_batches, "sig binary")


def _shingled(docs: DataFrame, body, cols: str) -> DataFrame:
    """``body`` (a shingle-kernel mapInArrow body) over the (doc_id, text)
    batches of ``docs``, returning (doc_id, ``cols``)."""
    docs = spread(docs).select("doc_id", "text")
    id_type = dict(docs.dtypes)["doc_id"]
    return docs.mapInArrow(body, f"doc_id {id_type}, {cols}")


DEFAULT_BAND_CAP = 4096
# buckets above this many docs take _verify_big's duplicate-collapse path
_BIG_GROUP = 256


def _verify_big(d, S, thr):
    """Duplicate-collapse verify of one hot bucket (sf1.0: a 3,153-doc
    bucket holds few DISTINCT signatures): byte-identical signature rows
    merge into classes, the match matrix runs over the u classes, and doc
    pairs expand only for qualifying class pairs (output-bounded);
    intra-class pairs have matches == 64 by construction."""
    order = np.argsort(d, kind="stable")
    d, S = d[order], S[order]
    rows = np.ascontiguousarray(S).view([("", S.dtype)] * N_MINHASH).ravel()
    uniq, inv = np.unique(rows, return_inverse=True)
    u = len(uniq)
    U = uniq.view(S.dtype).reshape(u, N_MINHASH)
    m = np.zeros((u, u), dtype=np.int16)
    for s in range(N_MINHASH):
        col = U[:, s]
        m += col[:, None] == col[None, :]
    est_uu = m / float(N_MINHASH)
    by_class = np.argsort(inv, kind="stable")
    counts = np.bincount(inv, minlength=u)
    starts = np.zeros(u + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    members = [d[by_class[starts[c] : starts[c + 1]]] for c in range(u)]
    out = []
    for c1, c2 in zip(*np.nonzero(np.triu(est_uu >= thr))):
        if c1 == c2:  # members are sorted: i < j within the class
            iu, ju = np.triu_indices(counts[c1], 1)
            a, b = members[c1][iu], members[c1][ju]
        else:
            A, B = np.broadcast_arrays(members[c1][:, None], members[c2][None, :])
            a, b = np.minimum(A, B).ravel(), np.maximum(A, B).ravel()
        out.append((a, b, np.full(len(a), est_uu[c1, c2])))
    return out


def _verify_sorted(band, doc, sigs, thr):
    """[(doc_a, doc_b, est)] array triples of the >= ``thr`` pairs of the
    complete buckets in ``band``-sorted rows, VECTORIZED BY SIZE CLASS: all
    size-k buckets stack into one (g, k, 64) tensor and the 64-slot match
    loop runs once per DISTINCT SIZE — not once per bucket. The per-bucket
    form cost ~200 us of numpy-call overhead x ~10^5 buckets (21.9 s
    single-thread at sf1.0, the whole stage); the class form is ~60 tensor
    passes total. Buckets above _BIG_GROUP docs go to _verify_big."""
    change = np.flatnonzero(band[1:] != band[:-1])
    bounds = np.concatenate(([0], change + 1, [len(band)]))
    sizes = np.diff(bounds)
    out = []
    for k in np.unique(sizes):
        k = int(k)
        if k < 2:
            continue
        gsel = np.flatnonzero(sizes == k)
        if k > _BIG_GROUP:
            for gi in gsel:
                lo = bounds[gi]
                out.extend(_verify_big(doc[lo : lo + k], sigs[lo : lo + k], thr))
            continue
        # all size-k buckets as one (g, k, 64) tensor, processed in chunks
        # whose int8 match accumulator fits in cache: the slot loop sweeps
        # the accumulator 64 times, so an out-of-cache m turns into ~12 GB
        # of memory traffic on this membound box (counts <= 64 fit int8;
        # slot-major transpose makes each sweep's reads contiguous)
        idx = (bounds[gsel][:, None] + np.arange(k)[None, :]).ravel()
        D = doc[idx].reshape(len(gsel), k)
        G = sigs[idx].reshape(len(gsel), k, N_MINHASH)
        ds = np.argsort(D, axis=1, kind="stable")
        D = np.take_along_axis(D, ds, axis=1)
        G = np.ascontiguousarray(
            np.take_along_axis(G, ds[:, :, None], axis=1).transpose(0, 2, 1)
        )  # (g, 64, k) slot-major
        iu, ju = np.triu_indices(k, 1)
        chunk = max(1, (1 << 20) // (k * k))
        for c0 in range(0, len(gsel), chunk):
            Gc = G[c0 : c0 + chunk]
            m = np.zeros((len(Gc), k, k), dtype=np.int8)
            for s in range(N_MINHASH):
                col = Gc[:, s, :]
                m += col[:, :, None] == col[:, None, :]
            est = m[:, iu, ju] / float(N_MINHASH)
            keep = est >= thr
            if keep.any():
                Dc = D[c0 : c0 + chunk]
                out.append(
                    (
                        np.broadcast_to(Dc[:, iu], keep.shape)[keep],
                        np.broadcast_to(Dc[:, ju], keep.shape)[keep],
                        est[keep],
                    )
                )
    return out


def _verify_bands(batches, threshold):
    """mapInArrow body of minhash_lsh_pairs' verify: (band, doc_id, sig)
    batches in band order -> (doc_a, doc_b, est_jaccard) batches. Streams:
    each batch's completed buckets are verified as it arrives and only the
    trailing, possibly unfinished bucket is carried into the next batch,
    so Python holds one batch plus one bucket (<= band_cap rows), never
    the task's partition. Band order going backwards raises RuntimeError
    (the band window sorts its output by band)."""
    thr = float(threshold)
    carry = None
    out_type = None

    def emit(parts):
        if parts:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate([p[0] for p in parts])).cast(out_type),
                    pa.array(np.concatenate([p[1] for p in parts])).cast(out_type),
                    pa.array(np.concatenate([p[2] for p in parts]), type=pa.float64()),
                ],
                names=["doc_a", "doc_b", "est_jaccard"],
            )

    for batch in batches:
        if batch.num_rows == 0:
            continue
        out_type = batch.column(1).type
        # only slot EQUALITY matters downstream, which is byte-order-
        # invariant; ONE byteswap pass to native int64 (numpy ufuncs on a
        # big-endian view re-swap on every operation of the match loop)
        blob, _ = _utf8_parts(batch.column(2))
        rows = (
            batch.column(0).to_numpy(zero_copy_only=False),
            batch.column(1).to_numpy(zero_copy_only=False),
            np.frombuffer(blob, dtype=">i8").reshape(-1, N_MINHASH).astype(np.int64),
        )
        if carry is not None:
            rows = tuple(np.concatenate(p) for p in zip(carry, rows))
        band = rows[0]
        if np.any(band[1:] < band[:-1]):
            raise RuntimeError("minhash_lsh_pairs verify: rows are not sorted by band")
        cut = int(np.searchsorted(band, band[-1]))
        carry = tuple(r[cut:] for r in rows)
        yield from emit(_verify_sorted(*(r[:cut] for r in rows), thr))
    if carry is not None:
        yield from emit(_verify_sorted(*carry, thr))


def minhash_lsh_pairs(
    spark,
    sf_dir,
    threshold: float = 0.5,
    band_cap: int = DEFAULT_BAND_CAP,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH + exact MinHash-similarity
    verification; returns (doc_a, doc_b, est_jaccard).

    Scale shape (round-6 restructure, guide §4.2): candidate pairs are NEVER
    materialized as rows. The 512-byte signature blob rides on the band
    rows through the window cap's one exchange; a mapInArrow over the
    window's (band, tiebreak)-sorted output (_verify_bands) verifies each
    bucket as a vectorized numpy block (k x 64 slot matrix -> pairwise
    match counts), streaming bucket by bucket, and emits only the
    >= threshold survivors. Enumerating every in-bucket pair as a JVM row
    instead grows quadratically (measured sf1.0: 24.0M bucket-pairs from
    50k docs, 3,273 survivors, hottest bucket 3,153 docs). Pair semantics:
    capped buckets, i<j in-bucket pairs, est = matches/64.0 (exact: integer
    / 2^6 in float64), >= threshold filter, one row per pair (est_jaccard
    is a pure function of the pair). Shuffle cost is N_BANDS x sig_bytes x
    n_docs regardless of duplication; the verify pass is output-bounded.

    The blob crosses the band shuffle AND the Python boundary as binary,
    not array<long>: Spark's row<->Arrow bridge converts array elements one
    at a time (the engine's core invariant — see sources/io.py). Banding
    hashes 32-byte SLICES of it, so equal 4-slot slices <=> equal bytes =>
    equal band hash.

    Skew guard: at most ``band_cap`` docs survive per band value before
    verification (deterministic row_number, overflow OBSERVED via
    'minhash_band_overflow' — the cap_buckets pattern from similarity.py).
    A corpus with mass-duplicated boilerplate puts millions of docs into one
    band; without the cap that band's pair count is quadratic. Capped docs
    in an over-full band are exact/near-exact duplicates of the survivors,
    which exact_dedup (or a keep-one pass over the survivors) already
    handles — the cap costs recall only for the pathological band, bounded
    and measured, instead of an unbounded join. The cap also bounds the
    verify pass's per-bucket memory (band_cap^2/2 pairs).
    """
    sig = minhash_signatures(spark, sf_dir, docs=docs)
    width = N_MINHASH // N_BANDS * 8
    band_hashes = [
        F.xxhash64(F.substring("sig", b * width + 1, width), F.lit(b))
        for b in range(N_BANDS)
    ]
    bands = sig.select("doc_id", "sig", F.explode(F.array(*band_hashes)).alias("band"))
    w = Window.partitionBy("band").orderBy(F.xxhash64(F.col("doc_id")))
    ranked = bands.withColumn("__rk", F.row_number().over(w)).observe(
        "minhash_band_overflow",
        F.sum((F.col("__rk") > band_cap).cast("long")).alias("overflow_rows"),
        F.count(F.lit(1)).alias("total_rows"),
    )
    capped = ranked.filter(F.col("__rk") <= band_cap).select("band", "doc_id", "sig")
    id_type = dict(capped.dtypes)["doc_id"]
    pairs = capped.mapInArrow(
        lambda it: _verify_bands(it, threshold),
        f"doc_a {id_type}, doc_b {id_type}, est_jaccard double",
    )
    return pairs.dropDuplicates(["doc_a", "doc_b"])


def _shingle_rows(batches):
    """mapInArrow body of ngram_jaccard_pairs: (doc_id, text) batches ->
    one (doc_id, h, n_sh) row per distinct shingle hash of a doc, n_sh its
    number of hashes (a null text gives no row)."""
    for batch in batches:
        h, counts = _shingle_hashes(batch.column(1))
        doc = np.repeat(np.arange(batch.num_rows), counts)
        cols = [batch.column(0).take(doc), pa.array(h), pa.array(counts[doc])]
        yield pa.RecordBatch.from_arrays(cols, names=["doc_id", "h", "n_sh"])


def _hash_set_batches(batches):
    """mapInArrow body of the exact verify: (doc_id, text) batches ->
    (doc_id, hs), ``hs`` a doc's sorted distinct shingle hashes as one
    little-endian int64 blob."""
    for batch in batches:
        h, counts = _shingle_hashes(batch.column(1))
        hs = _strings_from(h.astype("<i8").tobytes(), 8 * counts, binary=True)
        yield pa.RecordBatch.from_arrays([batch.column(0), hs], names=["doc_id", "hs"])


def _verify_hash_sets(batches, threshold):
    """mapInArrow body of the exact verify: (doc_a, doc_b, hs_a, hs_b)
    candidate batches -> the (doc_a, doc_b) rows whose hash-set Jaccard
    n_common / (n_a + n_b - n_common) is >= ``threshold`` (float64, as
    Spark's int / double). n_common is np.intersect1d of the two sorted
    distinct int64 views, one pair at a time: 8,192 pairs of ~300 hashes
    took 0.09 s on a 4-vCPU VM, where one lexsort over the batch took 1.3 s."""
    for batch in batches:
        blobs = zip(batch.column(2).to_pylist(), batch.column(3).to_pylist())
        pairs = [(np.frombuffer(x, dtype="<i8"), np.frombuffer(y, dtype="<i8")) for x, y in blobs]
        n_common = np.array(
            [len(np.intersect1d(x, y, assume_unique=True)) for x, y in pairs], dtype=np.int64
        )
        n_ab = np.array([len(x) + len(y) for x, y in pairs], dtype=np.int64)
        keep = pa.array(n_common / (n_ab - n_common).astype(np.float64) >= threshold)
        cols = [batch.column(0).filter(keep), batch.column(1).filter(keep)]
        yield pa.RecordBatch.from_arrays(cols, names=["doc_a", "doc_b"])


def _jaccard_verified(cand: DataFrame, docs: DataFrame, threshold: float) -> DataFrame:
    """The (doc_a, doc_b) candidates whose exact shingle-hash Jaccard is
    >= ``threshold``. A doc's hash set crosses the candidate joins as one
    binary blob and the intersection is counted in the workers, so no
    array row passes through the JVM."""
    hs = _shingled(docs, _hash_set_batches, "hs binary")
    joined = cand.join(hs.toDF("doc_a", "hs_a"), "doc_a").join(hs.toDF("doc_b", "hs_b"), "doc_b")
    joined = joined.select("doc_a", "doc_b", "hs_a", "hs_b")
    id_type = dict(joined.dtypes)["doc_a"]
    return joined.mapInArrow(
        lambda it: _verify_hash_sets(it, threshold), f"doc_a {id_type}, doc_b {id_type}"
    )


def ngram_jaccard_pairs(spark, sf_dir, threshold: float = 0.3, max_df: int = 64) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing a rare shingle.

    Stop-shingle removal (document frequency > max_df dropped) bounds the
    self-join fan-out — the skew guard that matters at scale. The shingle
    kernel's (doc_id, h, n_sh) rows (_shingle_rows) join on the long hash;
    the document frequency is a window over ``h`` whose hash partitioning
    the join reuses, and n_sh rides the join: no size join, no cache.
    """
    sh = _shingled(_docs(spark, sf_dir), _shingle_rows, "h long, n_sh long")
    rare = sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("h")))
    rare = rare.filter(F.col("df") <= max_df)
    a, b = rare.toDF("doc_a", "h", "n_a", "df_a"), rare.toDF("doc_b", "h", "n_b", "df_b")
    n_common = F.col("n_common")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_common"))
        .withColumn("jaccard", n_common / (F.col("n_a") + F.col("n_b") - n_common))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def _majority_bits(occ, starts, counts):
    """SimHash of each document from its words' 64-bit hashes ``occ``
    (document i owns rows ``starts[i]`` to ``starts[i] + counts[i]``, every
    count > 0): bit b is set iff more than half of the words have bit b set
    (ties -> 0), returned as int64. Bit b of a word is bit b % 8 of its
    little-endian byte b // 8; the votes are unpacked one byte at a time as
    words x 8 uint8 and summed per document in int32, so a document of more
    than 255 words cannot overflow the count. Per byte, because reduceat
    casts its whole input to the sum's dtype: the transient is 40 bytes a
    word, where a words x 64 int32 vote matrix is 256."""
    by = occ.astype("<u8", copy=False).view(np.uint8).reshape(-1, 8)
    ones = np.empty((len(starts), 64), dtype=np.int32)
    for j in range(8):
        bits = np.unpackbits(by[:, j : j + 1], axis=1, bitorder="little")
        ones[:, 8 * j : 8 * j + 8] = np.add.reduceat(bits, starts, axis=0, dtype=np.int32)
    # majority: bit set iff ones > words/2  (s = 2*ones - words > 0)
    maj = (2 * ones) > counts[:, None]
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    return (maj * weights).sum(axis=1, dtype=np.uint64).view(np.int64)


def simhash64(spark, sf_dir) -> DataFrame:
    """64-bit SimHash per doc: word-level md5 hashes, per-bit majority vote.

    The word hash is the two 32-bit halves of md5(word) (bits 0-31 from hex
    chars 9-16, bits 32-63 from chars 1-8): md5 is available in every SQL
    engine, so the whole operator has an exact DuckDB oracle twin (xxhash64
    does not exist in DuckDB and would leave this rows-only-checked).

    Round-6 restructure (guide §4.2): the previous JVM pipeline emitted 64
    ±1-vote rows PER WORD (posexplode) and reduced them with two hash
    aggregations — at sf1.0 that is ~210M exploded rows shuffled into a
    (doc, bit) aggregate for 50k output rows. Now a zero-shuffle mapInArrow
    computes the whole vote matrix vectorized per batch: words split with
    pyarrow (C speed), md5 evaluated ONCE PER DISTINCT WORD per batch
    (dictionary_encode collapses the ~10x word repetition), bit unpack +
    per-doc majority as numpy matrix ops. Semantics are bit-identical: same
    single-space split, same empty-token filter (docs with no words emit no
    row), same md5 halves, ties (s==0) -> 0, bit 63 sign via uint64 view.
    Shuffle volume: ZERO (was: words x 64 partial-agg rows)."""
    docs = spread(_docs(spark, sf_dir)).select("doc_id", "text")

    def run(batches):
        import pyarrow.compute as pc

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            doc_id = batch.column(0)
            words = pc.split_pattern(batch.column(1), " ")
            flat = words.flatten()
            # per-doc word counts (null text -> 0 words, like explode(null))
            wlen = pc.list_value_length(words)
            wlen = pc.fill_null(wlen, 0).to_numpy(zero_copy_only=False).astype(np.int64)
            nonempty = pc.not_equal(pc.utf8_length(flat), 0)
            mask = nonempty.to_numpy(zero_copy_only=False).astype(bool)
            # counts of surviving words per doc (safe for zero-word docs)
            cs = np.zeros(len(mask) + 1, dtype=np.int64)
            np.cumsum(mask, out=cs[1:])
            off = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(wlen, out=off[1:])
            counts = cs[off[1:]] - cs[off[:-1]]
            kept = flat.filter(nonempty)
            if len(kept) == 0:
                continue
            denc = pc.dictionary_encode(kept)
            if isinstance(denc, pa.ChunkedArray):  # pragma: no cover
                denc = denc.combine_chunks()
            vocab = denc.dictionary.to_pylist()
            idx = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            w64 = np.empty(len(vocab), dtype=np.uint64)
            for i, w in enumerate(vocab):
                d = hashlib.md5(w.encode("utf-8")).digest()
                w64[i] = (int.from_bytes(d[:4], "big") << 32) | int.from_bytes(
                    d[4:8], "big"
                )
            # hi half occupies bits 32-63, lo half bits 0-31 (bit i of this
            # uint64 == the JVM pipeline's vote source for simhash bit i)
            have = counts > 0
            # doc i's surviving words are rows [cs[off[i]], cs[off[i]]+counts[i])
            sim = _majority_bits(w64[idx], cs[off[:-1]][have], counts[have])
            yield pa.RecordBatch.from_arrays(
                [doc_id.filter(pa.array(have)), pa.array(sim, type=pa.int64())],
                names=["doc_id", "simhash"],
            )

    id_type = dict(docs.dtypes)["doc_id"]
    return docs.mapInArrow(run, f"doc_id {id_type}, simhash long")
