"""Ground-truth tests for the training-data operators: planted duplicates
must be found, ANN must agree with brute force on easy cases."""

from __future__ import annotations

import pytest

from pyspark.sql import Row, functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def planted_docs(spark, tmp_path_factory):
    """documents table with planted exact + near duplicates."""
    base = "the quick brown fox jumps over the lazy dog and runs far away "
    rows = [
        Row(doc_id=1, text=base * 8, lang="en", source="web", n_chars=len(base * 8)),
        Row(doc_id=2, text=base * 8, lang="en", source="web", n_chars=len(base * 8)),  # exact dup
        Row(doc_id=3, text=(base * 8)[:-10] + "different!", lang="en", source="web",
            n_chars=len(base * 8)),  # near dup
        Row(doc_id=4, text="completely unrelated content about spaceships and stars "
            "orbit gravity mission " * 6, lang="en", source="books", n_chars=10),
        Row(doc_id=5, text="short one", lang="en", source="forum", n_chars=9),
    ]
    d = tmp_path_factory.mktemp("planted")
    spark.createDataFrame(rows).write.parquet(str(d / "documents.parquet"))
    return str(d)


def test_exact_dedup_finds_planted_dup(spark, planted_docs):
    from parquet_to_arrow_spark.operators.dedup import exact_dedup_groups, exact_dedup_kept

    groups = {r["keep_id"]: r["n_copies"] for r in exact_dedup_groups(spark, planted_docs).collect()}
    assert groups[1] == 2  # doc 2 collapsed into doc 1
    kept = {r["doc_id"] for r in exact_dedup_kept(spark, planted_docs).collect()}
    assert kept == {1, 3, 4, 5}


def test_minhash_lsh_finds_planted_near_dup(spark, planted_docs):
    from parquet_to_arrow_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"]
             for r in minhash_lsh_pairs(spark, planted_docs, threshold=0.5).collect()}
    assert pairs.get((1, 2)) == 1.0  # exact dup -> identical signatures
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup caught by banding
    assert (1, 4) not in pairs and (1, 5) not in pairs  # unrelated not paired


def test_minhash_recall_on_planted_corpus(spark, tmp_path_factory):
    """K=64 / 16-band x 4-row banding: planted near-dup pairs (char-shingle
    jaccard ~0.65) must be recovered at >= 80% recall from a noisy corpus,
    with no false pairs among unrelated docs."""
    import random

    from parquet_to_arrow_spark.operators.dedup import minhash_lsh_pairs

    rng = random.Random(42)
    vocab = [f"w{i:03d}" for i in range(400)]
    rows, planted, did = [], [], 0
    for p in range(12):
        a_words = rng.sample(vocab, 60)
        b_words = a_words[:48] + [f"x{p}{i:02d}" for i in range(12)]
        rows += [(did, " ".join(a_words)), (did + 1, " ".join(b_words))]
        planted.append((did, did + 1))
        did += 2
    for _ in range(30):  # background noise from the same vocabulary
        rows.append((did, " ".join(rng.sample(vocab, 60))))
        did += 1
    d = tmp_path_factory.mktemp("minhash_recall")
    spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(d / "documents.parquet"))

    got = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(spark, str(d), threshold=0.5).collect()
    }
    recall = len(got & set(planted)) / len(planted)
    assert recall >= 0.8, (recall, sorted(got))
    assert not (got - set(planted)), got - set(planted)  # no false pairs


def test_minhash_band_cap_bounds_skewed_join(spark, tmp_path_factory):
    """Mass-duplicated boilerplate (1000 identical docs — the classic
    pretraining-dedup skew) must NOT go quadratic in the band self-join:
    with band_cap=20 the surviving candidate set is C(20,2)=190 pairs, not
    the uncapped C(1000,2)=499500. Identical docs share every band value
    and the deterministic xxhash64(doc_id) ranking picks the same survivors
    in each, so the distinct-pair bound is exactly C(cap,2)."""
    from parquet_to_arrow_spark.operators.dedup import minhash_lsh_pairs

    text = "mass duplicated boilerplate paragraph that appears everywhere " * 4
    rows = [(i, text, "en", "web", len(text)) for i in range(1000)]
    d = tmp_path_factory.mktemp("minhash_cap")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(d / "documents.parquet"))

    pairs = minhash_lsh_pairs(spark, str(d), threshold=0.5, band_cap=20).collect()
    assert 0 < len(pairs) <= 20 * 19 // 2
    assert all(r["est_jaccard"] == 1.0 for r in pairs)


@pytest.mark.parametrize("op", ["minhash_lsh_pairs", "ngram_jaccard_pairs"])
def test_minhash_lsh_leaves_nothing_persisted(spark, tmp_path, op):
    """The shingles feed the query they are built for: a call must not
    leave a cached frame behind (it would leak storage per call and let a
    repeated call skip the shingle or signature build)."""
    from parquet_to_arrow_spark.operators import dedup

    text = "signatures are built once per call and never kept around " * 4
    rows = [(i, text if i < 3 else f"unrelated document number {i} " * 6, "en", "web", 10)
            for i in range(8)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    pairs = getattr(dedup, op)(spark, str(tmp_path), threshold=0.5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} >= {(0, 1), (0, 2), (1, 2)}
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def _doc_shingles(df, k=5):
    """Reference shingles from Spark expressions alone: the distinct char
    k-grams of each doc, ``substr(text, i, k)`` for i in 1..max(length -
    k + 1, 1), one row per (doc_id, shingle)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(1)))
    sh = F.array_distinct(F.transform(idx, lambda i: F.substr("text", i, F.lit(k))))
    return df.select("doc_id", F.explode(sh).alias("shingle"))


def _md5_signed64(col):
    """Reference (signed 64-bit hash, unsigned hi half) of md5(col) from
    its two 32-bit hex halves, recombined as hi_signed * 2^32 + lo: the
    arithmetic of the DuckDB twins."""
    hx = F.md5(col)
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    h = (
        hi - F.when(hi >= F.lit(2147483648), F.lit(4294967296)).otherwise(F.lit(0))
    ) * F.lit(4294967296) + lo
    return h, hi


def _spark_signatures(docs):
    """Reference one-permutation MinHash signatures built from Spark
    expressions alone: explode the shingles, md5-derived hash, per-(doc,
    bin) min, then per doc the 64 slots with empty bins densified from
    md5(global_min ':' bin). Returns {doc_id: 512-byte big-endian blob}."""
    from parquet_to_arrow_spark.operators.dedup import N_MINHASH, _BIN_BITS

    h, hi = _md5_signed64(F.col("shingle"))
    binned = _doc_shingles(docs).select(
        "doc_id", h.alias("h"), F.shiftright(hi, 32 - _BIN_BITS).alias("bin")
    )
    binmin = binned.groupBy("doc_id", "bin").agg(F.min("h").alias("mh"))
    m = F.map_from_entries(F.collect_list(F.struct("bin", "mh")))
    per_doc = binmin.groupBy("doc_id").agg(m.alias("__m"))
    g = F.array_min(F.map_values(F.col("__m")))

    def _fill(i):
        fh, _ = _md5_signed64(F.concat_ws(":", g.cast("string"), i.cast("string")))
        return fh

    sig = F.transform(
        F.sequence(F.lit(0), F.lit(N_MINHASH - 1)),
        lambda i: F.coalesce(F.element_at(F.col("__m"), i.cast("long")), _fill(i)),
    )
    return {
        r["doc_id"]: b"".join(x.to_bytes(8, "big", signed=True) for x in r["sig"])
        for r in per_doc.select("doc_id", sig.alias("sig")).collect()
    }


EDGE_TEXTS = [
    "", "a", "ab", "abc", "abcd", "abcde", "é", "ñandú", "日本語テキ",
    "😀😀😀😀😀😀", "a\x00b\x00c\x00d", "mixed ñ 日 😀 text over five code points",
]


def test_minhash_signatures_match_spark_reference(spark):
    """The per-batch signature worker equals the Spark-expression chain
    byte for byte: empty text, texts shorter than one shingle, 2/3/4-byte
    UTF-8 (shingles are code points, hashed over their UTF-8 bytes), NUL."""
    from parquet_to_arrow_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(list(enumerate(EDGE_TEXTS)), "doc_id long, text string")
    got = {r["doc_id"]: bytes(r["sig"]) for r in minhash_signatures(spark, None, docs).collect()}
    assert got == _spark_signatures(docs)
    assert all(len(b) == 512 for b in got.values())


def test_minhash_signatures_reject_null_text(spark):
    from parquet_to_arrow_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame([(1, "some text"), (2, None)], "doc_id long, text string")
    with pytest.raises(Exception, match="ValueError"):
        minhash_signatures(spark, None, docs).collect()


def test_shingle_kernel_matches_spark_reference(spark):
    """The shingle kernel's per-doc hashes are the reference chain's
    collect_set, ascending and distinct, on the edge texts; a null text
    has none."""
    import numpy as np
    import pyarrow as pa

    from parquet_to_arrow_spark.operators.dedup import _shingle_hashes

    docs = spark.createDataFrame(list(enumerate(EDGE_TEXTS)), "doc_id long, text string")
    h, _ = _md5_signed64(F.col("shingle"))
    want = {
        r["doc_id"]: sorted(r["hs"])
        for r in _doc_shingles(docs).groupBy("doc_id").agg(F.collect_set(h).alias("hs")).collect()
    }
    hs, counts = _shingle_hashes(pa.array(EDGE_TEXTS + [None, "abcde"]))
    got = [g.tolist() for g in np.split(hs, np.cumsum(counts)[:-1])]
    assert hs.dtype == np.int64
    assert dict(enumerate(got[: len(EDGE_TEXTS)])) == want
    assert got[len(EDGE_TEXTS) :] == [[], want[EDGE_TEXTS.index("abcde")]]


def test_hash_set_verify_matches_brute_force_jaccard():
    """The exact verify, fed candidate pairs over several small batches,
    keeps exactly the pairs whose brute-force shingle-set Jaccard is >= the
    threshold, including identical, disjoint and single-shingle docs and a
    pair exactly at the threshold."""
    import itertools

    import pyarrow as pa

    from parquet_to_arrow_spark.operators.dedup import _hash_set_batches, _verify_hash_sets

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "zzzzzzzzzzzzzzzz",
        "abcde", "abcdef", "a", "a", "", "ab",
        "pack my box with five dozen liquor jugs",
    ]
    ids = list(range(100, 100 + len(texts)))
    docs = pa.RecordBatch.from_arrays([pa.array(ids), pa.array(texts)], names=["doc_id", "text"])
    (hs,) = _hash_set_batches(iter([docs]))
    blob = dict(zip(hs.column(0).to_pylist(), hs.column(1).to_pylist()))
    shingles = [{t[i : i + 5] for i in range(max(len(t) - 4, 1))} for t in texts]
    pairs = list(itertools.combinations(range(len(texts)), 2))

    def batch(part):
        a, b = [ids[i] for i, _ in part], [ids[j] for _, j in part]
        cols = [pa.array(a, pa.int64()), pa.array(b, pa.int64())]
        cols += [pa.array([blob[d] for d in side], pa.binary()) for side in (a, b)]
        return pa.RecordBatch.from_arrays(cols, names=["doc_a", "doc_b", "hs_a", "hs_b"])

    for thr in (0.0, 0.3, 0.5, 1.0):
        want = sorted(
            (ids[i], ids[j]) for i, j in pairs
            if len(shingles[i] & shingles[j]) / len(shingles[i] | shingles[j]) >= thr
        )
        batches = [batch(part) for part in (pairs[:7], pairs[7:8], pairs[8:8], pairs[8:])]
        got = sorted(
            (a, b)
            for out in _verify_hash_sets(iter(batches), thr)
            for a, b in zip(out.column(0).to_pylist(), out.column(1).to_pylist())
        )
        assert got == want, thr
        # {abcde} vs {abcde, bcdef} is exactly 0.5
        assert ((104, 105) in got) == (thr <= 0.5)


def test_null_text_gives_no_ngram_pairs(spark, tmp_path):
    """A null text has no shingles: ngram_jaccard_pairs pairs the other
    docs as before and never the null one (minhash_signatures raises on it,
    test_minhash_signatures_reject_null_text)."""
    from parquet_to_arrow_spark.operators.dedup import ngram_jaccard_pairs

    text = "a document with a null neighbour in the same table"
    rows = [(1, text), (2, text), (3, None), (4, "something else entirely")]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = [(r.doc_a, r.doc_b, r.jaccard) for r in ngram_jaccard_pairs(spark, str(tmp_path)).collect()]
    assert got == [(1, 2, 1.0)]


def _band_rows(rng):
    """(band, doc, sig) rows sorted by band: small buckets, a 10-doc bucket
    and a 300-doc bucket (above the duplicate-collapse threshold) whose docs
    are drawn from a few base signatures with some slots redrawn."""
    import numpy as np

    bands, sigs = [], []
    for band, n in ((-7, 3), (2, 10), (5, 300), (11, 4)):
        base = rng.integers(-(2**62), 2**62, size=(4, 64))
        s = base[rng.integers(0, 4, size=n)]
        redraw = rng.random(s.shape) < rng.choice([0.0, 0.2, 0.6], size=(n, 1))
        s[redraw] = rng.integers(-(2**62), 2**62, size=int(redraw.sum()))
        bands += [band] * n
        sigs.append(s)
    sigs = np.concatenate(sigs)
    docs = rng.permutation(len(sigs)).astype(np.int64) + 100
    return np.asarray(bands, dtype=np.int64), docs, sigs


def _band_batch(band, doc, sigs):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array(band),
            pa.array(doc),
            pa.array([row.astype(">i8").tobytes() for row in sigs], type=pa.binary()),
        ],
        names=["band", "doc_id", "sig"],
    )


def _pairs(batches):
    return sorted(
        (a, b, e)
        for out in batches
        for a, b, e in zip(*(out.column(i).to_pylist() for i in range(3)))
    )


def test_lsh_verify_streams_bands_across_batches():
    """The verify carries only the trailing bucket between batches: a
    bucket straddling three batches and a 300-doc bucket crossing a batch
    boundary give exactly the one-batch pairs (which equal brute force over
    each bucket), and the first pairs come out before the last batch is
    read."""
    import itertools

    import numpy as np

    from parquet_to_arrow_spark.operators.dedup import _verify_bands

    band, doc, sigs = _band_rows(np.random.default_rng(15))
    whole = _pairs(_verify_bands(iter([_band_batch(band, doc, sigs)]), 0.5))
    brute = []
    for b in np.unique(band):
        sel = np.flatnonzero(band == b)
        for i, j in itertools.combinations(sel, 2):
            est = float((sigs[i] == sigs[j]).sum()) / 64
            if est >= 0.5:
                brute.append((min(doc[i], doc[j]), max(doc[i], doc[j]), est))
    assert whole == sorted(brute) and len(whole) > 1000
    # band 2 is rows 3..12 (three batches), band 5 rows 13..312 (two batches)
    cuts = [0, 6, 9, 100, 200, len(band)]
    read = []

    def batches():
        for lo, hi in zip(cuts, cuts[1:]):
            read.append(hi)
            yield _band_batch(band[lo:hi], doc[lo:hi], sigs[lo:hi])

    stream = _verify_bands(batches(), 0.5)
    first = next(stream)
    assert len(read) < len(cuts) - 1
    assert _pairs([first, *stream]) == whole
    with pytest.raises(RuntimeError, match="sorted by band"):
        list(_verify_bands(iter([_band_batch(band[::-1], doc, sigs)]), 0.5))


def test_ngram_jaccard_scores_planted_pair(spark, planted_docs):
    from parquet_to_arrow_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(spark, planted_docs, threshold=0.5, max_df=10).collect()}
    assert pairs.get((1, 2)) == 1.0
    assert pairs.get((1, 3), 0) > 0.5


def test_simhash_near_dup_has_small_hamming(spark, planted_docs):
    from parquet_to_arrow_spark.operators.dedup import simhash64

    h = {r["doc_id"]: r["simhash"] for r in simhash64(spark, planted_docs).collect()}
    assert h[1] == h[2]
    near = bin((h[1] ^ h[3]) & ((1 << 64) - 1)).count("1")
    far = bin((h[1] ^ h[4]) & ((1 << 64) - 1)).count("1")
    assert near < far, (near, far)


def test_simhash_votes_match_shift_matrix_in_a_quarter_of_its_memory():
    """The per-document majority vote equals the words x 64 shift-matrix
    formula bit for bit, including a document of more than 255 words whose
    bit counts would overflow a uint8 sum, while its transient allocation
    stays under a quarter of that formula's int32 vote matrix."""
    import tracemalloc

    import numpy as np

    from parquet_to_arrow_spark.operators.dedup import _majority_bits

    rng = np.random.default_rng(7)
    counts = np.array([1, 2, 5, 310, 64, 3, 1000], dtype=np.int64)
    occ = rng.integers(0, 2**64, size=int(counts.sum()), dtype=np.uint64)
    occ[1:3] = np.uint64(2**63 + 5)  # a 2-word doc: every bit a tie or unanimous
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])

    shifts = np.arange(64, dtype=np.uint64)
    bits = ((occ[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32)
    maj = (2 * np.add.reduceat(bits, starts, axis=0)) > counts[:, None]
    want = (maj.astype(np.uint64) * (np.uint64(1) << shifts)[None, :]).sum(
        axis=1, dtype=np.uint64
    ).view(np.int64)

    tracemalloc.start()
    got = _majority_bits(occ, starts, counts)
    peak = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    assert got.dtype == np.int64
    assert np.array_equal(got, want)
    assert peak < len(occ) * 64 * 4 // 4, peak


def test_ann_lsh_subset_of_bruteforce_order(spark):
    from parquet_to_arrow_spark.operators.similarity import ann_lsh_topk, brute_force_topk

    bf = brute_force_topk(spark, SF, n_queries=3, k=10).collect()
    bf_rank = {(r["query_id"], r["neighbor_id"]): r["rank"] for r in bf}
    lsh = ann_lsh_topk(spark, SF, n_queries=3, k=10).collect()
    # every LSH hit that brute force also ranked must respect relative order
    for q in {r["query_id"] for r in lsh}:
        hits = [r for r in lsh if r["query_id"] == q]
        common = [r for r in hits if (q, r["neighbor_id"]) in bf_rank]
        bf_order = sorted(common, key=lambda r: bf_rank[(q, r["neighbor_id"])])
        assert [r["neighbor_id"] for r in bf_order] == [
            r["neighbor_id"] for r in sorted(common, key=lambda r: r["rank"])
        ]


def test_tfidf_top_terms_surfaces_distinctive_words(spark, planted_docs):
    from parquet_to_arrow_spark.operators.textstats import tfidf_top_terms

    top = {}
    for r in tfidf_top_terms(spark, planted_docs, k=3).collect():
        top.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["score_r"]))
    assert set(top) == {1, 2, 3, 4, 5}
    for doc_id, terms in top.items():
        assert [t[0] for t in sorted(terms)] == list(range(1, len(terms) + 1))
        assert all(t[2] > 0 for t in terms)
    # doc 4 is the spaceship doc: its top terms are its own vocabulary,
    # disjoint from the fox docs' top terms
    fox_terms = {t[1] for t in top[1]}
    space_terms = {t[1] for t in top[4]}
    assert not (fox_terms & space_terms)


def test_lang_id_marks_english(spark, planted_docs):
    from parquet_to_arrow_spark.operators.textstats import lang_id

    got = {r["doc_id"]: r["lang_guess"] for r in lang_id(spark, planted_docs).collect()}
    assert got[1] == "en"
    assert got[5] == "unknown"  # no markers in "short one"


def test_asof_join_planted_timeline(spark, tmp_path):
    """As-of semantics on a hand-built timeline: latest click at-or-before
    each purchase, same-instant click counts, no click -> null."""
    import datetime as dt

    from parquet_to_arrow_spark.operators.relational import asof_purchase_last_click

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # user 1: click(1) buy(2) click(3) buy(4); same-instant click 5/buy 6
        (1, T(10), 1, "click"), (2, T(20), 1, "purchase"),
        (3, T(30), 1, "click"), (4, T(40), 1, "purchase"),
        (5, T(50), 1, "click"), (6, T(50), 1, "purchase"),
        # user 2: purchase with NO prior click
        (7, T(5), 2, "purchase"), (8, T(9), 2, "click"),
    ]
    d = tmp_path / "ev"
    spark.createDataFrame(
        [(e, ts, u, t, 0.0, "{}") for e, ts, u, t in rows],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    ).write.parquet(str(d / "events.parquet"))
    got = {
        r["event_id"]: (r["last_click_id"], r["gap_us"])
        for r in asof_purchase_last_click(spark, str(d)).collect()
    }
    assert got[2] == (1, 10_000_000)
    assert got[4] == (3, 10_000_000)
    assert got[6] == (5, 0)  # same-instant click counts as at-or-before
    assert got[7] == (None, None)


def test_contamination_screen_flags_probes(spark, planted_docs):
    from parquet_to_arrow_spark.operators.textstats import contamination_screen

    got = {
        r["doc_id"]: (r["n_probes_hit"], r["contaminated"])
        for r in contamination_screen(
            spark, planted_docs, probes=("quick brown fox", "spaceships", "absent-xyz")
        ).collect()
    }
    assert got[1] == (1, True) and got[2] == (1, True)  # fox docs
    assert got[4] == (1, True)  # spaceship doc
    assert got[5] == (0, False)  # "short one" hits nothing


def test_winnow_fingerprints_matches_pure_python(spark):
    """Operator vs an independent winnowing recompute (hashlib + sliding
    min), plus the winnowing guarantee on a planted shared substring."""
    import hashlib

    from parquet_to_arrow_spark.operators.textstats import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    sf = "/root/testdata/sf0.001"
    docs = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(f"{sf}/documents.parquet").limit(50).collect()}
    out = {r["doc_id"]: r for r in winnow_fingerprints(spark, sf).collect()}

    def winnow(text: str) -> set[int]:
        n_h = max(len(text) - (WINNOW_K - 1), 1)
        hs = [
            int(hashlib.md5(text[i:i + WINNOW_K].encode()).hexdigest()[:8], 16)
            for i in range(n_h)
        ]
        n_w = max(n_h - (WINNOW_W - 1), 1)
        return {min(hs[j:j + WINNOW_W]) for j in range(n_w)}

    for doc_id, text in docs.items():
        fps = winnow(text)
        r = out[doc_id]
        assert (r["n_fp"], r["fp_min"], r["fp_max"], r["fp_sum"]) == (
            len(fps), min(fps), max(fps), sum(fps),
        )

    # guarantee: two docs sharing a >= w+k-1 char run share a fingerprint
    shared = "zqxwvutsrqponmlk"  # 16 chars >= 8+4-1
    assert winnow("AAA " + shared + " BBB") & winnow("CCCCC " + shared + " DD")


def test_repetition_stats_matches_pure_python(spark, planted_docs):
    """Operator vs an independent per-doc recompute, plus the planted
    expectation that the 8x-repeated doc is overwhelmingly duplicated
    3-grams while the short doc has none."""
    from parquet_to_arrow_spark.operators.textstats import repetition_stats

    texts = {r["doc_id"]: r["text"] for r in
             spark.read.parquet(f"{planted_docs}/documents.parquet").collect()}
    out = {r["doc_id"]: r for r in repetition_stats(spark, planted_docs).collect()}

    for doc_id, text in texts.items():
        words = [w for w in text.split(" ") if w]
        r = out[doc_id]
        for k, name in ((1, "word"), (2, "2gram"), (3, "3gram")):
            grams = [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)] \
                if len(words) >= k else []
            assert r[f"n_{name}s"] == len(grams)
            assert r[f"n_distinct_{name}s"] == len(set(grams))
            want = round((len(grams) - len(set(grams))) / len(grams), 6) if grams else None
            assert r[f"dup_{name}_frac"] == pytest.approx(want) if grams else r[f"dup_{name}_frac"] is None
    assert out[1]["dup_3gram_frac"] > 0.8   # 8x-repeated boilerplate
    assert out[5]["n_3grams"] == 0          # "short one" has two words


def test_duplicated_ngrams_census_and_boilerplate_frac(spark, planted_docs):
    """3-grams shared by the three planted near-identical docs must appear
    in the census, and those docs must carry a high boilerplate fraction
    while the unrelated doc carries zero."""
    from parquet_to_arrow_spark.operators.textstats import (
        doc_boilerplate_frac,
        duplicated_ngrams,
    )

    census = {r["gram"]: r["n_docs"] for r in duplicated_ngrams(spark, planted_docs).collect()}
    assert census.get("the quick brown") == 3  # docs 1, 2, 3
    assert all(n >= 3 for n in census.values())

    frac = {r["doc_id"]: r for r in doc_boilerplate_frac(spark, planted_docs).collect()}
    assert frac[1]["boilerplate_frac"] == 1.0  # every 3-gram shared with 2 & 3
    assert frac[2]["boilerplate_frac"] == 1.0
    assert frac[4]["n_common"] == 0 and frac[4]["boilerplate_frac"] == 0.0
    assert frac[5]["n_grams"] == 0 and frac[5]["boilerplate_frac"] is None


def test_pii_redact_planted(spark, tmp_path):
    """Planted emails / IPs / phone numbers are counted on the original text
    and redacted in order; clean text keeps everything else verbatim."""
    from pyspark.sql import Row

    from parquet_to_arrow_spark.operators.textstats import pii_redact

    rows = [
        Row(doc_id=1, text="mail bob.smith+x@corp.example.org now", lang="en",
            source="web", n_chars=1),
        Row(doc_id=2, text="from 10.0.0.1 to 192.168.255.254 end", lang="en",
            source="web", n_chars=1),
        Row(doc_id=3, text="call 555-123-4567 or (555) 123-4567", lang="en",
            source="web", n_chars=1),
        Row(doc_id=4, text="nothing sensitive here", lang="en", source="web",
            n_chars=1),
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in pii_redact(spark, str(tmp_path)).collect()}

    assert (out[1]["n_email"], out[1]["clean_text"]) == (1, "mail <EMAIL> now")
    assert (out[2]["n_ipv4"], out[2]["clean_text"]) == (2, "from <IP> to <IP> end")
    assert (out[3]["n_phone"], out[3]["clean_text"]) == (2, "call <PHONE> or <PHONE>")
    r4 = out[4]
    assert (r4["n_email"], r4["n_ipv4"], r4["n_phone"]) == (0, 0, 0)
    assert r4["clean_text"] == "nothing sensitive here"


def test_label_centroids_planted_geometry(spark, tmp_path):
    """Two planted classes with hand-computable geometry: orthogonal unit
    vectors (centroid norm 1/sqrt(2)) vs identical vectors (centroid norm =
    vector norm — the collapse signature)."""
    from pyspark.sql import Row

    from parquet_to_arrow_spark.operators.similarity import label_centroids

    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0], label=0),
        Row(vec_id=2, embedding=[0.0, 1.0], label=0),
        Row(vec_id=3, embedding=[2.0, 0.0], label=1),
        Row(vec_id=4, embedding=[2.0, 0.0], label=1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    out = {r["label"]: r for r in label_centroids(spark, str(tmp_path)).collect()}

    assert out[0]["n_vecs"] == 2
    assert out[0]["avg_norm_r"] == pytest.approx(1.0)
    assert out[0]["centroid_norm_r"] == pytest.approx(round(2**-0.5, 6))
    assert out[1]["avg_norm_r"] == pytest.approx(2.0)
    assert out[1]["centroid_norm_r"] == pytest.approx(2.0)


def test_unigram_logprob_matches_pure_python(spark, tmp_path):
    """Exact per-doc average log-prob under the corpus unigram LM on a
    hand-checkable corpus; the common-word doc must outscore the rare-word
    doc."""
    import math

    from pyspark.sql import Row

    from parquet_to_arrow_spark.operators.textstats import unigram_logprob

    rows = [
        Row(doc_id=1, text="a a a a", lang="en", source="s", n_chars=1),
        Row(doc_id=2, text="a a b", lang="en", source="s", n_chars=1),
        Row(doc_id=3, text="rare", lang="en", source="s", n_chars=1),
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in unigram_logprob(spark, str(tmp_path)).collect()}

    counts = {"a": 6, "b": 1, "rare": 1}
    total = 8.0
    for doc_id, words in ((1, ["a"] * 4), (2, ["a", "a", "b"]), (3, ["rare"])):
        want = round(sum(math.log(counts[w] / total) for w in words) / len(words), 6)
        assert out[doc_id]["n_words"] == len(words)
        assert out[doc_id]["avg_logprob_r"] == pytest.approx(want, abs=1e-9)
    assert out[1]["avg_logprob_r"] > out[3]["avg_logprob_r"]


def test_source_kl_drift_zero_for_identical_distribution(spark, tmp_path):
    """A source distributed exactly like the corpus has KL 0; a skewed
    source is strictly positive, matching the hand-computed value."""
    import math

    from pyspark.sql import Row

    from parquet_to_arrow_spark.operators.textstats import source_kl_drift

    # both sources: 2x "x", 1x "y" -> each equals the corpus distribution
    rows = [
        Row(doc_id=1, text="x x y", lang="en", source="s1", n_chars=1),
        Row(doc_id=2, text="x x y", lang="en", source="s2", n_chars=1),
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/d1/documents.parquet")
    out = {r["source"]: r for r in source_kl_drift(spark, f"{tmp_path}/d1").collect()}
    assert out["s1"]["kl_r"] == 0.0 and out["s2"]["kl_r"] == 0.0

    rows = [
        Row(doc_id=1, text="x x x y", lang="en", source="even", n_chars=1),
        Row(doc_id=2, text="x y y y", lang="en", source="skew", n_chars=1),
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/d2/documents.parquet")
    out = {r["source"]: r for r in source_kl_drift(spark, f"{tmp_path}/d2").collect()}
    # corpus: x=4/8, y=4/8; 'skew': x=1/4, y=3/4
    want = round(0.25 * math.log(0.25 / 0.5) + 0.75 * math.log(0.75 / 0.5), 6)
    assert out["skew"]["kl_r"] == pytest.approx(want, abs=1e-9)
    assert out["skew"]["n_words"] == 4 and out["skew"]["n_distinct_words"] == 2
    assert out["even"]["kl_r"] > 0.0  # mirrored skew


def test_quality_filter_per_language_threshold(spark, tmp_path):
    """Each language gets its OWN p10 word-count threshold; a short doc
    survives in a short-doc language but the same length is pruned in a
    long-doc language."""
    from pyspark.sql import Row

    from parquet_to_arrow_spark.operators.textstats import quality_filter

    rows = (
        # 'short' lang: word counts 2..11 -> p10 threshold ~2.9
        [Row(doc_id=i, text=" ".join(["w"] * (2 + i)), lang="short", source="s",
             n_chars=1) for i in range(10)]
        # 'long' lang: word counts 100..109 -> threshold ~100.9
        + [Row(doc_id=100 + i, text=" ".join(["w"] * (100 + i)), lang="long",
               source="s", n_chars=1) for i in range(10)]
    )
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/documents.parquet")
    kept = {
        r["doc_id"]: r
        for r in quality_filter(spark, str(tmp_path), exact=True).collect()
    }

    assert 0 not in kept          # 2 words < short-lang threshold
    assert 5 in kept              # 7 words passes short-lang threshold
    assert 100 not in kept        # 100 words < long-lang threshold (100.9)
    assert 109 in kept
    assert kept[5]["thr"] != kept[109]["thr"]  # genuinely per-language

    # the library default (approx_percentile, bounded memory) keeps the
    # same per-language gate shape; thresholds are real elements so the
    # doomed extremes differ only at the interpolation boundary
    approx = {r["doc_id"]: r for r in quality_filter(spark, str(tmp_path)).collect()}
    assert 5 in approx and 109 in approx
    assert approx[5]["thr"] != approx[109]["thr"]


def test_event_funnel_requires_strict_ordering(spark, tmp_path):
    """A click BEFORE the first view must not advance the funnel; only
    stage events strictly after the previous stage count."""
    import datetime as dt

    from pyspark.sql import Row

    from parquet_to_arrow_spark.operators.relational import event_funnel

    t0 = dt.datetime(2024, 1, 1)
    s = lambda m: t0 + dt.timedelta(minutes=m)  # noqa: E731
    rows = [
        # user 1: view(1) -> click(2) -> purchase(3): converts
        Row(event_id=1, ts=s(1), user_id=1, event_type="view", value=0.0, props=""),
        Row(event_id=2, ts=s(2), user_id=1, event_type="click", value=0.0, props=""),
        Row(event_id=3, ts=s(3), user_id=1, event_type="purchase", value=0.0, props=""),
        # user 2: click(1) BEFORE view(2), purchase(3): click must not count
        Row(event_id=4, ts=s(1), user_id=2, event_type="click", value=0.0, props=""),
        Row(event_id=5, ts=s(2), user_id=2, event_type="view", value=0.0, props=""),
        Row(event_id=6, ts=s(3), user_id=2, event_type="purchase", value=0.0, props=""),
        # user 3: purchase before click: stops at click
        Row(event_id=7, ts=s(1), user_id=3, event_type="view", value=0.0, props=""),
        Row(event_id=8, ts=s(2), user_id=3, event_type="purchase", value=0.0, props=""),
        Row(event_id=9, ts=s(3), user_id=3, event_type="click", value=0.0, props=""),
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/events.parquet")
    out = {r["user_id"]: r for r in event_funnel(spark, str(tmp_path)).collect()}

    assert out[1]["converted"] is True
    assert out[2]["click_us"] is None and out[2]["converted"] is False
    assert out[3]["click_us"] is not None and out[3]["purchase_us"] is None


def test_retention_cohorts_planted_matrix(spark, tmp_path):
    """Hand-built two-cohort timeline: week-0 counts equal cohort sizes,
    retention drops exactly as planted, and users without a signup event
    never enter the matrix."""
    import datetime as dt

    from pyspark.sql import Row

    from parquet_to_arrow_spark.operators.relational import retention_cohorts

    base = dt.datetime(2024, 1, 4)  # mid-week; offsets in whole weeks
    w = lambda k: base + dt.timedelta(weeks=k)  # noqa: E731
    rows = [
        # cohort A (week 0): users 1, 2 sign up; user 1 active weeks 1 and 2
        Row(event_id=1, ts=w(0), user_id=1, event_type="signup", value=0.0, props=""),
        Row(event_id=2, ts=w(0), user_id=2, event_type="signup", value=0.0, props=""),
        Row(event_id=3, ts=w(1), user_id=1, event_type="click", value=0.0, props=""),
        Row(event_id=4, ts=w(2), user_id=1, event_type="view", value=0.0, props=""),
        # cohort B (week 1): user 3 signs up, active week 2
        Row(event_id=5, ts=w(1), user_id=3, event_type="signup", value=0.0, props=""),
        Row(event_id=6, ts=w(2), user_id=3, event_type="purchase", value=0.0, props=""),
        # user 4 never signs up: excluded entirely
        Row(event_id=7, ts=w(0), user_id=4, event_type="click", value=0.0, props=""),
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/events.parquet")
    out = {(r["cohort_week"], r["week_offset"]): r["n_users"]
           for r in retention_cohorts(spark, str(tmp_path)).collect()}

    weeks = sorted({cw for cw, _ in out})
    a, b = weeks[0], weeks[1]
    assert b == a + 1
    assert out[(a, 0)] == 2 and out[(a, 1)] == 1 and out[(a, 2)] == 1
    assert out[(b, 0)] == 1 and out[(b, 1)] == 1
    assert sum(n for (cw, _), n in out.items() if cw not in (a, b)) == 0


def test_bigram_logprob_matches_pure_python(spark, tmp_path):
    """Exact per-doc average bigram log-prob on a hand-checkable corpus:
    the templated doc (repeating the dominant pair) outscores the
    word-salad doc whose UNIGRAMS are just as common; sub-two-word docs
    are excluded (no bigram defined)."""
    import math
    from collections import Counter

    from pyspark.sql import Row

    from parquet_to_arrow_spark.operators.textstats import bigram_logprob

    texts = {1: "a b a b a b", 2: "b a a a b b", 3: "solo"}
    rows = [
        Row(doc_id=i, text=t, lang="en", source="s", n_chars=1)
        for i, t in texts.items()
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in bigram_logprob(spark, str(tmp_path)).collect()}

    def bigrams(t):
        ws = t.split()
        return [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    corpus = Counter(bg for t in texts.values() for bg in bigrams(t))
    total = sum(corpus.values())
    assert 3 not in out  # single word: no bigram, excluded
    for i in (1, 2):
        bgs = bigrams(texts[i])
        want = sum(math.log(corpus[b] / total) for b in bgs) / len(bgs)
        assert out[i]["n_bigrams"] == len(bgs)
        assert abs(out[i]["avg_logprob_r"] - round(want, 6)) < 1e-6
    assert out[1]["avg_logprob_r"] > out[2]["avg_logprob_r"]


def test_quality_gate_report_counts(spark, tmp_path):
    """The report's kept counts equal the filter's survivors per language,
    and kept_frac is their ratio."""
    from pyspark.sql import Row

    from parquet_to_arrow_spark.operators.textstats import (
        quality_filter,
        quality_gate_report,
    )

    rows = (
        [Row(doc_id=i, text=" ".join(["w"] * (2 + i)), lang="short", source="s",
             n_chars=1) for i in range(10)]
        + [Row(doc_id=100 + i, text=" ".join(["w"] * (100 + i)), lang="long",
               source="s", n_chars=1) for i in range(10)]
    )
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/documents.parquet")
    rep = {r["lang"]: r for r in quality_gate_report(
        spark, str(tmp_path), exact=True).collect()}
    kept = quality_filter(spark, str(tmp_path), exact=True).collect()
    from collections import Counter

    per_lang = Counter(r["lang"] for r in kept)
    for lang in ("short", "long"):
        assert rep[lang]["n_docs"] == 10
        assert rep[lang]["n_kept"] == per_lang[lang]
        assert abs(rep[lang]["kept_frac"] - round(per_lang[lang] / 10, 6)) < 1e-9
