"""Pipeline assembly operators: clusters, packing, stratified sampling.

Ground truth is computed independently in plain Python (union-find for
components, a sequential cumsum for packing) so a Spark-side logic bug
can't hide behind a matching Spark-side oracle.
"""

from __future__ import annotations

import hashlib

import pytest

from parquet_to_arrow_spark.operators import pipeline as pl
from parquet_to_arrow_spark.operators.dedup import ngram_jaccard_pairs

SF = "/root/testdata/sf0.001"


def _write_docs(spark, tmp_path, rows):
    path = str(tmp_path / "planted")
    spark.createDataFrame(
        [(i, t, "en", "unit", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    return path


class TestNearDupClusters:
    def test_partition_and_min_label(self, spark):
        out = pl.near_dup_clusters(spark, SF).collect()
        docs = {r["doc_id"] for r in out}
        assert len(out) == len(docs)  # every doc exactly once
        by_cluster: dict[int, list[int]] = {}
        for r in out:
            by_cluster.setdefault(r["cluster_id"], []).append(r["doc_id"])
        for cid, members in by_cluster.items():
            assert cid == min(members)  # canonical keeper = min id
        sizes = {r["doc_id"]: r["cluster_size"] for r in out}
        for cid, members in by_cluster.items():
            for m in members:
                assert sizes[m] == len(members)

    def test_matches_union_find(self, spark):
        pairs = ngram_jaccard_pairs(spark, SF).select("doc_a", "doc_b").collect()
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in pairs:
            a, b = find(r["doc_a"]), find(r["doc_b"])
            if a != b:
                parent[max(a, b)] = min(a, b)
        out = pl.near_dup_clusters(spark, SF).collect()
        for r in out:
            expected = find(r["doc_id"]) if r["doc_id"] in parent else r["doc_id"]
            assert r["cluster_id"] == expected

    def test_chain_converges_across_rounds(self, spark, tmp_path):
        # A~B and B~C share 5-gram mass but A and C share none with each
        # other above threshold -> one 3-component only via propagation
        a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
        b = a + " kilo lima mike november oscar papa quebec romeo sierra"
        c = b.replace("alpha bravo charlie delta echo", "xray yankee zulu whisky uniform")
        path = _write_docs(
            spark, tmp_path, [(1, a), (2, b), (3, c), (4, "totally unrelated text here")]
        )
        out = {r["doc_id"]: r for r in pl.near_dup_clusters(spark, path).collect()}
        assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"] == 1
        assert out[1]["cluster_size"] == 3
        assert out[4]["cluster_id"] == 4 and out[4]["cluster_size"] == 1


class TestPackSequences:
    def test_matches_sequential_cumsum(self, spark):
        out = pl.pack_sequences(spark, SF).collect()
        rows = sorted(out, key=lambda r: r["doc_id"])
        acc = 0
        for r in rows:
            assert r["seq_id"] == acc // pl.PACK_CAP
            assert r["seq_offset"] == acc % pl.PACK_CAP
            acc += r["n_tok"]

    def test_offsets_in_range_and_monotone(self, spark):
        rows = sorted(
            pl.pack_sequences(spark, SF).collect(), key=lambda r: r["doc_id"]
        )
        assert all(0 <= r["seq_offset"] < pl.PACK_CAP for r in rows)
        seq_ids = [r["seq_id"] for r in rows]
        assert seq_ids == sorted(seq_ids)  # stream order preserved
        assert seq_ids[-1] > 0  # sf0.001 spans multiple sequences

    def test_prefix_sum_invariant_across_partitionings(self, spark):
        # 1-partition _packed is trivially a sequential cumsum; 2/7/32-way
        # runs exercise real partition boundaries and must agree exactly
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        t = docs.select(
            "doc_id", pl._bpe_ish_token_count(docs["text"]).alias("n_tok")
        )
        runs = [
            {
                (r["doc_id"], r["seq_id"], r["seq_offset"])
                for r in pl._packed(t, [], pl.PACK_CAP, n_parts=n).collect()
            }
            for n in (1, 2, 7, 32)
        ]
        assert all(r == runs[0] for r in runs[1:])


class TestStratifiedSample:
    def test_deterministic_and_quota_shaped(self, spark):
        a = {tuple(r) for r in pl.stratified_sample(spark, SF).collect()}
        b = {tuple(r) for r in pl.stratified_sample(spark, SF).collect()}
        assert a == b and a
        for doc_id, lang, bucket in a:
            hi = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
            assert bucket == hi % 100
            assert bucket < pl.SAMPLE_QUOTA.get(lang, pl.SAMPLE_DEFAULT_QUOTA)

    def test_downsamples_head_language(self, spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        total_en = docs.filter("lang = 'en'").count()
        kept = pl.stratified_sample(spark, SF)
        kept_en = kept.filter("lang = 'en'").count()
        # quota 35% with a uniform hash: expect well under half kept
        assert 0 < kept_en < total_en * 0.55


def test_connected_components_long_chain_converges(spark):
    # a 400-node chain has diameter 399: plain min-propagation would need
    # 399 rounds; pointer jumping must fold it within the 20-round cap
    n = 400
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = pl.connected_components(nodes, pairs, max_rounds=20).collect()
    assert len(out) == n
    assert all(r["cluster_id"] == 0 for r in out)


def test_connected_components_random_graph_matches_union_find(spark):
    # seeded random graph (mix of singletons, small comps, one hub)
    import random

    rng = random.Random(20260816)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges = [(min(a, b), max(a, b)) for a, b in edges if a != b]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = pl.connected_components(nodes, pairs).collect()
    assert len(out) == n
    for r in out:
        assert r["cluster_id"] == find(r["doc_id"])


def test_embedding_dup_clusters_partition(spark):
    out = pl.embedding_dup_clusters(spark, SF).collect()
    vecs = {r["vec_id"] for r in out}
    assert len(out) == len(vecs) == 500  # sf0.001 embeddings table
    by_cluster: dict[int, list[int]] = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r["vec_id"])
    for cid, members in by_cluster.items():
        assert cid == min(members)
    sizes = {r["vec_id"]: r["cluster_size"] for r in out}
    for cid, members in by_cluster.items():
        for m in members:
            assert sizes[m] == len(members)


def test_pack_by_source_matches_per_group_cumsum(spark):
    rows = sorted(
        pl.pack_sequences_by_source(spark, SF).collect(),
        key=lambda r: (r["source"], r["doc_id"]),
    )
    acc: dict[str, int] = {}
    for r in rows:
        s = acc.get(r["source"], 0)
        assert r["seq_id"] == s // pl.PACK_CAP
        assert r["seq_offset"] == s % pl.PACK_CAP
        acc[r["source"]] = s + r["n_tok"]
    assert len(acc) > 1  # multiple independent streams exercised


def test_training_mix_end_to_end_invariants(spark):
    rows = sorted(pl.training_mix(spark, SF).collect(), key=lambda r: r["doc_id"])
    assert rows  # survivors exist at sf0.001
    docs = {
        r["doc_id"]: r
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    acc = 0
    for r in rows:
        d = docs[r["doc_id"]]
        assert len(d["text"]) >= 40  # quality gate held
        hi = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16)
        assert hi % 100 < pl.SAMPLE_QUOTA.get(d["lang"], pl.SAMPLE_DEFAULT_QUOTA)
        assert r["seq_id"] == acc // pl.PACK_CAP  # packing over survivors only
        assert r["seq_offset"] == acc % pl.PACK_CAP
        acc += r["n_tok"]


def test_training_mix_empty_survivors_no_crash(spark, tmp_path):
    # every doc fails the 40-char quality gate -> empty pack input; the
    # prefix-sum core must return an empty frame, not crash on empty stats
    path = _write_docs(spark, tmp_path, [(1, "too short"), (2, "also tiny")])
    assert pl.training_mix(spark, path).count() == 0


def test_connected_components_durable_checkpoint(spark, tmp_path):
    # reliable-checkpoint mode must produce identical clusters
    nodes = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 18, 2)], "doc_a long, doc_b long"
    )
    out = pl.connected_components(
        nodes, pairs, checkpoint_dir=str(tmp_path / "cc_ckpt")
    ).collect()
    assert {(r["doc_id"], r["cluster_id"]) for r in out} == {
        (i, i - i % 2) for i in range(18)
    } | {(18, 18), (19, 19)}


def test_pack_stats_counts_straddling_windows(spark):
    stats = {r["source"]: r for r in pl.pack_stats_by_source(spark, SF).collect()}
    packed = pl.pack_sequences_by_source(spark, SF).collect()
    totals: dict[str, int] = {}
    for r in packed:
        totals[r["source"]] = totals.get(r["source"], 0) + r["n_tok"]
    for src, tot in totals.items():
        want = max(-(-tot // pl.PACK_CAP), 1)  # ceil, min 1
        assert stats[src]["n_sequences"] == want
        assert stats[src]["n_tokens"] == tot


def test_interleaved_packing_queries_stay_correct(spark):
    """Two packing queries composed LAZILY (second built before the first is
    materialized) must both be correct: slice ids re-derive
    deterministically from the collected boundary keys (pure function of
    data content), so interleaved composition needs no pinned caches at
    all — and correctness must survive REPEATED materialization of the
    same frame (the recompute case the old pid-pin design guarded)."""
    n_persistent_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    a = pl.pack_sequences(spark, SF, cap=512)
    b = pl.training_mix(spark, SF, cap=512)  # builds its own _packed call
    # materialize the FIRST query only after the second exists
    for df in (a, b):
        rows = df.orderBy("doc_id").collect()
        assert rows, "packing query returned nothing"
        # stream invariant: seq_offset < cap, seq_id non-decreasing in doc order
        assert all(r.seq_offset < 512 for r in rows)
        seq_ids = [r.seq_id for r in rows]
        assert seq_ids == sorted(seq_ids)
    # global packing: offsets reproduce the sequential cumsum exactly
    rows = a.orderBy("doc_id").collect()
    acc = 0
    for r in rows:
        assert r.seq_id == acc // 512 and r.seq_offset == acc % 512, r
        acc += r.n_tok
    # nothing pinned, nothing leaked: packing added no persistent RDDs
    # (<=, not ==: the shared session's ContextCleaner may evict OTHER
    # tests' unreferenced caches while this test runs)
    assert (
        spark.sparkContext._jsc.getPersistentRDDs().size()
        <= n_persistent_before
    )


def test_near_dup_clusters_minhash_partitions_corpus(spark):
    """The minhash-seeded cluster map covers every doc exactly once, sizes
    are consistent, and min-id keepers are their own cluster id."""
    out = pl.near_dup_clusters_minhash(spark, SF).collect()
    docs = {r.doc_id for r in out}
    assert len(out) == len(docs)
    from collections import Counter

    sizes = Counter(r.cluster_id for r in out)
    for r in out:
        assert r.cluster_size == sizes[r.cluster_id]
        assert r.cluster_id <= r.doc_id
    for cid in sizes:
        assert cid in docs
