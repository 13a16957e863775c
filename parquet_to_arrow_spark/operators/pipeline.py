"""Training-data pipeline assembly operators.

These close the gap between per-document signals (near-dup pairs, token
counts, language labels) and the artifacts a pretraining run actually
consumes:

- duplicate CLUSTERS: pairwise near-dup output is not actionable until
  pairs become connected components with one canonical keeper per
  component (``near_dup_clusters``);
- PACKED fixed-length sequences: contiguous token-stream packing into
  cap-sized training windows, the standard GPT-style pretraining layout
  (``pack_sequences``);
- a DETERMINISTIC stratified sample: per-language quota rebalancing that
  is reproducible under task retries because membership is a pure hash of
  the row key, never an RNG draw (``stratified_sample``).

Scale notes (100 TB):
- connected components runs min-label propagation with per-round lineage
  truncation; rounds = component diameter, and near-dup graphs are
  near-cliques (banded LSH links every member of a duplicate group to the
  same survivors), so 2-4 rounds dominate in practice with a hard cap.
  Each round is one edge->label hash join plus a groupBy-min — all
  key-partitioned, no driver-side graph.
- sequence packing needs a GLOBAL running token offset; a naive
  Window.orderBy over everything is a single-task plan. We compute a
  distributed prefix sum instead: range-partition by doc_id, aggregate
  per-partition totals (one tiny P-row collect), broadcast the exclusive
  per-partition base offsets back, and finish with a PER-PARTITION window
  — every stage is parallel at any input size.
- stratified sampling is a stateless filter on md5(doc_id) — zero
  shuffles, and the md5-derived bucket has an exact DuckDB oracle twin
  (md5 hex halves, as the near-dup operators' shingle hashes).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T
from pyspark.sql.functions import pandas_udf

from .dedup import _docs, _jaccard_verified, content_fp, minhash_lsh_pairs, ngram_jaccard_pairs

# sequences of 2048 tokens — the classic pretraining context length
PACK_CAP = 2048

# per-language keep quota in percent (bucket < quota keeps the row):
# downsample the over-represented head language, keep the tail intact
SAMPLE_QUOTA = {"en": 35, "de": 60, "fr": 60, "es": 60}
SAMPLE_DEFAULT_QUOTA = 100


def _quota_bucket():
    """(bucket, quota) columns of the deterministic language-quota sample —
    the md5-hi bucket of the doc_id string and the per-language keep
    percentage. Shared by stratified_sample and training_mix so the two can
    never drift apart (their SQL twins share the same literals)."""
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 100
    )
    quota = F.lit(SAMPLE_DEFAULT_QUOTA)
    for lang, pct in SAMPLE_QUOTA.items():
        quota = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(quota)
    return bucket, quota


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    max_rounds: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    ``nodes``: one column ``doc_id``; ``pairs``: columns ``doc_a``/``doc_b``
    (undirected edges). Returns (doc_id, cluster_id) where cluster_id is
    the component's minimum doc_id — the canonical "keeper" convention the
    exact-dedup operators already use (min key wins).

    Each round every node takes min(own label, neighbours' labels), then
    POINTER-JUMPS: label <- label(label). Propagation alone needs
    component-diameter rounds (an adversarial duplicate CHAIN makes that
    O(n)); the jump squares the reach per round, so convergence is
    O(log diameter) — ~20 rounds covers any graph this engine will meet.
    The loop stops early when a round changes nothing (one cheap count
    per round). A label is always some member's doc_id, so the jump join
    always hits. ``localCheckpoint`` truncates the per-round lineage so
    the plan stays O(1) deep instead of O(rounds); on a real cluster with
    reliable storage, ``checkpoint`` to the job's checkpoint dir is the
    durable equivalent — pass ``checkpoint_dir`` to use it: executor loss
    mid-iteration then recomputes from the last durable round instead of
    from round zero. Giant components make the jump-join key skewed —
    AQE's skew-join handles that (enabled session-wide).
    """
    from pyspark.sql import Observation

    prev_ckpt_dir = None
    if checkpoint_dir is not None:
        sc = nodes.sparkSession.sparkContext
        # setCheckpointDir is process-global: remember and restore the
        # caller's dir so a co-resident job's checkpoints aren't redirected.
        # Per-round checkpoint data itself is left for the cluster's
        # cleaner (spark.cleaner.referenceTracking.cleanCheckpoints) or the
        # job's teardown — the final labels frame still references the last
        # round's files.
        opt = sc._jsc.sc().getCheckpointDir()
        prev_ckpt_dir = opt.get() if opt.isDefined() else None
        sc.setCheckpointDir(checkpoint_dir)

    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    edges = fwd.union(rev).cache()
    labels = nodes.select("doc_id", F.col("doc_id").alias("cluster_id"))
    for i in range(max_rounds):
        nbr = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        prop = labels.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.col("cluster_id").alias("__prev"),
            F.least(
                F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")
            ).alias("cluster_id"),
        )
        parent = prop.select(
            F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_label")
        )
        jumped = prop.join(parent, prop["cluster_id"] == parent["p_id"], "left").select(
            "doc_id",
            F.coalesce("p_label", "cluster_id").alias("cluster_id"),
            (F.coalesce("p_label", "cluster_id") != F.col("__prev"))
            .cast("long")
            .alias("__chg"),
        )
        # the convergence count rides the checkpoint's materialization job
        # (eager localCheckpoint IS an action) — no separate join+count pass
        obs = Observation(f"cc_round_{i}")
        observed = jumped.observe(obs, F.sum("__chg").alias("n_changed"))
        new = (
            observed.checkpoint()
            if checkpoint_dir is not None
            else observed.localCheckpoint()
        )
        labels = new.drop("__chg")
        if (obs.get["n_changed"] or 0) == 0:
            break
    edges.unpersist()
    if prev_ckpt_dir is not None:
        nodes.sparkSession.sparkContext.setCheckpointDir(prev_ckpt_dir)
    return labels


def _with_sizes(labels: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) from connected_components'
    labels: every member carries its component's size."""
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "cluster_id").select("doc_id", "cluster_id", "cluster_size")


def near_dup_clusters(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3, max_rounds: int = 20
) -> DataFrame:
    """Duplicate clusters over the exact n-gram Jaccard pair graph:
    (doc_id, cluster_id, cluster_size) for EVERY document — singletons
    cluster with themselves, so the output partitions the corpus and a
    keep-one pass is `WHERE doc_id = cluster_id`."""
    pairs = ngram_jaccard_pairs(spark, sf_dir, threshold=threshold).select(
        "doc_a", "doc_b"
    )
    nodes = _docs(spark, sf_dir).select("doc_id")
    return _with_sizes(connected_components(nodes, pairs, max_rounds=max_rounds))


def near_dup_clusters_minhash(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    est_floor: float = 0.2,
    max_rounds: int = 20,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Duplicate clusters seeded from MinHash-LSH candidates instead of the
    rare-shingle join: banded LSH candidates (est_jaccard >= ``est_floor``)
    -> EXACT hash-set Jaccard verification on the candidates only ->
    the same connected-components core. Returns (doc_id, cluster_id,
    cluster_size) partitioning the corpus, min-id canonical keeper.

    Why a second candidate generator: ngram_jaccard_pairs' rare-shingle
    self-join touches every sub-max_df shingle — at 10^12 docs that is the
    heavier path; the banded LSH shuffle carries only (band, doc_id) with a
    per-band cap, so candidate generation stays narrow regardless of corpus
    shape. Verification is per-candidate O(|A|+|B|) (dedup._jaccard_verified):
    the shingle kernel gives each doc's sorted distinct md5-derived hashes
    as one int64 blob, the pair join is candidate-sized, and a worker
    counts |A∩B| with np.intersect1d. Hashes, not raw shingles, give the
    DuckDB oracle an exact twin: both engines compare the same md5-derived
    values, so even a hash collision cannot diverge them."""
    cand = minhash_lsh_pairs(spark, sf_dir, threshold=est_floor, docs=docs).select(
        "doc_a", "doc_b"
    )
    if docs is None:
        docs = _docs(spark, sf_dir)
    verified = _jaccard_verified(cand, docs, threshold)
    nodes = docs.select("doc_id")
    return _with_sizes(connected_components(nodes, verified, max_rounds=max_rounds))


def near_dup_minhash_kept(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3
) -> DataFrame:
    """Keep-one pass over the MINHASH-seeded cluster map: one representative
    per cluster (the min-id keeper) with the cluster size it stands for —
    the deduplicated corpus the LSH-candidate path produces. Same contract
    as near_dup_kept, different candidate generator (see
    near_dup_clusters_minhash for why that matters at 10^12 docs)."""
    clusters = near_dup_clusters_minhash(spark, sf_dir, threshold=threshold)
    return clusters.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id", "cluster_size"
    )


def near_dup_kept(spark: SparkSession, sf_dir: str, threshold: float = 0.3) -> DataFrame:
    """The near-deduplicated corpus: one representative per cluster (the
    min-id keeper), with the cluster size it stands for — the row count a
    downstream token-budget planner needs."""
    clusters = near_dup_clusters(spark, sf_dir, threshold=threshold)
    return clusters.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id", "cluster_size"
    )


def embedding_dup_clusters(
    spark: SparkSession, sf_dir: str, threshold: float = 0.2, max_rounds: int = 20
) -> DataFrame:
    """Connected components over the EMBEDDING near-dup pair graph
    (cosine >= threshold, LSH-bucketed at scale): the same clustering
    machinery as near_dup_clusters applied to the vector modality, so a
    semantic-dup sweep and a lexical-dup sweep share one canonicalization.
    Returns (vec_id, cluster_id, cluster_size) over every vector."""
    from .similarity import _emb, embedding_near_dup_pairs

    pairs = embedding_near_dup_pairs(spark, sf_dir, threshold=threshold).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    nodes = _emb(spark, sf_dir).select(F.col("vec_id").alias("doc_id"))
    clusters = _with_sizes(connected_components(nodes, pairs, max_rounds=max_rounds))
    return clusters.withColumnRenamed("doc_id", "vec_id")


def _bpe_ish_token_count(text):
    """The BPE-ish token count from textstats.token_counts: letter runs +
    digit runs + one token per non-alphanumeric symbol."""
    return (
        F.regexp_count(text, F.lit("[A-Za-z]+"))
        + F.regexp_count(text, F.lit("[0-9]+"))
        + F.regexp_count(text, F.lit("[^A-Za-z0-9 ]"))
    ).cast("long")


def _packed(
    t: DataFrame, group_cols: list[str], cap: int, n_parts: int | None = None
) -> DataFrame:
    """Distributed (optionally grouped) prefix-sum packing core.

    ``t``: (group_cols..., doc_id, n_tok). Within each group (the whole
    corpus when ``group_cols`` is empty) documents concatenate in doc_id
    order and the stream is cut at every multiple of ``cap``. Adds
    ``seq_id`` (the sequence holding the document's first token, counted
    within the group) and ``seq_offset``.

    The running offset is a DISTRIBUTED prefix sum, not a global Window
    (which would serialize on one task): range-partition by (group, doc_id)
    — so each group's rows occupy a contiguous partition range — collect
    the per-(partition, group) token totals and min keys (≤ P + n_groups
    rows, bounded by partition count, never data), compute each slice's
    exclusive base offset on the driver, broadcast the bases back, and
    finish with a per-(slice, group) cumulative window. Every stage is
    parallel at any input size.

    Determinism note: spark_partition_id after repartitionByRange is NOT
    stable across recomputes (the range sampler reseeds per RDD
    instantiation), so the pid serves ONLY the one stats collect. The
    returned frame re-derives each row's slice as searchsorted(doc_id)
    against the slices' collected MIN KEYS — a pure function of data
    content (unique doc_ids make the reproduction exact), so recomputes,
    retries and interleaved composition all see identical slice ids with
    NO pinned cache. The searchsorted runs as one Arrow-batched pandas
    UDF over broadcast boundary lists (log P comparisons per row).
    """
    spark = t.sparkSession
    if n_parts is None:
        n_parts = max(spark.sparkContext.defaultParallelism, 1)
    keys = [*group_cols, "doc_id"]
    parts = t.repartitionByRange(n_parts, *keys).withColumn(
        "__pid", F.spark_partition_id()
    )
    pstats = parts.groupBy("__pid", *group_cols).agg(
        F.sum("n_tok").alias("tot"), F.min("doc_id").alias("lo")
    ).collect()
    slices: dict[tuple, list] = {}
    for r in pstats:
        slices.setdefault(tuple(r[c] for c in group_cols), []).append(r)
    rows = []
    bnds: dict[tuple, list] = {}
    for g, rs in slices.items():
        acc = 0
        ordered = sorted(rs, key=lambda r: r["lo"])
        # slice j = doc_ids in [lo_j, lo_j+1): row d of range-partition p
        # satisfies lo_p <= d < lo_p+1 (unique keys), so the searchsorted
        # assignment reproduces the partitioner's slices exactly
        bnds[g] = [r["lo"] for r in ordered[1:]]
        for i, r in enumerate(ordered):
            rows.append((i, *g, acc))
            acc += int(r["tot"])
    bc = spark.sparkContext.broadcast(bnds)

    @pandas_udf("int")
    def __slice_of(*cols):
        import numpy as np

        ids = cols[-1]
        # numeric keys take the native-dtype path (C-loop comparisons);
        # strings fall back to object arrays (python compares, still one
        # vectorized log-P search per row)
        numeric = pd.api.types.is_integer_dtype(ids) or pd.api.types.is_float_dtype(
            ids
        )
        idv = ids.to_numpy() if numeric else ids.to_numpy(dtype=object)

        def bounds_arr(b):
            return np.asarray(b) if numeric else np.array(b, dtype=object)

        out = np.zeros(len(idv), dtype="int32")
        if len(cols) == 1:
            b = bc.value.get((), [])
            if b:
                out = np.searchsorted(bounds_arr(b), idv, side="right").astype(
                    "int32"
                )
        else:
            gdf = pd.DataFrame({i: c for i, c in enumerate(cols[:-1])})
            for key, idxs in gdf.groupby(
                list(gdf.columns), sort=False
            ).indices.items():
                k = key if isinstance(key, tuple) else (key,)
                b = bc.value.get(k, [])
                if b:
                    out[idxs] = np.searchsorted(
                        bounds_arr(b), idv[idxs], side="right"
                    )
        return pd.Series(out)

    base_schema = T.StructType(
        [T.StructField("__slice", T.IntegerType())]
        + [parts.schema[c] for c in group_cols]
        + [T.StructField("__base", T.LongType())]
    )
    bases = spark.createDataFrame(rows, base_schema)
    w = Window.partitionBy("__slice", *group_cols).orderBy("doc_id")
    start = F.sum("n_tok").over(w) + F.col("__base") - F.col("n_tok")
    return (
        t.withColumn("__slice", __slice_of(*[F.col(c) for c in keys]))
        .join(F.broadcast(bases), ["__slice", *group_cols])
        .withColumn("__start", start)
        .select(
            *t.columns,  # group cols, doc_id, n_tok + any passthrough cols
            # integer `div`, not floor(double division): a double loses
            # exactness past 2^53 total stream tokens (start >= 0 so
            # truncating div == floor)
            F.expr(f"__start div {int(cap)}").alias("seq_id"),
            (F.col("__start") % cap).alias("seq_offset"),
        )
    )


def pack_sequences(spark: SparkSession, sf_dir: str, cap: int = PACK_CAP) -> DataFrame:
    """Pack the document token stream into fixed ``cap``-token training
    sequences: concatenate documents in doc_id order and cut the stream at
    every multiple of ``cap``. Returns (doc_id, n_tok, seq_id, seq_offset)
    where seq_id is the sequence containing the document's FIRST token and
    seq_offset its position inside that sequence — a document straddling a
    boundary continues into the next sequence (contiguous-stream packing,
    the standard pretraining layout; no padding, no greedy bin search, and
    deterministic for free). See ``_packed`` for the distributed
    prefix-sum shape.
    """
    t = _docs(spark, sf_dir).select(
        "doc_id", _bpe_ish_token_count(F.col("text")).alias("n_tok")
    )
    return _packed(t, [], cap)


def pack_sequences_by_source(
    spark: SparkSession, sf_dir: str, cap: int = PACK_CAP
) -> DataFrame:
    """Per-source sequence packing: training sequences must not mix corpora
    with different licensing/quality tiers, so each source packs its OWN
    contiguous token stream (seq_id counts within the source). Same
    distributed prefix sum as pack_sequences, grouped — the driver-side
    state stays ≤ partitions + sources rows."""
    t = _docs(spark, sf_dir).select(
        "source", "doc_id", _bpe_ish_token_count(F.col("text")).alias("n_tok")
    )
    return _packed(t, ["source"], cap)


def pack_stats_by_source(
    spark: SparkSession, sf_dir: str, cap: int = PACK_CAP
) -> DataFrame:
    """Capacity-planning rollup of per-source packing: documents, tokens,
    and the number of cap-token training sequences each corpus yields —
    ceil(total/cap), NOT max(seq_id)+1, because a final document straddling
    a window boundary spills tokens into one more window than any document
    STARTS in (min 1). A plain aggregation over the token counts — the
    sequence count is a closed form of the totals, so running the packing
    machinery here would add a shuffle for nothing."""
    t = _docs(spark, sf_dir).select(
        "source", _bpe_ish_token_count(F.col("text")).alias("n_tok")
    )
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.greatest(
            F.expr(f"(sum(n_tok) + {int(cap) - 1}) div {int(cap)}"), F.lit(1).cast("long")
        ).alias("n_sequences"),
    )


def training_mix(spark: SparkSession, sf_dir: str, cap: int = PACK_CAP) -> DataFrame:
    """The full preprocessing recipe as ONE composable plan — what a user
    actually runs before training: exact-dedup (min-id keeper per content)
    → quality gate (length >= 40 chars, >= 8 words) → deterministic
    per-language quota sample → contiguous-stream sequence packing.
    Returns (doc_id, lang, n_tok, seq_id, seq_offset) for every surviving
    document. Each stage is the library operator, so the composite stays
    one Catalyst plan: the dedup groupBy is the only wide stage before the
    packing shuffle; filters and the sample are stateless and push toward
    the scan."""
    docs = _docs(spark, sf_dir)
    keep = (
        docs.select(content_fp().alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    kept = docs.join(keep, "doc_id", "left_semi")
    n_words = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1
    )
    q = kept.filter((F.length("text") >= 40) & (n_words >= 8))
    bucket, quota = _quota_bucket()
    s = q.filter(bucket < quota)
    t = s.select(
        "doc_id", "lang", _bpe_ish_token_count(F.col("text")).alias("n_tok")
    )
    return _packed(t, [], cap)


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language quota sample: keep a document iff its
    md5-derived bucket (0..99) is below the language's quota percent.
    Membership is a pure function of doc_id — identical under retries,
    re-runs, and engine changes — and the md5 arithmetic has an exact
    DuckDB twin (the md5 hex halves, as the shingle kernel's hash), unlike
    DataFrame.sampleBy's RNG. Zero shuffles: a stateless scan filter."""
    docs = _docs(spark, sf_dir)
    bucket, quota = _quota_bucket()
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < quota)
    )
