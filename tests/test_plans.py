"""Physical-plan assertions: the Catalyst properties the engine relies on.

The reference hand-built these techniques (SURVEY.md §4); here they must
come out of Catalyst — so the tests pin them: column pruning reaches the
scan, filters push down, small dims broadcast, the encode fast path has no
shuffle, and aggregations are partial (map-side combine).
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    jdf = df._jdf
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def test_projection_prunes_scan(spark):
    from parquet_to_arrow_spark.operators.relational import projection_column_range

    plan = plan_of(projection_column_range(spark, SF))
    # ReadSchema must contain exactly the 3 projected columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_partkey" in read_schema and "l_suppkey" in read_schema
    assert "l_extendedprice" not in read_schema and "l_shipdate" not in read_schema


def test_filter_pushes_down_to_parquet(spark):
    from parquet_to_arrow_spark.operators.relational import q1_pricing_summary

    plan = plan_of(q1_pricing_summary(spark, SF))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "l_shipdate" in pushed[0], pushed


def test_star_join_broadcasts_dimensions(spark):
    from parquet_to_arrow_spark.operators.relational import revenue_by_nation

    plan = plan_of(revenue_by_nation(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_aggregation_is_partial(spark):
    from parquet_to_arrow_spark.operators.relational import agg_stats_by_source

    plan = plan_of(agg_stats_by_source(spark, SF))
    # partial + final HashAggregate = map-side combine before the shuffle
    assert plan.count("HashAggregate") >= 2


def test_encode_fast_path_has_no_shuffle(spark, tmp_path):
    from parquet_to_arrow_spark.sources.io import encode_parquet_dir
    from parquet_to_arrow_spark.sources.synth import synth_tokens_df

    path = str(tmp_path / "tok")
    synth_tokens_df(spark, 200, n_partitions=2).write.parquet(path)
    plan = plan_of(encode_parquet_dir(spark, path))
    assert "Exchange" not in plan, plan


def test_file_split_plans_start_no_python_worker(spark, tmp_path):
    """The file-split path frame is built on the JVM: a PythonRDD frame
    (``Scan ExistingRDD``) forks Python workers in every job just to
    produce path strings, before the scan's own mapInArrow starts."""
    from parquet_to_arrow_spark import checkpoint
    from parquet_to_arrow_spark.operators.engine_queries import roundtrip_lineitem_ints
    from parquet_to_arrow_spark.sources.io import (
        encode_parquet_dir,
        token_hashes_from_parquet,
    )
    from parquet_to_arrow_spark.sources.synth import synth_tokens_df

    path = str(tmp_path / "tok")
    synth_tokens_df(spark, 200, n_partitions=2).write.parquet(path)
    lineitem = roundtrip_lineitem_ints(spark, SF)
    for df in (
        encode_parquet_dir(spark, path),
        token_hashes_from_parquet(spark, path),
        checkpoint.read_done(spark, str(tmp_path / "never_written")),
        lineitem,
    ):
        assert "ExistingRDD" not in plan_of(df), plan_of(df)
    # the lineitem round-trip scans file splits: no round-robin Exchange
    assert "Exchange" not in plan_of(lineitem), plan_of(lineitem)


def test_files_df_lays_out_one_greedy_group_per_partition(spark):
    from parquet_to_arrow_spark.sources.io import files_df

    # every case is far below one task's bytes, so there is one bin per
    # core of the session, capped at the file count
    par = spark.sparkContext.defaultParallelism

    def greedy(fs: list[str], sz: dict) -> list[list[str]]:
        """Largest file first into the least-loaded bin, ties to the
        lowest-index bin."""
        bins: list[list[str]] = [[] for _ in range(min(len(fs), par))]
        load = [0] * len(bins)
        for f in sorted(fs, key=lambda f: (-sz[f], f)):
            i = min(range(len(bins)), key=lambda i: (load[i], i))
            bins[i].append(f)
            load[i] += sz[f]
        return bins

    files = [f"/data/f{i}.parquet" for i in range(10)]
    sizes = dict(zip(files, [100, 90, 80, 70, 60, 50, 40, 30, 20, 10]))
    want = greedy(files, sizes)
    if par == 8:
        assert want == [[f] for f in files[:6]] + [
            [files[6], files[9]], [files[7], files[8]]
        ]
    # zero-byte files all land in the first bin; the second bin stays
    # empty and keeps its partition
    zero = ["/data/a.parquet", "/data/b.parquet"]
    zero_want = [zero] + [[]] * (min(2, par) - 1)
    # equal sizes: ties go to the lowest-index bin, so the bins fill
    # round-robin
    eq = [f"/data/e{i:02d}.parquet" for i in range(20)]
    n_eq = min(20, par)
    eq_want = [eq[i::n_eq] for i in range(n_eq)]
    for fs, sz, groups in (
        (files, sizes, want),
        (zero, dict.fromkeys(zero, 0), zero_want),
        (eq, dict.fromkeys(eq, 1), eq_want),
    ):
        assert groups == greedy(fs, sz)
        df = files_df(spark, None, files=fs, sizes=sz)
        assert df.columns == ["path"]
        assert df.rdd.getNumPartitions() == len(groups)
        assert [[r.path for r in part] for part in df.rdd.glom().collect()] == groups


def test_decode_path_has_no_shuffle(spark, tmp_path):
    from parquet_to_arrow_spark.encode import decode_chunks_df
    from parquet_to_arrow_spark.encode import encode_tokens_df
    from parquet_to_arrow_spark.sources.synth import synth_tokens_df

    plan = plan_of(decode_chunks_df(encode_tokens_df(synth_tokens_df(spark, 200))))
    assert "Exchange" not in plan, plan


def test_ann_queries_broadcast_probe_side(spark):
    """LSH/IVF candidate joins must broadcast the (tiny) probe side — a
    shuffle join on the bucket key would move the whole corpus."""
    from parquet_to_arrow_spark.operators.similarity import ann_ivf_topk, ann_lsh_topk

    for q in (ann_lsh_topk, ann_ivf_topk):
        plan = plan_of(q(spark, "/root/testdata/sf0.001"))
        assert "BroadcastHashJoin" in plan, (q.__name__, plan)
        assert "CartesianProduct" not in plan, q.__name__


def test_checkpoint_anti_join_broadcasts(spark):
    from parquet_to_arrow_spark import checkpoint
    from parquet_to_arrow_spark.sources.synth import synth_tokens_df

    tokens = checkpoint.with_pkey(synth_tokens_df(spark, 200), 16)
    done = spark.createDataFrame([(1,), (2,)], "pkey int")
    plan = plan_of(checkpoint.pending(tokens, done))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_pack_sequences_prefix_sum_is_distributed(spark):
    from parquet_to_arrow_spark.operators.pipeline import pack_sequences

    plan = plan_of(pack_sequences(spark, SF))
    # the token-count scan reads only the two needed columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema
    # base offsets join broadcast, never shuffled
    assert "BroadcastHashJoin" in plan
    # the window is partitioned by the deterministic __slice — a GLOBAL
    # window (empty partition spec) would serialize the stream on one task
    window_lines = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert window_lines and all("__slice" in ln for ln in window_lines), window_lines


def test_stratified_sample_is_scan_plus_filter(spark):
    from parquet_to_arrow_spark.operators.pipeline import stratified_sample

    plan = plan_of(stratified_sample(spark, SF))
    assert "Exchange" not in plan  # stateless filter: zero shuffles


def test_repetition_and_pii_are_zero_shuffle(spark):
    """Per-doc array arithmetic and regex redaction must stay scan-shaped:
    no Exchange anywhere — these run at scan speed on any corpus size."""
    from parquet_to_arrow_spark.operators.textstats import pii_redact, repetition_stats

    for op in (repetition_stats, pii_redact):
        plan = plan_of(op(spark, SF))
        assert "Exchange" not in plan, op.__name__
        assert "pythonUDF" not in plan.lower(), op.__name__  # all JVM-side


def test_duplicated_ngrams_aggregates_partial(spark):
    """The census groupBy(gram) must combine map-side (boilerplate grams are
    the heavy keys) and shuffle at most once."""
    from parquet_to_arrow_spark.operators.textstats import duplicated_ngrams

    import re

    plan = plan_of(duplicated_ngrams(spark, SF))
    assert plan.count("HashAggregate") >= 2
    # operator headers "(n) Exchange" count each exchange once (the tree
    # section repeats them); allowed: the gram shuffle + the small-input
    # spread repartition
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchange <= 2, plan


def test_iceberg_snapshot_scan_keeps_pushdown(spark, tmp_path):
    """A snapshot read resolves to a parquet scan, so projection pruning
    still reaches ReadSchema — the metadata layer adds no plan barrier."""
    from parquet_to_arrow_spark.sources import iceberg_meta as ice

    df = spark.range(100).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text", "id * 2 AS other"
    )
    d = str(tmp_path / "w")
    df.write.parquet(d)
    ice.commit_parquet_dir(str(tmp_path / "tbl"), d, spark_schema=df.schema, ts_ms=1)
    scan = ice.read_snapshot(spark, str(tmp_path / "tbl")).select("doc_id")
    read_schema = [ln for ln in plan_of(scan).splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read_schema and "other" not in read_schema


def test_fully_pruned_snapshot_read_starts_no_python_worker(spark, tmp_path):
    """A partition filter that prunes every file yields the empty typed
    frame as a JVM local relation, not a PythonRDD scan."""
    from parquet_to_arrow_spark.sources import iceberg_meta as ice

    df = spark.createDataFrame(
        [(i, ["web", "code"][i % 2]) for i in range(10)], "doc_id long, source string"
    )
    d = str(tmp_path / "w")
    df.write.partitionBy("source").parquet(d)
    table = str(tmp_path / "tbl")
    ice.commit_parquet_dir(
        table, d, spark_schema=df.schema, ts_ms=1, partition_by=["source"]
    )
    empty = ice.read_snapshot(spark, table, partition_filter={"source": "absent"})
    assert empty.count() == 0 and empty.columns == ["doc_id", "source"]
    assert "ExistingRDD" not in plan_of(empty), plan_of(empty)


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables bucketed the same way must SortMergeJoin with ZERO
    exchanges — the write-once-join-many co-location pattern."""
    import re

    from parquet_to_arrow_spark.sources.io import write_bucketed_table

    a = spark.range(10_000).selectExpr("id AS doc_id", "id * 2 AS n_tok")
    b = spark.range(10_000).selectExpr("id AS doc_id", "id % 7 AS verdict")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed_table(a, "bt_a", str(tmp_path / "a"), n_buckets=8)
        write_bucketed_table(b, "bt_b", str(tmp_path / "b"), n_buckets=8)
        j = spark.table("bt_a").join(spark.table("bt_b"), "doc_id")
        plan = plan_of(j)
        assert "SortMergeJoin" in plan, plan
        assert re.findall(r"^\(\d+\) Exchange", plan, re.M) == [], plan
        assert j.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_vocab_coverage_topk_is_distributed(spark):
    """vocab_coverage must reduce the vocabulary with a distributed TopK
    (TakeOrderedAndProject: per-partition heaps + driver merge) BEFORE any
    window runs — never a global window over the full vocabulary (1e8-1e9
    distinct tokens on a web corpus would serialize through one task). The
    windows that remain are partitioned (constant key over the <=100 TopK
    survivors), so no unpartitioned WindowExec appears in the plan."""
    from parquet_to_arrow_spark.operators.textstats import vocab_coverage

    plan = plan_of(vocab_coverage(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    # every Window node must carry a partition spec (the constant-key one)
    for ln in plan.splitlines():
        if "Arguments" in ln and "windowspecdefinition" in ln:
            assert "specifiedwindowframe" in ln or "0," in ln, ln


def test_q5_broadcasts_dims_and_pushes_date_cut(spark):
    """The 6-way Q5 join must broadcast the tiny dim side(s) and push the
    one-year order-date cut into the parquet scan — the join-ordering
    properties the 100 TB plan depends on."""
    from parquet_to_arrow_spark.operators.relational import q5_local_supplier_volume

    plan = plan_of(q5_local_supplier_volume(spark, SF))
    assert "BroadcastHashJoin" in plan
    pushed = [
        ln for ln in plan.splitlines()
        if "PushedFilters" in ln and "o_orderdate" in ln
    ]
    assert pushed, plan


def test_q4_exists_is_one_semi_join_with_pushed_quarter(spark):
    """The correlated EXISTS must decorrelate to ONE LeftSemi join (no
    per-row subquery) and the quarter cut must reach the orders scan."""
    from parquet_to_arrow_spark.operators.relational import q4_order_priority

    plan = plan_of(q4_order_priority(spark, SF))
    assert "LeftSemi" in plan, plan
    pushed = [
        ln for ln in plan.splitlines()
        if "PushedFilters" in ln and "o_orderdate" in ln
    ]
    assert pushed, plan


def test_q17_broadcasts_brand_dim(spark):
    """The brand-filtered part dim must broadcast into the lineitem side
    (twice: the threshold agg and the probe), and the brand predicate must
    push into the part scan — the shape that keeps the per-part avg the
    only shuffle at 100 TB."""
    from parquet_to_arrow_spark.operators.relational import q17_small_quantity_revenue

    plan = plan_of(q17_small_quantity_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    pushed = [
        ln for ln in plan.splitlines()
        if "PushedFilters" in ln and "p_brand" in ln
    ]
    assert pushed, plan


def test_q10_pushes_flag_and_quarter_takeordered(spark):
    """Return-flag and quarter cuts must reach the scans; the top-20 must
    be TakeOrderedAndProject, never a global sort."""
    from parquet_to_arrow_spark.operators.relational import q10_returned_items

    plan = plan_of(q10_returned_items(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert any(
        "PushedFilters" in ln and "l_returnflag" in ln for ln in plan.splitlines()
    ), plan
    assert any(
        "PushedFilters" in ln and "o_orderdate" in ln for ln in plan.splitlines()
    ), plan


def test_q7_broadcasts_filtered_nation_dims(spark):
    """Both nation dims must broadcast (2 rows each after the pair filter)
    and the two-year shipdate cut must push into the lineitem scan."""
    from parquet_to_arrow_spark.operators.relational import q7_nation_volume

    plan = plan_of(q7_nation_volume(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert any(
        "PushedFilters" in ln and "l_shipdate" in ln for ln in plan.splitlines()
    ), plan


def test_q14_broadcasts_part_and_pushes_month(spark):
    from parquet_to_arrow_spark.operators.relational import q14_promo_revenue_share

    plan = plan_of(q14_promo_revenue_share(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert any(
        "PushedFilters" in ln and "l_shipdate" in ln for ln in plan.splitlines()
    ), plan


def test_q19_disjunction_reaches_the_part_scan(spark):
    """Catalyst must extract the brand disjunction from the OR-of-ANDs and
    push it into the part scan — the dim side prunes to three brands
    before broadcasting."""
    from parquet_to_arrow_spark.operators.relational import q19_discounted_band_revenue

    plan = plan_of(q19_discounted_band_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert any(
        "PushedFilters" in ln and "p_brand" in ln for ln in plan.splitlines()
    ), plan


def test_q13_outer_join_survives_zero_order_customers(spark):
    """The left-outer must not degrade to inner: the plan keeps LeftOuter
    and the priority filter pushes into the orders scan."""
    from parquet_to_arrow_spark.operators.relational import q13_customer_distribution

    plan = plan_of(q13_customer_distribution(spark, SF))
    assert "LeftOuter" in plan, plan
    assert any(
        "PushedFilters" in ln and "o_orderpriority" in ln for ln in plan.splitlines()
    ), plan


def test_q18_topk_is_take_ordered(spark):
    from parquet_to_arrow_spark.operators.relational import q18_large_volume_customers

    plan = plan_of(q18_large_volume_customers(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q21_semi_and_anti_share_the_orderkey(spark):
    """EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti; both must appear as join
    strategies keyed on l_orderkey, never a cross product."""
    from parquet_to_arrow_spark.operators.relational import q21_sole_failing_supplier

    plan = plan_of(q21_sole_failing_supplier(spark, SF))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "Cartesian" not in plan, plan


def test_q2_window_is_partitioned_by_part(spark):
    """The correlated min decorrelates into a window PARTITIONED by
    l_partkey — a global (unpartitioned) window would serialize the pair
    relation through one task at corpus scale."""
    from parquet_to_arrow_spark.operators.relational import q2_min_cost_supplier

    plan = plan_of(q2_min_cost_supplier(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    spec = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert spec and all("windowspecdefinition(l_partkey" in ln for ln in spec), spec


def test_q16_exclusion_is_left_anti(spark):
    from parquet_to_arrow_spark.operators.relational import q16_supplier_diversity

    plan = plan_of(q16_supplier_diversity(spark, SF))
    assert "LeftAnti" in plan, plan


def test_bpe_pairs_topn_is_take_ordered_with_partial_agg(spark):
    """The pair census must partial-aggregate map-side (the stopword pairs
    are the heavy keys) and the top-N must be TakeOrderedAndProject, not a
    global sort."""
    from parquet_to_arrow_spark.operators.textstats import bpe_pair_stats

    plan = plan_of(bpe_pair_stats(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan, plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", ""), plan


def test_range_join_is_blocked_equi_join(spark):
    """The bucketized range join must plan as a hash/merge EQUI-join on
    (user, block) — never a nested-loop/cartesian theta join, which is the
    per-user cross product that dies at corpus scale."""
    from parquet_to_arrow_spark.operators.relational import event_cooccurrence_pairs

    plan = plan_of(event_cooccurrence_pairs(spark, SF))
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" in plan, plan


def test_grouping_sets_is_one_expand_pass(spark):
    """GROUPING SETS must plan as ONE scan + Expand + hash aggregate —
    never one scan per set."""
    from parquet_to_arrow_spark.operators.relational import grouping_sets_revenue

    plan = plan_of(grouping_sets_revenue(spark, SF))
    assert "Expand" in plan, plan
    assert plan.count("FileScan") == 1 if "FileScan" in plan else True, plan


def test_rolling_hour_window_is_partitioned(spark):
    """The event-time RANGE window must partition by user_id — a global
    unpartitioned window serializes the corpus through one task."""
    from parquet_to_arrow_spark.operators.relational import rolling_hour_user_value

    plan = plan_of(rolling_hour_user_value(spark, SF))
    assert "Window" in plan, plan
    assert "partitionBy" not in plan or "user_id" in plan, plan


def test_balance_deciles_have_no_window_on_fact_path(spark):
    """customer_balance_deciles must NOT rank via a Window partitioned by
    the 5-value c_mktsegment (one task per segment's full population at
    100 TB). The restructured shape: percentile boundaries broadcast back
    to the fact scan, band assignment as a codegen'd array fold — so the
    plan carries no Window node at all and the boundary join broadcasts."""
    from parquet_to_arrow_spark.operators.relational import customer_balance_deciles

    for exact in (False, True):
        plan = plan_of(customer_balance_deciles(spark, SF, exact=exact))
        assert "Window" not in plan, plan
        # no NTILE ranking function anywhere (percentile boundaries ARE fine)
        assert "ntile" not in plan.lower().replace("percentile", ""), plan
        assert "BroadcastHashJoin" in plan, plan


def test_minhash_lsh_plan_has_one_explode_and_the_band_shuffles(spark):
    """Signatures come from one mapInArrow over the scan: the executed plan
    of minhash_lsh_pairs keeps only the band-window and pair-dedup hash
    shuffles plus spread's small-input round-robin, and explodes only the
    band hashes (the shingle explode and both signature groupBys are gone)."""
    import re

    from parquet_to_arrow_spark.operators.dedup import minhash_lsh_pairs

    df = minhash_lsh_pairs(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert len(re.findall(r"\bExchange ", final)) == 3, final
    assert len(re.findall(r"\bGenerate ", final)) == 1, final


def _physical_nodes(plan):
    """Every node of an executed physical plan, descending into adaptive
    plans, query stages and reused exchanges."""
    yield plan
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _physical_nodes(plan.executedPlan())
    elif name.endswith("QueryStageExec"):
        yield from _physical_nodes(plan.plan())
    elif name == "ReusedExchangeExec":
        yield from _physical_nodes(plan.child())
    children = plan.children()
    for i in range(children.size()):
        yield from _physical_nodes(children.apply(i))


def test_minhash_cluster_verify_exchanges_no_array_column(spark, monkeypatch):
    """The exact verify of near_dup_clusters_minhash moves each doc's
    shingle hashes as one binary blob: no exchange of the verified pair
    plan, shuffle or broadcast, carries an array column (arrays cross the
    JVM row bridge one element at a time; at this scale AQE broadcasts the
    hash sets, so a shuffle-only check would see none). The pairs are
    taken where connected_components receives them, because its
    checkpoints hide them from the final plan."""
    from pyspark.sql import functions as F

    from parquet_to_arrow_spark.operators import pipeline as pl

    seen = []

    def capture(nodes, pairs, max_rounds=20):
        seen.append(pairs)
        return nodes.select("doc_id", F.col("doc_id").alias("cluster_id"))

    monkeypatch.setattr(pl, "connected_components", capture)
    pl.near_dup_clusters_minhash(spark, SF)
    (pairs,) = seen
    pairs.collect()
    exchanges = [
        node
        for node in _physical_nodes(pairs._jdf.queryExecution().executedPlan())
        if node.getClass().getSimpleName().endswith("ExchangeExec")
    ]
    assert exchanges
    for node in exchanges:
        out = node.output()
        types = [out.apply(i).dataType().catalogString() for i in range(out.size())]
        assert not [t for t in types if "array<" in t], (types, node.toString())


def test_ngram_jaccard_plan_has_no_explode_and_no_cache(spark):
    """n-gram Jaccard takes its (doc_id, hash) rows from the shingle
    kernel's mapInArrow: no Generate (the shingle explode) and no cached
    relation in its plan."""
    from parquet_to_arrow_spark.operators.dedup import ngram_jaccard_pairs

    plan = plan_of(ngram_jaccard_pairs(spark, SF))
    assert "MapInArrow" in plan, plan
    assert "Generate" not in plan and "InMemoryRelation" not in plan, plan
