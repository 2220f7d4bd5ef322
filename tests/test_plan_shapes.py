"""Physical-plan shape regressions for the pipeline operators: the
properties the 100 TB story rests on, asserted against executedPlan so
a refactor that silently adds a corpus shuffle fails CI."""

import pytest
from pyspark.sql import functions as F

from graphydb_spark.operators.pipeline import (mixture_sample, pack_shards,
                                               pii_redact, quality_filter,
                                               stratified_sample)
from graphydb_spark.streaming.windows import interval_join


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def plan_of(df) -> str:
    """The plan that actually runs.  After an AdaptiveSparkPlan has
    executed (the catalog's plan cache means an oracle test may run the
    same DataFrame first), toString() prints BOTH the final and the
    initial plan — keep only the final section so operator counts don't
    double and assertions stay order-independent across the suite."""
    p = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in p and "== Initial Plan ==" in p:
        p = p.split("== Initial Plan ==")[0]
    return p


def test_stratified_sample_is_narrow(docs):
    """Hash-gated sampling must be a pure filter: zero exchanges."""
    p = plan_of(stratified_sample(docs, "lang", {"en": 0.5}, "doc_id"))
    assert "Exchange" not in p


def test_quality_and_redact_are_narrow(docs):
    assert "Exchange" not in plan_of(quality_filter(docs))
    assert "Exchange" not in plan_of(pii_redact(docs))


def test_pack_shards_single_sort(docs):
    """Shard packing is exactly one partition-keyed exchange + sort."""
    p = plan_of(pack_shards(docs, "doc_id", "n_chars", 2000, "lang"))
    assert p.count("Exchange") == 1
    assert "Sort" in p


def test_mixture_sample_corpus_not_shuffled(docs):
    """The per-source rates come back to the corpus via broadcast; the
    corpus side itself must never sort-merge (i.e. never shuffles on the
    join key).  The only non-broadcast exchanges belong to the tiny
    count/cap aggregates."""
    p = plan_of(mixture_sample(docs, "source",
                               {"src0": 0.5, "src1": 0.5}, "doc_id"))
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_interval_join_is_bucketed_equi_join(spark):
    """The time band must ride a (key, bucket) equi-join — never a
    cartesian/broadcast-nested-loop with a post-filter."""
    from graphydb_spark.sources.tpch_graph import load_tables
    ev = load_tables(spark, "/root/testdata/sf0.001")["events"]
    p = plan_of(interval_join(ev, ev, lower_s=1, upper_s=120))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "__b" in p  # bucket column participates in the join keys


def test_tpch_q3_no_raw_fact_broadcast(spark):
    """Q3's hash-build side must be the post-aggregation order-level
    frame, never the raw filtered lineitem scan (the r02 regression: the
    compression-blind file-size estimate put filtered lineitem under the
    broadcast threshold and the planner paid a single-threaded 300k-row
    hash build — and at any scale the raw fact is the wrong build side).
    Detectable shape: every BroadcastExchange that reads lineitem must
    sit ABOVE a HashAggregate, and the pre-join aggregate exists."""
    from graphydb_spark.queries import QUERIES
    df = QUERIES["tpch_q3"](spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in p
    for chunk in p.split("BroadcastExchange")[1:]:
        if "lineitem.parquet" in chunk:
            # lineitem reachable under this broadcast: require the agg
            # to sit between them (pre-aggregated side, not raw scan)
            assert "HashAggregate" in chunk.split("lineitem.parquet")[0]


def test_tpch_q5_fact_pruned_before_fact_join(spark):
    """Q5 must prune lineitem through the broadcast ASIA-supplier sliver
    BEFORE any fact-fact join, and fact tables must carry no forced
    broadcast: the supplier join is a BroadcastHashJoin below the
    orders join in the plan tree."""
    from graphydb_spark.queries import QUERIES
    df = QUERIES["tpch_q5"](spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    # the supplier broadcast-prune exists
    assert "BroadcastHashJoin" in p
    assert "supplier.parquet" in p
    # no cartesian fallbacks
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pattern_join_skew_split_on_power_law_graph(spark):
    """The 100x celebrity-node risk for pattern chains: one node owning
    75% of all edges must trigger AQE's skew-join partition split on the
    chain-compiled join (thresholds lowered so toy data exhibits the
    production shape).  Without the split, the hot startuid partition is
    one straggler task."""
    from pyspark.sql import functions as F
    from graphydb_spark import Graph

    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.forceOptimizeSkewedJoin",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "8k")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")

        n_users, hub_edges, tail_edges = 2000, 60000, 20000
        base = [F.lit(0.0).alias("ctime"), F.lit(0.0).alias("mtime"),
                F.lit("{}").alias("props")]
        nodes = (spark.range(n_users)
                 .select(F.concat(F.lit("U:"), F.col("id").cast("string"))
                         .alias("uid"), F.lit("User").alias("kind"), *base))
        hub = (spark.range(hub_edges)
               .select(F.concat(F.lit("E:h"), F.col("id").cast("string"))
                       .alias("uid"), F.lit("Follows").alias("kind"),
                       F.lit("U:0").alias("startuid"),
                       F.concat(F.lit("U:"),
                                (F.col("id") % (n_users - 1) + 1)
                                .cast("string")).alias("enduid"), *base))
        tail = (spark.range(tail_edges)
                .select(F.concat(F.lit("E:t"), F.col("id").cast("string"))
                        .alias("uid"), F.lit("Follows").alias("kind"),
                        F.concat(F.lit("U:"), (F.col("id") % n_users)
                                 .cast("string")).alias("startuid"),
                        F.concat(F.lit("U:"), ((F.col("id") * 7) % n_users)
                                 .cast("string")).alias("enduid"), *base))
        cols = ["uid", "kind", "startuid", "enduid", "ctime", "mtime",
                "props"]
        g = Graph.from_dataframes(
            spark, nodes, hub.unionByName(tail).select(*cols))
        df = g.fetch("[a:User] -(f:Follows)> (b:User)", as_df=True)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ssjoin_plan_no_cartesian_no_python(docs):
    """The exact set-similarity join must stay JVM-side and keyed:
    no cartesian product, no Python UDF stage anywhere in the plan."""
    from graphydb_spark.operators.dedup import ssjoin_jaccard
    df = ssjoin_jaccard(docs, threshold=0.5)
    plan = df._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_betweenness_frontier_keyed(spark):
    """Brandes forward frontier joins must be keyed equi-joins (no
    cartesian), and the per-round frames stay (source, uid)-keyed."""
    from graphydb_spark.operators.graph_algos import betweenness_sampled
    from pyspark.sql import functions as F
    e = spark.createDataFrame(
        [(str(i), str((i * 3 + 1) % 40)) for i in range(120)],
        "startuid string, enduid string")
    seeds = spark.createDataFrame([("1",), ("2",)], "uid string")
    out = betweenness_sampled(e, seeds, max_depth=2)
    plan = out._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan


def test_eigenvector_edges_partitioned_once(spark):
    """Power-iteration rounds must reuse the once-partitioned edge
    list: the iteration join keys ride the checkpointed partitioning,
    so the final plan shows no sort-merge join (node-frame exchanges
    only) and no cartesian."""
    from graphydb_spark.operators.graph_algos import eigenvector_centrality
    edges = (spark.range(2000)
             .select((F.col("id") % 97).cast("string").alias("startuid"),
                     (F.col("id") % 101).cast("string").alias("enduid")))
    p = plan_of(eigenvector_centrality(edges, iters=3))
    assert "CartesianProduct" not in p
    # exactly one nested-loop is allowed: the 1-row max-normalizer
    # crossJoin; the per-iteration edge⋈score joins must all be
    # hash/sort equi-joins
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_bitmap_distinct_partial_agg(spark):
    """The bitmap words must combine map-side: two HashAggregate pairs
    (word-level then popcount-level), never an Expand/distinct
    shuffle of raw ids."""
    from graphydb_spark.queries import QUERIES
    df = QUERIES["bitmap_distinct"](spark, "/root/testdata/sf0.001")
    p = plan_of(df)
    assert "Expand" not in p
    assert p.count("HashAggregate") >= 4  # partial+final at both levels


def test_butterfly_no_cartesian(spark):
    """The wedge self-join must stay an equi-join on the customer key
    with the degree cap applied before pair generation."""
    from graphydb_spark.queries import QUERIES
    df = QUERIES["butterfly_count"](spark, "/root/testdata/sf0.001")
    p = plan_of(df)
    assert "CartesianProduct" not in p
    # the only nested-loop allowed is the 1-row scalar crossJoin of
    # the wedge/butterfly totals
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_substring_spans_no_window_on_corpus(spark):
    """The span merge must window over candidate pairs only and the
    gram df-guard must aggregate map-side: no Expand, no cartesian;
    the final groupBy shares the window's partitioning (no extra
    exchange between them)."""
    from graphydb_spark.queries import QUERIES
    df = QUERIES["substring_spans"](spark, "/root/testdata/sf0.001")
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "Expand" not in p


def test_boruvka_argmin_is_aggregate_not_window(spark):
    """Borůvka's per-component min-edge pick must be a struct-min
    HashAggregate (map-side combinable), never a row_number Window —
    a giant merged component would otherwise funnel its whole
    cross-edge set through one window partition."""
    from graphydb_spark.operators.graph_algos import boruvka_msf
    e = (spark.range(500)
         .select(F.concat(F.lit("a"), (F.col("id") % 37)).alias("src"),
                 F.concat(F.lit("b"), (F.col("id") % 41)).alias("dst"),
                 F.col("id").alias("w")))
    forest = boruvka_msf(e, max_rounds=6)
    # the returned forest frame is checkpointed; assert on the final
    # count being a spanning forest (<= nodes-1 per component) and
    # that the loop produced no Window in the surviving plan
    p = plan_of(forest)
    assert "Window" not in p
    n_nodes = (e.select("src").union(e.select("dst"))
               .distinct().count())
    assert forest.count() <= n_nodes - 1


def test_boruvka_stats_stay_bounded(spark):
    """checkpoint_reset_stats must keep the Catalyst sizeInBytes
    estimate at the constant default through the self-join rounds —
    the estimate squaring per round is the failure mode that made a
    161-row checkpoint take 161 s."""
    from graphydb_spark.operators.graph_algos import (
        boruvka_msf, checkpoint_reset_stats)
    e = (spark.range(300)
         .select(F.concat(F.lit("x"), (F.col("id") % 29)).alias("src"),
                 F.concat(F.lit("y"), (F.col("id") % 31)).alias("dst"),
                 F.col("id").alias("w")))
    forest = boruvka_msf(e, max_rounds=6)
    stat = forest._jdf.queryExecution().optimizedPlan().stats() \
        .sizeInBytes()
    # a LogicalRDD without origin stats reports the session default —
    # any BigInteger wider than 64 bits means stats leaked through
    assert len(str(stat)) <= 20, f"stats blew up: {str(stat)[:40]}..."


def test_hll_and_cms_partial_agg(spark):
    """Both sketches must build via map-side-combinable aggregates
    (register max / cell counts), never a distinct Expand."""
    from graphydb_spark.queries import QUERIES
    for name in ("hll_distinct", "cms_heavy_hitters"):
        p = plan_of(QUERIES[name](spark, "/root/testdata/sf0.001"))
        assert "Expand" not in p, name
        assert "CartesianProduct" not in p, name


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """With broadcast disabled (the cluster-scale shape where both
    join sides shuffle), Catalyst must inject a runtime bloom filter
    from the selective dimension side into the fact scan —
    might_contain on l_orderkey fed by bloom_filter_agg over the
    filtered orders.  This is the engine's row-level semi-join
    pruning; at 100 TB it cuts the fact shuffle by the dimension
    selectivity before the join."""
    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold")}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
                       "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".creationSideThreshold", "100MB")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold", "0")
        li = spark.read.parquet(
            "/root/testdata/sf0.001/lineitem.parquet")
        o = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
             .where(F.col("o_orderpriority") == "1-URGENT"))
        j = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy("o_orderpriority").count())
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in p
        assert "bloom_filter_agg" in p
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_privacy_and_sketch_queries_broadcast_only(spark):
    """l_diversity / t_closeness / kmv_setops: every join is either a
    broadcast hash join (dims, dense segment grid) or a 1-row scalar
    BNLJ — a sort-merge join appearing here would mean a dim-sized
    frame started shuffling the fact side."""
    from graphydb_spark import queries as Q
    for name in ("l_diversity", "t_closeness", "kmv_setops"):
        df = Q.QUERIES[name](spark, "/root/testdata/sf0.001")
        df.collect()
        p = plan_of(df)
        assert "SortMergeJoin" not in p, name
        assert "CartesianProduct" not in p, name
    p = plan_of(Q.QUERIES["t_closeness"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in p


def test_embedding_pair_queries_no_cartesian(spark):
    """The pairwise-embedding catalog entries generate candidates by
    the IVF-blocked same-cell equi-join — no CartesianProduct and no
    BroadcastNestedLoopJoin anywhere in their executed plans (the
    committed plan at 100 TB must be block-diagonal, not all-pairs)."""
    from graphydb_spark.queries import QUERIES
    sf = "/root/testdata/sf0.001"
    for name in ("embedding_near_dup", "hard_negatives", "mutual_knn",
                 "dbscan_embeddings"):
        p = plan_of(QUERIES[name](spark, sf))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_embedding_near_dups_operator_blocked(spark):
    """dedup.embedding_near_dups defaults to IVF-blocked candidates
    (equi-join on cluster) and still finds planted twins; exact=True
    keeps the brute path for fixture verification."""
    from graphydb_spark.operators.dedup import embedding_near_dups
    rows = [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)])
            for i in range(60)]
    # plant a twin of vec 7 at id 1007 (slight dim-0 nudge)
    twin = list(rows[7][1])
    twin[0] += 0.01
    rows.append((1007, twin))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    blocked = embedding_near_dups(emb, k=4, min_cosine=0.99)
    p = plan_of(blocked)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    got = {(r.id_a, r.id_b) for r in blocked.collect()}
    assert (7, 1007) in got
    exact = {(r.id_a, r.id_b) for r in
             embedding_near_dups(emb, min_cosine=0.99,
                                 exact=True).collect()}
    assert got <= exact          # blocked is a subset of exact


def test_ivfpq_refine_column_is_scan_pruned(spark, tmp_path):
    """store_raw's whole bargain: the raw refine column costs STORAGE
    only.  The ADC probe's scan must read (cluster, vec_id, codes) and
    never the embedding column; the rerank stage-2 plan must read
    (vec_id, embedding) and never codes — parquet column pruning keeps
    each stage touching only its bytes."""
    from graphydb_spark.operators.persisted_index import (
        build_ivfpq_table, probe_ivfpq_table)
    rows = [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)])
            for i in range(60)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")
    p = str(tmp_path / "ivfpq_prune")
    build_ivfpq_table(emb, p, k=3, m=4, pq_k=8, iters=1,
                      store_raw=True)
    q = [0.5] * 8
    adc = probe_ivfpq_table(spark, p, q, k=5, nprobe=3)
    pa = plan_of(adc)
    import re
    for schema in re.findall(r"ReadSchema: (\S+)", pa):
        assert "embedding" not in schema, schema
    rr = probe_ivfpq_table(spark, p, q, k=5, nprobe=3, rerank=4)
    pr = plan_of(rr)
    for schema in re.findall(r"ReadSchema: (\S+)", pr):
        assert "codes" not in schema, schema
        assert "embedding" in schema, schema
    # each stage reads its nprobe=3 cells as ONE pruned scan — no
    # per-cell read unioned back together
    for plan in (pa, pr):
        assert plan.count("FileScan") == 1, plan
        assert "Union" not in plan, plan
