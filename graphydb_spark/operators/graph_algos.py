"""Batch graph analytics, Pregel-style over DataFrames.

The reference has no batch analytics (its traversals are point queries);
these are the scale-path extensions promised in SURVEY.md §7.3(e):
degrees, connected components, PageRank, k-hop frontier expansion — all
iterative DataFrame joins, since GraphX is JVM-only and unavailable from
PySpark.

Connected components, dedup clusters, BFS / k-hop, SSSP, PageRank,
personalized PageRank, label propagation and k-core run on one superstep
loop, :func:`_supersteps` (vertex-centric, as in Pregelix): each
algorithm materializes its inputs once and supplies only the per-round
vertex program; the loop sends messages from the active frontier alone,
counts the next frontier on the checkpointed state (one narrow job) and
halts when it is empty, checkpoints the state with its statistics reset,
and labels each superstep's Spark jobs ``"<algo> superstep <i>
active=<n>"``.  Edge frames a loop joins every round keep a plain
``localCheckpoint``, which preserves their hash partitioning.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def checkpoint_reset_stats(df: DataFrame) -> DataFrame:
    """localCheckpoint + DISCARD the origin plan's statistics.

    ``Dataset.localCheckpoint`` truncates lineage but copies the source
    plan's ``Statistics`` onto the new ``LogicalRDD``.  In an iterative
    SELF-join (pointer jumping, transitive closure) the estimated
    ``sizeInBytes`` therefore SQUARES every round — after ~20 rounds it
    is a million-digit BigInteger and Catalyst's estimation math
    (BigInt multiply, Karatsuba/Toom-Cook) dominates wall-clock: we
    measured checkpoint cost ×2.5 per iteration on a 161-ROW frame,
    161 s by round four, with the digit count doubling 4→8→…→3501 in
    ten iterations.  Rebuilding the frame over the SAME checkpointed
    InternalRow RDD via ``internalCreateDataFrame`` drops the origin
    stats (estimate falls back to the constant default), keeping every
    iteration O(1) planning cost.  No data is recomputed or moved.

    Use this instead of bare ``localCheckpoint`` in any loop whose
    body joins a frame with a derivative of itself.  (Loops that join
    against a CONSTANT frame only grow the estimate linearly per round
    — bare checkpoints are fine there.)
    """
    return _reset_stats(df.localCheckpoint(eager=True))


def _reset_stats(d: DataFrame) -> DataFrame:
    spark = d.sparkSession
    jdf = d._jdf
    new_jdf = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False)
    return DataFrame(new_jdf, spark)


def _supersteps(algo: str, state: DataFrame, step, rounds: int):
    """The superstep loop of the vertex-centric algorithms.

    ``state`` is the vertex frame with a boolean ``_active`` column (the
    frontier); ``step(state, frontier)`` builds the next state, with its
    own ``_active`` column, from the current one and its active rows.
    Each superstep's state is locally checkpointed with its statistics
    reset (a step joins the state with its own derivative) and the next
    frontier is counted on that checkpoint: the count is one narrow job,
    and it is also the one that materializes the checkpoint.  The loop
    halts when the frontier is empty or after ``rounds`` supersteps.  A
    frontier whose counted rows fit the broadcast threshold is
    broadcast, so the large side of its join never shuffles.

    Returns ``(state without _active, n)``; ``n == 0`` means halted.
    """
    sc = state.sparkSession.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    state, n = _checkpoint_count(state)
    try:
        for i in range(1, rounds + 1):
            if n == 0:
                break
            sc.setJobDescription(f"{algo} superstep {i} active={n}")
            frontier = state.where("_active").drop("_active")
            if _fits_broadcast(frontier, n):
                frontier = F.broadcast(frontier)
            state, n = _checkpoint_count(step(state, frontier))
    finally:
        sc.setJobDescription(caller)
    return state.drop("_active"), n


def _checkpoint_count(state: DataFrame) -> tuple[DataFrame, int]:
    """Lazily checkpointed ``state`` and its number of active rows, in one
    job: counting through the InternalRow RDD needs no exchange and no
    final aggregate stage, and computing it fills the checkpoint."""
    state = _reset_stats(state.localCheckpoint(eager=False))
    n = state.where("_active")._jdf.queryExecution().toRdd().count()
    return state, n


def _fits_broadcast(df: DataFrame, rows: int) -> bool:
    """The planner's own size rule (8 bytes + the default size of every
    column per row) applied to an exact row count."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    limit = conf.autoBroadcastJoinThreshold()
    return 0 <= rows * (8 + df._jdf.schema().defaultSize()) <= limit


def _directed(edges_df: DataFrame, direction: str) -> DataFrame:
    """(src, dst) along ``direction`` ∈ {'out', 'in', 'both'}; 'both' is
    the union of the two (duplicates kept)."""
    fwd = edges_df.select(F.col("startuid").alias("src"),
                          F.col("enduid").alias("dst"))
    rev = edges_df.select(F.col("enduid").alias("src"),
                          F.col("startuid").alias("dst"))
    return {"out": fwd, "in": rev}.get(direction, fwd.unionByName(rev))


def _undirected(edges_df: DataFrame, a: str = "startuid",
                b: str = "enduid") -> DataFrame:
    """Distinct (src, dst) neighbour pairs, both directions."""
    fwd = edges_df.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    return fwd.unionByName(fwd.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst"))).distinct()


def _min_label(algo: str, edges: DataFrame, state: DataFrame, rounds: int,
               msg) -> DataFrame:
    """Min-propagation over ``edges`` (src, dst[, w]) from ``state``
    (uid, v), every vertex of ``state`` active: each superstep an active
    vertex sends ``msg`` (a column over its edge row and its ``v``) to
    its ``dst``, and every vertex keeps the minimum of its value and its
    messages.  Round *i* equals the synchronous all-vertex round *i*: a
    vertex whose value did not change already sent it.  The old value
    rides the min-aggregation, so a changed vertex is flagged without a
    join against the previous state.  Returns (uid, v)."""
    vt = state.schema["v"].dataType

    def step(state, frontier):
        sent = (edges.join(frontier.withColumnRenamed("uid", "src"), "src")
                .select(F.col("dst").alias("uid"), msg.cast(vt).alias("v"),
                        F.lit(None).cast(vt).alias("_old")))
        best = (state.select("uid", "v", F.col("v").alias("_old"))
                .unionByName(sent)
                .groupBy("uid").agg(F.min("v").alias("v"),
                                    F.max("_old").alias("_old")))
        return best.select("uid", "v", (F.col("_old").isNull()
                                        | (F.col("v") < F.col("_old")))
                           .alias("_active"))
    return _supersteps(algo, state.withColumn("_active", F.lit(True)),
                       step, rounds)[0]


def _components(algo: str, edges_df: DataFrame, a: str, b: str,
                max_iter: int, nodes_df: DataFrame | None = None) -> DataFrame:
    """(uid, v) with v = the minimum id in the vertex's component of the
    undirected graph of ``edges_df`` (a, b).  The vertices are
    ``nodes_df``'s uids, or the edge endpoints when it is None.  The
    symmetric edge frame is materialized once, hash-partitioned on the
    join key."""
    sym = _undirected(edges_df, a, b).repartition("src") \
        .localCheckpoint(eager=False)
    uids = (nodes_df if nodes_df is not None
            else sym.select(F.col("src").alias("uid")).distinct())
    return _min_label(algo, sym, uids.select("uid", F.col("uid").alias("v")),
                      max_iter, F.col("v"))


def _bfs(algo: str, edges_df: DataFrame, seed_uids_df: DataFrame,
         max_depth: int, direction: str) -> DataFrame:
    """(uid, dist) — BFS as min-propagation of dist + 1 from the seeds.
    Seeds and edges are materialized once and not repartitioned: the
    frontier is small and broadcasts."""
    step = _directed(edges_df, direction).localCheckpoint(eager=False)
    seeds = seed_uids_df.select("uid").distinct().withColumn("v", F.lit(0))
    return (_min_label(algo, step, seeds, max_depth, F.col("v") + 1)
            .withColumnRenamed("v", "dist"))


def degrees(edges_df: DataFrame, direction: str = "both",
            uid_prefix: str | None = None,
            node_kind: str | None = None,
            endpoint_kinds: dict | None = None) -> DataFrame:
    """(uid, degree) — counting edge *incidences* (a self-loop adds one to
    in and one to out but its edge-uid dedups to a single both-incidence
    per endpoint, matching the reference's union-by-uid counting,
    graphydb.py:1359-1378).

    ``uid_prefix`` restricts output to nodes whose uid starts with it —
    applied BEFORE the dedup/aggregation shuffle (per-node degrees are
    independent, so pre-filtering incidences is exact).  Filtering after
    would shuffle every incidence in the graph to keep a sliver: on the
    sf0.1 fixture that is 2.6M shuffled rows vs 120k for 'Supplier:'.

    ``node_kind`` + ``endpoint_kinds`` (edge kind → (start_kind,
    end_kind), e.g. ``Graph.edge_integrity``) is the stronger form of the
    same pushdown: only edge kinds that can touch the node kind are
    scanned — a literal ``kind IN (…)`` predicate that constant-folds
    away whole branches of a union-of-kinds edge frame, instead of a
    concat-prefix filter that must materialize every edge's uid strings.
    When the frame also carries int key columns (skey/ekey, the
    uid = 'Kind:int' static-encoding contract), the sum keys on int64 and
    uid strings are built once per output node, not once per edge.
    """
    if node_kind is not None and endpoint_kinds:
        return _degrees_by_kind(edges_df, direction, node_kind,
                                endpoint_kinds)

    def pref(df, col):
        return df.where(F.col(col).startswith(uid_prefix)) \
            if uid_prefix else df

    out_d = pref(edges_df, "startuid") \
        .groupBy(F.col("startuid").alias("uid")) \
        .agg(F.count("*").alias("out_degree"))
    in_d = pref(edges_df, "enduid") \
        .groupBy(F.col("enduid").alias("uid")) \
        .agg(F.count("*").alias("in_degree"))
    if direction == "out":
        return out_d.withColumnRenamed("out_degree", "degree")
    if direction == "in":
        return in_d.withColumnRenamed("in_degree", "degree")
    # both = |distinct incident edge uids| per node.  An edge contributes
    # 1 via its start, 1 via its end; a self-loop (start == end) is one
    # incidence, so it gets a single +1.  ONE scan emits per-edge weighted
    # (node, w) pairs via an inline array explode, then a single sum
    # keyed on node uid — map-side combine collapses each partition to
    # its distinct nodes before the exchange, edge uids never enter the
    # shuffle, and the previous dedup shuffle keyed on (edge_uid,
    # node_uid) string pairs disappears entirely.
    s, e = F.col("startuid"), F.col("enduid")
    scan = edges_df
    if uid_prefix:
        scan = scan.where(s.startswith(uid_prefix)
                          | e.startswith(uid_prefix))
    pair = F.when(
        s == e, F.array(F.struct(s.alias("nuid"), F.lit(1).alias("w")))
    ).otherwise(F.array(F.struct(s.alias("nuid"), F.lit(1).alias("w")),
                        F.struct(e.alias("nuid"), F.lit(1).alias("w"))))
    both = scan.select(F.explode(pair).alias("x")).select("x.nuid", "x.w")
    if uid_prefix:
        both = both.where(F.col("nuid").startswith(uid_prefix))
    return both.groupBy(F.col("nuid").alias("uid")) \
               .agg(F.sum("w").cast("long").alias("degree"))


def _degrees_by_kind(edges_df: DataFrame, direction: str, node_kind: str,
                     endpoint_kinds: dict) -> DataFrame:
    """Kind-pruned degree counting (see :func:`degrees`)."""
    int_keys = {"skey", "ekey"} <= set(edges_df.columns)
    sk = sorted(k for k, (s, _) in endpoint_kinds.items() if s == node_kind)
    ek = sorted(k for k, (_, e) in endpoint_kinds.items() if e == node_kind)
    both_k = [k for k in sk if k in ek]

    def side(kinds, uid_col, key_col, w):
        df = edges_df.where(F.col("kind").isin(kinds))
        key = F.col(key_col) if int_keys else F.col(uid_col)
        return df, key, F.lit(w).alias("w")

    parts = []
    if direction in ("out", "both") and sk:
        df, key, w = side(sk, "startuid", "skey", 1)
        parts.append(df.select(key.alias("k"), w))
    if direction in ("in", "both") and ek:
        df, key, w = side(ek, "enduid", "ekey", 1)
        parts.append(df.select(key.alias("k"), w))
    if direction == "both" and both_k:
        # self-loops were counted once per side above but are a single
        # incidence (reference dedups by edge uid, graphydb.py:1367-1373)
        df, key, w = side(both_k, "startuid", "skey", -1)
        parts.append(df.where(F.col("startuid") == F.col("enduid"))
                       .select(key.alias("k"), w))
    if not parts:
        raise ValueError(
            f"No declared edge kind touches node kind {node_kind!r}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    agg = out.groupBy("k").agg(F.sum("w").cast("long").alias("degree"))
    uid = (F.concat(F.lit(node_kind + ":"), F.col("k").cast("string"))
           if int_keys else F.col("k"))
    return agg.select(uid.alias("uid"), "degree")


def connected_components(nodes_df: DataFrame, edges_df: DataFrame,
                         max_iter: int = 20) -> DataFrame:
    """(uid, component) where component = min uid string in the component.

    Min-label propagation over the undirected edge set on the shared
    superstep loop: only vertices whose label changed send it on, and the
    loop halts when none did.  Converges in graph-diameter rounds.
    """
    return (_components("connected_components", edges_df, "startuid",
                        "enduid", max_iter, nodes_df)
            .withColumnRenamed("v", "component"))


def pagerank(nodes_df: DataFrame, edges_df: DataFrame, iters: int = 10,
             damping: float = 0.85) -> DataFrame:
    """(uid, rank) — standard power iteration with dangling-mass
    redistribution; ranks sum to ~N (GraphX convention)."""
    return _power_iteration(
        "pagerank", nodes_df, edges_df, iters, damping, F.lit(1.0),
        lambda dangling, n: 1.0 - damping + damping * dangling / n)


def eigenvector_centrality(edges_undirected: DataFrame,
                           iters: int = 8) -> DataFrame:
    """(uid, score) — eigenvector centrality by UNNORMALIZED power
    iteration over the connected node set, max-normalized once at the
    end.  Skipping per-round normalization removes the per-iteration
    global scalar (a driver sync point) at zero cost: doubles hold the
    growth (λ_max^iters ≲ 1e20 for λ_max ≤ 300, iters = 8) and the
    final ratio is scale-invariant.  Same partitioning-reuse shape as
    pagerank: the edge list is hash-partitioned once; each round
    shuffles only the node-sized score frame.

    ``edges_undirected``: (startuid, enduid) — symmetrized internally.
    """
    fwd = edges_undirected.select(F.col("startuid").alias("uid"),
                                  F.col("enduid").alias("dst"))
    edges = (fwd.unionByName(fwd.select(F.col("dst").alias("uid"),
                                        F.col("uid").alias("dst")))
             .distinct()
             .repartition("uid")
             .localCheckpoint(eager=True))
    x = (edges.select("uid").distinct()
         .withColumn("x", F.lit(1.0))
         .localCheckpoint(eager=True))
    for _ in range(iters):
        x = (edges.join(x, "uid")
             .groupBy(F.col("dst").alias("uid"))
             .agg(F.sum("x").alias("x"))
             .localCheckpoint(eager=True))
    mx = x.agg(F.max("x").alias("mx"))
    return (x.crossJoin(F.broadcast(mx))
            .select("uid", (F.col("x") / F.col("mx")).alias("score")))


def k_hop(edges_df: DataFrame, seed_uids_df: DataFrame, k: int,
          direction: str = "out") -> DataFrame:
    """All uids within k hops of the seed set (BFS frontier expansion;
    see :func:`bfs_distances`)."""
    return _bfs("k_hop", edges_df, seed_uids_df, k, direction).select("uid")


def triangle_count(edges_df: DataFrame,
                   src_col: str = "startuid",
                   dst_col: str = "enduid",
                   broadcast_max_nodes: int = 1_000_000) -> DataFrame:
    """Global triangle count of the undirected simple graph under
    ``edges_df`` → 1-row ``(n_triangles BIGINT)``.

    Algorithm (edge-iterator over a degree-ranked orientation):
    canonicalize each edge to an undirected (lo, hi) pair and dedup;
    rank nodes by (degree, id) and orient every edge low-rank →
    high-rank.  A triangle {a ≺ b ≺ c} then appears as exactly one
    oriented edge pair at its lowest vertex (a→b with c ∈ N⁺(a)∩N⁺(b)),
    so summing |N⁺(src) ∩ N⁺(dst)| over oriented edges counts each
    triangle once.

    Scale design: the orientation bounds every out-adjacency list by
    O(sqrt(m)), so per-row state is bounded and the total work is the
    optimal O(m^1.5) — but crucially the *materialized/shuffled* data
    stays O(m): the quadratic term lives inside the per-row
    array_intersect, never as join output.  (The naive wedge self-join
    materializes the O(m^1.5) candidate stream — measured 16-40 s vs
    2.7 s at sf0.1's 1.2M-edge co-purchase graph.)  The adjacency map
    broadcasts when the graph has ≤ ``broadcast_max_nodes`` sources
    (zero shuffles past that point); larger graphs fall back to two
    shuffle joins whose volume is O(sum deg) = O(m) rows.
    """
    # Materialize the canonical and oriented edge lists ONCE — each is
    # consumed by several downstream plans, and without this Spark
    # recomputes the (potentially expensive) edge derivation per use.
    # The dedup is an explicit-N repartition on the pair key followed by
    # dropDuplicates over the same key: the dedup reuses the repartition
    # exchange (no second shuffle), and the explicit numPartitions is
    # exempt from AQE coalescing — AQE sizes reduce stages by bytes, and
    # a 3.6M-pair stream at 16 B/row looks like "one partition" to it
    # (measured: 8.7 s single-task dedup → 2.5 s this way at sf0.1).
    n_part = edges_df.sparkSession.sparkContext.defaultParallelism * 2
    und = (edges_df
           .select(F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
                   F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"))
           .where(F.col("lo") != F.col("hi"))
           .repartition(n_part, "lo", "hi")
           .dropDuplicates(["lo", "hi"])
           .localCheckpoint(eager=True))
    deg = (und.select(F.col("lo").alias("v"))
           .unionByName(und.select(F.col("hi").alias("v")))
           .groupBy("v").agg(F.count("*").alias("deg"))
           .localCheckpoint(eager=True))
    # node-sized frames (degree table, adjacency map) broadcast when the
    # node count is bounded; the count is free on the checkpointed frame.
    n_nodes = deg.count()
    small_nodes = n_nodes <= broadcast_max_nodes
    deg_b = F.broadcast(deg) if small_nodes else deg
    ranked = und \
        .join(deg_b.withColumnRenamed("v", "lo")
                   .withColumnRenamed("deg", "deg_lo"), "lo") \
        .join(deg_b.withColumnRenamed("v", "hi")
                   .withColumnRenamed("deg", "deg_hi"), "hi")
    lo_first = (F.col("deg_lo") < F.col("deg_hi")) | \
        ((F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi")))
    oriented = ranked.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("src"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("dst")) \
        .localCheckpoint(eager=True)
    adj = (oriented.groupBy("src")
           .agg(F.collect_list("dst").alias("nbrs"))
           .localCheckpoint(eager=True))
    nb_u = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nb_u"))
    nb_v = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nb_v"))
    if small_nodes:
        nb_u, nb_v = F.broadcast(nb_u), F.broadcast(nb_v)
    # Explicit numPartitions again: AQE would size this stage by its
    # (tiny) input bytes, but the intersection work is the m·sqrt(m)
    # term — parallelize for the work, not the bytes.
    return (oriented.repartition(n_part)
            .join(nb_u, F.col("src") == F.col("u"))
            .join(nb_v, F.col("dst") == F.col("v"))
            .select(F.size(F.array_intersect("nb_u", "nb_v")).alias("t"))
            .agg(F.coalesce(F.sum("t"), F.lit(0)).cast("long")
                 .alias("n_triangles")))


def bfs_distances(edges_df: DataFrame, seed_uids_df: DataFrame,
                  max_depth: int = 6, direction: str = "both") -> DataFrame:
    """(uid, dist) — minimum hop count from the seed set, up to
    ``max_depth``.  Frontier expansion on the shared superstep loop:
    each round only the vertices reached in the previous round send, so
    the shuffled volume is the frontier and its messages, never the
    full reach set.
    """
    return _bfs("bfs_distances", edges_df, seed_uids_df, max_depth,
                direction)


def sssp(weighted_edges_df: DataFrame, seed_uids_df: DataFrame,
         max_hops: int = 10) -> DataFrame:
    """(uid, dist) — minimum path cost from the seed set over weighted
    edges ``(src, dst, w)``, restricted to paths of ≤ ``max_hops`` edges
    (Bellman-Ford: iteration *k* holds the exact ≤ *k*-hop minimum, so a
    hop-bounded DuckDB recursive-CTE twin can replay it).

    Min-propagation of ``dist + w`` on the shared superstep loop: each
    round relaxes only the edges leaving vertices whose distance
    improved in the previous round, and the loop halts when a round
    improves nothing.  Negative weights are allowed (it is Bellman-Ford,
    not Dijkstra); without negative cycles the result converges in
    ≤ diameter rounds.
    """
    edges = (weighted_edges_df.select("src", "dst", "w")
             .localCheckpoint(eager=False))
    seeds = (seed_uids_df.select("uid").distinct()
             .withColumn("v", F.lit(0).cast("long")))
    return (_min_label("sssp", edges, seeds, max_hops,
                       F.col("v") + F.col("w"))
            .withColumnRenamed("v", "dist"))


def label_propagation(nodes_df: DataFrame, edges_df: DataFrame,
                      iters: int = 5) -> DataFrame:
    """(uid, label) — synchronous label propagation over the undirected
    edge set, fully deterministic: each round every node adopts its
    neighborhood's most frequent label, ties broken by smallest label
    string (plain LPA is run-order dependent; the tie-break plus
    synchronous rounds makes reruns bit-identical).  Isolated nodes keep
    their own uid as label.

    Per round on the shared superstep loop: one join (edge list
    materialized once, partitioned on the join key) + one (uid,label)
    count + one per-uid argmax aggregate.  Every vertex sends its label
    each round (the argmax needs the whole neighbourhood); the frontier
    is the set of vertices whose label changed, and the loop stops early
    once no label changes — later rounds would repeat it.  ``iters`` ≈
    the diameter of the communities sought.
    """
    sym = _undirected(edges_df).repartition("src") \
        .localCheckpoint(eager=False)

    def step(state, frontier):
        nbr = (sym.join(state.withColumnRenamed("uid", "src"), "src")
               .select(F.col("dst").alias("uid"), "label"))
        # most frequent label, ties to the smallest: min of (-n, label)
        best = (nbr.groupBy("uid", "label").agg(F.count("*").alias("n"))
                .groupBy("uid")
                .agg(F.min(F.struct(-F.col("n"), F.col("label")))
                     .getField("label").alias("_new")))
        new = F.coalesce(F.col("_new"), F.col("uid"))
        return (state.join(best, "uid", "left")
                .select("uid", new.alias("label"),
                        (new != F.col("label")).alias("_active")))
    state = nodes_df.select("uid", F.col("uid").alias("label"),
                            F.lit(True).alias("_active"))
    return _supersteps("label_propagation", state, step, iters)[0]


def k_core(nodes_df: DataFrame, edges_df: DataFrame, k: int,
           max_iter: int = 30) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every member has
    ≥ k neighbors *within the subgraph* — the standard peel loop
    (drop degree<k nodes, recompute, repeat to fixpoint).

    On the shared superstep loop: the vertex state is each node's degree
    among unpeeled neighbours; the frontier is the layer peeled in the
    previous round, whose members send one decrement to each neighbour
    (a join of the edge set with the small, broadcast layer), and the
    loop halts when a round peels nothing.  Total rounds ≤ peel depth
    (≪ node count in practice).  Self-loops count once (a node is not
    its own neighbor twice); parallel edges count once per distinct
    neighbor (degree = distinct neighbors, the standard k-core
    definition).  ``max_iter`` bounds the peel rounds, the check that
    finds nothing left to peel included.
    """
    sym = (_undirected(edges_df).where(F.col("src") != F.col("dst"))
           .localCheckpoint(eager=False))
    deg = F.col("deg")

    def step(state, frontier):
        lost = (sym.join(frontier.select(F.col("uid").alias("src")), "src")
                .groupBy(F.col("dst").alias("uid"))
                .agg(F.count("*").alias("_lost")))
        left = deg - F.coalesce(F.col("_lost"), F.lit(0))
        return (state.join(lost, "uid", "left")
                .select("uid", left.alias("deg"),
                        ((left < k) & (deg >= k)).alias("_active")))
    state = (sym.groupBy(F.col("src").alias("uid"))
             .agg(F.count("*").alias("deg"))
             .withColumn("_active", deg < k))
    state, n = _supersteps("k_core", state, step, max_iter - 1)
    core = state.where(deg >= k).select("uid")
    if n:
        # peel depth can exceed max_iter (e.g. a pendant chain peels a
        # couple of nodes per round); returning silently would hand back
        # a superset of the true k-core.  The last peeled layer has not
        # lowered its neighbours' degrees yet: keep the nodes that still
        # have an unpeeled neighbour.
        import warnings
        warnings.warn(
            f"k_core: peel loop did not reach a fixpoint in {max_iter} "
            "rounds; result is a superset of the true k-core. "
            "Raise max_iter.", RuntimeWarning, stacklevel=2)
        core = (sym.join(core.withColumnRenamed("uid", "src"), "src",
                         "left_semi")
                .join(core.withColumnRenamed("uid", "dst"), "dst",
                      "left_semi")
                .select(F.col("src").alias("uid")).distinct())
    return core.join(nodes_df.select("uid"), "uid", "left_semi")


def transitivity(edges_df: DataFrame, src_col: str = "startuid",
                 dst_col: str = "enduid") -> DataFrame:
    """Global clustering coefficient: 3·triangles / wedges over the
    undirected simple graph → 1 row ``(n_triangles, n_wedges,
    transitivity)``.  Wedges = Σ d(v)·(d(v)−1)/2 — one degree
    aggregation over the canonical edge set; the triangle term reuses
    the degree-ranked edge-iterator (O(m) shuffled bytes).  The ratio
    is computed from exact integers and rounded to 6 dp, so any engine
    reproduces it bit-exactly."""
    lo = F.least(F.col(src_col), F.col(dst_col))
    hi = F.greatest(F.col(src_col), F.col(dst_col))
    canon = (edges_df.where(F.col(src_col) != F.col(dst_col))
             .select(lo.alias("lo"), hi.alias("hi")).distinct())
    deg = (canon.select(F.col("lo").alias("v"))
           .unionByName(canon.select(F.col("hi").alias("v")))
           .groupBy("v").agg(F.count("*").alias("d")))
    wedges = deg.agg(F.sum(F.expr("d * (d - 1) DIV 2"))
                     .cast("long").alias("n_wedges"))
    tri = triangle_count(canon, "lo", "hi")
    return (tri.crossJoin(wedges)
            .select("n_triangles", "n_wedges",
                    F.round(F.lit(3) * F.col("n_triangles")
                            / F.greatest(F.col("n_wedges"), F.lit(1)), 6)
                    .alias("transitivity")))


def hits(edges_df: DataFrame, iters: int = 5,
         src_col: str = "startuid", dst_col: str = "enduid") -> DataFrame:
    """HITS hubs-and-authorities over the directed edge list →
    ``(uid, hub, authority)``.

    Classic synchronous power iteration: auth(v) = Σ hub(u) over
    in-edges, then hub(u) = Σ auth(v) over out-edges, each side
    sum-normalized per round (order-independent up to float summation
    noise — consumers should compare at ≤6 dp, like pagerank).  The
    edge list is materialized once, hash-partitioned on each join key's
    side; per round only the node-sized score frames shuffle.
    """
    edges = (edges_df.select(F.col(src_col).alias("src"),
                             F.col(dst_col).alias("dst"))
             .localCheckpoint(eager=True))
    nodes = (edges.select(F.col("src").alias("uid"))
             .unionByName(edges.select(F.col("dst").alias("uid")))
             .distinct().localCheckpoint(eager=True))
    hub = nodes.withColumn("h", F.lit(1.0))
    auth = nodes.withColumn("a", F.lit(1.0))
    for _ in range(iters):
        a_new = (edges.join(hub.withColumnRenamed("uid", "src"), "src")
                 .groupBy(F.col("dst").alias("uid"))
                 .agg(F.sum("h").alias("a")))
        a_tot = a_new.agg(F.sum("a")).collect()[0][0] or 1.0
        auth = (nodes.join(a_new, "uid", "left")
                .select("uid", (F.coalesce(F.col("a"), F.lit(0.0))
                                / F.lit(float(a_tot))).alias("a"))
                .localCheckpoint(eager=True))
        h_new = (edges.join(auth.withColumnRenamed("uid", "dst"), "dst")
                 .groupBy(F.col("src").alias("uid"))
                 .agg(F.sum("a").alias("h")))
        h_tot = h_new.agg(F.sum("h")).collect()[0][0] or 1.0
        hub = (nodes.join(h_new, "uid", "left")
               .select("uid", (F.coalesce(F.col("h"), F.lit(0.0))
                               / F.lit(float(h_tot))).alias("h"))
               .localCheckpoint(eager=True))
    return (nodes.join(hub, "uid", "left").join(auth, "uid", "left")
            .select("uid", F.coalesce(F.col("h"), F.lit(0.0)).alias("hub"),
                    F.coalesce(F.col("a"), F.lit(0.0)).alias("authority")))


def adamic_adar(edges_df: DataFrame, max_junction_degree: int = 4096,
                src_col: str = "startuid",
                dst_col: str = "enduid") -> DataFrame:
    """Link prediction over a bipartite edge list: for every pair of
    ``src`` nodes sharing ≥1 ``dst`` neighbor, the Adamic-Adar score
    Σ 1/ln(deg(z)) over shared neighbors z (rarer shared neighbors
    weigh more; deg is the junction's src-side degree).

    The wedge self-join rides the junction key, guarded by the same
    quadratic-blowup cap as the other pair-expansion operators
    (``cap_group_size``): junctions above ``max_junction_degree``
    distinct src nodes are excluded before the join.  deg(z) < 2 cannot
    produce a shared pair, so ln is always of ≥2 — no division hazards.
    """
    from .relational import cap_group_size
    e = (edges_df.select(F.col(src_col).alias("s"),
                         F.col(dst_col).alias("z")).distinct())
    e = cap_group_size(e, "z", max_junction_degree)
    deg = e.groupBy("z").agg(F.count("*").alias("d"))
    ew = (e.join(deg.where(F.col("d") >= 2), "z")
          .withColumn("w", F.lit(1.0) / F.log(F.col("d"))))
    a, b = ew.alias("a"), ew.alias("b")
    return (a.join(b, (F.col("a.z") == F.col("b.z"))
                   & (F.col("a.s") < F.col("b.s")))
            .groupBy(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
            .agg(F.round(F.sum(F.col("a.w")), 6).alias("aa_score"),
                 F.count("*").alias("common")))


def personalized_pagerank(nodes_df: DataFrame, edges_df: DataFrame,
                          seed_uids: list[str], iters: int = 5,
                          damping: float = 0.85) -> DataFrame:
    """Personalized PageRank: teleportation returns to the SEED set
    (uniformly) instead of all nodes, so rank mass measures proximity
    to the seeds — the standard recommendation / related-entities
    primitive.  Dangling mass also returns to the seeds.

    Same execution scheme as :func:`pagerank`; only vertices holding
    rank send it, so early rounds touch the seeds' neighbourhood only.
    Ranks sum to ~1.
    """
    seeds = set(seed_uids)
    share = F.when(F.col("uid").isin(list(seeds)),
                   F.lit(1.0 / (len(seeds) or 1))).otherwise(F.lit(0.0))
    return _power_iteration(
        "personalized_pagerank", nodes_df, edges_df, iters, damping, share,
        lambda dangling, n: (1.0 - damping) + damping * dangling)


def _power_iteration(algo: str, nodes_df: DataFrame, edges_df: DataFrame,
                     iters: int, damping: float, share, teleport) -> DataFrame:
    """(uid, rank): ``rank' = share · teleport(dangling, n) + damping ·
    Σ rank/deg`` over in-edges, starting from ``rank = share``.

    The vertex frame (uid, out-degree, teleport share) is materialized
    once, partitioned like the edge list, which is hash-partitioned on
    the source: each round joins the edges with the active (rank > 0)
    vertices and the vertex frame with the summed contributions, and the
    dangling mass is read from the checkpointed ranks.
    """
    edges = (edges_df.select(F.col("startuid").alias("uid"),
                             F.col("enduid").alias("dst"))
             .repartition("uid").localCheckpoint(eager=False))
    out_deg = edges.groupBy("uid").agg(F.count("*").alias("deg"))
    vertices = (nodes_df.select("uid").join(out_deg, "uid", "left")
                .select("uid", F.coalesce("deg", F.lit(0)).alias("deg"),
                        share.alias("share"))
                .localCheckpoint(eager=False))

    def step(state, frontier):
        n, dangling = state.agg(
            F.count("*"), F.coalesce(F.sum(F.when(F.col("deg") == 0,
                                                  F.col("rank"))),
                                     F.lit(0.0))).first()
        incoming = (edges.join(frontier.where(F.col("deg") > 0), "uid")
                    .select(F.col("dst").alias("uid"),
                            (F.col("rank") / F.col("deg")).alias("c"))
                    .groupBy("uid").agg(F.sum("c").alias("inc")))
        rank = (F.col("share") * F.lit(teleport(dangling, n))
                + F.lit(damping) * F.coalesce(F.col("inc"), F.lit(0.0)))
        return (vertices.join(incoming, "uid", "left")
                .select("uid", "deg", "share", rank.alias("rank"))
                .withColumn("_active", F.col("rank") > 0))
    state = vertices.select("uid", "deg", "share",
                            F.col("share").alias("rank"),
                            (F.col("share") > 0).alias("_active"))
    return _supersteps(algo, state, step, iters)[0].select("uid", "rank")


def bfs_paths(edges_df: DataFrame, seed_uids_df: DataFrame,
              max_depth: int = 6, direction: str = "out") -> DataFrame:
    """(uid, dist, path) — one shortest path from the seed set per
    reached node, reconstructed as an array of uids (seed … node).

    Deterministic: among equal-length paths the MIN-uid predecessor
    wins at every hop, so any engine reproduces the same path.  Same
    frontier/anti-join scheme as bfs_distances; the frontier carries
    its path array, so per-round shuffle is frontier-sized × path
    length (bounded by max_depth — at 100 TB keep max_depth small or
    carry only the predecessor and reconstruct on demand).
    """
    step = _directed(edges_df, direction).repartition("src").localCheckpoint(eager=True)
    visited = (seed_uids_df.select("uid").distinct()
               .withColumn("dist", F.lit(0))
               .withColumn("path", F.array(F.col("uid"))))
    frontier = visited.select("uid", "path")
    for d in range(1, max_depth + 1):
        # deterministic parent choice: lexicographically smallest
        # (parent-path ‖ parent-uid) among same-depth predecessors
        nxt = (step.join(frontier.withColumnRenamed("uid", "src"), "src")
               .select(F.col("dst").alias("uid"),
                       F.concat(F.col("path"),
                                F.array(F.col("dst"))).alias("path"))
               .join(visited.select("uid"), "uid", "left_anti")
               .groupBy("uid").agg(F.min("path").alias("path"))
               .localCheckpoint(eager=True))
        if nxt.limit(1).count() == 0:
            break
        visited = (visited.unionByName(
            nxt.withColumn("dist", F.lit(d)).select("uid", "dist", "path"))
            .localCheckpoint(eager=True))
        frontier = nxt.select("uid", "path")
    return visited


def random_walks(edges_df: DataFrame, start_uids_df: DataFrame,
                 walk_len: int = 4, walks_per_node: int = 2,
                 symmetrize: bool = True, seed: str = "w") -> DataFrame:
    """Deterministic uniform random walks (the DeepWalk/node2vec corpus
    generator, Perozzi et al. 2014): ``walks_per_node`` walks of
    ``walk_len`` steps from every start node, returned as
    ``(walk_id, path)`` with the path '>'-joined.

    "Random" is a seeded hash: step t of walk w picks neighbor index
    ``md5-hash60(seed:walk_id:t) mod degree`` over the *sorted distinct*
    neighbor list — fully reproducible across runs, partitionings and
    engines (a SQL oracle replays the identical walks), which is what a
    training pipeline needs for resumable embedding corpus generation.

    Shape: adjacency lists build once (one groupBy, checkpointed and
    reused every step); each step is ONE equi-join frontier⋈adjacency +
    an O(1) element_at pick — no per-step fan-out by degree, shuffled
    bytes are walks × (path so far).  Walks at isolated nodes stay put
    (path stops growing).  ``symmetrize`` unions the reversed edges
    first (walks on the undirected graph, the DeepWalk default).
    """
    from .text import hash60
    e = edges_df.select(F.col("startuid").alias("src"),
                        F.col("enduid").alias("dst"))
    if symmetrize:
        e = e.unionByName(e.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    adj = (e.distinct().groupBy("src")
           .agg(F.array_sort(F.collect_set("dst")).alias("nbrs"))
           .localCheckpoint(eager=True))
    walks = (start_uids_df.select("uid")
             .select(F.col("uid").alias("cur"),
                     F.explode(F.sequence(
                         F.lit(0), F.lit(walks_per_node - 1))).alias("__w"))
             .select(F.concat_ws("#", "cur", "__w").alias("walk_id"),
                     "cur", F.col("cur").alias("path")))
    for t in range(1, walk_len + 1):
        h = hash60(F.concat_ws(":", F.lit(seed), F.col("walk_id"),
                               F.lit(str(t))))
        nxt = F.when(
            F.coalesce(F.size("nbrs"), F.lit(0)) > 0,
            F.element_at("nbrs", (F.pmod(h, F.size("nbrs")) + 1)
                         .cast("int")))
        walks = (walks.join(adj, walks["cur"] == adj["src"], "left")
                 .withColumn("__nxt", nxt)
                 .select("walk_id",
                         F.coalesce("__nxt", "cur").alias("cur"),
                         F.when(F.col("__nxt").isNull(), F.col("path"))
                         .otherwise(F.concat_ws(">", "path", "__nxt"))
                         .alias("path"))
                 .localCheckpoint(eager=True))
    return walks.select("walk_id", "path")


def dag_layers(edges_df: DataFrame, max_iter: int = 32) -> DataFrame:
    """Topological layering of a DAG: ``layer(v)`` = length of the
    longest directed path ending at ``v`` (sources sit at layer 0) —
    the dependency-scheduling / critical-path primitive.

    Bellman-Ford-shaped iteration on negated lengths: each round joins
    the current layer frame to the edge list and max-aggregates
    ``layer(src) + 1`` into the destinations; converges in
    graph-depth rounds (a (count, sum) fingerprint detects the
    fixpoint — layers only grow, so the pair is stationary iff nothing
    changed).  Warns and stops after ``max_iter`` rounds — a cycle
    would otherwise run forever (layers are only defined on DAGs).

    Scale: the edge list is partitioned once on ``src`` and reused
    every round; per round only the node-sized layer frame shuffles.
    Local/mid-scale note: per-round frames are row-heavy but
    byte-light, so AQE's byte-based coalescing can starve the rounds
    of tasks under the default 64 MB advisory — set
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` to a few MB
    for iterative graph work (measured 4× on a 1M-edge DAG; the same
    lesson as the triangle pair stages in BASELINE.md).
    """
    step = (edges_df.select(F.col("startuid").alias("src"),
                            F.col("enduid").alias("dst"))
            .distinct().repartition("src").localCheckpoint(eager=True))
    # explicit parallelism for the per-round joins: AQE sizes stages by
    # shuffled BYTES, but the compute here is row-proportional — a 1M-
    # node layer frame compresses to ~40 MB and would coalesce onto 1-2
    # tasks (the pair-explosion lesson from BASELINE.md, same cause)
    np = max(step.rdd.getNumPartitions(),
             edges_df.sparkSession.sparkContext.defaultParallelism)
    nodes = (step.select(F.col("src").alias("uid"))
             .unionByName(step.select(F.col("dst").alias("uid")))
             .distinct())
    layers = (nodes.withColumn("layer", F.lit(0).cast("long"))
              .repartition(np, "uid").localCheckpoint(eager=True))
    prev_fp = None
    for i in range(max_iter):
        inc = (step.join(layers.withColumnRenamed("uid", "src")
                         .withColumnRenamed("layer", "__sl"), "src")
               .groupBy(F.col("dst").alias("uid"))
               .agg((F.max("__sl") + 1).alias("__cand")))
        layers = (layers.join(inc, "uid", "left")
                  .select("uid",
                          F.greatest("layer", F.coalesce("__cand",
                                                         F.lit(0)))
                          .alias("layer"))
                  .repartition(np, "uid")
                  .localCheckpoint(eager=True))
        fp = layers.agg(F.count(F.lit(1)).cast("long"),
                        F.sum("layer").cast("long")).collect()[0]
        fp = (fp[0], fp[1])
        if fp == prev_fp:
            return layers
        prev_fp = fp
    import warnings
    warnings.warn(f"dag_layers did not converge in {max_iter} rounds — "
                  "the graph likely contains a cycle; returning the "
                  "partial layering", RuntimeWarning, stacklevel=2)
    return layers


def strongly_connected_components(edges_df: DataFrame,
                                  max_outer: int = 30,
                                  max_inner: int = 100) -> DataFrame:
    """SCC decomposition of a directed graph → ``(uid, scc)`` where
    ``scc`` is the minimum uid in the component (canonical, so any
    correct algorithm — or a SQL transitive-closure spec — produces
    the identical output).

    The coloring algorithm (Orzan / Slota et al.'s multistep shape —
    the practical distributed SCC, since Tarjan's stack is inherently
    sequential): per outer round, propagate the maximum uid forward to
    a fixpoint (``color(v)`` = max uid that can reach v); every color
    root (``color(r) = r``) anchors one SCC, which is exactly the set
    of vertices with color r that reach r — collected by a backward
    BFS from the roots *restricted to their own color class*.  Found
    components retire, the induced subgraph shrinks, repeat.

    Scale shape: edge frames are (re-)checkpointed per outer round and
    partitioned on the join key; every propagation/BFS step shuffles
    only node-sized frames.  Rounds are bounded by the condensation
    depth (outer) × graph diameter (inner).  As with
    :func:`dag_layers`, lower the AQE advisory partition size for
    byte-light/row-heavy graphs so rounds keep their task width.
    """
    base = (edges_df.select(F.col("startuid").alias("src"),
                            F.col("enduid").alias("dst"))
            .where(F.col("src") != F.col("dst")).distinct()
            .localCheckpoint(eager=True))
    remaining = (base.select(F.col("src").alias("uid"))
                 .unionByName(base.select(F.col("dst").alias("uid")))
                 .unionByName(edges_df.where(
                     F.col("startuid") == F.col("enduid"))
                     .select(F.col("startuid").alias("uid")))
                 .distinct().localCheckpoint(eager=True))
    empty = edges_df.sparkSession.createDataFrame(
        [], "uid string, scc string")
    assigned = None
    # explicit per-round parallelism: the node-sized frames compress to
    # a few MB, so AQE would coalesce the row-proportional join work
    # onto 1-2 tasks (cf. the same fix in dag_layers / BASELINE.md)
    np = max(base.rdd.getNumPartitions(),
             edges_df.sparkSession.sparkContext.defaultParallelism)
    for _ in range(max_outer):
        if remaining.limit(1).count() == 0:
            return assigned if assigned is not None else empty
        er = (base.join(remaining.withColumnRenamed("uid", "src"), "src")
              .join(remaining.withColumnRenamed("uid", "dst"), "dst")
              .select("src", "dst").repartition(np, "src")
              .localCheckpoint(eager=True))
        # forward max-label propagation to fixpoint
        color = remaining.withColumn("c", F.col("uid")) \
            .repartition(np, "uid").localCheckpoint(eager=True)
        for _i in range(max_inner):
            inc = (er.join(color.select(F.col("uid").alias("src"),
                                        F.col("c").alias("__in")), "src")
                   .groupBy(F.col("dst").alias("uid"))
                   .agg(F.max("__in").alias("__m")))
            nxt = (color.join(inc, "uid", "left")
                   .select("uid", F.greatest("c", F.coalesce(
                       "__m", F.col("c"))).alias("c"))
                   .repartition(np, "uid")
                   .localCheckpoint(eager=True))
            changed = (nxt.join(color.withColumnRenamed("c", "__old"),
                                "uid")
                       .where(F.col("c") != F.col("__old"))
                       .limit(1).count())
            color = nxt
            if changed == 0:
                break
        else:
            # an unconverged coloring would mint FALSE roots and split
            # real SCCs — wrong output, so fail loudly instead
            raise RuntimeError(
                f"scc color propagation did not converge in {max_inner} "
                "rounds (graph diameter exceeds max_inner) — raise "
                "max_inner")
        # backward BFS from the color roots inside their color class
        roots = color.where(F.col("c") == F.col("uid")) \
            .select("uid", F.col("c").alias("root"))
        reach = roots.select("uid", "root").localCheckpoint(eager=True)
        frontier = reach
        for _i in range(max_inner):
            step = (er.join(frontier.select(F.col("uid").alias("dst"),
                                            "root"), "dst")
                    .select(F.col("src").alias("uid"), "root")
                    .join(color, "uid")
                    .where(F.col("c") == F.col("root")).drop("c")
                    .distinct()
                    .join(reach.select("uid"), "uid", "left_anti")
                    .localCheckpoint(eager=True))
            if step.limit(1).count() == 0:
                break
            reach = reach.unionByName(step).localCheckpoint(eager=True)
            frontier = step
        else:
            raise RuntimeError(
                f"scc backward reach did not converge in {max_inner} "
                "rounds — raise max_inner")
        comp_min = reach.groupBy("root").agg(F.min("uid").alias("scc"))
        found = (reach.join(comp_min, "root").select("uid", "scc")
                 .localCheckpoint(eager=True))
        assigned = found if assigned is None else \
            assigned.unionByName(found).localCheckpoint(eager=True)
        remaining = (remaining.join(found.select("uid"), "uid",
                                    "left_anti")
                     .localCheckpoint(eager=True))
    import warnings
    warnings.warn(f"scc did not finish in {max_outer} outer rounds; "
                  "returning the partial assignment", RuntimeWarning,
                  stacklevel=2)
    return assigned


def negative_samples(edges_df: DataFrame, k: int = 5,
                     seed: str = "neg") -> DataFrame:
    """Deterministic negative sampling for link-prediction / embedding
    training: up to ``k`` non-edge pairs per node, chosen by seeded
    hash over a canonical node indexing (row_number over sorted uids)
    and then anti-joined against the real edges in both orientations —
    candidates that happen to hit a true edge (or a self-pair) drop,
    the standard over-generate-and-filter contract.

    Reproducible across runs/partitionings/engines (a SQL oracle
    replays the identical picks).  Scale: one sort-shuffle builds the
    node index; candidates are k per node (never quadratic); the
    anti-join is a plain equi-join on the pair.
    """
    from pyspark.sql import Window as W

    from .text import hash60
    e = edges_df.select(F.col("startuid").alias("src"),
                        F.col("enduid").alias("dst"))
    nodes = (e.select(F.col("src").alias("uid"))
             .unionByName(e.select(F.col("dst").alias("uid")))
             .distinct())
    idx = (nodes.withColumn(
        "__i", F.row_number().over(W.orderBy("uid")) - 1)
        .localCheckpoint(eager=True))
    n = idx.count()
    cand = (idx.select(F.col("uid").alias("src"), "__i")
            .withColumn("__k", F.explode(F.sequence(
                F.lit(0), F.lit(k - 1))))
            .withColumn("__pick", F.pmod(
                hash60(F.concat_ws(":", F.lit(seed), F.col("src"),
                                   F.col("__k"))), F.lit(n))))
    cand = (cand.join(idx.select(F.col("uid").alias("dst"),
                                 F.col("__i").alias("__pick")), "__pick")
            .where(F.col("src") != F.col("dst"))
            .select("src", "dst").distinct())
    sym = e.unionByName(e.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
    return cand.join(sym, ["src", "dst"], "left_anti")


def reciprocity(edges_df: DataFrame) -> DataFrame:
    """Graph reciprocity: the fraction of directed (non-loop, distinct)
    edges whose reverse edge also exists — a 1-row frame
    ``(n_edges, n_reciprocated, reciprocity)``.  One self-semi-join on
    the swapped pair + two counts; the ratio is exact-integer division
    rounded to 6 dp."""
    e = (edges_df.select(F.col("startuid").alias("src"),
                         F.col("enduid").alias("dst"))
         .where(F.col("src") != F.col("dst")).distinct())
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    rec = e.join(rev, ["src", "dst"], "left_semi")
    return (e.agg(F.count("*").alias("n_edges"))
            .crossJoin(rec.agg(F.count("*").alias("n_reciprocated")))
            .select("n_edges", "n_reciprocated",
                    F.round(F.col("n_reciprocated") / F.col("n_edges"),
                            6).alias("reciprocity")))


def k_truss(edges_df: DataFrame, k: int, max_iter: int = 30) -> DataFrame:
    """Edges of the k-truss: the maximal subgraph where every edge
    participates in ≥ k-2 triangles — the cohesive-subgraph detector
    that is stricter than k-core (communities keep, hubs-with-spokes
    drop).  Returns canonical undirected edges ``(a, b)`` with a < b.

    The standard peel loop: per round, count per-edge triangle support
    with one wedge join + one confirm join (the same degree-ordered
    shape as triangle counting), drop under-supported edges, repeat to
    the fixpoint.  The edge frame shrinks monotonically, so per-round
    cost falls; warns if ``max_iter`` rounds don't reach the fixpoint
    (result would be a superset).
    """
    e = (edges_df.select(
        F.least("startuid", "enduid").alias("a"),
        F.greatest("startuid", "enduid").alias("b"))
        .where(F.col("a") < F.col("b")).distinct()
        .localCheckpoint(eager=True))
    converged = False
    prev_n = e.count()
    for _ in range(max_iter):
        ab = e.select(F.col("a").alias("x"), F.col("b").alias("y1"))
        ac = e.select(F.col("a").alias("x"), F.col("b").alias("y2"))
        tri = (ab.join(ac, "x").where(F.col("y1") < F.col("y2"))
               .join(e.select(F.col("a").alias("y1"),
                              F.col("b").alias("y2")), ["y1", "y2"])
               .select(F.col("x").alias("ta"), F.col("y1").alias("tb"),
                       F.col("y2").alias("tc")))
        sup = (tri.select(F.col("ta").alias("a"), F.col("tb").alias("b"))
               .unionByName(tri.select(F.col("ta").alias("a"),
                                       F.col("tc").alias("b")))
               .unionByName(tri.select(F.col("tb").alias("a"),
                                       F.col("tc").alias("b")))
               .groupBy("a", "b").agg(F.count("*").alias("s")))
        nxt = (e.join(sup, ["a", "b"], "left")
               .where(F.coalesce("s", F.lit(0)) >= k - 2)
               .select("a", "b").localCheckpoint(eager=True))
        n = nxt.count()
        converged = n == prev_n          # reuse last round's count
        prev_n = n
        e = nxt
        if converged:
            break
    if not converged:
        import warnings
        warnings.warn(
            f"k_truss: peel loop did not reach a fixpoint in "
            f"{max_iter} rounds; result is a superset. Raise max_iter.",
            RuntimeWarning, stacklevel=2)
    return e


def closeness_centrality(edges_df: DataFrame, sources_df: DataFrame,
                         max_depth: int = 4,
                         direction: str = "both") -> DataFrame:
    """Closeness + harmonic centrality for a pinned source set via
    MULTI-SOURCE labeled BFS: one frontier frame keyed by
    ``(source, uid)`` expands all sources simultaneously, so k sources
    cost the same number of Spark rounds as one (k rides the key, not
    the loop).  This is the standard scale recipe for centrality over
    huge graphs: exact values for a sampled/pinned source set rather
    than an all-pairs O(V·E) sweep (Brandes-style sampling — Eppstein
    & Wang 2004 — applied to closeness).

    Returns one row per source: ``reached`` (nodes within
    ``max_depth``, excluding the source), ``sum_dist`` (exact integer),
    ``closeness`` = reached / sum_dist (one IEEE division — engine
    portable), and ``harmonic`` = Σ count_d / d computed as an exact
    integer sum scaled by lcm(1..max_depth) followed by ONE double
    division — associative and cross-engine exact (no float
    accumulation order anywhere).

    Every round shuffles only the new frontier (anti-join against the
    per-source visited set); the edge list is repartitioned on ``src``
    once and checkpointed, so each expansion is a single co-located
    join at scale.
    """
    step = _directed(edges_df, direction).distinct().repartition("src").localCheckpoint(eager=True)
    visited = (sources_df.select(F.col("uid").alias("source")).distinct()
               .select("source", F.col("source").alias("uid"),
                       F.lit(0).alias("dist")))
    frontier = visited.select("source", "uid")
    for d in range(1, max_depth + 1):
        nxt = (step.join(frontier.withColumnRenamed("uid", "src"), "src")
               .select("source", F.col("dst").alias("uid")).distinct()
               .join(visited.select("source", "uid"),
                     ["source", "uid"], "left_anti")
               .localCheckpoint(eager=True))
        if nxt.limit(1).count() == 0:
            break
        visited = (visited.unionByName(
            nxt.withColumn("dist", F.lit(d))).localCheckpoint(eager=True))
        frontier = nxt
    lcm = 1
    for d in range(2, max_depth + 1):
        lcm = lcm * d // math.gcd(lcm, d)
    per_d = (visited.where(F.col("dist") > 0)
             .groupBy("source", "dist").agg(F.count("*").alias("c")))
    return (per_d.groupBy("source")
            .agg(F.sum("c").cast("long").alias("reached"),
                 F.sum(F.col("c") * F.col("dist")).cast("long")
                  .alias("sum_dist"),
                 F.sum(F.col("c") * (F.lit(lcm) / F.col("dist"))
                       .cast("long")).cast("long").alias("_h"))
            .select("source", "reached", "sum_dist",
                    F.round(F.col("reached") / F.col("sum_dist"), 6)
                     .alias("closeness"),
                    F.round(F.col("_h") / F.lit(float(lcm)), 6)
                     .alias("harmonic")))


def local_clustering(edges_df: DataFrame,
                     src_col: str = "startuid",
                     dst_col: str = "enduid",
                     broadcast_max_nodes: int = 1_000_000) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient
    ``lcc = 2*tri / (deg*(deg-1))`` over the undirected simple graph —
    the node-resolved refinement of :func:`triangle_count` (same
    degree-ranked orientation, same O(m^1.5) compute bound).

    Each oriented edge (u ≺ v) finds its common out-neighbors C =
    N+(u) ∩ N+(v); every w ∈ C closes exactly one triangle {u,v,w},
    credited once to each endpoint: u and v get |C| via two narrow
    columns, w via one explode whose volume is the true triangle count
    (never the wedge stream).  The division is one integer-fed IEEE op,
    so the coefficient is engine-portable.
    """
    n_part = edges_df.sparkSession.sparkContext.defaultParallelism * 2
    und = (edges_df
           .select(F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
                   F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"))
           .where(F.col("lo") != F.col("hi"))
           .repartition(n_part, "lo", "hi")
           .dropDuplicates(["lo", "hi"])
           .localCheckpoint(eager=True))
    deg = (und.select(F.col("lo").alias("v"))
           .unionByName(und.select(F.col("hi").alias("v")))
           .groupBy("v").agg(F.count("*").alias("deg"))
           .localCheckpoint(eager=True))
    n_nodes = deg.count()
    small = n_nodes <= broadcast_max_nodes
    deg_b = F.broadcast(deg) if small else deg
    ranked = und \
        .join(deg_b.withColumnRenamed("v", "lo")
                   .withColumnRenamed("deg", "deg_lo"), "lo") \
        .join(deg_b.withColumnRenamed("v", "hi")
                   .withColumnRenamed("deg", "deg_hi"), "hi")
    lo_first = (F.col("deg_lo") < F.col("deg_hi")) | \
        ((F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi")))
    oriented = ranked.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("src"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("dst")) \
        .localCheckpoint(eager=True)
    adj = (oriented.groupBy("src")
           .agg(F.collect_list("dst").alias("nbrs"))
           .localCheckpoint(eager=True))
    nb_u = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nb_u"))
    nb_v = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nb_v"))
    if small:
        nb_u, nb_v = F.broadcast(nb_u), F.broadcast(nb_v)
    closed = (oriented.repartition(n_part)
              .join(nb_u, F.col("src") == F.col("u"))
              .join(nb_v, F.col("dst") == F.col("v"))
              .select("src", "dst",
                      F.array_intersect("nb_u", "nb_v").alias("c"))
              .where(F.size("c") > 0)
              .localCheckpoint(eager=True))
    per_node = (closed.select(F.col("src").alias("v"),
                              F.size("c").alias("t"))
                .unionByName(closed.select(F.col("dst").alias("v"),
                                           F.size("c").alias("t")))
                .unionByName(closed.select(F.explode("c").alias("v"),
                                           F.lit(1).alias("t")))
                .groupBy("v").agg(F.sum("t").cast("long").alias("tri")))
    return (deg.join(per_node, "v", "left")
            .where(F.col("deg") >= 2)
            .select(F.col("v"),
                    F.col("deg"),
                    F.coalesce(F.col("tri"), F.lit(0)).cast("long")
                     .alias("tri"),
                    F.round(2.0 * F.coalesce(F.col("tri"), F.lit(0))
                            / (F.col("deg") * (F.col("deg") - 1)), 6)
                     .alias("lcc")))


def betweenness_sampled(edges_df: DataFrame, sources_df: DataFrame,
                        max_depth: int = 3,
                        direction: str = "both") -> DataFrame:
    """Source-sampled betweenness centrality (Brandes' dependency
    accumulation — Brandes 2001; sampling per Eppstein-Wang / Bader
    et al.): exact path-count forward BFS + backward dependency sweep
    for a pinned source set, truncated at ``max_depth`` — the standard
    way betweenness is computed on graphs too large for the O(V·E)
    full sweep.

    Forward: one (source, uid)-keyed frontier carries sigma (the exact
    integer shortest-path count, summed over predecessors); k sources
    ride the key, not the loop.  The shortest-path DAG is recovered
    with one edge join (BFS levels are consecutive, so ``dist_w =
    dist_v + 1`` identifies DAG edges).  Backward: depth layers sweep
    deepest-first; each dependency term ``sigma_v/sigma_w * (1 +
    delta_w)`` is rounded to 9 dp and accumulated in DECIMAL so the
    layer sums are associative — bit-stable across partitionings and
    engines (the SQL oracle replays the same ladder).

    Rounds: max_depth forward + max_depth backward, each a keyed
    join + aggregation over frontier/layer-sized frames only.
    """
    step = _directed(edges_df, direction).distinct().repartition("src").localCheckpoint(eager=True)
    cur = (sources_df.select(F.col("uid").alias("source")).distinct()
           .select("source", F.col("source").alias("uid"),
                   F.lit(0).alias("dist"),
                   F.lit(1).cast("long").alias("sigma"))
           .localCheckpoint(eager=True))
    layers = {0: cur}
    visited = cur.select("source", "uid")
    for d in range(1, max_depth + 1):
        nxt = (step.join(cur.select("source",
                                    F.col("uid").alias("src"), "sigma"),
                         "src")
               .select("source", F.col("dst").alias("uid"), "sigma")
               .join(visited, ["source", "uid"], "left_anti")
               .groupBy("source", "uid")
               .agg(F.sum("sigma").cast("long").alias("sigma"))
               .withColumn("dist", F.lit(d))
               .localCheckpoint(eager=True))
        if nxt.limit(1).count() == 0:
            break
        layers[d] = nxt
        visited = (visited.unionByName(nxt.select("source", "uid"))
                   .localCheckpoint(eager=True))
        cur = nxt
    maxd = max(layers)
    all_v = layers[0]
    for d in range(1, maxd + 1):
        all_v = all_v.unionByName(layers[d])
    # shortest-path DAG edges: (v at dist) -> (w at dist+1)
    sp = (all_v.select("source", F.col("uid").alias("v"),
                       F.col("dist").alias("dv"),
                       F.col("sigma").alias("sv"))
          .join(step.withColumnRenamed("src", "v"), "v")
          .join(all_v.select("source", F.col("uid").alias("dst"),
                             F.col("dist").alias("dw"),
                             F.col("sigma").alias("sw")),
                ["source", "dst"])
          .where(F.col("dw") == F.col("dv") + 1)
          .select("source", "v", F.col("dst").alias("w"),
                  "dv", "sv", "sw")
          .localCheckpoint(eager=True))
    # backward dependency sweep, deepest layer first
    deltas = {maxd: layers[maxd].select(
        "source", "uid", F.lit(0).cast("decimal(28,9)").alias("delta"))}
    for d in range(maxd - 1, -1, -1):
        dw = deltas[d + 1].select("source",
                                  F.col("uid").alias("w"),
                                  F.col("delta").alias("delta_w"))
        term = F.round(
            (F.col("sv").cast("double") / F.col("sw"))
            * (F.lit(1.0) + F.coalesce(F.col("delta_w"), F.lit(0))
               .cast("double")), 9).cast("decimal(18,9)")
        acc = (sp.where(F.col("dv") == d)
               .join(dw, ["source", "w"], "left")
               .groupBy("source", F.col("v").alias("uid"))
               .agg(F.sum(term).cast("decimal(28,9)").alias("delta")))
        deltas[d] = (layers[d].select("source", "uid")
                     .join(acc, ["source", "uid"], "left")
                     .select("source", "uid",
                             F.coalesce(F.col("delta"),
                                        F.lit(0).cast("decimal(28,9)"))
                             .alias("delta"))
                     .localCheckpoint(eager=True))
    contrib = deltas[1] if 1 in deltas else None
    for d in range(2, maxd + 1):
        contrib = contrib.unionByName(deltas[d])
    return (contrib.groupBy("uid")
            .agg(F.sum("delta").cast("decimal(38,9)").alias("_b"))
            .select("uid", F.round(F.col("_b").cast("double"), 6)
                    .alias("betweenness")))


def hits_integer(edges_df: DataFrame, iters: int = 2,
                 src_col: str = "startuid",
                 dst_col: str = "enduid") -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) — UNNORMALIZED power
    iteration from the all-ones vector, which keeps every score an
    exact INTEGER (h = A a, a = A^T h over integer vectors).  Rankings
    are identical to the normalized variant at the same iteration
    count (per-iteration normalization is a uniform scale), and
    integer scores make the result bit-portable with a plain SQL
    replay — no float accumulation anywhere.

    Returns ``(uid, hub, authority)`` (longs; nodes missing a side
    score 0).  Each iteration is two keyed join+sum shuffles over the
    edge frame, which is hash-partitioned once and checkpointed.
    """
    edges = (edges_df.select(F.col(src_col).alias("s"),
                             F.col(dst_col).alias("d"))
             .distinct().repartition("s").localCheckpoint(eager=True))
    auth = (edges.select(F.col("d").alias("uid")).distinct()
            .withColumn("a", F.lit(1).cast("long")))
    hub = None
    for _ in range(iters):
        hub = (edges.join(auth.select(F.col("uid").alias("d"), "a"), "d")
               .groupBy(F.col("s").alias("uid"))
               .agg(F.sum("a").cast("long").alias("h"))
               .localCheckpoint(eager=True))
        auth = (edges.join(hub.select(F.col("uid").alias("s"), "h"), "s")
                .groupBy(F.col("d").alias("uid"))
                .agg(F.sum("h").cast("long").alias("a"))
                .localCheckpoint(eager=True))
    return (hub.join(auth, "uid", "full")
            .select("uid",
                    F.coalesce(F.col("h"), F.lit(0)).cast("long")
                    .alias("hub"),
                    F.coalesce(F.col("a"), F.lit(0)).cast("long")
                    .alias("authority")))


def katz_walks(edges_df: DataFrame, iters: int = 3, beta_inv: int = 8,
               src_col: str = "startuid",
               dst_col: str = "enduid") -> DataFrame:
    """Katz centrality with attenuation ``alpha = 1/beta_inv``
    truncated at ``iters`` walk lengths, SCALED to an exact integer:
    ``katz_scaled(v) = sum_k beta_inv^(iters-k) * walks_k(v)`` where
    ``walks_k(v)`` counts length-k walks ending at v (w_k = A^T
    w_{k-1} over integer vectors).  Dividing by beta_inv^iters gives
    the usual truncated Katz score; keeping the integer avoids every
    cross-engine float question.  One keyed join+sum per length."""
    edges = (edges_df.select(F.col(src_col).alias("s"),
                             F.col(dst_col).alias("d"))
             .repartition("s").localCheckpoint(eager=True))
    nodes = (edges.select(F.col("s").alias("uid"))
             .unionByName(edges.select(F.col("d").alias("uid")))
             .distinct().localCheckpoint(eager=True))
    w = nodes.withColumn("w", F.lit(1).cast("long"))
    total = nodes.withColumn("k", F.lit(0).cast("long"))
    for k in range(1, iters + 1):
        w = (edges.join(w.select(F.col("uid").alias("s"), "w"), "s")
             .groupBy(F.col("d").alias("uid"))
             .agg(F.sum("w").cast("long").alias("w"))
             .localCheckpoint(eager=True))
        scale = beta_inv ** (iters - k)
        total = (total.join(w, "uid", "left")
                 .select("uid",
                         (F.col("k") + F.lit(scale)
                          * F.coalesce(F.col("w"), F.lit(0)))
                         .cast("long").alias("k"))
                 .localCheckpoint(eager=True))
    return total.select("uid", F.col("k").alias("katz_scaled"))


def maximal_independent_set(edges_df: DataFrame, rounds: int = 6,
                            salt: str = "mis",
                            src_col: str = "startuid",
                            dst_col: str = "enduid") -> DataFrame:
    """Luby's maximal-independent-set algorithm (Luby 1986) with
    DETERMINISTIC hash priorities: each round, every alive node whose
    md5-derived priority is a strict local minimum among alive
    neighbors joins the set; winners and their neighbors leave the
    graph.  O(log n) expected rounds; ``rounds`` fixes the replay
    horizon so the SQL oracle can unroll the exact same rounds (on the
    fixtures the loop converges well inside it — non-convergence
    warns).

    MIS is the classic symmetry-breaking primitive (scheduling,
    graph contraction, parallel coloring); hash priorities make the
    output a pure function of the node ids — engine- and
    partitioning-portable.  Per round: one neighbor min-join + one
    anti-join, frontier-sized shuffles only.

    Returns ``(uid)`` — the selected set.
    """
    sym = (edges_df.select(F.col(src_col).alias("u"),
                           F.col(dst_col).alias("v"))
           .where(F.col("u") != F.col("v"))
           .unionByName(edges_df.select(F.col(dst_col).alias("u"),
                                        F.col(src_col).alias("v"))
                        .where(F.col("u") != F.col("v")))
           .distinct().repartition("u").localCheckpoint(eager=True))

    def pri(col):
        return F.conv(F.substring(
            F.md5(F.concat(F.lit(salt + ":"), col)), 1, 15), 16, 10) \
            .cast("long")

    alive_nodes = (sym.select(F.col("u").alias("uid")).distinct()
                   .localCheckpoint(eager=True))
    alive_edges = sym
    selected = None
    for _ in range(rounds):
        if alive_nodes.limit(1).count() == 0:
            break
        nbr_min = (alive_edges
                   .groupBy(F.col("u").alias("uid"))
                   .agg(F.min(F.struct(pri(F.col("v")).alias("p"),
                                       F.col("v").alias("id")))
                        .alias("nm")))
        cand = (alive_nodes.join(nbr_min, "uid", "left")
                .where(F.col("nm").isNull()
                       | (F.struct(pri(F.col("uid")).alias("p"),
                                   F.col("uid").alias("id"))
                          < F.col("nm")))
                .select("uid").localCheckpoint(eager=True))
        selected = cand if selected is None \
            else selected.unionByName(cand)
        removed = (cand.unionByName(
            alive_edges.join(cand.withColumnRenamed("uid", "u"), "u")
            .select(F.col("v").alias("uid"))).distinct()
            .localCheckpoint(eager=True))
        alive_nodes = (alive_nodes.join(removed, "uid", "left_anti")
                       .localCheckpoint(eager=True))
        alive_edges = (alive_edges
                       .join(alive_nodes.withColumnRenamed("uid", "u"),
                             "u", "left_semi")
                       .join(alive_nodes.withColumnRenamed("uid", "v"),
                             "v", "left_semi")
                       .localCheckpoint(eager=True))
    if alive_nodes.limit(1).count() > 0:
        import warnings
        warnings.warn(
            f"maximal_independent_set: not converged in {rounds} rounds; "
            "result is independent but may not be maximal.",
            RuntimeWarning, stacklevel=2)
    return selected.select("uid")


def maximal_matching(edges_df: DataFrame, rounds: int = 6,
                     salt: str = "mm",
                     src_col: str = "startuid",
                     dst_col: str = "enduid") -> DataFrame:
    """Distributed maximal matching, Luby-style over the LINE graph
    without materializing it: an alive edge joins the matching when
    its md5-derived (priority, id) beats every other alive edge at
    BOTH endpoints; matched endpoints leave the graph.  Per-node
    competition is resolved with a two-smallest aggregate (so 'min
    excluding self' never needs a self-join).  The matching's endpoint
    set is the classic 2-approximate VERTEX COVER.

    Deterministic (pure function of edge ids), O(log n) expected
    rounds, frontier-sized shuffles; ``rounds`` fixes the oracle
    replay horizon — non-convergence warns.

    Returns ``(u, v)`` — the matched edges.
    """
    und = (edges_df.select(F.least(F.col(src_col), F.col(dst_col))
                           .alias("u"),
                           F.greatest(F.col(src_col), F.col(dst_col))
                           .alias("v"))
           .where(F.col("u") != F.col("v"))
           .dropDuplicates(["u", "v"])
           .localCheckpoint(eager=True))

    def pri():
        return F.conv(F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col("u"),
                           F.lit("|"), F.col("v"))), 1, 15), 16, 10) \
            .cast("long")

    alive = und.withColumn("p", pri()).localCheckpoint(eager=True)
    matched = None
    for _ in range(rounds):
        if alive.limit(1).count() == 0:
            break
        inc = (alive.select(F.col("u").alias("n"), "p", "u", "v")
               .unionByName(alive.select(F.col("v").alias("n"),
                                         "p", "u", "v")))
        two = (inc.groupBy("n")
               .agg(F.slice(F.array_sort(F.collect_list(
                   F.struct("p", "u", "v"))), 1, 2).alias("t2")))
        cand = (inc.join(two, "n")
                .withColumn(
                    "rival",
                    F.when((F.col("t2")[0]["u"] == F.col("u"))
                           & (F.col("t2")[0]["v"] == F.col("v")),
                           F.get(F.col("t2"), 1))
                    .otherwise(F.get(F.col("t2"), 0)))
                .withColumn(
                    "wins",
                    F.col("rival").isNull()
                    | (F.struct("p", "u", "v") < F.col("rival")))
                .groupBy("u", "v")
                .agg(F.min(F.col("wins").cast("int")).alias("all_win"))
                .where(F.col("all_win") == 1)
                .select("u", "v").localCheckpoint(eager=True))
        matched = cand if matched is None else matched.unionByName(cand)
        used = (cand.select(F.col("u").alias("n"))
                .unionByName(cand.select(F.col("v").alias("n")))
                .distinct().localCheckpoint(eager=True))
        alive = (alive
                 .join(used.withColumnRenamed("n", "u"), "u",
                       "left_anti")
                 .join(used.withColumnRenamed("n", "v"), "v",
                       "left_anti")
                 .select("u", "v", "p")
                 .localCheckpoint(eager=True))
    if alive.limit(1).count() > 0:
        import warnings
        warnings.warn(
            f"maximal_matching: not converged in {rounds} rounds; "
            "matching is valid but may not be maximal.",
            RuntimeWarning, stacklevel=2)
    return matched.select("u", "v")


def boruvka_msf(edges_df: DataFrame, max_rounds: int = 12) -> DataFrame:
    """Minimum spanning forest by Borůvka's algorithm — THE textbook
    MST formulation for bulk-synchronous engines (every round is two
    joins + one windowed argmin, components at least halve, so
    O(log n) rounds regardless of cluster size; Kruskal/Prim are
    sequential union-find/heap scans and do not distribute).

    ``edges_df``: (src, dst, w) undirected, canonicalized src < dst,
    with EXACT integer weights.  Edge selection uses the total order
    (w, src, dst), so the forest is unique and engine-replayable even
    with duplicate weights.  Returns (src, dst, w) forest edges.

    Each round: label endpoints with their current component, keep
    cross-component edges, pick each component's minimum outgoing edge
    (row_number over the symmetrized frame), add to the forest, then
    contract via pointer jumping: every component hooks across its
    picked edge (parent = partner), the unique 2-cycles (the merged
    group's globally-min edge is picked by BOTH endpoints under a
    total order) are broken to the smaller id, and parent pointers
    double until fixpoint — O(log n) jumps on the component-sized
    frame, never a diameter-bound label propagation.  Component
    labels only NAME the sets (min-edge selection groups by set), so
    any relabeling that preserves the partition yields the same
    forest — which is what lets a SQL oracle replay the rounds with a
    reachability-closure relabel instead.
    """
    from pyspark.sql.window import Window

    edges = (edges_df.select("src", "dst", F.col("w").cast("long")
                             .alias("w"))
             .distinct().localCheckpoint(eager=True))
    nodes = (edges.select(F.col("src").alias("uid"))
             .unionByName(edges.select(F.col("dst").alias("uid")))
             .distinct().localCheckpoint(eager=True))
    forest = edges.limit(0).localCheckpoint(eager=True)
    comp = nodes.select("uid", F.col("uid").alias("component"))
    for _ in range(max_rounds):
        ec = (edges
              .join(comp.select(F.col("uid").alias("src"),
                                F.col("component").alias("ca")), "src")
              .join(comp.select(F.col("uid").alias("dst"),
                                F.col("component").alias("cb")), "dst")
              .where(F.col("ca") != F.col("cb")))
        ec = checkpoint_reset_stats(ec)
        if ec.limit(1).count() == 0:
            break
        sym = (ec.select(F.col("ca").alias("c"), F.col("cb").alias("o"),
                         "w", "src", "dst")
               .unionByName(ec.select(F.col("cb").alias("c"),
                                      F.col("ca").alias("o"), "w",
                                      "src", "dst")))
        # argmin by lexicographic struct-min: map-side combinable, so a
        # round where components have merged into a handful of giants
        # never funnels their whole cross-edge set through one window
        # partition (the (w, src, dst) prefix decides; o tags along)
        picked = (sym.groupBy("c")
                  .agg(F.min(F.struct("w", "src", "dst", "o"))
                       .alias("m"))
                  .select("c", F.col("m.w").alias("w"),
                          F.col("m.src").alias("src"),
                          F.col("m.dst").alias("dst"),
                          F.col("m.o").alias("o")))
        picked = checkpoint_reset_stats(picked)
        sel = picked.select("src", "dst", "w").distinct()
        forest = checkpoint_reset_stats(
            forest.unionByName(sel).distinct())
        # hook across the picked edge; break the mutual-pick 2-cycles
        # toward the smaller id, then pointer-double to the roots
        hook = picked.select("c", F.col("o").alias("parent"))
        back = hook.select(F.col("c").alias("o2"),
                           F.col("parent").alias("pp"))
        parent = (hook.join(back, F.col("parent") == F.col("o2"), "left")
                  .select("c",
                          F.when((F.col("pp") == F.col("c"))
                                 & (F.col("c") < F.col("parent")),
                                 F.col("c"))
                          .otherwise(F.col("parent")).alias("parent")))
        parent = checkpoint_reset_stats(parent)
        while True:
            gp = parent.select(F.col("c").alias("g_c"),
                               F.col("parent").alias("g_p"))
            jumped = (parent.join(gp, F.col("parent") == F.col("g_c"),
                                  "left")
                      .select("c", F.coalesce("g_p", "parent")
                              .alias("parent")))
            jumped = checkpoint_reset_stats(jumped)
            moved = (jumped.alias("n").join(parent.alias("o"), "c")
                     .where(F.col("n.parent") != F.col("o.parent"))
                     .limit(1).count())
            parent = jumped
            if moved == 0:
                break
        comp = (comp.join(parent.withColumnRenamed("c", "component"),
                          "component", "left")
                .select("uid", F.coalesce("parent", "component")
                        .alias("component")))
        comp = checkpoint_reset_stats(comp)
    return forest
