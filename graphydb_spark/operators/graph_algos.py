"""Batch graph analytics, Pregel-style over DataFrames.

The reference has no batch analytics (its traversals are point queries);
these are the scale-path extensions promised in SURVEY.md §7.3(e):
degrees, connected components, PageRank, k-hop frontier expansion — all
iterative DataFrame joins, since GraphX is JVM-only and unavailable from
PySpark.

Every iterative algorithm runs on one superstep loop, :func:`_supersteps`
(vertex-centric, as in Pregelix), and supplies only its per-round vertex
program; the loop sends messages from the active frontier alone,
materializes the state with its statistics reset, counts the next
frontier on it (one narrow job), halts when it is empty, and labels
each superstep's jobs ``"<algo> superstep <i> active=<n>"``.

- Min/max label propagation, :func:`_propagate`: connected components,
  dedup clusters, BFS, k-hop, SSSP, :func:`bfs_paths`,
  :func:`closeness_centrality`, :func:`dag_layers` and both inner loops
  of :func:`strongly_connected_components`.
- Frontier programs: PageRank, personalized PageRank, label
  propagation, k-core, k-truss, SCC's outer rounds, betweenness' forward
  phase, MIS, maximal matching and Borůvka (its rounds and its pointer
  jumping).
- Fixed rounds, :func:`_rounds`: eigenvector centrality, both HITS
  variants, :func:`katz_walks` and :func:`random_walks`.

Hand-rolled: betweenness' backward sweep, one pass per BFS layer
deepest-first, each reading the layer below it.

Lineage: every materialization goes through :func:`_materialize` or
:func:`_checkpoint_count` (the loop's materialize-and-count), so the
choice of how state is kept, and whether it survives a lost executor,
lives in those two functions.
"""

from __future__ import annotations

import math
import warnings
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """The module's one lineage cut: ``localCheckpoint``, which keeps hash
    partitioning but is lost with its executor.  An eager cut runs its
    job now; a lazy one fills on the first action that reads it."""
    return df.localCheckpoint(eager=eager)


def checkpoint_reset_stats(df: DataFrame) -> DataFrame:
    """Materialize + DISCARD the origin plan's statistics.

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

    Use this instead of bare :func:`_materialize` in any loop whose
    body joins a frame with a derivative of itself.  (Loops that join
    against a CONSTANT frame only grow the estimate linearly per round
    — bare materializations are fine there.)
    """
    return _reset_stats(_materialize(df))


def _reset_stats(d: DataFrame) -> DataFrame:
    spark = d.sparkSession
    jdf = d._jdf
    new_jdf = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False)
    return DataFrame(new_jdf, spark)


def _supersteps(algo: str, state: DataFrame, step, rounds: int):
    """The superstep loop of the vertex-centric algorithms.

    ``state`` is the vertex (or edge) frame with a boolean ``_active``
    column (the frontier); ``step(state, frontier)`` builds the next
    state, with its own ``_active`` column, from the current one and its
    active rows.
    Each superstep's state is materialized with its statistics reset (a
    step joins the state with its own derivative) and the next frontier
    is counted on that materialization: the count is one narrow job, and
    it is also the one that fills it.  The loop halts when the frontier
    is empty or after ``rounds`` supersteps.  A frontier whose counted
    rows fit the broadcast threshold is broadcast, so the large side of
    its join never shuffles.

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


def _rounds(algo: str, state: DataFrame, step, rounds: int) -> DataFrame:
    """``rounds`` supersteps of a fixed-round loop (a power iteration):
    every vertex stays active and ``step(state)`` builds the next state
    from the whole current one."""
    def superstep(state, frontier):
        return step(state.drop("_active")).withColumn("_active", F.lit(True))
    return _supersteps(algo, state.withColumn("_active", F.lit(True)),
                       superstep, rounds)[0]


def _checkpoint_count(state: DataFrame) -> tuple[DataFrame, int]:
    """Lazily materialized ``state`` and its number of active rows, in one
    job: counting through the InternalRow RDD needs no exchange and no
    final aggregate stage, and computing it fills the materialization."""
    state = _reset_stats(_materialize(state, eager=False))
    n = state.where("_active")._jdf.queryExecution().toRdd().count()
    return state, n


def _fits_broadcast(df: DataFrame, rows: int) -> bool:
    """The planner's own size rule (8 bytes + the default size of every
    column per row) applied to an exact row count."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    limit = conf.autoBroadcastJoinThreshold()
    return 0 <= rows * (8 + df._jdf.schema().defaultSize()) <= limit


def _directed(edges_df: DataFrame, direction: str, a: str = "startuid",
              b: str = "enduid") -> DataFrame:
    """(src, dst) along ``direction`` ∈ {'out', 'in', 'both'} of the
    edges (a, b); 'both' is the union of the two (duplicates kept)."""
    fwd = edges_df.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    rev = edges_df.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    return {"out": fwd, "in": rev}.get(direction, fwd.unionByName(rev))


def _undirected(edges_df: DataFrame, a: str = "startuid",
                b: str = "enduid") -> DataFrame:
    """Distinct (src, dst) neighbour pairs, both directions."""
    fwd = edges_df.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    return fwd.unionByName(fwd.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst"))).distinct()


def _endpoints(edges: DataFrame) -> DataFrame:
    """The distinct ``uid``s at either end of ``edges`` (src, dst)."""
    return (edges.select(F.col("src").alias("uid"))
            .unionByName(edges.select(F.col("dst").alias("uid")))
            .distinct())


def _propagate(algo: str, edges: DataFrame, state: DataFrame, rounds: int,
               msg, agg) -> tuple[DataFrame, int]:
    """Label propagation over ``edges`` (src, dst[, w]) from ``state``
    (key…, v), every row of ``state`` active: each superstep an active
    row sends ``msg`` (a column over its edge row and its state row) to
    its ``dst``, and every row keeps ``agg`` — ``F.min`` or ``F.max`` —
    of its value and its messages.  The key is every state column but
    ``v``: ``uid``, which a message takes from its ``dst``, plus any
    columns the message carries over from its sender (closeness keys on
    ``(source, uid)``).  Round *i* equals the synchronous all-vertex
    round *i*: a row whose value did not change already sent it.  The old
    value rides the aggregation, so a changed row is flagged without a
    join against the previous state.  Returns ``((key…, v), n)``; ``n``
    rows were still active after ``rounds`` supersteps."""
    vt = state.schema["v"].dataType
    key = [c for c in state.columns if c != "v"]
    better = (F.col("v") < F.col("_old") if agg is F.min
              else F.col("v") > F.col("_old"))

    def step(state, frontier):
        sent = (edges.join(frontier.withColumnRenamed("uid", "src"), "src")
                .select(*[F.col("dst").alias("uid") if c == "uid" else c
                          for c in key],
                        msg.cast(vt).alias("v"),
                        F.lit(None).cast(vt).alias("_old")))
        best = (state.select(*key, "v", F.col("v").alias("_old"))
                .unionByName(sent)
                .groupBy(*key).agg(agg("v").alias("v"),
                                   F.max("_old").alias("_old")))
        return best.select(*key, "v", (F.col("_old").isNull() | better)
                           .alias("_active"))
    return _supersteps(algo, state.withColumn("_active", F.lit(True)),
                       step, rounds)


def _components(algo: str, edges_df: DataFrame, a: str, b: str,
                max_iter: int, nodes_df: DataFrame | None = None) -> DataFrame:
    """(uid, v) with v = the minimum id in the vertex's component of the
    undirected graph of ``edges_df`` (a, b).  The vertices are
    ``nodes_df``'s uids, or the edge endpoints when it is None.  The
    symmetric edge frame is materialized once, hash-partitioned on the
    join key."""
    sym = _materialize(_undirected(edges_df, a, b).repartition("src"),
                       eager=False)
    uids = (nodes_df if nodes_df is not None
            else sym.select(F.col("src").alias("uid")).distinct())
    return _propagate(algo, sym, uids.select("uid", F.col("uid").alias("v")),
                      max_iter, F.col("v"), F.min)[0]


def _bfs(algo: str, edges_df: DataFrame, seed_uids_df: DataFrame,
         max_depth: int, direction: str) -> DataFrame:
    """(uid, dist) — BFS as min-propagation of dist + 1 from the seeds.
    Seeds and edges are materialized once and not repartitioned: the
    frontier is small and broadcasts."""
    step = _materialize(_directed(edges_df, direction), eager=False)
    seeds = seed_uids_df.select("uid").distinct().withColumn("v", F.lit(0))
    return (_propagate(algo, step, seeds, max_depth, F.col("v") + 1,
                       F.min)[0]
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
    agg = (reduce(DataFrame.unionByName, parts)
           .groupBy("k").agg(F.sum("w").cast("long").alias("degree")))
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
    pagerank: the edge list is hash-partitioned once; each round is one
    superstep and shuffles only the node-sized score frame.

    ``edges_undirected``: (startuid, enduid) — symmetrized internally.
    """
    edges = _materialize(_undirected(edges_undirected).repartition("src"))

    def step(x):
        return (edges.join(x.withColumnRenamed("uid", "src"), "src")
                .groupBy(F.col("dst").alias("uid"))
                .agg(F.sum("x").alias("x")))
    x = _rounds("eigenvector_centrality",
                edges.select(F.col("src").alias("uid")).distinct()
                .withColumn("x", F.lit(1.0)), step, iters)
    mx = x.agg(F.max("x").alias("mx"))
    return (x.crossJoin(F.broadcast(mx))
            .select("uid", (F.col("x") / F.col("mx")).alias("score")))


def k_hop(edges_df: DataFrame, seed_uids_df: DataFrame, k: int,
          direction: str = "out") -> DataFrame:
    """All uids within k hops of the seed set (BFS frontier expansion;
    see :func:`bfs_distances`)."""
    return _bfs("k_hop", edges_df, seed_uids_df, k, direction).select("uid")


def _oriented(edges_df: DataFrame, src_col: str, dst_col: str,
              broadcast_max_nodes: int):
    """The degree-ranked orientation :func:`triangle_count` and
    :func:`local_clustering` share → ``(n_part, deg, oriented, nb_u,
    nb_v)``: the canonical edge set's degree table ``(v, deg)``, its
    edges oriented low-rank → high-rank ``(src, dst)``, and the
    out-adjacency ``nbrs`` keyed as ``u`` and as ``v`` (broadcast when
    there are at most ``broadcast_max_nodes`` nodes).  ``n_part`` is the
    explicit width of the pair stages."""
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
           .transform(_materialize))
    deg = (und.select(F.col("lo").alias("v"))
           .unionByName(und.select(F.col("hi").alias("v")))
           .groupBy("v").agg(F.count("*").alias("deg"))
           .transform(_materialize))
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
        .transform(_materialize)
    adj = (oriented.groupBy("src")
           .agg(F.collect_list("dst").alias("nbrs"))
           .transform(_materialize))
    nb_u = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nb_u"))
    nb_v = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nb_v"))
    if small_nodes:
        nb_u, nb_v = F.broadcast(nb_u), F.broadcast(nb_v)
    return n_part, deg, oriented, nb_u, nb_v


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
    n_part, _, oriented, nb_u, nb_v = _oriented(
        edges_df, src_col, dst_col, broadcast_max_nodes)
    return _triangles(n_part, oriented, nb_u, nb_v)


def _triangles(n_part, oriented, nb_u, nb_v) -> DataFrame:
    """Σ |N⁺(src) ∩ N⁺(dst)| over the oriented edges (see
    :func:`_oriented`) → 1-row ``(n_triangles BIGINT)``."""
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
    edges = _materialize(weighted_edges_df.select("src", "dst", "w"),
                         eager=False)
    seeds = (seed_uids_df.select("uid").distinct()
             .withColumn("v", F.lit(0).cast("long")))
    return (_propagate("sssp", edges, seeds, max_hops,
                       F.col("v") + F.col("w"), F.min)[0]
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
    sym = _materialize(_undirected(edges_df).repartition("src"),
                       eager=False)

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
    sym = _materialize(
        _undirected(edges_df).where(F.col("src") != F.col("dst")),
        eager=False)
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
    transitivity)``.  Wedges = Σ d(v)·(d(v)−1)/2 over the degree table
    of the degree-ranked orientation, whose edge-iterator also counts
    the triangles (O(m) shuffled bytes).  The ratio
    is computed from exact integers and rounded to 6 dp, so any engine
    reproduces it bit-exactly."""
    n_part, deg, oriented, nb_u, nb_v = _oriented(
        edges_df, src_col, dst_col, 1_000_000)
    wedges = deg.agg(F.sum(F.expr("deg * (deg - 1) DIV 2"))
                     .cast("long").alias("n_wedges"))
    return (_triangles(n_part, oriented, nb_u, nb_v).crossJoin(wedges)
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
    edge list is materialized once; each round is one superstep, whose
    two normalizing totals are read on the driver, and only the
    node-sized score frames shuffle.
    """
    edges = _materialize(_directed(edges_df, "out", src_col, dst_col))
    nodes = _materialize(_endpoints(edges))

    def normalized(scores, col):
        tot = scores.agg(F.sum(col)).collect()[0][0] or 1.0
        return (nodes.join(scores, "uid", "left")
                .select("uid", (F.coalesce(F.col(col), F.lit(0.0))
                                / F.lit(float(tot))).alias(col)))

    def step(state):
        auth = _materialize(normalized(
            edges.join(state.select(F.col("uid").alias("src"), "h"), "src")
            .groupBy(F.col("dst").alias("uid")).agg(F.sum("h").alias("a")),
            "a"))
        hub = normalized(
            edges.join(auth.withColumnRenamed("uid", "dst"), "dst")
            .groupBy(F.col("src").alias("uid")).agg(F.sum("a").alias("h")),
            "h")
        return hub.join(auth, "uid")
    state = nodes.select("uid", F.lit(1.0).alias("h"), F.lit(1.0).alias("a"))
    return (_rounds("hits", state, step, iters)
            .select("uid", F.col("h").alias("hub"),
                    F.col("a").alias("authority")))


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
    edges = _materialize(edges_df.select(F.col("startuid").alias("uid"),
                                         F.col("enduid").alias("dst"))
                         .repartition("uid"), eager=False)
    out_deg = edges.groupBy("uid").agg(F.count("*").alias("deg"))
    vertices = _materialize(
        nodes_df.select("uid").join(out_deg, "uid", "left")
        .select("uid", F.coalesce("deg", F.lit(0)).alias("deg"),
                share.alias("share")), eager=False)

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
    wins at every hop, so any engine reproduces the same path.  A
    min-propagation of ``(dist, path)`` on the superstep loop, like
    bfs_distances; the frontier carries its path array, so per-round
    shuffle is frontier-sized × path length (bounded by max_depth — at
    100 TB keep max_depth small or carry only the predecessor and
    reconstruct on demand).
    """
    step = _materialize(_directed(edges_df, direction), eager=False)
    seeds = (seed_uids_df.select("uid").distinct()
             .select("uid", F.struct(F.lit(0).alias("dist"),
                                     F.array("uid").alias("path"))
                     .cast("struct<dist:int,path:array<string>>")
                     .alias("v")))
    # the struct minimum is the shortest distance, then the
    # lexicographically smallest path (parent path ‖ own uid)
    msg = F.struct((F.col("v.dist") + 1).alias("dist"),
                   F.concat("v.path", F.array("dst")).alias("path"))
    return (_propagate("bfs_paths", step, seeds, max_depth, msg, F.min)[0]
            .select("uid", "v.dist", "v.path"))


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

    Shape: adjacency lists build once (one groupBy, materialized and
    reused every step); each step is one superstep: ONE equi-join
    walks⋈adjacency +
    an O(1) element_at pick — no per-step fan-out by degree, shuffled
    bytes are walks × (path so far).  Walks at isolated nodes stay put
    (path stops growing).  ``symmetrize`` unions the reversed edges
    first (walks on the undirected graph, the DeepWalk default).
    """
    from .text import hash60
    adj = _materialize(_directed(edges_df, "both" if symmetrize else "out")
                       .distinct().groupBy("src")
                       .agg(F.array_sort(F.collect_set("dst")).alias("nbrs")))

    def step(walks):
        t = F.col("t") + 1
        h = hash60(F.concat_ws(":", F.lit(seed), F.col("walk_id"),
                               t.cast("string")))
        nxt = F.when(
            F.coalesce(F.size("nbrs"), F.lit(0)) > 0,
            F.element_at("nbrs", (F.pmod(h, F.size("nbrs")) + 1)
                         .cast("int")))
        return (walks.join(adj, walks["cur"] == adj["src"], "left")
                .withColumn("__nxt", nxt)
                .select("walk_id",
                        F.coalesce("__nxt", "cur").alias("cur"),
                        F.when(F.col("__nxt").isNull(), F.col("path"))
                        .otherwise(F.concat_ws(">", "path", "__nxt"))
                        .alias("path"), t.alias("t")))
    walks = (start_uids_df.select("uid")
             .select(F.col("uid").alias("cur"),
                     F.explode(F.sequence(
                         F.lit(0), F.lit(walks_per_node - 1))).alias("__w"))
             .select(F.concat_ws("#", "cur", "__w").alias("walk_id"),
                     "cur", F.col("cur").alias("path"), F.lit(0).alias("t")))
    return (_rounds("random_walks", walks, step, walk_len)
            .select("walk_id", "path"))


def dag_layers(edges_df: DataFrame, max_iter: int = 32) -> DataFrame:
    """Topological layering of a DAG: ``layer(v)`` = length of the
    longest directed path ending at ``v`` (sources sit at layer 0) —
    the dependency-scheduling / critical-path primitive.

    Max-propagation of ``layer + 1`` from every vertex at 0 on the
    superstep loop: only vertices whose layer grew send, and the loop
    halts in graph-depth + 1 rounds.  Warns and stops after
    ``max_iter`` rounds — a cycle would otherwise run forever (layers
    are only defined on DAGs).  The edge list is partitioned once on
    ``src``.
    """
    step = _materialize(_directed(edges_df, "out").distinct()
                        .repartition("src"), eager=False)
    layers, n = _propagate(
        "dag_layers", step,
        _endpoints(step).withColumn("v", F.lit(0).cast("long")), max_iter,
        F.col("v") + 1, F.max)
    if n:
        warnings.warn(f"dag_layers did not converge in {max_iter} rounds — "
                      "the graph likely contains a cycle; returning the "
                      "partial layering", RuntimeWarning, stacklevel=2)
    return layers.withColumnRenamed("v", "layer")


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

    The outer rounds are supersteps whose frontier is the unassigned
    vertices, and both inner loops run on the same loop: the coloring is a
    max-propagation of the uid over the remaining edges, the backward
    reach a min-propagation of the root, seeded at the roots, over the
    reversed edges whose endpoints share a color.  Edge frames are
    materialized per outer round, partitioned on the join key.  Rounds
    are bounded by the condensation depth (outer) × graph diameter
    (inner); an inner loop that does not converge in ``max_inner``
    rounds raises.
    """
    base = _materialize(_directed(edges_df, "out")
                        .where(F.col("src") != F.col("dst")).distinct())

    def peel(state, remaining):
        ends = remaining.select("uid")
        er = _materialize(
            base.join(ends.withColumnRenamed("uid", "src"), "src")
            .join(ends.withColumnRenamed("uid", "dst"), "dst")
            .select("src", "dst").repartition("src"), eager=False)
        color, n = _propagate(
            "scc_color", er, ends.withColumn("v", F.col("uid")), max_inner,
            F.col("v"), F.max)
        if n:
            # an unconverged coloring would mint FALSE roots and split
            # real SCCs — wrong output, so fail loudly instead
            raise RuntimeError(
                f"scc color propagation did not converge in {max_inner} "
                "rounds (graph diameter exceeds max_inner) — raise "
                "max_inner")
        # backward reach from the color roots inside their color class:
        # the reversed edges whose endpoints share a color
        back = _materialize(
            er.join(color.select(F.col("uid").alias("src"),
                                 F.col("v").alias("c_src")), "src")
            .join(color.select(F.col("uid").alias("dst"),
                               F.col("v").alias("c_dst")), "dst")
            .where(F.col("c_src") == F.col("c_dst"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            eager=False)
        roots = color.where(F.col("v") == F.col("uid"))
        reach, n = _propagate("scc_reach", back, roots, max_inner,
                              F.col("v"), F.min)
        if n:
            raise RuntimeError(
                f"scc backward reach did not converge in {max_inner} "
                "rounds — raise max_inner")
        found = (reach.join(reach.groupBy("v").agg(F.min("uid")
                                                    .alias("_found")), "v")
                 .select("uid", "_found"))
        scc = F.coalesce("scc", "_found")
        return (state.join(found, "uid", "left")
                .select("uid", scc.alias("scc"),
                        scc.isNull().alias("_active")))
    # every endpoint, nodes with only a self-loop included
    state = _endpoints(_directed(edges_df, "out")).select(
        "uid", F.lit(None).cast(edges_df.schema["startuid"].dataType)
        .alias("scc"), F.lit(True).alias("_active"))
    state, n = _supersteps("strongly_connected_components", state, peel,
                           max_outer)
    if n:
        warnings.warn(f"scc did not finish in {max_outer} outer rounds; "
                      "returning the partial assignment", RuntimeWarning,
                      stacklevel=2)
    return state.where(F.col("scc").isNotNull())


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
    idx = (_endpoints(_directed(edges_df, "out")).withColumn(
        "__i", F.row_number().over(W.orderBy("uid")) - 1)
        .transform(_materialize))
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
    return cand.join(_directed(edges_df, "both"), ["src", "dst"], "left_anti")


def reciprocity(edges_df: DataFrame) -> DataFrame:
    """Graph reciprocity: the fraction of directed (non-loop, distinct)
    edges whose reverse edge also exists — a 1-row frame
    ``(n_edges, n_reciprocated, reciprocity)``.  One self-semi-join on
    the swapped pair + two counts; the ratio is exact-integer division
    rounded to 6 dp."""
    e = _directed(edges_df, "out").where(F.col("src") != F.col("dst")) \
        .distinct()
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
    the fixpoint, one superstep per round whose frontier is the edges it
    peeled (the loop halts when a round peels none).  The edge frame
    shrinks monotonically, so per-round cost falls; warns if
    ``max_iter`` rounds don't reach the fixpoint (result would be a
    superset).
    """
    def peel(state, peeled):
        e = state.where("alive").select("a", "b")
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
        keep = F.coalesce("s", F.lit(0)) >= k - 2
        return (e.join(sup, ["a", "b"], "left")
                .select("a", "b", keep.alias("alive"),
                        (~keep).alias("_active")))
    state = (edges_df.select(F.least("startuid", "enduid").alias("a"),
                             F.greatest("startuid", "enduid").alias("b"))
             .where(F.col("a") < F.col("b")).distinct()
             .select("a", "b", F.lit(True).alias("alive"),
                     F.lit(True).alias("_active")))
    state, n = _supersteps("k_truss", state, peel, max_iter)
    if n:
        warnings.warn(
            f"k_truss: peel loop did not reach a fixpoint in "
            f"{max_iter} rounds; result is a superset. Raise max_iter.",
            RuntimeWarning, stacklevel=2)
    return state.where("alive").select("a", "b")


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

    A min-propagation of ``dist + 1`` keyed on ``(source, uid)`` on the
    superstep loop: every round shuffles only the new frontier's
    messages; the edge list is repartitioned on ``src`` once and
    materialized, so each expansion is a single co-located join at
    scale.
    """
    step = _materialize(_directed(edges_df, direction).distinct()
                        .repartition("src"), eager=False)
    seeds = (sources_df.select(F.col("uid").alias("source")).distinct()
             .select("source", F.col("source").alias("uid"),
                     F.lit(0).alias("v")))
    visited = _propagate("closeness_centrality", step, seeds, max_depth,
                         F.col("v") + 1, F.min)[0]
    lcm = math.lcm(*range(1, max_depth + 1))
    per_d = (visited.where(F.col("v") > 0)
             .groupBy("source", F.col("v").alias("dist"))
             .agg(F.count("*").alias("c")))
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
    n_part, deg, oriented, nb_u, nb_v = _oriented(
        edges_df, src_col, dst_col, broadcast_max_nodes)
    closed = (oriented.repartition(n_part)
              .join(nb_u, F.col("src") == F.col("u"))
              .join(nb_v, F.col("dst") == F.col("v"))
              .select("src", "dst",
                      F.array_intersect("nb_u", "nb_v").alias("c"))
              .where(F.size("c") > 0)
              .transform(_materialize))
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

    Forward, on the superstep loop: one (source, uid)-keyed frontier
    carries sigma (the exact integer shortest-path count, summed over
    predecessors); k sources ride the key, not the loop.  The
    shortest-path DAG is recovered with one edge join (BFS levels are
    consecutive, so ``dist_w = dist_v + 1`` identifies DAG edges).
    Backward: depth layers sweep deepest-first; each dependency term
    ``sigma_v/sigma_w * (1 + delta_w)`` is rounded to 9 dp and
    accumulated in DECIMAL so the layer sums are associative —
    bit-stable across partitionings and engines (the SQL oracle
    replays the same ladder).

    Rounds: max_depth forward + max_depth backward, each a keyed
    join + aggregation over frontier/layer-sized frames only.
    """
    step = _materialize(_directed(edges_df, direction).distinct()
                        .repartition("src"), eager=False)

    def forward(state, frontier):
        # the frontier is the layer reached last superstep: its rows
        # reach their unvisited successors one hop further, summing sigma
        nxt = (step.join(frontier.withColumnRenamed("uid", "src"), "src")
               .select("source", F.col("dst").alias("uid"),
                       (F.col("dist") + 1).alias("dist"), "sigma")
               .join(state.select("source", "uid"), ["source", "uid"],
                     "left_anti")
               .groupBy("source", "uid", "dist")
               .agg(F.sum("sigma").cast("long").alias("sigma")))
        return (state.withColumn("_active", F.lit(False))
                .unionByName(nxt.withColumn("_active", F.lit(True))))
    all_v = _supersteps(
        "betweenness_sampled",
        sources_df.select(F.col("uid").alias("source")).distinct()
        .select("source", F.col("source").alias("uid"),
                F.lit(0).alias("dist"), F.lit(1).cast("long").alias("sigma"),
                F.lit(True).alias("_active")),
        forward, max_depth)[0]
    maxd = all_v.agg(F.max("dist")).first()[0]
    if not maxd:
        # no source reaches another vertex (None: no source at all), so
        # no vertex lies on a shortest path between two others
        return edges_df.sparkSession.createDataFrame(
            [], "uid string, betweenness double")

    def layer(d):
        return all_v.where(F.col("dist") == d).select("source", "uid")
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
          .transform(_materialize))
    # backward dependency sweep, deepest layer first
    deltas = {maxd: layer(maxd).withColumn(
        "delta", F.lit(0).cast("decimal(28,9)"))}
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
        deltas[d] = (layer(d).join(acc, ["source", "uid"], "left")
                     .select("source", "uid",
                             F.coalesce(F.col("delta"),
                                        F.lit(0).cast("decimal(28,9)"))
                             .alias("delta"))
                     .transform(_materialize))
    contrib = reduce(DataFrame.unionByName,
                     [deltas[d] for d in range(1, maxd + 1)])
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
    score 0).  Each iteration is one superstep of two keyed join+sum
    shuffles over the edge frame, which is hash-partitioned once and
    materialized.
    """
    edges = _materialize(_directed(edges_df, "out", src_col, dst_col)
                         .distinct().repartition("src"))

    def step(state):
        hub = (edges.join(state.select(F.col("uid").alias("dst"), "a"), "dst")
               .groupBy(F.col("src").alias("uid"))
               .agg(F.sum("a").cast("long").alias("hub")))
        auth = (edges.join(hub.withColumnRenamed("uid", "src"), "src")
                .groupBy(F.col("dst").alias("uid"))
                .agg(F.sum("hub").cast("long").alias("a")))
        return (hub.join(auth, "uid", "full")
                .select("uid", F.coalesce("hub", F.lit(0)).alias("hub"),
                        F.coalesce("a", F.lit(0)).alias("a")))
    state = (edges.select(F.col("dst").alias("uid")).distinct()
             .select("uid", F.lit(0).cast("long").alias("hub"),
                     F.lit(1).cast("long").alias("a")))
    return (_rounds("hits_integer", state, step, iters)
            .select("uid", "hub", F.col("a").alias("authority")))


def katz_walks(edges_df: DataFrame, iters: int = 3, beta_inv: int = 8,
               src_col: str = "startuid",
               dst_col: str = "enduid") -> DataFrame:
    """Katz centrality with attenuation ``alpha = 1/beta_inv``
    truncated at ``iters`` walk lengths, SCALED to an exact integer:
    ``katz_scaled(v) = sum_k beta_inv^(iters-k) * walks_k(v)`` where
    ``walks_k(v)`` counts length-k walks ending at v (w_k = A^T
    w_{k-1} over integer vectors).  Dividing by beta_inv^iters gives
    the usual truncated Katz score; keeping the integer avoids every
    cross-engine float question.  One keyed join+sum per length, one
    superstep each; the sum accumulates by Horner's rule,
    ``k ← beta_inv·k + walks_k``."""
    edges = _materialize(_directed(edges_df, "out", src_col, dst_col)
                         .repartition("src"))

    def step(state):
        # Horner: k' = beta_inv·k + w' sums beta_inv^(iters-k)·walks_k
        w = (edges.join(state.withColumnRenamed("uid", "src"), "src")
             .groupBy(F.col("dst").alias("uid"))
             .agg(F.sum("w").cast("long").alias("_w")))
        w_new = F.coalesce(F.col("_w"), F.lit(0).cast("long"))
        return (state.join(w, "uid", "left")
                .select("uid", w_new.alias("w"),
                        (F.lit(beta_inv) * F.col("k") + w_new)
                        .cast("long").alias("k")))
    state = _endpoints(edges).select("uid", F.lit(1).cast("long").alias("w"),
                                     F.lit(0).cast("long").alias("k"))
    return (_rounds("katz_walks", state, step, iters)
            .select("uid", F.col("k").alias("katz_scaled")))


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
    partitioning-portable.  One superstep per round, whose frontier is
    the alive nodes: one neighbor min-aggregate over the alive edges
    and the joins that retire the winners and their neighbors.

    Returns ``(uid)`` — the selected set.
    """
    sym = _materialize(
        _undirected(edges_df, src_col, dst_col)
        .where(F.col("src") != F.col("dst")).repartition("src"))

    def pri(col):
        return F.conv(F.substring(
            F.md5(F.concat(F.lit(salt + ":"), col)), 1, 15), 16, 10) \
            .cast("long")

    def step(state, alive):
        # alive: (uid, sel) of the nodes still in the graph
        ends = alive.select("uid")
        edges = (sym.join(ends.withColumnRenamed("uid", "src"), "src",
                          "left_semi")
                 .join(ends.withColumnRenamed("uid", "dst"), "dst",
                       "left_semi"))
        nbr_min = (edges.groupBy(F.col("src").alias("uid"))
                   .agg(F.min(F.struct(pri(F.col("dst")).alias("p"),
                                       F.col("dst").alias("id")))
                        .alias("nm")))
        win = (ends.join(nbr_min, "uid", "left")
               .where(F.col("nm").isNull()
                      | (F.struct(pri(F.col("uid")).alias("p"),
                                  F.col("uid").alias("id"))
                         < F.col("nm")))
               .select("uid", F.lit(True).alias("_win")))
        # winners join the set; they and their alive neighbours leave
        gone = (edges.join(win.withColumnRenamed("uid", "src"), "src")
                .select(F.col("dst").alias("uid"), F.lit(False).alias("_win"))
                .unionByName(win)
                .groupBy("uid").agg(F.max("_win").alias("_win")))
        return (state.join(gone, "uid", "left")
                .select("uid", (F.col("sel") | F.coalesce(
                            "_win", F.lit(False))).alias("sel"),
                        (F.col("_active") & F.col("_win").isNull())
                        .alias("_active")))
    state = (sym.select(F.col("src").alias("uid")).distinct()
             .select("uid", F.lit(False).alias("sel"),
                     F.lit(True).alias("_active")))
    state, n = _supersteps("maximal_independent_set", state, step, rounds)
    if n:
        warnings.warn(
            f"maximal_independent_set: not converged in {rounds} rounds; "
            "result is independent but may not be maximal.",
            RuntimeWarning, stacklevel=2)
    return state.where("sel").select("uid")


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
    rounds, one superstep each whose frontier is the alive edges;
    ``rounds`` fixes the oracle replay horizon — non-convergence
    warns.

    Returns ``(u, v)`` — the matched edges.
    """
    und = (edges_df.select(F.least(F.col(src_col), F.col(dst_col))
                           .alias("u"),
                           F.greatest(F.col(src_col), F.col(dst_col))
                           .alias("v"))
           .where(F.col("u") != F.col("v"))
           .dropDuplicates(["u", "v"]))

    def pri():
        return F.conv(F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col("u"),
                           F.lit("|"), F.col("v"))), 1, 15), 16, 10) \
            .cast("long")

    def step(state, alive):
        inc = (alive.select(F.col("u").alias("n"), "p", "u", "v")
               .unionByName(alive.select(F.col("v").alias("n"),
                                         "p", "u", "v")))
        two = (inc.groupBy("n")
               .agg(F.slice(F.array_sort(F.collect_list(
                   F.struct("p", "u", "v"))), 1, 2).alias("t2")))
        won = (inc.join(two, "n")
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
               .select("u", "v", F.lit(True).alias("_won"))
               .transform(_materialize))
        used = (won.select(F.col("u").alias("n"))
                .unionByName(won.select(F.col("v").alias("n"))).distinct()
                .withColumn("_used", F.lit(True)))
        # winners join the matching; every edge touching them leaves
        return (state.join(won, ["u", "v"], "left")
                .join(used.withColumnRenamed("n", "u")
                      .withColumnRenamed("_used", "_uu"), "u", "left")
                .join(used.withColumnRenamed("n", "v")
                      .withColumnRenamed("_used", "_uv"), "v", "left")
                .select("u", "v", "p",
                        (F.col("won") | F.col("_won").isNotNull())
                        .alias("won"),
                        (F.col("_active") & F.col("_uu").isNull()
                         & F.col("_uv").isNull()).alias("_active")))
    state = und.select("u", "v", pri().alias("p"), F.lit(False).alias("won"),
                       F.lit(True).alias("_active"))
    state, n = _supersteps("maximal_matching", state, step, rounds)
    if n:
        warnings.warn(
            f"maximal_matching: not converged in {rounds} rounds; "
            "matching is valid but may not be maximal.",
            RuntimeWarning, stacklevel=2)
    return state.where("won").select("u", "v")


def boruvka_msf(edges_df: DataFrame, max_rounds: int = 12) -> DataFrame:
    """Minimum spanning forest by Borůvka's algorithm — THE textbook
    MST formulation for bulk-synchronous engines (every round is two
    joins + one argmin aggregate, components at least halve, so
    O(log n) rounds regardless of cluster size; Kruskal/Prim are
    sequential union-find/heap scans and do not distribute).

    ``edges_df``: (src, dst, w) undirected, canonicalized src < dst,
    with EXACT integer weights.  Edge selection uses the total order
    (w, src, dst), so the forest is unique and engine-replayable even
    with duplicate weights.  Returns (src, dst, w) forest edges.

    Each round is one superstep over the edge frame, every edge
    labelled with its endpoints' components; its frontier is the
    cross-component edges, and the loop halts when none is left.  Pick
    each component's minimum outgoing edge (a struct-min over the
    symmetrized frame), mark it as a forest edge, then contract via
    pointer jumping: every component hooks across its picked edge
    (parent = partner), the unique 2-cycles (the merged group's
    globally-min edge is picked by BOTH endpoints under a total order)
    are broken to the smaller id, and parent pointers double until
    fixpoint on the superstep loop — O(log n) jumps on the
    component-sized frame, never a diameter-bound label propagation —
    and the edges take their endpoints' new labels.  Component labels
    only NAME the sets (min-edge selection groups by set), so any
    relabeling that preserves the partition yields the same forest —
    which is what lets a SQL oracle replay the rounds with a
    reachability-closure relabel instead.
    """
    def jump(parent, frontier):
        # one pointer doubling; a row is active while its parent moves
        gp = parent.select(F.col("c").alias("g_c"),
                           F.col("parent").alias("g_p"))
        up = F.coalesce("g_p", "parent")
        return (parent.join(gp, F.col("parent") == F.col("g_c"), "left")
                .select("c", up.alias("parent"),
                        (up != F.col("parent")).alias("_active")))

    def contract(state, ec):
        # ec: the cross-component edges, each endpoint labelled with its
        # component (ca, cb)
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
        parent = _supersteps("boruvka_msf jump",
                             parent.withColumn("_active", F.lit(True)),
                             jump, 64)[0]
        won = (picked.select("src", "dst", "w").distinct()
               .withColumn("_won", F.lit(True)))
        ca, cb = F.coalesce("_ca", "ca"), F.coalesce("_cb", "cb")
        return (state.join(won, ["src", "dst", "w"], "left")
                .join(parent.select(F.col("c").alias("ca"),
                                    F.col("parent").alias("_ca")),
                      "ca", "left")
                .join(parent.select(F.col("c").alias("cb"),
                                    F.col("parent").alias("_cb")),
                      "cb", "left")
                .select("src", "dst", "w",
                        (F.col("tree") | F.col("_won").isNotNull())
                        .alias("tree"), ca.alias("ca"), cb.alias("cb"),
                        (ca != cb).alias("_active")))
    state = (edges_df.select("src", "dst", F.col("w").cast("long")
                             .alias("w")).distinct()
             .select("src", "dst", "w", F.lit(False).alias("tree"),
                     F.col("src").alias("ca"), F.col("dst").alias("cb"),
                     (F.col("src") != F.col("dst")).alias("_active")))
    return (_supersteps("boruvka_msf", state, contract, max_rounds)[0]
            .where("tree").select("src", "dst", "w"))
