"""Randomized metamorphic properties on generated graphs — the
reference's differential-test strategy (tests/test_indexedset.py:24-95,
tests/test_graphdb.py:112-115) generalized: every identity below must
hold on ANY graph, so random multigraphs with self-loops probe the
query/traversal/set-algebra semantics far beyond the fixed fixtures."""

#: full-tier only (round 10 tiering): property/fuzz suite, not part
#: of the driver-window default run
pytestmark = __import__("pytest").mark.slowtier

import random

import pytest

from graphydb_spark import Graph, NSet


def random_graph(g: Graph, seed: int, n_nodes: int = 12, n_edges: int = 30):
    rng = random.Random(seed)
    nodes = [g.Node("Person", idx=i).save(setchange=False)
             for i in range(n_nodes)]
    edges = []
    for j in range(n_edges):
        a, b = rng.choice(nodes), rng.choice(nodes)   # self-loops possible
        kind = rng.choice(["A", "B"])
        edges.append(g.Edge(a, kind, b).save(setchange=False))
    return nodes, edges


@pytest.fixture(scope="module", params=[1, 2, 3])
def rg(request, spark):
    g = Graph(spark)
    nodes, edges = random_graph(g, seed=request.param)
    return g, nodes, edges


def test_collect_start_equivalence(rg):
    """fetch('[n1] -(e)> (n2)') ≡ fetch('-(e)>').start — the reference's
    own metamorphic assertion (tests/test_graphdb.py:112-115)."""
    g, _, _ = rg
    assert g.fetch("[n1] -(e)> (n2)") == g.fetch("-(e)>").start


def test_collect_end_equivalence(rg):
    g, _, _ = rg
    assert g.fetch("(n1) -(e)> [n2]") == g.fetch("-(e)>").end


def test_count_equals_len(rg):
    g, _, _ = rg
    for chain in ["(n)", "-(e)>", "(n1) -(e:A)> (n2)"]:
        assert g.fetch(chain, COUNT=True) == len(g.fetch(chain))


def test_edge_uid_ground_truth(rg):
    """Engine results must equal a pure-Python evaluation over the edge
    list (an in-memory oracle)."""
    g, nodes, edges = rg
    out_of_0 = {e["enduid"] for e in edges if e["startuid"] == nodes[0].uid}
    assert set(nodes[0].outN().uids()) == out_of_0
    in_of_0 = {e["startuid"] for e in edges if e["enduid"] == nodes[0].uid}
    assert set(nodes[0].inN().uids()) == in_of_0


def test_both_traversal_is_union(rg):
    g, nodes, _ = rg
    n = nodes[1]
    both = n.bothN()
    assert set(both.uids()) == set(n.outN().uids()) | set(n.inN().uids())
    assert n.bothN(COUNT=True) == len(both)


def test_set_traversal_equals_per_node_union(rg):
    """One frontier join ≡ the reference's per-node loop."""
    g, nodes, _ = rg
    subset = NSet(nodes[:5])
    via_join = set(subset.outN().uids())
    via_loop = set()
    for n in nodes[:5]:
        via_loop |= set(n.outN().uids())
    assert via_join == via_loop


def test_kind_filter_partitions_edges(rg):
    g, _, edges = rg
    a = g.fetch("-(e:A)>", COUNT=True)
    b = g.fetch("-(e:B)>", COUNT=True)
    assert a + b == len(edges)


def test_set_algebra_vs_python(rg):
    g, nodes, _ = rg
    ns_a = g.fetch("[n1] -(e:A)> (n2)")
    ns_b = g.fetch("[n1] -(e:B)> (n2)")
    sa, sb = set(ns_a.uids()), set(ns_b.uids())
    assert set((ns_a | ns_b).uids()) == sa | sb
    assert set((ns_a & ns_b).uids()) == sa & sb
    assert set((ns_a - ns_b).uids()) == sa - sb
    assert set((ns_a ^ ns_b).uids()) == sa ^ sb


def test_distinct_by_uid_under_fanout(rg):
    """A node with k out-edges appears once in the collect (A3)."""
    g, _, _ = rg
    res = g.fetch("[n1] -(e)> (n2)")
    assert len(res) == len(set(res.uids()))


def test_theta_selfloop_consistency(rg):
    g, _, edges = rg
    via_theta = g.fetch("-[e]>", "e.startuid == e.enduid")
    truth = {e.uid for e in edges if e["startuid"] == e["enduid"]}
    assert set(via_theta.uids()) == truth


def test_triangle_count_invariances(spark):
    """Triangle count is invariant under edge reversal, duplication, and
    row order — the canonicalization layer must absorb all three."""
    import random
    from graphydb_spark.operators.graph_algos import triangle_count
    rng = random.Random(7)
    edges = [(f"n{rng.randrange(30)}", f"n{rng.randrange(30)}")
             for _ in range(120)]
    base = spark.createDataFrame(edges, "startuid string, enduid string")
    n0 = triangle_count(base).collect()[0]["n_triangles"]
    assert n0 > 0  # dense enough to have triangles
    mutated = edges + [(b, a) for a, b in edges[::2]] + edges[:40]
    rng.shuffle(mutated)
    m = spark.createDataFrame(mutated, "startuid string, enduid string")
    assert triangle_count(m).collect()[0]["n_triangles"] == n0


def test_bfs_distances_equal_khop_layers(spark):
    """bfs_distances dist==d set must equal k_hop(d) minus k_hop(d-1)."""
    import random
    from graphydb_spark.operators.graph_algos import bfs_distances, k_hop
    rng = random.Random(11)
    edges = [("e%d" % i, f"n{rng.randrange(40)}", f"n{rng.randrange(40)}")
             for i in range(80)]
    df = spark.createDataFrame(
        edges, "uid string, startuid string, enduid string")
    seed = spark.createDataFrame([("n0",)], "uid string")
    dist = {r["uid"]: r["dist"]
            for r in bfs_distances(df, seed, max_depth=3).collect()}
    prev = {"n0"}
    for d in (1, 2, 3):
        reach = {r["uid"] for r in k_hop(df, seed, d, "both").collect()}
        layer = {u for u, dd in dist.items() if dd == d}
        assert layer == reach - prev, f"layer {d} mismatch"
        prev = reach


def test_chunk_documents_covers_all_tokens(spark):
    """Every token of every doc appears in >= 1 chunk, in order, and
    adjacent chunks overlap by exactly `overlap` tokens (except the
    snapped last chunk)."""
    import random
    from graphydb_spark.operators.text import chunk_documents, tokens
    rng = random.Random(3)
    docs = [(i, " ".join(f"w{rng.randrange(50)}"
                         for _ in range(rng.randrange(0, 300))))
            for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    chunks = chunk_documents(df, chunk_tokens=32, overlap=8)
    got = {}
    for r in chunks.collect():
        got.setdefault(r["doc_id"], {})[r["chunk_id"]] = r["chunk_text"]
    from pyspark.sql import functions as F
    toks = {r["doc_id"]: r["t"] for r in
            df.select("doc_id", tokens(F.col("text")).alias("t")).collect()}
    for doc_id, text in docs:
        parts = got[doc_id]
        stride = 32 - 8
        rebuilt = []
        for i in sorted(parts):
            ctoks = parts[i].split() if parts[i] else []
            start = i * stride
            assert ctoks == toks[doc_id][start:start + 32]
        n = len(toks[doc_id])
        seen = set()
        for i in sorted(parts):
            seen.update(range(i * stride,
                              min(i * stride + 32, n)))
        assert seen == set(range(n))


def test_anti_and_semi_partition_nodes(rg):
    """For any kind K: {nodes with an out-K edge} and {nodes with none}
    partition the node set — fetch(semi) ⊎ fetch(anti) with no overlap.
    Ground truth recomputed from the edge items."""
    g, nodes, edges = rg
    all_uids = {n.uid for n in nodes}
    for kind in ("A", "B"):
        have = {e["startuid"] for e in edges if e["kind"] == kind}
        semi = {r["uid"] for r in
                g.fetch(f"[p:Person] -(e:{kind})> (q:Person)",
                        as_df=True).collect()}
        anti = {r["uid"] for r in
                g.fetch(f"[p:Person] -(e!:{kind})> (q:Person)",
                        as_df=True).collect()}
        assert semi == have
        assert anti == all_uids - have
        assert semi | anti == all_uids and not (semi & anti)


def test_varlength_union_equals_khop_reach(rg):
    """-(e*1..k)> from a seed must equal k_hop's out-reach minus the
    seed itself (ground truth from the iterative operator)."""
    from graphydb_spark.operators.graph_algos import k_hop
    g, nodes, edges = rg
    seed = nodes[0]
    for k in (1, 2, 3):
        got = {r["uid"] for r in
               g.fetch(f"(a:Person) -(e*1..{k})> [b:Person]",
                       f"a.uid = '{seed.uid}'", as_df=True).collect()}
        seeds = g.spark.createDataFrame([(seed.uid,)], "uid string")
        reach = {r["uid"] for r in
                 k_hop(g.edges_df, seeds, k=k, direction="out").collect()}
        # identical up to the seed itself: k_hop includes it at distance
        # 0, the chain re-reaches it only through a cycle of length ≤ k
        assert got - {seed.uid} == reach - {seed.uid}


# ----------------------------------------------------------- session ops


def _rand_docs(spark, seed, n=40):
    import random as _r
    rng = _r.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(5, 25))))
            for i in range(n)]
    return rows, spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_ssjoin_equals_bruteforce_on_random_corpora(spark, seed):
    """Prefix filtering is lossless on ANY corpus: compare against
    brute-force all-pairs shingle Jaccard."""
    from graphydb_spark.operators.dedup import ssjoin_jaccard
    rows, df = _rand_docs(spark, seed)

    def sh(s):
        w = s.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    want = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = sh(rows[i][1]), sh(rows[j][1])
            if not a or not b:
                continue
            if len(a & b) / len(a | b) >= 0.3:
                want.add((rows[i][0], rows[j][0]))
    got = {(r["id_a"], r["id_b"])
           for r in ssjoin_jaccard(df, threshold=0.3).collect()}
    assert got == want


@pytest.mark.parametrize("seed", [21, 22])
def test_betweenness_additive_over_sources(spark, seed):
    """Brandes dependencies are per-source sums: running the operator
    with sources {a} and {b} separately and adding must equal one run
    with {a, b}."""
    import random as _r
    from graphydb_spark.operators.graph_algos import betweenness_sampled
    rng = _r.Random(seed)
    edges = [(str(rng.randint(0, 14)), str(rng.randint(0, 14)))
             for _ in range(25)]
    e = spark.createDataFrame(edges, "startuid string, enduid string")
    sa = spark.createDataFrame([("0",)], "uid string")
    sb = spark.createDataFrame([("1",)], "uid string")
    sab = spark.createDataFrame([("0",), ("1",)], "uid string")
    da = {r["uid"]: r["betweenness"]
          for r in betweenness_sampled(e, sa, 3).collect()}
    db = {r["uid"]: r["betweenness"]
          for r in betweenness_sampled(e, sb, 3).collect()}
    dab = {r["uid"]: r["betweenness"]
           for r in betweenness_sampled(e, sab, 3).collect()}
    for uid, v in dab.items():
        # each output rounds to 6 dp independently -> up to 2 half-ulps
        assert abs(v - (da.get(uid, 0.0) + db.get(uid, 0.0))) < 2e-6


def test_holt_forecast_is_linear_in_inputs(spark):
    """The unrolled Holt coefficients define a LINEAR map: forecasting
    y+z must equal forecast(y) + forecast(z)."""
    from graphydb_spark.queries._analytics_b import (_HOLT_D, _HOLT_NUMS,
                                                     _HOLT_T)
    import random as _r
    rng = _r.Random(5)
    y = [rng.randint(1, 100) for _ in range(_HOLT_T)]
    z = [rng.randint(1, 100) for _ in range(_HOLT_T)]
    for h in (1, 2, 3, 4):
        fy = sum(_HOLT_NUMS[h][i] * y[i] for i in range(_HOLT_T))
        fz = sum(_HOLT_NUMS[h][i] * z[i] for i in range(_HOLT_T))
        fyz = sum(_HOLT_NUMS[h][i] * (y[i] + z[i])
                  for i in range(_HOLT_T))
        assert fyz == fy + fz
