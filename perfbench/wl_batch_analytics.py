"""batch_analytics: seconds-long iterative ops on the TPC-H graph.

One cycle runs each superstep algorithm of ``graph_algos`` once on a large
subgraph -- connected components and label propagation on Customer-Order
over Placed; PageRank, personalized PageRank, BFS distances, k-hop and
k-core on Customer/Order/Part over Placed+Contains -- the near-dup
pipeline ``minhash_lsh_pairs -> jaccard_verify -> dedup_clusters`` on a
seeded subset of the documents, and, as one more seconds-long op, one
cycle of the graph_write editing session (see ``wl_graph_write``), so the
write path stays measured by a workload the benchmark is run on.  The seed picks the start customers, the
sampled nodes and the document subset.  Every call builds its frames anew,
so no op is served from a memo.

Each op returns a compact summary (counts, top-10 ranks, the labels of
sampled nodes, or every dedup cluster), which is compared with NumPy
reference implementations of the same algorithms over the tables read by
DuckDB, and with DuckDB SQL for the MinHash/Jaccard stages.
"""

from __future__ import annotations

import random
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

import datagen
import wl_graph_write
from common import canon, canon_df, mean

NEEDS_DATA = True
#: no warm-up: a cycle takes ~30 s and every op builds its frames anew
WARMUP_OPS = 0
#: nominal seconds per cycle on a 4-vCPU host; sets the cycles per run
CYCLE_S = 45
CO = (["Customer", "Order"], ["Placed"])
COP = (["Customer", "Order", "Part"], ["Placed", "Contains"])
PR_ITERS, LPA_ITERS, BFS_DEPTH, HOPS, CORE_K = 2, 1, 2, 2, 3
DAMPING = 0.85
ALGOS = ("cc", "pagerank", "ppr", "bfs", "k_hop", "lpa", "k_core")
#: ops the spark.* layer metrics average over.  The editing session is
#: left out: on its freshly merged frames adaptive query execution races
#: between stages, and its job count varies by up to two from run to run
#: of one seed; its write path is measured by the graph.* metrics.
SPARK_LAYER_OPS = ALGOS + ("dedup",)
#: per-layer metric ``graph_algos.<name>_ms`` -> the function it times
ALGO_SPANS = {"cc": "connected_components", "pagerank": "pagerank",
              "ppr": "personalized_pagerank", "bfs": "bfs_distances",
              "k_hop": "k_hop", "label_propagation": "label_propagation",
              "k_core": "k_core"}


def cycle(rng: random.Random, i: int, scale: float) -> list[dict]:
    sz = datagen.table_sizes(scale)

    def custs(n):
        return [f"Customer:{rng.randrange(sz['customer'])}" for _ in range(n)]

    def sample():
        return sorted({f"Customer:{rng.randrange(sz['customer'])}"
                       for _ in range(10)}
                      | {f"Order:{rng.randrange(sz['orders'])}"
                         for _ in range(10)})
    return [
        {"op": "cc", "sample": sample()},
        {"op": "pagerank"},
        {"op": "ppr", "seeds": custs(3)},
        {"op": "bfs", "seeds": custs(2)},
        {"op": "k_hop", "seeds": custs(3)},
        {"op": "lpa", "sample": sample()},
        {"op": "k_core", "sample": sample()},
        {"op": "dedup", "sources": sorted(rng.sample(range(20), 16))},
        {"op": "edit_session", "ops": wl_graph_write.cycle(rng, i, scale)},
    ]


def setup(ctx) -> dict:
    import time

    from graphydb_spark.sources.tpch_graph import tpch_graph
    t = time.perf_counter()
    g = tpch_graph(ctx.spark, ctx.data_dir)
    g.nodes_df.count()
    ctx.state["g"] = g
    return {"sources.tpch_graph.encode_s": time.perf_counter() - t,
            **wl_graph_write.setup(ctx)}


def spans(sp) -> None:
    from graphydb_spark.operators import dedup, graph_algos
    for fn in ALGO_SPANS.values():
        sp.wrap(graph_algos, fn, f"graph_algos.{fn}")
    sp.wrap(dedup, "dedup_clusters", "dedup.dedup_clusters")
    wl_graph_write.spans(sp)


# --------------------------------------------------------------------- ops
def _frames(ctx, sub):
    from pyspark.sql import functions as F
    g = ctx.state["g"]
    kinds, ekinds = sub
    return (g.nodes_df.where(F.col("kind").isin(kinds)),
            g.edges_df.where(F.col("kind").isin(ekinds)))


def _seeds(ctx, uids):
    return ctx.spark.createDataFrame([(u,) for u in uids], "uid string")


def _top_ranks(ranks) -> list:
    from pyspark.sql import functions as F
    top = (ranks.select("uid", F.round("rank", 9).alias("r"))
           .orderBy(F.col("r").desc(), F.col("uid")).limit(10).collect())
    return canon(top, ordered=True)


def _docs(ctx, op):
    from pyspark.sql import functions as F
    docs = ctx.spark.read.parquet(f"{ctx.data_dir}/documents.parquet")
    return docs.where(F.col("source").isin([f"src{s}" for s in op["sources"]]))


def run(ctx, op: dict):
    from pyspark.sql import functions as F

    from graphydb_spark.operators import dedup, graph_algos
    kind = op["op"]
    if kind == "edit_session":
        return [wl_graph_write.run(ctx, sub) for sub in op["ops"]]
    if kind == "cc":
        labels = graph_algos.connected_components(*_frames(ctx, CO))
        return _label_summary(labels, "component", op["sample"])
    if kind == "lpa":
        labels = graph_algos.label_propagation(*_frames(ctx, CO),
                                               iters=LPA_ITERS)
        return _label_summary(labels, "label", op["sample"])
    if kind == "pagerank":
        return _top_ranks(graph_algos.pagerank(*_frames(ctx, COP),
                                               iters=PR_ITERS))
    if kind == "ppr":
        return _top_ranks(graph_algos.personalized_pagerank(
            *_frames(ctx, COP), op["seeds"], iters=PR_ITERS))
    if kind == "bfs":
        _, edges = _frames(ctx, COP)
        dist = graph_algos.bfs_distances(edges, _seeds(ctx, op["seeds"]),
                                         BFS_DEPTH, "both")
        return canon_df(dist.groupBy("dist").count())
    if kind == "k_hop":
        _, edges = _frames(ctx, COP)
        reach = graph_algos.k_hop(edges, _seeds(ctx, op["seeds"]), HOPS)
        return canon_df(reach.groupBy(
            F.split("uid", ":").getItem(0).alias("kind")).count())
    if kind == "k_core":
        core = graph_algos.k_core(*_frames(ctx, COP), CORE_K)
        n, hit = core.agg(F.count("*"), F.collect_list(F.when(
            F.col("uid").isin(op["sample"]), F.col("uid")))).collect()[0]
        return [("count", n)] + canon((u,) for u in hit)
    if kind == "dedup":
        docs = _docs(ctx, op)
        pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id")
        verified = dedup.jaccard_verify(docs, pairs, threshold=0.5)
        return canon_df(dedup.dedup_clusters(verified))
    raise ValueError(kind)


def _label_summary(labels, col: str, sample: list[str]) -> list:
    """Node and label counts plus the labels of the sampled nodes, in one
    action."""
    from pyspark.sql import functions as F
    n, n_labels, hit = labels.agg(
        F.count("*"), F.countDistinct(col),
        F.collect_list(F.when(F.col("uid").isin(sample),
                              F.struct("uid", col)))).collect()[0]
    return [("count", n, n_labels)] + canon(hit)


def extras(ctx, op: dict) -> None:
    """Traced pass only: candidate and verified pair counts of the dedup
    pipeline (extra jobs, outside the op's wall time)."""
    import time

    from graphydb_spark.operators import dedup
    if op["op"] == "edit_session":
        for sub in op["ops"]:
            wl_graph_write.extras(ctx, sub)
    if op["op"] != "dedup":
        return
    docs = _docs(ctx, op)
    t = time.perf_counter()
    pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id")
    n_pairs = pairs.count()
    ctx.sample("dedup.minhash_pairs_ms", 1e3 * (time.perf_counter() - t))
    n_ver = dedup.jaccard_verify(docs, pairs, threshold=0.5).count()
    ctx.sample("dedup.candidate_pairs", n_pairs)
    ctx.sample("dedup.verified_frac", n_ver / n_pairs if n_pairs else 0.0)


def layer_metrics(ctx, records, sp) -> dict:
    out = {f"graph_algos.{name}_ms": mean(sp.durations_ms(f"graph_algos.{fn}"))
           for name, fn in ALGO_SPANS.items()}
    out["graph_algos.dedup_clusters_ms"] = mean(
        sp.durations_ms("dedup.dedup_clusters"))
    out.update(wl_graph_write.layer_metrics(ctx, _edits(records), sp))
    out["graph_algos.jobs_per_call"] = mean(
        [r["spark"]["jobs"] for r in records if r["op"] in ALGOS])
    return out


def _edits(records) -> list:
    return [r for r in records if r["op"] == "edit_session"]


def report(ctx, records, wall) -> dict:
    """The editing session's item rate and snapshot size."""
    edits = _edits(records)
    return wl_graph_write.report(ctx, edits, sum(r["lat"] for r in edits))


# ------------------------------------------------------------------ oracle
class _Graph:
    """A kind-restricted TPC-H subgraph as integer arrays.  Node ids are
    positions in the lexicographically sorted uid list, so the smallest id
    of a set is also its smallest uid string."""

    def __init__(self, con, sub) -> None:
        kinds, ekinds = sub
        parts = {"Customer": "SELECT c_custkey FROM customer",
                 "Order": "SELECT o_orderkey FROM orders",
                 "Part": "SELECT p_partkey FROM part"}
        uids = []
        for k in kinds:
            keys = con.execute(parts[k]).fetchnumpy()
            uids.append(np.char.add(f"{k}:",
                                    next(iter(keys.values())).astype(str)))
        self.uids = np.sort(np.concatenate(uids))
        edges = {"Placed": ("Customer", "Order",
                            "SELECT o_custkey, o_orderkey FROM orders"),
                 "Contains": ("Order", "Part",
                              "SELECT l_orderkey, l_partkey FROM lineitem")}
        src, dst = [], []
        for e in ekinds:
            sk, dk, sql = edges[e]
            cols = list(con.execute(sql).fetchnumpy().values())
            src.append(self.index(np.char.add(f"{sk}:", cols[0].astype(str))))
            dst.append(self.index(np.char.add(f"{dk}:", cols[1].astype(str))))
        self.src, self.dst = np.concatenate(src), np.concatenate(dst)
        self.n = len(self.uids)

    def index(self, uids) -> np.ndarray:
        return np.searchsorted(self.uids, uids)

    def pairs(self, self_loops: bool = True):
        """Distinct undirected neighbour pairs, both directions."""
        a = np.concatenate([self.src, self.dst])
        b = np.concatenate([self.dst, self.src])
        if not self_loops:
            a, b = a[a != b], b[a != b]
        key = np.unique(a.astype(np.int64) * self.n + b)
        return key // self.n, key % self.n


def _graph(ctx, sub) -> _Graph:
    key = ("graph",) + tuple(sub[1])
    if key not in ctx.state:
        ctx.state[key] = _Graph(ctx.duck, sub)
    return ctx.state[key]


def _round9(v: float) -> float:
    return float(Decimal(repr(v)).quantize(Decimal("1e-9"), ROUND_HALF_UP))


def _ranks_summary(g: _Graph, ranks: np.ndarray) -> list:
    """Top 10 by rank rounded to 9 places, ties to the smaller uid."""
    cand = np.argsort(-ranks, kind="stable")[:100]
    rounded = {int(i): _round9(float(ranks[i])) for i in cand}
    order = sorted(rounded, key=lambda i: (-rounded[i], g.uids[i]))[:10]
    return canon([(str(g.uids[i]), rounded[i]) for i in order],
                 ordered=True)


def _pagerank(g: _Graph, seeds=None) -> np.ndarray:
    deg = np.bincount(g.src, minlength=g.n).astype(float)
    if seeds is None:
        share = None
        ranks = np.ones(g.n)
    else:
        share = np.zeros(g.n)
        idx = sorted(set(g.index(np.array(seeds))))
        share[idx] = 1.0 / len(idx)
        ranks = share.copy()
    for _ in range(PR_ITERS):
        dangling = ranks[deg == 0].sum()
        inc = np.bincount(g.dst, weights=ranks[g.src] / deg[g.src],
                          minlength=g.n)
        if share is None:
            ranks = (1 - DAMPING + DAMPING * dangling / g.n) + DAMPING * inc
        else:
            ranks = share * ((1 - DAMPING) + DAMPING * dangling) \
                + DAMPING * inc
    return ranks


def _min_label_components(g: _Graph) -> np.ndarray:
    a, b = g.pairs()
    lab = np.arange(g.n)
    while True:
        new = lab.copy()
        np.minimum.at(new, a, lab[b])
        if np.array_equal(new, lab):
            return lab
        lab = new


def _label_propagation(g: _Graph) -> np.ndarray:
    a, b = g.pairs()
    lab = np.arange(g.n)
    for _ in range(LPA_ITERS):
        key, count = np.unique(b.astype(np.int64) * g.n + lab[a],
                               return_counts=True)
        node, label = key // g.n, key % g.n
        # most frequent neighbour label, ties to the smallest label
        order = np.lexsort((label, -count, node))
        node, label = node[order], label[order]
        first = np.ones(len(node), bool)
        first[1:] = node[1:] != node[:-1]
        new = np.arange(g.n)
        new[node[first]] = label[first]
        lab = new
    return lab


def _bfs(g: _Graph, seeds, depth: int, both: bool) -> dict:
    a, b = (g.pairs() if both else (g.src, g.dst))
    order = np.argsort(a, kind="stable")
    a, b = a[order], b[order]
    start = np.searchsorted(a, np.arange(g.n + 1))
    seen = np.zeros(g.n, bool)
    frontier = np.unique(g.index(np.array(seeds)))
    seen[frontier] = True
    dist = {0: len(frontier)}
    for d in range(1, depth + 1):
        nbr = np.concatenate([b[start[v]:start[v + 1]] for v in frontier]) \
            if len(frontier) else np.array([], int)
        nxt = np.unique(nbr[~seen[nbr]])
        if not len(nxt):
            break
        seen[nxt] = True
        dist[d] = len(nxt)
        frontier = nxt
    return dist, seen


def _k_core(g: _Graph) -> np.ndarray:
    a, b = g.pairs(self_loops=False)
    while True:
        deg = np.bincount(a, minlength=g.n)
        keep = deg >= CORE_K
        m = keep[a] & keep[b]
        if m.all():
            return np.unique(a)
        a, b = a[m], b[m]


def _sample_labels(g: _Graph, lab: np.ndarray, sample) -> list:
    idx = g.index(np.array(sample))
    return canon([(u, str(g.uids[lab[i]])) for u, i in zip(sample, idx)])


_DEDUP_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents WHERE list_contains($1, source)),
sh AS (SELECT doc_id, list_transform(range(1, len(ws) - 1),
         i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]) AS s
       FROM toks WHERE len(ws) >= 3),
sig AS (SELECT doc_id, s, list_transform(range(0, 8),
          j -> list_min(list_transform(s, x -> md5(j || ':' || x)))) AS m
        FROM sh),
bands AS (SELECT doc_id, b, md5(m[2 * b + 1] || '|' || m[2 * b + 2]) AS bh
          FROM sig, range(0, 4) t(b)),
cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         FROM bands x JOIN bands y ON x.b = y.b AND x.bh = y.bh
          AND x.doc_id < y.doc_id)
SELECT id_a, id_b FROM cand
JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
WHERE len(list_intersect(list_distinct(sa.s), list_distinct(sb.s)))
      / len(list_distinct(list_concat(sa.s, sb.s)))::DOUBLE >= 0.5"""


def _dedup_clusters(pairs: list[tuple[int, int]]) -> list[tuple]:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for x, y in pairs:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    # (cluster, doc_id): columns in name order, as canon_df has them
    return canon([(find(d), d) for d in parent])


def expect(ctx, op: dict):
    kind = op["op"]
    if kind == "edit_session":
        return [wl_graph_write.expect(ctx, sub) for sub in op["ops"]]
    if kind == "dedup":
        pairs = ctx.duck.execute(
            _DEDUP_SQL, [[f"src{s}" for s in op["sources"]]]).fetchall()
        return _dedup_clusters(pairs)
    g = _graph(ctx, CO if kind in ("cc", "lpa") else COP)
    if kind in ("cc", "lpa"):
        lab = _min_label_components(g) if kind == "cc" \
            else _label_propagation(g)
        return [("count", g.n, len(np.unique(lab)))] + \
            _sample_labels(g, lab, op["sample"])
    if kind == "pagerank":
        return _ranks_summary(g, _pagerank(g))
    if kind == "ppr":
        return _ranks_summary(g, _pagerank(g, op["seeds"]))
    if kind == "bfs":
        dist, _ = _bfs(g, op["seeds"], BFS_DEPTH, both=True)
        # (count, dist): columns in name order, as canon_df has them
        return canon((c, d) for d, c in dist.items())
    if kind == "k_hop":
        _, seen = _bfs(g, op["seeds"], HOPS, both=False)
        kinds = np.char.partition(g.uids[seen], ":")[:, 0]
        k, c = np.unique(kinds, return_counts=True)
        return canon(zip(c.tolist(), k.tolist()))
    if kind == "k_core":
        core = set(g.uids[_k_core(g)].tolist())
        return [("count", len(core))] + canon(
            [(u,) for u in op["sample"] if u in core])
    raise ValueError(kind)
