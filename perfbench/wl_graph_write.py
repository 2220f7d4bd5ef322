"""graph_write: a reference-shaped editing session through the write path.

One cycle is an edit session and a versioned snapshot.  The session
starts from the same base every cycle, an empty ``Graph(spark)``, and runs:
``bulk_save`` of a seeded batch of Person nodes and then Likes edges;
modify and re-save a subset; ``delete_node(disconnect=True)`` on a few
nodes under one batch id; ``undo`` twice.  The snapshot op publishes the
session's graph with ``write_versioned`` and reads it back with
``open_versioned``.  Writes go through the Graph's own flush policy: the
pending buffer is merged on the next read, whose flush merge is timed
apart from the fetch that follows it.

Every op ends with the read that shows its effect (the read-your-writes
``fetch``), and that read's result is the op's checked result; a plain
Python model of the session gives the expected values.  After a score
change the read is hydrated: two ``NSet`` fetches combined with
``intersection`` and ``difference``, so the ``sets`` layer runs here too.
"""

from __future__ import annotations

import json
import os
import random
import time

from common import canon, mean

NEEDS_DATA = False
#: warm-up ops before timing: one save and one modify (JIT, merge path)
WARMUP_OPS = 2
#: nominal seconds per cycle on a 4-vCPU host; sets the cycles per run
CYCLE_S = 15
N_NODES, N_EDGES, N_MODIFY, N_DELETE = 300, 450, 30, 3
LIKED = "(a:Person) -(e:Likes)> [b:Person]"


def cycle(rng: random.Random, i: int, scale: float) -> list[dict]:
    tag = f"c{i:02d}s0"
    nodes = [{"uid": f"{tag}n{k:04d}", "name": f"person{k}",
              "age": rng.randint(18, 90), "grp": rng.randrange(10),
              "score": rng.randrange(1000)} for k in range(N_NODES)]
    edges = [{"uid": f"{tag}e{k:04d}", "a": rng.randrange(N_NODES),
              "b": rng.randrange(N_NODES), "w": rng.randrange(100)}
             for k in range(N_EDGES)]
    modify = {k: 1000 + rng.randrange(1000)
              for k in rng.sample(range(N_NODES), N_MODIFY)}
    delete = rng.sample(range(N_NODES), N_DELETE)
    return [{"op": "save", "session": tag, "nodes": nodes, "edges": edges},
            {"op": "modify", "session": tag,
             "scores": sorted(modify.items())},
            {"op": "delete", "session": tag, "nodes": sorted(delete)},
            {"op": "undo", "session": tag, "step": 1},
            {"op": "undo", "session": tag, "step": 2},
            {"op": "versioned", "session": tag}]


def setup(ctx) -> dict:
    ctx.state.update(graphs={}, snapshots=0, user_bytes={})
    return {}


def spans(sp) -> None:
    from graphydb_spark.graph import Graph
    for fn in ("bulk_save", "undo"):
        sp.wrap(Graph, fn, f"graph.{fn}")


# ------------------------------------------------------------------- model
def _counts(nodes: dict, edges: dict) -> int:
    """Persons with an incoming Likes edge (a node or edge delete shows)."""
    return len({e["b"] for e in edges.values()
                if e["a"] in nodes and e["b"] in nodes})


def _high_scores(nodes: dict, edges: dict) -> list[tuple]:
    liked = {e["b"] for e in edges.values()
             if e["a"] in nodes and e["b"] in nodes}
    high = {k: n for k, n in nodes.items() if n["score"] >= 1000}
    return _score_rows([(n["name"], n["score"]) for n in high.values()],
                       [high[k]["name"] for k in high if k in liked],
                       [high[k]["name"] for k in high if k not in liked])


def expect(ctx, op: dict):
    """Replay the session on dicts, in op order (ops of one session arrive
    in sequence, so the model state lives between calls)."""
    models = ctx.state.setdefault("models", {})
    kind, tag = op["op"], op["session"]
    if kind == "save":
        nodes = {k: dict(n) for k, n in enumerate(op["nodes"])}
        edges = {e["uid"]: e for e in op["edges"]}
        models[tag] = {"nodes": nodes, "edges": edges, "undo": []}
        return _counts(nodes, edges)
    m = models[tag]
    nodes, edges = m["nodes"], m["edges"]
    if kind == "modify":
        m["undo"].append(("modify", {k: nodes[k]["score"]
                                     for k, _ in op["scores"]}))
        for k, s in op["scores"]:
            nodes[k]["score"] = s
        return _high_scores(nodes, edges)
    if kind == "delete":
        gone_n = {k: nodes.pop(k) for k in op["nodes"]}
        gone_e = {u: edges.pop(u) for u, e in list(edges.items())
                  if e["a"] in gone_n or e["b"] in gone_n}
        m["undo"].append(("delete", (gone_n, gone_e)))
        return _counts(nodes, edges)
    if kind == "undo":
        what, saved = m["undo"].pop()
        if what == "delete":
            nodes.update(saved[0])
            edges.update(saved[1])
            return _counts(nodes, edges)
        for k, s in saved.items():
            nodes[k]["score"] = s
        return _high_scores(nodes, edges)
    if kind == "versioned":
        ctx.state["user_bytes"][tag] = sum(
            len(json.dumps(props, separators=(",", ":")))
            for props in [{k: v for k, v in n.items() if k != "uid"}
                          for n in nodes.values()]
            + [{"w": e["w"]} for e in edges.values()])
        return _counts(nodes, edges)
    raise ValueError(kind)


# --------------------------------------------------------------------- ops
HIGH = "[p:Person]"
HIGH_WHERE = "CAST(p.data.score AS INT) >= 1000"


def _observe_counts(ctx, g) -> int:
    t = time.perf_counter()
    df = g.fetch(LIKED, COUNT=True, as_df=True)
    t1 = time.perf_counter()
    n = df.collect()[0][0]
    ctx.sample("graph.fetch_plan_ms", 1e3 * (t1 - t))
    ctx.sample("graph.fetch_exec_ms", 1e3 * (time.perf_counter() - t1))
    return n


def _observe_scores(ctx, g) -> list[tuple]:
    """Hydrated reads and set algebra: the high scorers, split by whether
    anyone likes them."""
    t = time.perf_counter()
    high, liked = g.fetch(HIGH, HIGH_WHERE), g.fetch(LIKED)
    t1 = time.perf_counter()
    both, only = high.intersection(liked), high.difference(liked)
    ctx.sample("sets.algebra_ms", 1e3 * (time.perf_counter() - t1))
    ctx.state["nset_fetch_ms"] = 1e3 * (t1 - t)
    return _score_rows([(p["name"], p["score"]) for p in high],
                       [p["name"] for p in both], [p["name"] for p in only])


def _score_rows(high, liked, unliked) -> list[tuple]:
    return canon([("high", n, s) for n, s in high]
                 + [("liked", n, 0) for n in liked]
                 + [("unliked", n, 0) for n in unliked])


def _timed_read(ctx, fn, g):
    """The read that shows an op's effect.  Its first step is the flush
    merge of the pending writes (any read of the graph starts with it),
    timed on its own, so the fetch and NSet timers inside ``fn`` see a
    flushed graph."""
    t = time.perf_counter()
    g.nodes_df                       # the property runs the flush
    t1 = time.perf_counter()
    out = fn(ctx, g)
    ctx.sample("graph.flush_merge_ms", 1e3 * (t1 - t))
    ctx.sample("graph.read_after_write_ms", 1e3 * (time.perf_counter() - t))
    ctx.sample("graph.journal_len", g.nchanges)
    return out


def run(ctx, op: dict):
    from graphydb_spark.graph import Graph
    kind, tag, st = op["op"], op["session"], ctx.state
    if kind == "save":
        g = Graph(ctx.spark)
        nodes = [g.Node("Person", **n) for n in op["nodes"]]
        edges = [g.Edge(nodes[e["a"]], "Likes", nodes[e["b"]],
                        uid=e["uid"], w=e["w"]) for e in op["edges"]]
        g.bulk_save(nodes)
        g.bulk_save(edges)
        st["graphs"][tag] = (g, nodes)
        ctx.sample("items", len(nodes) + len(edges))
        return _timed_read(ctx, _observe_counts, g)
    g, nodes = st["graphs"][tag]
    if kind == "modify":
        changed = []
        for k, s in op["scores"]:
            nodes[k]["score"] = s
            changed.append(nodes[k])
        g.bulk_save(changed)
        ctx.sample("items", len(changed))
        return _timed_read(ctx, _observe_scores, g)
    if kind == "delete":
        before = g.nchanges
        batch = f"{tag}-delete"
        for k in op["nodes"]:
            g.delete_node(nodes[k], disconnect=True, batch=batch)
        ctx.sample("items", g.nchanges - before)
        return _timed_read(ctx, _observe_counts, g)
    if kind == "undo":
        undone = len(g.lastchanges())
        g.undo()
        ctx.sample("items", undone)
        return _timed_read(ctx, _observe_counts if op["step"] == 1
                           else _observe_scores, g)
    if kind == "versioned":
        st["snapshots"] += 1
        path = os.path.join(ctx.work_dir, "versioned", str(st["snapshots"]))
        t = time.perf_counter()
        g.write_versioned(path)
        t1 = time.perf_counter()
        g2 = Graph.open_versioned(ctx.spark, path)
        ctx.sample("graph.write_versioned_ms", 1e3 * (t1 - t))
        ctx.sample("graph.open_versioned_ms",
                   1e3 * (time.perf_counter() - t1))
        ctx.sample("stored_bytes_per_user_byte",
                   _disk_bytes(path) / st["user_bytes"][tag])
        return _timed_read(ctx, _observe_counts, g2)
    raise ValueError(kind)


def _disk_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def report(ctx, records, wall) -> dict:
    """Items saved, modified, deleted or undone per second, and on-disk
    bytes of the last snapshot per JSON byte of its live user props."""
    stored = ctx.samples.get("stored_bytes_per_user_byte", [0.0])
    return {"items_per_s": (sum(ctx.samples.get("items", [])) / wall, "1/s"),
            "stored_bytes_per_user_byte": (stored[-1], "ratio")}


def extras(ctx, op: dict) -> None:
    """Traced pass only, outside the op's wall time: chain compile time of
    the observing reads, and the hydration cost of their NSet results."""
    g = ctx.state["graphs"][op["session"]][0]
    for chain, where in ((LIKED, None), (HIGH, HIGH_WHERE)):
        t = time.perf_counter()
        g.fetch(chain, where, DEBUG=True)
        ctx.sample("chain.compile_ms", 1e3 * (time.perf_counter() - t))
    if op["op"] == "modify" or (op["op"] == "undo" and op["step"] == 2):
        t = time.perf_counter()
        g.fetch(HIGH, HIGH_WHERE, as_df=True).collect()
        g.fetch(LIKED, as_df=True).collect()
        twin_ms = 1e3 * (time.perf_counter() - t)
        ctx.sample("sets.hydrate_ms", ctx.state["nset_fetch_ms"] - twin_ms)


def layer_metrics(ctx, records, sp) -> dict:
    out = {f"graph.{fn}_ms": mean(sp.durations_ms(f"graph.{fn}"))
           for fn in ("bulk_save", "undo")}
    wall = sum(r["lat"] for r in records)
    out.update({f"graph.{k}": v
                for k, (v, _) in report(ctx, records, wall).items()})
    return out
