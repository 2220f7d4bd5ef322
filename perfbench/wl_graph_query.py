"""graph_query: the short-query read path over the TPC-H graph.

One cycle is five ``Graph.fetch`` shapes plus the catalog's ``tpch_q3``
and ``tpch_q5``; the seed picks the region, part size, market segment,
nation, balance threshold and anchor customer of each cycle.  Every result
is checked against SQL written here (or ``ORACLES[name]`` for catalog
queries) run by DuckDB over the same parquet files.
"""

from __future__ import annotations

import random
import time

import datagen
from common import canon, canon_df, canon_duck

NEEDS_DATA = True
#: warm-up ops before timing: a whole cycle (JIT and plan caches)
WARMUP_OPS = 7
#: nominal seconds per cycle on a 4-vCPU host; sets the cycles per run
CYCLE_S = 8

TWO_HOP = ("(r:Region) <(ir:InRegion)- (n:Nation) <(fn:FromNation)- "
           "[c:Customer]")
THREE_HOP = "[c:Customer] -(pl:Placed)> (o:Order) -(ct:Contains)> (p:Part)"
GROUPED = "[c:Customer,ordercount] -(pl:Placed)> (o:Order)"
VARLEN = "(c:Customer) -(e*1..3)> [x]"
CUSTOMERS = "[c:Customer]"


def cycle(rng: random.Random, i: int, scale: float) -> list[dict]:
    n_cust = datagen.table_sizes(scale)["customer"]
    return [
        {"op": "two_hop", "region": rng.choice(datagen.REGIONS)},
        {"op": "three_hop", "size": rng.randint(1, 50)},
        {"op": "group_order_limit", "segment": rng.choice(datagen.SEGMENTS)},
        {"op": "varlen", "cust": rng.randrange(n_cust)},
        {"op": "nset_algebra", "segment": rng.choice(datagen.SEGMENTS),
         "bal": rng.randint(0, 8000), "nation": rng.randrange(25)},
        {"op": "catalog", "name": "tpch_q3"},
        {"op": "catalog", "name": "tpch_q5"},
    ]


def setup(ctx) -> dict:
    from graphydb_spark.sources.tpch_graph import tpch_graph
    t = time.perf_counter()
    g = tpch_graph(ctx.spark, ctx.data_dir)
    g.nodes_df.count()
    ctx.state["g"] = g
    return {"sources.tpch_graph.encode_s": time.perf_counter() - t}


# ------------------------------------------------------------------ oracle
def expect(ctx, op: dict):
    con, kind = ctx.duck, op["op"]
    if kind == "two_hop":
        return canon_duck(con, """
            SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) AS uid
            FROM customer JOIN nation ON c_nationkey = n_nationkey
                 JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = ?""", params=[op["region"]])
    if kind == "three_hop":
        return canon_duck(con, """
            SELECT DISTINCT 'Customer:' || CAST(o_custkey AS VARCHAR) AS uid
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                 JOIN part ON l_partkey = p_partkey
            WHERE p_size = ?""", params=[op["size"]])
    if kind == "group_order_limit":
        return canon_duck(con, """
            SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) AS uid,
                   COUNT(*) AS ordercount
            FROM customer JOIN orders ON o_custkey = c_custkey
            WHERE c_mktsegment = ?
            GROUP BY c_custkey ORDER BY ordercount DESC, uid LIMIT 20""",
            ordered=True, params=[op["segment"]])
    if kind == "varlen":
        # out-edges from a customer: Placed -> Order -> (Contains -> Part,
        # SuppliedBy -> Supplier -> LocatedIn -> Nation); FromNation ->
        # Nation -> InRegion -> Region
        return canon_duck(con, """
            WITH o AS (SELECT o_orderkey FROM orders WHERE o_custkey = $1),
            li AS (SELECT l_partkey, l_suppkey FROM lineitem
                   WHERE l_orderkey IN (SELECT o_orderkey FROM o)),
            cn AS (SELECT c_nationkey FROM customer WHERE c_custkey = $1)
            SELECT 'Order:' || CAST(o_orderkey AS VARCHAR) AS uid FROM o
            UNION SELECT 'Part:' || CAST(l_partkey AS VARCHAR) FROM li
            UNION SELECT 'Supplier:' || CAST(l_suppkey AS VARCHAR) FROM li
            UNION SELECT 'Nation:' || CAST(s_nationkey AS VARCHAR)
                  FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM li)
            UNION SELECT 'Nation:' || CAST(c_nationkey AS VARCHAR) FROM cn
            UNION SELECT 'Region:' || CAST(n_regionkey AS VARCHAR)
                  FROM nation WHERE n_nationkey IN (SELECT * FROM cn)""",
            params=[op["cust"]])
    if kind == "nset_algebra":
        a = {r[0] for r in canon_duck(con, """
            SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) AS uid
            FROM customer WHERE c_mktsegment = ? AND c_acctbal > ?
            ORDER BY uid LIMIT 200""", params=[op["segment"], op["bal"]])}
        b = {r[0] for r in canon_duck(con, """
            SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) AS uid
            FROM customer WHERE c_nationkey = ?
            ORDER BY uid LIMIT 200""", params=[op["nation"]])}
        return _algebra_rows(a | b, a & b, a - b)
    if kind == "catalog":
        from graphydb_spark.queries import ORACLES
        cur = con.execute(ORACLES[op["name"]])
        return (tuple(sorted(d[0] for d in cur.description)),
                canon_duck(con, ORACLES[op["name"]]))
    raise ValueError(kind)


def _algebra_rows(u, i, d) -> list[tuple]:
    return canon([("diff", x) for x in d] + [("inter", x) for x in i]
                 + [("union", x) for x in u])


# --------------------------------------------------------------------- ops
def _fetch_args(op: dict) -> tuple[str, dict]:
    kind = op["op"]
    if kind == "two_hop":
        return TWO_HOP, {"WHERE": f'r.data.r_name = "{op["region"]}"',
                         "PROJECT": ["uid"]}
    if kind == "three_hop":
        return THREE_HOP, {"WHERE": f"CAST(p.data.p_size AS INT) = "
                                    f"{op['size']}", "PROJECT": ["uid"]}
    if kind == "group_order_limit":
        return GROUPED, {
            "WHERE": f'c.data.c_mktsegment = "{op["segment"]}"',
            "GROUP": "c.uid", "ORDER": "ordercount DESC, uid", "LIMIT": 20,
            "ordercount": "COUNT(o.uid)"}
    if kind == "varlen":
        return VARLEN, {"WHERE": f"c.uid = 'Customer:{op['cust']}'",
                        "PROJECT": ["uid"]}
    raise ValueError(kind)


def _nset_queries(op: dict) -> list[tuple[str, dict]]:
    return [(CUSTOMERS, {"WHERE": f'c.data.c_mktsegment = "{op["segment"]}"'
                                  f" AND CAST(c.data.c_acctbal AS DOUBLE)"
                                  f" > {op['bal']}",
                         "ORDER": "uid", "LIMIT": 200}),
            (CUSTOMERS, {"WHERE": f"CAST(c.data.c_nationkey AS INT) = "
                                  f"{op['nation']}",
                         "ORDER": "uid", "LIMIT": 200})]


def run(ctx, op: dict):
    g, kind = ctx.state["g"], op["op"]
    if kind == "catalog":
        from graphydb_spark.queries import QUERIES
        df = QUERIES[op["name"]](ctx.spark, ctx.data_dir)
        return tuple(sorted(df.columns)), canon_df(df)
    if kind == "nset_algebra":
        t = time.perf_counter()
        a, b = (g.fetch(chain, **kw) for chain, kw in _nset_queries(op))
        t1 = time.perf_counter()
        u, i, d = a.union(b), a.intersection(b), a.difference(b)
        ctx.sample("sets.algebra_ms", 1e3 * (time.perf_counter() - t1))
        ctx.state["nset_fetch_ms"] = 1e3 * (t1 - t)
        return _algebra_rows(u.uids(), i.uids(), d.uids())
    chain, kw = _fetch_args(op)
    t = time.perf_counter()
    df = g.fetch(chain, as_df=True, **kw)
    t1 = time.perf_counter()
    grouped = kind == "group_order_limit"
    rows = canon_df(df.select("uid", *(["ordercount"] if grouped else [])),
                    ordered=grouped)
    ctx.sample("graph.fetch_plan_ms", 1e3 * (t1 - t))
    ctx.sample("graph.fetch_exec_ms", 1e3 * (time.perf_counter() - t1))
    return rows


def extras(ctx, op: dict) -> None:
    """Traced pass only, outside the op's wall time: chain compile time
    and the hydration cost of NSet results."""
    g, kind = ctx.state["g"], op["op"]
    if kind == "catalog":
        return
    queries = _nset_queries(op) if kind == "nset_algebra" \
        else [_fetch_args(op)]
    for chain, kw in queries:
        t = time.perf_counter()
        g.fetch(chain, DEBUG=True, **kw)
        ctx.sample("chain.compile_ms", 1e3 * (time.perf_counter() - t))
    if kind == "nset_algebra":
        t = time.perf_counter()
        for chain, kw in queries:
            g.fetch(chain, as_df=True, **kw).collect()
        twin_ms = 1e3 * (time.perf_counter() - t)
        ctx.sample("sets.hydrate_ms", ctx.state["nset_fetch_ms"] - twin_ms)
