"""relational headliners (scale/bench anchors; S13 spark.sql parity)."""
from __future__ import annotations

from ..sources.tpch_graph import tpch_graph
from ._registry import query
from ._shared import _register_raw


# --------------------------------------------------------------------------
# relational headliners (scale/bench anchors; S13 spark.sql parity)

_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

_Q3_SQL = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue,
       CAST(CAST(o_orderdate AS DATE) AS STRING) AS orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < '1995-03-15 00:00:00'
  AND l_shipdate  > '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
"""

# Spark-side Q3: same semantics as _Q3_SQL (the DuckDB oracle replays the
# flat form), restructured for scale.  The aggregation is pushed below the
# fact-side join: revenue is grouped by l_orderkey BEFORE joining — exact
# because o_orderkey is unique in co, so the post-join GROUP BY
# (l_orderkey, o_orderdate) partitions rows identically.  At any scale
# this shrinks the fact side to one row per qualifying order before it
# meets the orders side; locally it also means the statically-chosen hash
# build is the genuinely small post-agg side, not a 300k-row raw scan
# (the r02 regression: the compression-blind file-size estimate made the
# planner broadcast filtered lineitem — a single-threaded hash build).
# The only forced hint is on the segment-filtered customer (dim-sized);
# fact tables carry no hints, so at cluster scale every fact join
# degrades to a shuffle join on its own size evidence.
_Q3_SPARK_SQL = """
WITH co AS (
  SELECT /*+ BROADCAST(customer) */ o_orderkey, o_orderdate
  FROM customer JOIN orders ON c_custkey = o_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < '1995-03-15 00:00:00'
),
la AS (
  SELECT l_orderkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             CAST(1 - l_discount AS DECIMAL(18,2))) AS rev
  FROM lineitem
  WHERE l_shipdate > '1995-03-15 00:00:00'
  GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(CAST(o_orderdate AS DATE) AS STRING) AS orderdate
FROM la JOIN co ON l_orderkey = o_orderkey
"""

_Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= '1996-01-01 00:00:00'
  AND l_shipdate < '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

_Q3ISH_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderpriority
"""


def q_graph_q1(spark, sf_dir):
    """TPC-H Q1 expressed IN the graph DSL over Contains-edge JSON props —
    exercises GROUP with aggregate extras and the compiler's json_tuple
    fusion (one parse per edge for 5 referenced keys)."""
    g = tpch_graph(spark, sf_dir)
    epoch_cut = 904694400.0  # 1998-09-02 UTC
    return g.fetch(
        "-[ct:Contains,l_returnflag,l_linestatus,sum_qty,sum_base_price,"
        "sum_disc_price,count_order]>",
        f"CAST(ct.data.l_shipdate AS DOUBLE) <= {epoch_cut}",
        GROUP="ct.data.l_returnflag, ct.data.l_linestatus",
        l_returnflag="ct.data.l_returnflag",
        l_linestatus="ct.data.l_linestatus",
        sum_qty="CAST(SUM(CAST(ct.data.l_quantity AS DECIMAL(18,2))) "
                "AS DOUBLE)",
        sum_base_price="CAST(SUM(CAST(ct.data.l_extendedprice "
                       "AS DECIMAL(18,2))) AS DOUBLE)",
        sum_disc_price="CAST(SUM(CAST(ct.data.l_extendedprice AS "
                       "DECIMAL(18,2)) * CAST(1 - CAST(ct.data.l_discount "
                       "AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE)",
        count_order="COUNT(ct.uid)",
        as_df=True,
    ).select("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
             "sum_disc_price", "count_order")
query("graph_q1", q_graph_q1, _Q1_SQL)


def q_tpch_q1(spark, sf_dir):
    _register_raw(spark, sf_dir)
    return spark.sql(_Q1_SQL)
query("tpch_q1", q_tpch_q1, _Q1_SQL)


def q_tpch_q6(spark, sf_dir):
    _register_raw(spark, sf_dir)
    return spark.sql(_Q6_SQL)
query("tpch_q6", q_tpch_q6, _Q6_SQL)


def q_orders_by_segment(spark, sf_dir):
    _register_raw(spark, sf_dir)
    return spark.sql(_Q3ISH_SQL)
query("orders_by_segment", q_orders_by_segment, _Q3ISH_SQL)
