"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query; ``queries()``/``oracle_sql()``
declare the SURVEY.md §2 inventory (implementations live in
``graphydb_spark.queries``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from graphydb_spark.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 2-hop graph pattern with JSON predicate + computed extras
    over the sf0.001 fixture (chain DSL → one Spark SQL join tree)."""
    from graphydb_spark.sources.tpch_graph import tpch_graph

    g = tpch_graph(spark, "/root/testdata/sf0.001", cache=False)
    return g.fetch(
        "(r:Region) <(ir:InRegion)- (n:Nation) <(fn:FromNation)- "
        "[c:Customer,acctbal]",
        'r.data.r_name = "ASIA"',
        acctbal="CAST(c.data.c_acctbal AS DOUBLE)",
        as_df=True,
    ).select("uid", "kind", "acctbal")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 / §7.3."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twins, one per ``queries()`` key."""
    return dict(ORACLES)
