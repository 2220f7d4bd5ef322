"""Dump .explain('formatted') for bench queries into
plans/<round>/<q>_<tag>.txt.

Usage: python scripts/dump_plans_round.py <round> before|after [query ...]
  e.g. python scripts/dump_plans_round.py r10 after three_hop
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (bench contract).

These files are the committed evidence for every plan-shape claim in
OPTIMIZATION_<round>.md (Exchange counts, join strategies,
PushedFilters, BatchEvalPython absence), readable without Spark.
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphydb_spark import get_spark  # noqa: E402


def main() -> None:
    rnd, tag = sys.argv[1], sys.argv[2]
    assert tag in ("before", "after"), "tag must be before|after"
    from bench import BENCH_QUERIES
    names = sys.argv[3:] or BENCH_QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app=f"dump_plans_{rnd}", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from graphydb_spark.queries import QUERIES
    from graphydb_spark.session import tune_shuffle_for_input
    from graphydb_spark.sources.tpch_graph import tpch_graph

    g = tpch_graph(spark, sf_dir)
    g.nodes_df.count()
    tune_shuffle_for_input(spark, g.edges_df.count())

    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        # one executed run first so AQE-final shapes stabilize in the
        # re-used cached plan (the bench measures warm plans)
        df.count()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
