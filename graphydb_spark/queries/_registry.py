"""The query registry: ``query(name, fn, oracle_sql)`` declares one query.

Every part module calls ``query`` once per query, right after the query's
oracle is defined; this module imports no part, so it is the first one
loaded.  ``QUERIES`` maps each name to its plan-cached engine function and
``ORACLES`` maps it to its DuckDB twin.
"""
from __future__ import annotations

_PLAN_CACHE: dict = {}


_SHIPPED_SESSIONS: set = set()


def _ensure_shipped(spark):
    # The driver hands us its own SparkSession; Pandas-UDF closures in this
    # package pickle by reference, so workers must be able to import it —
    # ship the package zip once per session (same mechanism as a cluster
    # deploy; no-op cost afterwards).
    if id(spark) not in _SHIPPED_SESSIONS:
        from ..session import _ship_package
        _ship_package(spark)
        _SHIPPED_SESSIONS.add(id(spark))


def _plan_cached(name, fn):
    def wrapper(spark, sf_dir, _name=name, _fn=fn):
        _ensure_shipped(spark)
        key = (id(spark), sf_dir, _name)
        df = _PLAN_CACHE.get(key)
        if df is None:
            df = _fn(spark, sf_dir)
            # a query may opt OUT of plan caching (ADVICE r7): an
            # eagerly-materialized result (multi-chunk _serve_chunked
            # rides session-lifetime localCheckpoint blocks that are
            # non-recoverable on executor loss, and a cached handle
            # would re-read those rows instead of re-running the
            # probe) must be rebuilt per call
            if not getattr(df, "_gdb_no_plan_cache", False):
                _PLAN_CACHE[key] = df
        return df
    wrapper.__name__ = f"q_{name}"
    wrapper.__doc__ = fn.__doc__
    return wrapper


#: The correctness window: the oracle check of ``__spark_entry__`` covers
#: the first 50 entries of QUERIES, so these names lead it in this order
#: wherever each one is declared.  Frozen.  Every other query follows
#: declaration order.
WINDOW = (
    "node_kind_counts", "edge_kind_counts", "filter_json", "filter_glob",
    "one_hop", "two_hop", "three_hop", "group_count", "order_limit",
    "count_distinct", "traverse_out", "degree_supplier", "set_difference",
    "set_intersection", "fts_term", "fts_prefix", "fts_and",
    "sql_escape_hatch", "offset_page", "group_concat", "theta_join",
    "param_bind", "point_lookup", "edge_prop_filter", "fts_or", "fts_not",
    "fts_field", "fts_phrase", "sliding_window", "bpe_token_count",
    "jaccard_pairs", "graph_q1", "tpch_q1", "tpch_q6", "orders_by_segment",
    "dedup_exact", "dedup_clusters", "top_bigrams", "minhash_pairs",
    "text_stats", "token_count_by_lang", "quality_score", "knn_cosine",
    "events_window", "sessionize", "k_hop", "language_id", "copurchase_pairs",
    "asof_join", "topk_per_group",
)

#: name -> plan-cached ``fn(spark, sf_dir) -> DataFrame``; the window's
#: keys exist from the start and are filled in place as they are declared
QUERIES: dict = dict.fromkeys(WINDOW)
#: name -> DuckDB SQL over the raw parquet views, with the same rows,
#: column names and types as the query
ORACLES: dict[str, str] = {}


def query(name, fn, oracle_sql):
    """Declare catalog query ``name``: ``fn(spark, sf_dir)`` is its engine
    path and ``oracle_sql`` the SQL DuckDB runs for the same answer."""
    if name in ORACLES:
        raise ValueError(f"query {name!r} is declared twice")
    if not isinstance(oracle_sql, str):
        raise TypeError(f"query {name!r}: the oracle must be SQL text, "
                        f"not {type(oracle_sql).__name__}")
    QUERIES[name] = _plan_cached(name, fn)
    ORACLES[name] = oracle_sql
