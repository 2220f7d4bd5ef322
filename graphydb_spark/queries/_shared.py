"""Helpers and ground rules shared by the query catalog's part modules.

Each query is declared once, ``query(name, fn, oracle_sql)`` (see
_registry.py), in the part that defines ``fn`` and right after its oracle:

* ``fn(spark, sf_dir) → DataFrame`` — the engine path (graph fetch /
  operator / SQL escape hatch).
* ``oracle_sql`` — ANSI SQL DuckDB runs on the raw parquet views
  (``region nation customer supplier part orders lineitem events documents
  embeddings``) producing the same rows, column names, and types.

The names in ``_registry.WINDOW`` lead ``QUERIES`` in a frozen order: they
are the correctness window, its first 50 entries.

Determinism ground rules (why the SQL looks the way it does):
* money/value sums go through DECIMAL(18,2) (order-independent, exact) and
  are cast to DOUBLE at the very end on both sides;
* top-k queries carry a uid/id tiebreak so the selected row set is unique;
* md5 is the portable hash (same hex in Spark and DuckDB);
* the tokenizer is lower + split on non-alphanumeric in both engines.
"""

from __future__ import annotations

from ..operators import similarity
from ..sources.tpch_graph import load_tables


# --------------------------------------------------------------------------
# helpers

_NODE_KINDS_SQL = """
SELECT 'Region' AS kind, COUNT(*) AS n FROM region
UNION ALL SELECT 'Nation', COUNT(*) FROM nation
UNION ALL SELECT 'Customer', COUNT(*) FROM customer
UNION ALL SELECT 'Supplier', COUNT(*) FROM supplier
UNION ALL SELECT 'Part', COUNT(*) FROM part
UNION ALL SELECT 'Order', COUNT(*) FROM orders
UNION ALL SELECT 'Document', COUNT(*) FROM documents
UNION ALL SELECT 'User', COUNT(DISTINCT user_id) FROM events
UNION ALL SELECT 'Event', COUNT(*) FROM events
"""

_EDGE_KINDS_SQL = """
SELECT 'InRegion' AS kind, COUNT(*) AS n FROM nation
UNION ALL SELECT 'FromNation', COUNT(*) FROM customer
UNION ALL SELECT 'LocatedIn', COUNT(*) FROM supplier
UNION ALL SELECT 'Placed', COUNT(*) FROM orders
UNION ALL SELECT 'Contains', COUNT(*) FROM lineitem
UNION ALL SELECT 'SuppliedBy', COUNT(*) FROM lineitem
UNION ALL SELECT 'Did', COUNT(*) FROM events
"""

_TOKENIZE_DUCK = "string_split_regex(lower({col}), '[^a-z0-9]+')"

# Shared CTE chain: minhash candidate pairs → undirected edge closure
# (used by the dedup_clusters oracle and the dedup_resolve oracle that
# builds on it; the trailing SELECT differs per query).
_CLUSTER_CTES = """toks AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
          FROM documents
        ), sh AS (
          SELECT doc_id, list_min(list_transform(range(1, len(ws)-1),
                i -> md5('0:' || ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
                AS mh
          FROM toks WHERE len(ws) >= 3
        ), pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.mh = b.mh AND a.doc_id < b.doc_id
        ), dedges(a, b) AS (
          SELECT id_a, id_b FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs
        ), dnodes(id) AS (SELECT DISTINCT a FROM dedges),
        reach(src, dst) AS (
          SELECT id, id FROM dnodes
          UNION
          SELECT r.src, e.b FROM reach r JOIN dedges e ON e.a = r.dst
        )"""


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir)["events"]


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# IVF-blocked embeddings (memoized per session × sf_dir): the deterministic
# k-means assignment that turns every pairwise-embedding query below from
# an O(n²) cross join into a block-diagonal same-cell join — O(Σ n_c²)
# with n_c ≈ n/k, the SemDeDup blocking shape.  All consumers share k=8,
# iters=2 so their oracles share the same unrolled-Lloyd CTE chain
# (_ivf_ctes), which replays the identical centroid trajectory.
_IVFB_CACHE: dict = {}
_IVFB_K, _IVFB_ITERS = 8, 2


def _ivfb_full(spark, sf_dir):
    """(assigned, centroids) of the session-shared deterministic
    k=8/iters=2 k-means over embeddings — computed ONCE per
    (session, sf_dir) and shared by the pairwise-embedding family AND
    the persisted-IVF build (closes the r4 ledger note about the two
    families each running the identical k-means)."""
    key = (id(spark), sf_dir)
    got = _IVFB_CACHE.get(key)
    if got is None:
        indexed, cents = similarity.ivf_index(_emb(spark, sf_dir),
                                              k=_IVFB_K,
                                              iters=_IVFB_ITERS)
        got = (indexed.localCheckpoint(eager=True), cents)
        _IVFB_CACHE[key] = got
    return got


def _ivf_blocked(spark, sf_dir):
    return _ivfb_full(spark, sf_dir)[0]


def _register_raw(spark, sf_dir):
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
