"""Import hygiene of the queries package.

Each part module imports by name the few names it uses from earlier
parts, next to its stdlib, pyspark and package imports: there is no
star-import chain and no namespace backfill, so a name a part did not
import is simply missing.  This lint walks every function a part
defines, collects its actual LOAD_GLOBAL names from bytecode
(recursively through nested code objects — lambdas, comprehensions,
inner defs), and asserts each resolves in the part's own namespace or
builtins.  A typo or a missing import is a red test, not a silent
cross-part binding.
"""
import builtins
import dis
import importlib
import types

import pytest

PARTS = ["_shared", "_graph_core", "_relational", "_pipeline",
         "_analytics_a", "_analytics_b", "_analytics_c", "_analytics_d",
         "_retrieval_ann", "_registry"]

_BUILTINS = frozenset(dir(builtins))


def _global_loads(co: types.CodeType) -> set:
    names = {ins.argval for ins in dis.get_instructions(co)
             if ins.opname in ("LOAD_GLOBAL", "LOAD_NAME")}
    for c in co.co_consts:
        if isinstance(c, types.CodeType):
            names |= _global_loads(c)
    return names


@pytest.mark.parametrize("part", PARTS)
def test_part_globals_resolve_without_backfill(part):
    mod = importlib.import_module(f"graphydb_spark.queries.{part}")
    ns = vars(mod)
    unresolved = {}
    for k, v in ns.items():
        if isinstance(v, types.FunctionType) and v.__module__ == mod.__name__:
            missing = {n for n in _global_loads(v.__code__)
                       if n not in ns and n not in _BUILTINS}
            if missing:
                unresolved[k] = sorted(missing)
    assert not unresolved, (
        f"{part}: function globals that resolve in no namespace "
        f"(typo or missing import): {unresolved}")


def test_package_has_no_backfill():
    """The cross-setattr backfill stays deleted: no part module carries
    an attribute it neither defined nor imported (spot-check: _shared
    must NOT see _registry's QUERIES, the signature backfill symptom)."""
    shared = importlib.import_module("graphydb_spark.queries._shared")
    assert not hasattr(shared, "QUERIES")
    assert not hasattr(shared, "q_ivf_batch_probe")


def test_catalog_pinned():
    """The catalog's observable surface, pinned: the frozen first-50
    correctness window in order, one oracle per query (416 of each), and a
    digest of every oracle's SQL text.  Moving a declaration between
    parts, or an oracle builder that starts reading another oracle,
    must leave all three as they are."""
    import hashlib
    import json

    from graphydb_spark.queries import ORACLES, QUERIES
    assert list(QUERIES)[:50] == [
        "node_kind_counts", "edge_kind_counts", "filter_json",
        "filter_glob", "one_hop", "two_hop", "three_hop", "group_count",
        "order_limit", "count_distinct", "traverse_out", "degree_supplier",
        "set_difference", "set_intersection", "fts_term", "fts_prefix",
        "fts_and", "sql_escape_hatch", "offset_page", "group_concat",
        "theta_join", "param_bind", "point_lookup", "edge_prop_filter",
        "fts_or", "fts_not", "fts_field", "fts_phrase", "sliding_window",
        "bpe_token_count", "jaccard_pairs", "graph_q1", "tpch_q1",
        "tpch_q6", "orders_by_segment", "dedup_exact", "dedup_clusters",
        "top_bigrams", "minhash_pairs", "text_stats", "token_count_by_lang",
        "quality_score", "knn_cosine", "events_window", "sessionize",
        "k_hop", "language_id", "copurchase_pairs", "asof_join",
        "topk_per_group"]
    assert len(QUERIES) == 416
    assert set(QUERIES) == set(ORACLES)
    digest = hashlib.sha256(
        json.dumps(sorted(ORACLES.items())).encode()).hexdigest()
    assert digest == ("ae18e88dee26a7f673ecf9d6cf380c4cad12b8c02b6406540731"
                      "445d165928f5")


def test_query_refuses_duplicate_and_non_sql():
    """A second declaration of a name, or an oracle that is not SQL
    text, raises before anything is registered."""
    from graphydb_spark.queries import ORACLES, QUERIES, query
    before = (dict(QUERIES), dict(ORACLES))
    with pytest.raises(ValueError, match="declared twice"):
        query("node_kind_counts", lambda spark, sf_dir: None, "SELECT 1")
    with pytest.raises(TypeError, match="SQL text"):
        query("___no_oracle", lambda spark, sf_dir: None, None)
    assert (dict(QUERIES), dict(ORACLES)) == before
