"""The declared query catalog: SURVEY.md §2 inventory as runnable queries.

Each query is declared once, by ``query(name, fn, oracle_sql)`` in the part
module that defines ``fn``, right after its oracle SQL (see _registry.py
and, for the catalog-wide ground rules, _shared.py).  The first 50 entries
of ``QUERIES`` are the frozen correctness window, ``_registry.WINDOW``.
"""
from __future__ import annotations

from ._registry import ORACLES, QUERIES, query
# importing a part runs its query() declarations
from . import (_graph_core, _relational, _pipeline,  # noqa: F401
               _analytics_a, _analytics_b, _analytics_c, _analytics_d,
               _retrieval_ann)

if None in QUERIES.values():
    raise ImportError("window queries never declared: " + ", ".join(
        name for name, fn in QUERIES.items() if fn is None))
