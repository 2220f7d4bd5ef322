"""Ordered, uid-indexed result collections with set algebra.

Fresh implementation of the reference's ``IndexedSet``/``NSet``/``ESet``
(/root/reference/graphydb.py:261-482, 1546-1784).  Identity for every set
operation is the item's ``__uid__()``, never its content
(graphydb.py:1549-1550); duplicate-uid resolution prefers the *left*
operand's item (graphydb.py:189-194, 427-447).

These are driver-side collections: they hold already-hydrated items and
exist for API parity and small interactive results.  The distributed
equivalents are plain DataFrame ops keyed by uid (semi/anti joins —
SURVEY.md §2.8) and the set-anchored traversals route through one frontier
join (``Graph.traverse``) rather than the reference's per-item loop.
"""

from __future__ import annotations

import fnmatch
from typing import Any, Callable, Iterable, Optional


def _uid_of(x) -> str:
    return x.__uid__() if hasattr(x, "__uid__") else str(x)


class IndexedSet:
    """List+dict hybrid: stable insertion order, O(1) uid lookup."""

    def __init__(self, items: Iterable = ()) -> None:
        self._order: list[str] = []
        self._map: dict[str, Any] = {}
        for it in items:
            self.add(it)

    # ------------------------------------------------------------- mutation
    def add(self, item) -> None:
        """Insert; an existing uid keeps its position *and* its item
        (first-wins — this is what gives unions left-preference)."""
        u = _uid_of(item)
        if u not in self._map:
            self._order.append(u)
            self._map[u] = item

    def append(self, item) -> None:
        """Insert or move to the end, replacing the stored item
        (graphydb.py:344-354)."""
        u = _uid_of(item)
        if u in self._map:
            self._order.remove(u)
        self._order.append(u)
        self._map[u] = item

    def remove(self, item) -> None:
        u = _uid_of(item)
        if u not in self._map:
            raise KeyError(u)
        self._order.remove(u)
        del self._map[u]

    def discard(self, item) -> None:
        try:
            self.remove(item)
        except KeyError:
            pass

    def update(self, *others: Iterable) -> None:
        for other in others:
            for it in other:
                self.add(it)

    def clear(self) -> None:
        self._order = []
        self._map = {}

    def copy(self) -> "IndexedSet":
        return type(self)(self)

    def pop(self, idx: int = -1):
        u = self._order.pop(idx)
        return self._map.pop(u)

    # ------------------------------------------------------------ list-like
    def __len__(self) -> int:
        return len(self._order)

    def __iter__(self):
        return (self._map[u] for u in self._order)

    def __getitem__(self, key):
        """int → item; slice → new set; uid string → item
        (graphydb.py:314-320, 465-471)."""
        if isinstance(key, slice):
            return type(self)(self._map[u] for u in self._order[key])
        if isinstance(key, str):
            return self._map[key]
        return self._map[self._order[key]]

    def __delitem__(self, key) -> None:
        if isinstance(key, slice):
            for u in self._order[key]:
                del self._map[u]
            del self._order[key]
        else:
            u = key if isinstance(key, str) else self._order[key]
            self._order.remove(u)
            del self._map[u]

    def __contains__(self, item) -> bool:
        return _uid_of(item) in self._map

    def __repr__(self) -> str:
        return f"{type(self).__name__}<{len(self)} items>"

    def sort(self, key: Optional[Callable] = None, reverse: bool = False) -> None:
        """Stable in-place sort by item (graphydb.py:307-312)."""
        keyf = key or (lambda it: it)
        self._order.sort(key=lambda u: keyf(self._map[u]), reverse=reverse)

    def reverse(self) -> None:
        self._order.reverse()

    def keys(self) -> list[str]:
        return list(self._order)

    # ------------------------------------------------------------- algebra
    def union(self, *others: Iterable) -> "IndexedSet":
        out = self.copy()
        out.update(*others)
        return out

    def intersection(self, *others: Iterable) -> "IndexedSet":
        keep = set(self._map)
        for other in others:
            keep &= {_uid_of(it) for it in other}
        return type(self)(self._map[u] for u in self._order if u in keep)

    def difference(self, *others: Iterable) -> "IndexedSet":
        drop: set[str] = set()
        for other in others:
            drop |= {_uid_of(it) for it in other}
        return type(self)(self._map[u] for u in self._order if u not in drop)

    def symmetric_difference(self, other: Iterable) -> "IndexedSet":
        other = other if isinstance(other, IndexedSet) else IndexedSet(other)
        out = self.difference(other)
        out.update(other.difference(self))
        return out

    __or__ = union
    __and__ = intersection
    __sub__ = difference
    __xor__ = symmetric_difference

    # ---------------------------------------------------------- comparisons
    def _keyset(self) -> set:
        return set(self._map)

    def _other_keys(self, other) -> set:
        return {_uid_of(it) for it in other}

    def __eq__(self, other) -> bool:
        if not isinstance(other, (IndexedSet, set, frozenset, list, tuple)):
            return NotImplemented
        return self._keyset() == self._other_keys(other)

    def __ne__(self, other) -> bool:
        eq = self.__eq__(other)
        return NotImplemented if eq is NotImplemented else not eq

    def __le__(self, other) -> bool:
        return self._keyset() <= self._other_keys(other)

    def __lt__(self, other) -> bool:
        return self._keyset() < self._other_keys(other)

    def __ge__(self, other) -> bool:
        return self._keyset() >= self._other_keys(other)

    def __gt__(self, other) -> bool:
        return self._keyset() > self._other_keys(other)

    def isdisjoint(self, other) -> bool:
        return not (self._keyset() & self._other_keys(other))


class ItemSet(IndexedSet):
    """Shared node/edge collection API (graphydb.py:1546-1703)."""

    # ---------------------------------------------------------- projection
    def one(self):
        """First item or None (graphydb.py:1620-1628)."""
        return self._map[self._order[0]] if self._order else None

    def get(self, key: str, default: Any = None) -> list:
        """One value per item (graphydb.py:1630-1648)."""
        return [it.get(key, default) for it in self]

    def getm(self, *keys: str, default: Any = None) -> list[list]:
        return [[it.get(k, default) for k in keys] for it in self]

    def uids(self) -> list[str]:
        return self.keys()

    # ------------------------------------------------------------- filters
    def filter(self, function: Callable) -> "ItemSet":
        """Keep truthy; items raising (e.g. missing key) are silently
        dropped (graphydb.py:1576-1595)."""
        out = type(self)()
        for it in self:
            try:
                if function(it):
                    out.add(it)
            except Exception:
                pass
        return out

    def filter_fnmatch(self, **attr) -> "ItemSet":
        """Glob-match each given key; missing key excludes the item
        (graphydb.py:1597-1618)."""
        out = type(self)()
        for it in self:
            ok = True
            for k, pat in attr.items():
                if k not in it or not fnmatch.fnmatch(str(it[k]), pat):
                    ok = False
                    break
            if ok:
                out.add(it)
        return out

    # ------------------------------------------------------------- mutation
    def set(self, **attr) -> "ItemSet":
        """Bulk attribute set (graphydb.py:1650-1656)."""
        for it in self:
            it.set(**attr)
        return self

    def save(self, batch: Optional[str] = None, setchange: bool = True):
        """One batch id for the whole set (graphydb.py:1561-1573)."""
        g = self._graph()
        if g is None:
            return None
        return g.bulk_save(list(self), batch=batch, setchange=setchange)

    def _graph(self):
        for it in self:
            if getattr(it, "graph", None) is not None:
                return it.graph
        return None

    def setGraph(self, graph, changed: bool = True) -> "ItemSet":
        """Attach every member to ``graph`` (graphydb.py:1553-1559)."""
        for it in self:
            it.setGraph(graph, changed=changed)
        return self

    def deletefts(self) -> "ItemSet":
        """Reference-API shim (graphydb.py:1658-1665): our FTS index is
        derived at match time, so there is nothing to delete — no-op."""
        return self


class NSet(ItemSet):
    """Node result set with set-anchored traversals (graphydb.py:1707-1784).

    Traversals run as ONE frontier join over the whole set
    (``Graph.traverse``), not the reference's per-node loop.
    """

    def _traverse(self, direction: str, nodes: bool, kind=None, COUNT=False):
        g = self._graph()
        if g is None or not len(self):
            return 0 if COUNT else (NSet() if nodes else ESet())
        return g.traverse(self.uids(), direction, nodes, kind=kind, COUNT=COUNT)

    def outE(self, kind=None, COUNT=False):
        return self._traverse("out", False, kind, COUNT)

    def inE(self, kind=None, COUNT=False):
        return self._traverse("in", False, kind, COUNT)

    def bothE(self, kind=None, COUNT=False):
        return self._traverse("both", False, kind, COUNT)

    def outN(self, kind=None, COUNT=False):
        return self._traverse("out", True, kind, COUNT)

    def inN(self, kind=None, COUNT=False):
        return self._traverse("in", True, kind, COUNT)

    def bothN(self, kind=None, COUNT=False):
        return self._traverse("both", True, kind, COUNT)

    def delete(self, batch: Optional[str] = None, setchange: bool = True,
               disconnect: bool = False) -> None:
        """Bulk delete under one batch (graphydb.py:1774-1784)."""
        g = self._graph()
        if g is None:
            return
        from .items import generate_uid
        batch = batch or generate_uid()
        for it in list(self):
            g.delete_node(it, disconnect=disconnect, batch=batch,
                          setchange=setchange)


class ESet(ItemSet):
    """Edge result set (graphydb.py:1658-1703)."""

    def _endpoints(self, col: str) -> NSet:
        """Endpoint node set, deduped by uid (graphydb.py:1673-1691).

        Runs as one join against the nodes DataFrame."""
        g = self._graph()
        if g is None or not len(self):
            return NSet()
        from .graph import UID_SCHEMA, local_frame
        uids = sorted({it[col] for it in self})
        keys = local_frame(g.spark, [(u,) for u in uids], UID_SCHEMA)
        rows = g.nodes_df.join(keys, "uid", "left_semi").collect()
        by_uid = {r["uid"]: g._hydrate(r, edge=False) for r in rows}
        # preserve edge-set order of first appearance
        out = NSet()
        for it in self:
            n = by_uid.get(it[col])
            if n is not None:
                out.add(n)
        return out

    @property
    def start(self) -> NSet:
        return self._endpoints("startuid")

    @property
    def end(self) -> NSet:
        return self._endpoints("enduid")

    def delete(self, batch: Optional[str] = None, setchange: bool = True) -> None:
        g = self._graph()
        if g is None:
            return
        from .items import generate_uid
        batch = batch or generate_uid()
        for it in list(self):
            g.delete_edge(it, batch=batch, setchange=setchange)
