"""The Graph: DataFrame-backed property-graph store + query surface.

Re-expresses the reference's ``Graph`` class (/root/reference/graphydb.py:
485-1064) on Spark DataFrames:

* storage = two DataFrames with the reference's physical schema
  (graphydb.py:521-522): ``nodes(uid, kind, ctime, mtime, props)`` and
  ``edges(uid, kind, startuid, enduid, ctime, mtime, props)`` where
  ``props`` is the JSON document column (the reference's ``data``).
* queries = the chain DSL compiled to one Spark SQL SELECT
  (:mod:`graphydb_spark.chain`) — Catalyst plays the role SQLite's planner
  plays in the reference (SURVEY.md §4).
* mutation = driver-side pending upserts merged into the DataFrames with
  last-writer-wins-by-uid semantics (the reference's ``INSERT OR REPLACE``,
  graphydb.py:1325-1326), plus a JSON-diff change log powering undo
  (graphydb.py:572-636).

Scale notes: the interactive mutation path is driver-mediated by design
(same as the reference's API); bulk data lands via
:func:`Graph.from_dataframes` / :func:`Graph.open` and flows through pure
DataFrame plans.  Merges cut lineage with ``localCheckpoint`` so long
mutation sessions don't accrete unbounded plans.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .chain import EDGE_COLS, NODE_COLS, compile_fetch_sql, \
    eliminable_links, expand_varlength, uid_only_rewrites, parse_chain
from .items import Edge, GraphydbError, Item, Node, clean_data, diff_items, \
    generate_uid, patch_reverse
from .sets import ESet, NSet

NODE_SCHEMA = T.StructType([
    T.StructField("uid", T.StringType(), False),
    T.StructField("kind", T.StringType(), True),
    T.StructField("ctime", T.DoubleType(), True),
    T.StructField("mtime", T.DoubleType(), True),
    T.StructField("props", T.StringType(), True),
])

EDGE_SCHEMA = T.StructType([
    T.StructField("uid", T.StringType(), False),
    T.StructField("kind", T.StringType(), True),
    T.StructField("startuid", T.StringType(), False),
    T.StructField("enduid", T.StringType(), False),
    T.StructField("ctime", T.DoubleType(), True),
    T.StructField("mtime", T.DoubleType(), True),
    T.StructField("props", T.StringType(), True),
])

UID_SCHEMA = T.StructType([T.StructField("uid", T.StringType(), False)])


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: T.StructType) -> DataFrame:
    """A small driver-side frame built through Arrow.

    ``spark.createDataFrame(list)`` plans a ``Scan ExistingRDD`` whose
    every read runs tasks through Python workers; an Arrow table becomes
    a ``LocalTableScan``: no Python worker, and an exact size the
    planner can broadcast."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow), schema)


_GRAPH_SEQ = [0]


def _item_to_row(item: dict, edge: bool) -> dict:
    data = clean_data(dict(item))
    row = {
        "uid": data["uid"],
        "kind": data.get("kind"),
        "ctime": float(data.get("ctime", 0.0)),
        "mtime": float(data.get("mtime", 0.0)),
        "props": json.dumps(data, sort_keys=True),
    }
    if edge:
        row["startuid"] = data["startuid"]
        row["enduid"] = data["enduid"]
    return row


class Graph:
    """A property graph over Spark DataFrames.

    ``Graph(spark)`` starts empty (the reference's ``Graph(':memory:')``,
    graphydb.py:489-506); ``Graph.open(spark, path)`` loads a saved graph;
    ``Graph.from_dataframes`` wraps existing conforming DataFrames.
    """

    def __init__(self, spark: SparkSession, path: Optional[str] = None) -> None:
        self.spark = spark
        _GRAPH_SEQ[0] += 1
        self._gid = _GRAPH_SEQ[0]
        self.path = path
        self.reset()
        if path is not None:
            self._known_node_uids = None
            self._known_edge_uids = None
            # select() restores column order (partitionBy moves kind last);
            # a typed pstruct column (columnar props shadow) rides along
            # an empty table partitioned by kind writes no data files, so
            # the read can't infer a schema — fall back to the fixed one
            # (the schemas are engine invariants, not file properties)
            try:
                nraw = spark.read.parquet(f"{path}/nodes")
            except Exception:
                nraw = spark.createDataFrame([], NODE_SCHEMA)
            try:
                eraw = spark.read.parquet(f"{path}/edges")
            except Exception:
                eraw = spark.createDataFrame([], EDGE_SCHEMA)
            self._nodes_df = nraw.select(
                *[f.name for f in NODE_SCHEMA.fields],
                *(["pstruct"] if "pstruct" in nraw.columns else []))
            self._edges_df = eraw.select(
                *[f.name for f in EDGE_SCHEMA.fields],
                *(["pstruct"] if "pstruct" in eraw.columns else []))
            try:
                raw = spark.read.json(f"{path}/meta").collect()
                meta = json.loads(raw[0]["meta"]) if raw else {}
            except Exception:
                meta = {}
            self._settings = meta.get("settings", {})
            self._cache = meta.get("cache", {})
            self._changes = meta.get("changes", [])
            self._change_seq = meta.get("change_seq", len(self._changes))
            self._fts_node_fields = meta.get("fts_node_fields", [])
            self._fts_edge_fields = meta.get("fts_edge_fields", [])
            self._edge_integrity = {
                k: tuple(v) for k, v
                in meta.get("edge_integrity", {}).items()}
            self._edge_unique = {
                k: tuple(v) for k, v
                in meta.get("edge_unique", {}).items()}
            self._restore_pstruct_state(meta)

    # ------------------------------------------------------------------ DDL
    def reset(self) -> None:
        """Drop everything (graphydb.py:508-529)."""
        self._nodes_df = self.spark.createDataFrame([], NODE_SCHEMA)
        self._edges_df = self.spark.createDataFrame([], EDGE_SCHEMA)
        self._pending_nodes: dict[str, dict] = {}
        self._pending_edges: dict[str, dict] = {}
        # exact driver-side uid membership — maintained only while the
        # graph's full uid set is driver-known (built from scratch via the
        # item API).  Bulk loads (open/from_dataframes/upsert_*_df) set
        # these to None and membership falls back to DataFrame probes.
        # Interactive saves then cost zero Spark jobs for existence checks.
        self._known_node_uids: Optional[set] = set()
        self._known_edge_uids: Optional[set] = set()
        self._settings: dict[str, Any] = {}
        self._cache: dict[str, Any] = {}
        self._changes: list[dict] = []
        self._change_seq = 0
        # bulk_save's prefetched old-value map (uid -> props dict or
        # None) — live only inside a journaled bulk_save so its
        # per-item diffs cost ONE join, not one uid lookup per item
        self._current_cache: Optional[dict] = None
        self._fts_node_fields: list[str] = []
        self._fts_edge_fields: list[str] = []
        # FTS index cache, invalidated by any mutation (epoch bump) — the
        # Spark analogue of FTS5's persistent index (built once, queried
        # many times) rather than a per-query re-tokenize of the corpus.
        self._epoch = 0
        self._fts_cache: dict = {}
        # typed-props promotion state for ITEM-BUILT graphs: which side's
        # pstruct was auto-inferred from saved Python values (vs supplied
        # by a source like tpch_graph, whose schema we never mutate), and
        # fields proven untypeable (containers / conflicting scalar types
        # across rows — SQLite's dynamic typing) that stay on the JSON
        # path permanently.
        self._auto_pstruct = {"node": False, "edge": False}
        # explicit trust DEMOTION (tri-state with auto_pstruct, review r5):
        # a side is demoted when rows entered it bypassing save-time
        # type-checking (bulk upsert_*_df, streaming ingest).  Demotion is
        # sticky and persisted — a demoted side may NEVER re-enter
        # promotion, even if later saves would otherwise qualify
        # (auto_pstruct=False alone is ambiguous with "no schema yet",
        # which a fresh item save legitimately promotes).
        self._pstruct_demoted = {"node": False, "edge": False}
        self._pstruct_poison: dict[str, set] = {"node": set(),
                                                "edge": set()}
        # declared referential-integrity guarantees per edge kind:
        # kind → (start_node_kind | None, end_node_kind | None).  Powers
        # redundant-join elimination in fetch (chain.eliminable_links).
        self._edge_integrity: dict[str, tuple] = {}
        # declared multiplicity per edge kind:
        # kind → (start_unique, end_unique) — True means at most one edge
        # of this kind per distinct startuid/enduid (a FK-shaped edge).
        # Powers key-preserving-join dedup elision in chain queries.
        self._edge_unique: dict[str, tuple] = {}

    def _restore_pstruct_state(self, meta: dict) -> None:
        """Resume typed-props promotion from persisted metadata.  Only a
        store whose meta carries ``auto_pstruct`` (written by save-time
        promotion, import-time full-corpus inference, or an earlier
        restore of either) is trusted — for those, every stored row was
        type-checked against the schema+poison pair, so inferring NEW
        fields from later saves is exactly as safe as in the original
        session.  Stores without the marker (source-typed / pre-existing)
        keep the frozen-schema conform rule."""
        for side, flag in meta.get("auto_pstruct", {}).items():
            if side in self._auto_pstruct:
                self._auto_pstruct[side] = bool(flag)
        for side, keys in meta.get("pstruct_poison", {}).items():
            if side in self._pstruct_poison:
                self._pstruct_poison[side] = set(keys)
        for side, flag in meta.get("pstruct_demoted", {}).items():
            if side in self._pstruct_demoted:
                self._pstruct_demoted[side] = bool(flag)

    def declare_integrity(self, edge_kind: str,
                          start_kind: Optional[str] = None,
                          end_kind: Optional[str] = None,
                          start_unique: bool = False,
                          end_unique: bool = False) -> None:
        """Declare that every edge of ``edge_kind`` references existing
        endpoint nodes of the given kinds.  An assertion by the data
        owner (like a foreign key), used to drop provably redundant node
        joins from chain queries.

        ``start_unique``/``end_unique`` additionally assert that at most
        one edge of this kind exists per distinct startuid/enduid (the
        shape of a FK edge: one FromNation edge per customer).  Chains
        that only traverse unique directions away from the collect link
        cannot fan out, so the compiler elides the default dedup-by-row
        DISTINCT — one fewer shuffle."""
        self._edge_integrity[edge_kind] = (start_kind, end_kind)
        self._edge_unique[edge_kind] = (bool(start_unique),
                                        bool(end_unique))

    @property
    def edge_integrity(self) -> dict:
        """Declared edge kind → (start_kind, end_kind) map (read-only copy)."""
        return dict(self._edge_integrity)

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "Graph":
        return cls(spark, path=path)

    @classmethod
    def open_sqlite(cls, spark: SparkSession, path: str) -> "Graph":
        """Open a REFERENCE-format SQLite graph file (the reference's
        ``Graph(path)`` idiom, graphydb.py:489-506) — full round trip
        including settings/cache/change-log/FTS config; see
        sources/sqlite_io for the format contract and the sharded
        fleet importer."""
        from .sources.sqlite_io import import_graph
        return import_graph(spark, path)

    @classmethod
    def from_dataframes(cls, spark: SparkSession, nodes_df: DataFrame,
                        edges_df: DataFrame) -> "Graph":
        g = cls(spark)
        # optional engine columns ride along: pstruct (typed props shadow)
        # and nkey/skey/ekey (raw int keys behind prefixed uids — enables
        # the chain compiler's int-key join rewrite)
        g._nodes_df = nodes_df.select(
            *[f.name for f in NODE_SCHEMA.fields],
            *[c for c in ("pstruct", "nkey") if c in nodes_df.columns])
        g._edges_df = edges_df.select(
            *[f.name for f in EDGE_SCHEMA.fields],
            *[c for c in ("pstruct", "skey", "ekey")
              if c in edges_df.columns])
        g._known_node_uids = None
        g._known_edge_uids = None
        return g

    def write(self, path: str, mode: str = "overwrite",
              partition_by_kind: bool = True) -> None:
        """Persist to a parquet directory pair (the engine's durable form).

        ``partition_by_kind`` lays files out as ``nodes/kind=X/…`` so kind
        filters — which the chain compiler emits for every typed link —
        become partition pruning at the scan (the 100 TB layout; the
        reference has no secondary index on kind at all, SURVEY.md §4.1).
        """
        self._flush()
        nw = self._nodes_df.write.mode(mode)
        ew = self._edges_df.write.mode(mode)
        if partition_by_kind:
            nw = nw.partitionBy("kind")
            ew = ew.partitionBy("kind")
        nw.parquet(f"{path}/nodes")
        ew.parquet(f"{path}/edges")
        # small metadata side-tables (settings/cache KV + change log) ride
        # along as JSON — driver-scale data, like the reference's
        # settings/cache/changes tables (graphydb.py:523-525)
        meta = self._meta_dict()
        self.spark.createDataFrame(
            [(json.dumps(meta, sort_keys=True),)], "meta string") \
            .coalesce(1).write.mode(mode).json(f"{path}/meta")
        # the graph is now disk-backed: stats can report the footprint
        self.path = path

    def _meta_dict(self) -> dict:
        return {"settings": self._settings, "cache": self._cache,
                "changes": self._changes, "change_seq": self._change_seq,
                "fts_node_fields": self._fts_node_fields,
                "fts_edge_fields": self._fts_edge_fields,
                "edge_integrity": {k: list(v) for k, v
                                   in self._edge_integrity.items()},
                "edge_unique": {k: list(v) for k, v
                                in self._edge_unique.items()},
                # typed-props promotion state: auto_pstruct marks a side
                # whose pstruct schema was inferred with every stored row
                # type-checked (save-time promotion or a full-corpus import
                # pass), so a reopened graph may RESUME inference — without
                # it the typed path silently freezes on reopen and new
                # fields fall back to per-row get_json_object forever
                # (the reference's SQLite schema is durable by
                # construction, graphydb.py:515-526)
                "auto_pstruct": dict(self._auto_pstruct),
                "pstruct_demoted": dict(self._pstruct_demoted),
                "pstruct_poison": {k: sorted(v) for k, v
                                   in self._pstruct_poison.items()}}

    def write_versioned(self, path: str) -> int:
        """Publish the graph as the next version of a SNAPSHOT store —
        the multi-writer-safe durable form (sources/snapshot.py): node
        and edge frames commit as snapshot tables, then one graph-root
        manifest atomically binds (nodes_version, edges_version, meta).

        Readers (:meth:`open_versioned`) resolve a graph version to its
        pinned table versions, so they always see a CONSISTENT
        node/edge pair — never edges from a newer write joined against
        older nodes (the torn read ``write``'s two independent parquet
        dirs cannot rule out).  A writer that dies mid-publish leaves
        only invisible orphan table versions; a writer that loses the
        root-commit race gets :class:`~graphydb_spark.sources.snapshot.
        CommitConflict` and must re-publish on top of the winner."""
        from .sources import snapshot as _snap
        self._flush()
        nv = _snap.commit_snapshot(self._nodes_df, f"{path}/nodes",
                                   mode="overwrite")
        ev = _snap.commit_snapshot(self._edges_df, f"{path}/edges",
                                   mode="overwrite")
        meta = dict(self._meta_dict(), nodes_version=nv, edges_version=ev)
        head = _snap._head(path)
        _snap._commit_manifest(path, head + 1, {
            "action": "graph", "parent": head, "files": [],
            "schema": None, "committed_at": time.time(),
            "txn": None, "graph_meta": meta})
        self.path = path
        return head + 1

    @staticmethod
    def expire_versions(path: str, keep_last: int = 1) -> int:
        """GC a :meth:`write_versioned` store: keep the newest
        ``keep_last`` graph versions, then expire the node/edge
        snapshot tables pinning exactly the table versions the
        surviving graph manifests still reference — a node-table
        version can never disappear out from under a readable graph
        version.  Returns data files deleted."""
        from .sources import snapshot as _snap
        vs = _snap.snapshot_versions(path)
        keep = vs[-keep_last:]
        pin_n, pin_e = set(), set()
        for v in keep:
            meta = _snap._read_manifest(path, v)["graph_meta"]
            pin_n.add(meta["nodes_version"])
            pin_e.add(meta["edges_version"])
        removed = 0
        for v in vs[:-keep_last]:
            os.remove(_snap._manifest_path(path, v))
        removed += _snap.expire_snapshots(
            f"{path}/nodes", keep_last=1, keep_versions=pin_n)
        removed += _snap.expire_snapshots(
            f"{path}/edges", keep_last=1, keep_versions=pin_e)
        return removed

    @classmethod
    def open_versioned(cls, spark: SparkSession, path: str,
                       version: int | None = None) -> "Graph":
        """Open a :meth:`write_versioned` store as of ``version``
        (default latest) — physical time travel over published graph
        versions, the durable complement of :meth:`as_of_change`."""
        from .sources import snapshot as _snap
        vs = _snap.snapshot_versions(path)
        if not vs:
            raise FileNotFoundError(f"no versioned graph at {path!r}")
        v = vs[-1] if version is None else version
        if v not in vs:
            raise FileNotFoundError(
                f"graph version {v} not in {path!r} "
                f"(have {vs[0]}..{vs[-1]})")
        meta = _snap._read_manifest(path, v)["graph_meta"]
        g = cls.from_dataframes(
            spark,
            _snap.read_snapshot(spark, f"{path}/nodes",
                                meta["nodes_version"]),
            _snap.read_snapshot(spark, f"{path}/edges",
                                meta["edges_version"]))
        g._settings = meta.get("settings", {})
        g._cache = meta.get("cache", {})
        g._changes = meta.get("changes", [])
        g._change_seq = meta.get("change_seq", len(g._changes))
        g._fts_node_fields = meta.get("fts_node_fields", [])
        g._fts_edge_fields = meta.get("fts_edge_fields", [])
        g._edge_integrity = {k: tuple(v) for k, v
                             in meta.get("edge_integrity", {}).items()}
        g._edge_unique = {k: tuple(v) for k, v
                          in meta.get("edge_unique", {}).items()}
        g._restore_pstruct_state(meta)
        g.path = path
        return g

    def write_bucketed(self, n_buckets: int = 16,
                       node_table: str = "gdb_nodes_bucketed",
                       edge_table: str = "gdb_edges_bucketed",
                       edge_key: str = "startuid") -> tuple[str, str]:
        """Persist as BUCKETED tables: nodes bucketed+sorted by uid, edges
        by ``edge_key`` (startuid by default — the out-traversal side).

        Co-located joins are the 100 TB layout lever the plain parquet
        form cannot give: a ``nodes.uid = edges.startuid`` join between
        the two tables (same bucket count) needs NO exchange on either
        side — Spark matches bucket files pairwise.  Pick ``edge_key``
        to match the dominant traversal direction; re-bucket by enduid
        for in-heavy workloads.  Size ``n_buckets`` so one bucket of the
        edge table fits an executor's memory at target scale.
        """
        self._flush()
        (self._nodes_df.write.mode("overwrite").format("parquet")
         .bucketBy(n_buckets, "uid").sortBy("uid")
         .saveAsTable(node_table))
        (self._edges_df.write.mode("overwrite").format("parquet")
         .bucketBy(n_buckets, edge_key).sortBy(edge_key)
         .saveAsTable(edge_table))
        return node_table, edge_table

    @classmethod
    def from_tables(cls, spark: SparkSession, node_table: str,
                    edge_table: str) -> "Graph":
        """Open a bucketed (or any catalog) table pair written by
        :meth:`write_bucketed`; joins on the bucket keys are co-located."""
        return cls.from_dataframes(
            spark, spark.table(node_table), spark.table(edge_table))

    # -------------------------------------------------------------- access
    @property
    def nodes_df(self) -> DataFrame:
        self._flush()
        return self._nodes_df

    @property
    def edges_df(self) -> DataFrame:
        self._flush()
        return self._edges_df

    # ---- per-kind branch frames (round 9, plan-size fast path) ----
    # The encoded node/edge frames are UNIONs of one branch per kind;
    # every typed chain link then makes Catalyst constant-fold the kind
    # predicate through all N branches on EVERY action (measured
    # 90-125 ms of per-count optimizer time on the 2/3-hop bench
    # queries).  A loader that already holds the pre-union branches can
    # declare them; fetch() then compiles typed links against the
    # single-branch frame — same rows by construction (the union is the
    # disjoint concatenation of the branches), 10x smaller analyzed
    # plans.  ANY reassignment of the frames (mutation, merge, delete)
    # invalidates the declaration via the property setters below.
    @property
    def _nodes_df(self) -> DataFrame:
        return self.__dict__.get("_nodes_df_v")

    @_nodes_df.setter
    def _nodes_df(self, df: DataFrame) -> None:
        self.__dict__["_nodes_df_v"] = df
        self.__dict__["_node_kind_frames"] = None

    @property
    def _edges_df(self) -> DataFrame:
        return self.__dict__.get("_edges_df_v")

    @_edges_df.setter
    def _edges_df(self, df: DataFrame) -> None:
        self.__dict__["_edges_df_v"] = df
        self.__dict__["_edge_kind_frames"] = None

    @property
    def _node_kind_frames(self):
        return self.__dict__.get("_node_kind_frames")

    @property
    def _edge_kind_frames(self):
        return self.__dict__.get("_edge_kind_frames")

    def declare_kind_frames(self, nodes: Optional[dict] = None,
                            edges: Optional[dict] = None) -> None:
        """Declare kind → pre-union branch frame mappings.

        The caller asserts each frame holds EXACTLY the union frame's
        rows of that kind (true by construction for an encoder that
        unions per-kind branches).  Frames are trimmed to the same
        column set as the union frames so compiled SQL sees identical
        schemas either way."""
        if nodes is not None:
            cols = self._nodes_df.columns
            self.__dict__["_node_kind_frames"] = {
                k: df.select(*cols) for k, df in nodes.items()}
        if edges is not None:
            cols = self._edges_df.columns
            self.__dict__["_edge_kind_frames"] = {
                k: df.select(*cols) for k, df in edges.items()}

    def _kind_views(self, links) -> dict:
        """alias → registered temp-view of the link's single-kind branch
        frame, for every typed link with a declared branch."""
        # flush pending mutations HERE, not by call-site argument order:
        # a mutation reassigns the frames, whose setters invalidate the
        # declared branch frames — without this, correctness would hinge
        # on self._view("nodes") being evaluated before _kind_views in
        # the same call expression (advice r9)
        self._flush()
        out: dict = {}
        nk = self._node_kind_frames
        ek = self._edge_kind_frames
        if not nk and not ek:
            return out
        for l in links:
            src = ek if l.is_edge else nk
            if l.kind and src and l.kind in src:
                vname = (f"gdb_k_{self._gid}_"
                         f"{'e' if l.is_edge else 'n'}_{l.kind}")
                src[l.kind].createOrReplaceTempView(vname)
                out[l.alias] = vname
        return out

    def _view(self, which: str) -> str:
        name = f"gdb_{which}_{self._gid}"
        df = self.nodes_df if which == "nodes" else self.edges_df
        df.createOrReplaceTempView(name)
        return name

    # ------------------------------------------------------- item factories
    def Node(self, kind: str, **props: Any) -> Node:
        """Factory (graphydb.py:1046-1051)."""
        return Node(graph=self, kind=kind, **props)

    def Edge(self, start, kind: str, end, **props: Any) -> Edge:
        """Factory; accepts Node items or uid strings for the endpoints."""
        s = start.uid if isinstance(start, Item) else start
        e = end.uid if isinstance(end, Item) else end
        return Edge(graph=self, kind=kind, startuid=s, enduid=e, **props)

    # --------------------------------------------------------------- flush
    def _flush(self) -> None:
        """Merge pending upserts into the DataFrames (last writer wins).

        The Spark analogue of the reference's per-row ``INSERT OR REPLACE``
        (graphydb.py:1325-1326, 1502-1503): anti-join out replaced uids,
        union the new rows, cut lineage.
        """
        if self._pending_nodes:
            self._nodes_df = self._merge(
                self._nodes_df, list(self._pending_nodes.values()), NODE_SCHEMA)
            self._pending_nodes = {}
        if self._pending_edges:
            self._edges_df = self._merge(
                self._edges_df, list(self._pending_edges.values()), EDGE_SCHEMA)
            self._pending_edges = {}

    def _merge(self, df: DataFrame, rows: list[dict],
               schema: T.StructType) -> DataFrame:
        self._epoch += 1
        # int-key columns are a static-encoding contract (uid = Kind:nkey
        # for every row); freshly saved items need not honor it, so any
        # mutation drops the columns and joins fall back to uid strings —
        # a null nkey would silently drop rows from int-key joins
        df = df.drop("nkey", "skey", "ekey")
        new = local_frame(
            self.spark,
            [tuple(r.get(f.name) for f in schema.fields) for r in rows], schema)
        side = "edge" if "startuid" in {f.name for f in schema.fields} \
            else "node"
        known = self._known_edge_uids if side == "edge" \
            else self._known_node_uids
        bulk_loaded = known is None
        if not self._pstruct_demoted[side] and (
                self._auto_pstruct[side]
                or (not bulk_loaded and "pstruct" not in df.columns)):
            # Promotion runs when the side's schema is TRUSTED — every
            # stored row type-checked against it: either this session
            # inferred it save-by-save, or the store's persisted meta /
            # import pass says so (_restore_pstruct_state) — or when a
            # fresh item-built graph has no schema yet.
            df, new = self._promote_pstruct(df, new, rows, side)
        else:
            # Source-typed store (tpch_graph / from_dataframes): the
            # schema is an encoding contract — parse new rows with it,
            # never mutate.  Untrusted bulk-loaded stores (or an item
            # graph after a bulk upsert, which demotes trust) hold rows
            # the promotion never type-checked — a schema inferred from
            # saves alone could make from_json null the WHOLE pstruct of
            # a conflicting pre-existing row (PERMISSIVE corrupt-record
            # semantics), silently dropping it from predicates on
            # perfectly consistent fields.  Those keep their existing
            # schema (or the JSON path).
            new = self._conform(new, df)
        out = df.join(new.select("uid"), "uid", "left_anti").unionByName(new)
        # the anti-join broadcasts the exactly sized local frame, so the
        # union would add that frame's partitions to the stored frame at
        # every merge (more, smaller files per versioned write): fold
        # them back into the stored frame's partition count
        parts = df._jdf.queryExecution().toRdd().getNumPartitions()
        return out.coalesce(max(1, parts)).localCheckpoint(eager=True)

    #: props keys that mirror system columns (always present in the JSON
    #: document, never worth a typed shadow — the system column IS the
    #: typed form)
    _PSTRUCT_RESERVED = frozenset(
        {"uid", "kind", "ctime", "mtime", "startuid", "enduid"})

    @classmethod
    def _infer_pstruct_fields(cls, props_iter, poison: set,
                              base: dict | None = None) -> dict:
        """Fold props JSON documents into a scalar-field type map
        (field → Spark DataType): consistent scalars promote, int
        widens to double when mixed with floats, containers or
        conflicting types land in ``poison`` permanently.  Shared by
        save-time promotion and the full-corpus import-time pass."""
        fields: dict = dict(base or {})
        for props in props_iter:
            data = json.loads(props) if props else {}
            for k, v in data.items():
                if k in cls._PSTRUCT_RESERVED or k in poison or v is None:
                    continue
                if isinstance(v, bool):          # before int: bool ⊂ int
                    t = T.BooleanType()
                elif isinstance(v, int):
                    t = T.LongType()
                elif isinstance(v, float):
                    t = T.DoubleType()
                elif isinstance(v, str):
                    t = T.StringType()
                else:                            # dict / list — untypeable
                    poison.add(k)
                    fields.pop(k, None)
                    continue
                prev = fields.get(k)
                if prev is None:
                    fields[k] = t
                elif prev != t:
                    if {type(prev), type(t)} == {T.LongType, T.DoubleType}:
                        fields[k] = T.DoubleType()
                    else:
                        poison.add(k)
                        fields.pop(k, None)
        return fields

    def _promote_pstruct(self, df: DataFrame, new: DataFrame,
                         rows: list[dict], side: str):
        """Typed-props promotion for item-built graphs: infer a pstruct
        schema from the saved Python values and attach
        ``from_json(props, schema)`` to both frames — the same columnar
        fast path tpch_graph ships with (SURVEY §4.3), so chain
        predicates like ``n.data.age > 30`` compile to ONE JsonToStructs
        per row (struct access, native types) instead of a string
        ``get_json_object`` per predicate.

        Dynamic-typing safety (SURVEY §7.4 trap #1): a field is promoted
        only while every non-null value across every save is one scalar
        type (int/long widens to double when mixed with floats);
        containers or conflicting types poison the field permanently and
        its references stay on the JSON path — behavior identical to the
        un-promoted engine.

        ANSI edge (documented divergence, gated by the metamorphic
        property test): wherever the stringly JSON path can evaluate a
        predicate, the typed path returns the same rows; the typed path
        is strictly MORE capable (e.g. ``float_field > 0`` works
        natively where the JSON path's string→int cast errors), and a
        type-mismatched literal against a promoted numeric field raises
        an ANSI cast error instead of the JSON path's silent
        string-compare."""
        poison = self._pstruct_poison[side]
        fields: dict = {}
        if "pstruct" in df.columns:
            fields = {f.name: f.dataType
                      for f in df.schema["pstruct"].dataType.fields}
        before = dict(fields)
        fields = self._infer_pstruct_fields(
            (r.get("props") for r in rows), poison, fields)
        # trust marks "every stored row was type-checked", NOT "fields
        # were promoted" — a side whose saves carried only containers /
        # conflicting scalars is still fully inspected (poison captured),
        # and must keep inferring after write/reopen rather than freeze
        self._auto_pstruct[side] = True
        if not fields:
            if "pstruct" in df.columns:
                df = df.drop("pstruct")
            if "pstruct" in new.columns:
                new = new.drop("pstruct")
            return df, new
        target = T.StructType(
            [T.StructField(k, fields[k], True) for k in sorted(fields)])
        pcol = F.from_json(F.col("props"), target)
        if "pstruct" not in df.columns or fields != before:
            # schema grew/changed: re-derive the shadow for existing rows
            # (one parse per row, materialized by the caller's checkpoint)
            df = (df.drop("pstruct") if "pstruct" in df.columns else df) \
                .withColumn("pstruct", pcol)
        new = (new.drop("pstruct") if "pstruct" in new.columns else new) \
            .withColumn("pstruct", pcol)
        return df, new

    @staticmethod
    def _conform(incoming: DataFrame, existing: DataFrame) -> DataFrame:
        """Give incoming rows the existing frame's typed pstruct column by
        parsing their JSON props with the same schema (or drop theirs if
        the store is JSON-only)."""
        if "pstruct" in existing.columns:
            if "pstruct" in incoming.columns:
                return incoming
            dtype = existing.schema["pstruct"].dataType
            return incoming.withColumn(
                "pstruct", F.from_json(F.col("props"), dtype))
        if "pstruct" in incoming.columns:
            return incoming.drop("pstruct")
        return incoming

    def _remove_uids(self, df: DataFrame, uids: list[str]) -> DataFrame:
        if not uids:
            return df
        self._epoch += 1
        dels = local_frame(self.spark, [(u,) for u in uids], UID_SCHEMA)
        return df.join(dels, "uid", "left_anti").localCheckpoint(eager=True)

    # ------------------------------------------------------------- lookups
    def exists(self, uid: str) -> bool:
        """Probe both tables (graphydb.py:1019-1033); pending-aware.

        Zero Spark jobs while the uid set is driver-known."""
        if uid in self._pending_nodes or uid in self._pending_edges:
            return True
        if self._known_node_uids is not None and \
                self._known_edge_uids is not None:
            return uid in self._known_node_uids or \
                uid in self._known_edge_uids
        for df in (self._nodes_df, self._edges_df):
            if df.filter(F.col("uid") == F.lit(uid)).limit(1).count() > 0:
                return True
        return False

    def getuid(self, uid: str):
        """Fetch node else edge by uid (graphydb.py:1035-1044)."""
        self._flush()
        row = self._nodes_df.filter(F.col("uid") == F.lit(uid)).limit(1).collect()
        if row:
            return self._hydrate(row[0], edge=False)
        row = self._edges_df.filter(F.col("uid") == F.lit(uid)).limit(1).collect()
        if row:
            return self._hydrate(row[0], edge=True)
        raise GraphydbError(f"No item with uid {uid!r}")

    #: driver-side hydration ceiling for the item-set APIs (fetch without
    #: as_df, traverse, NSet/ESet expansion).  Reference-parity semantics
    #: are DRIVER-side sets (graphydb.py:1711-1772) — correct, but a
    #: 1e8-node frontier would OOM the driver exactly like the reference
    #: would.  Past this bound the engine refuses with the DataFrame
    #: route spelled out instead of dying mid-collect.
    MAX_HYDRATE_ROWS = 1_000_000

    def _collect_guarded(self, df: DataFrame, what: str) -> list:
        """collect() with an explicit scale guard: never pulls more than
        MAX_HYDRATE_ROWS + 1 rows (the limit rides into the plan, so an
        oversized frontier costs one truncated fetch, not an OOM)."""
        rows = df.limit(self.MAX_HYDRATE_ROWS + 1).collect()
        if len(rows) > self.MAX_HYDRATE_ROWS:
            raise GraphydbError(
                f"{what} would hydrate over {self.MAX_HYDRATE_ROWS:,} "
                f"rows onto the driver; use fetch(..., as_df=True) / "
                f"COUNT=True (or raise Graph.MAX_HYDRATE_ROWS) for bulk "
                f"result sets")
        return rows

    def _hydrate(self, row, edge: bool, extra_names: tuple = ()):
        data = json.loads(row["props"]) if row["props"] else {}
        data["uid"] = row["uid"]
        data["kind"] = row["kind"]
        data["ctime"] = row["ctime"]
        data["mtime"] = row["mtime"]
        if edge:
            data["startuid"] = row["startuid"]
            data["enduid"] = row["enduid"]
        for name in extra_names:
            data["_" + name] = row[name]
        item = (Edge if edge else Node)(graph=self, **data)
        item._mark_clean()
        return item

    # --------------------------------------------------------------- fetch
    def fetch(self, CHAIN: str = "(n)", WHERE=None, ORDER=None, GROUP=None,
              LIMIT=None, OFFSET=None, COUNT=False, DISTINCT=True,
              DEBUG=False, as_df: bool = False, PROJECT=None,
              _anchor=None, **params):
        """The query workhorse (graphydb.py:809-1017).

        Returns an :class:`NSet`/:class:`ESet` of hydrated items by default
        (reference parity), a DataFrame with ``as_df=True`` (the scale
        path), an int with ``COUNT=True``, or ``(sql, params)`` with
        ``DEBUG=True`` (the reference's explain surface,
        graphydb.py:977-978).

        Variable-length edges ``-(e*1..3:Kind)>`` (beyond reference,
        Cypher's ``*lo..hi``) expand to a UNION of fixed-length chains,
        distinct by collect uid — every depth stays a declarative join
        tree Catalyst optimizes independently.
        """
        expanded = expand_varlength(CHAIN)
        if expanded is not None:
            return self._fetch_varlength(
                expanded, CHAIN, WHERE=WHERE, ORDER=ORDER, GROUP=GROUP,
                LIMIT=LIMIT, OFFSET=OFFSET, COUNT=COUNT,
                DISTINCT=DISTINCT, DEBUG=DEBUG, as_df=as_df,
                PROJECT=PROJECT, _anchor=_anchor, **params)
        links = parse_chain(CHAIN)
        collect = next(l for l in links if l.collect)
        aliases = {l.alias for l in links}

        # PROJECT: restrict the output to the named collect-link columns
        # (beyond reference — the scale knob a trailing .select() can't
        # be: with PROJECT=['uid'] and a declared FK the collect node's
        # TABLE never enters the plan, uid reads off the edge endpoint)
        proj = None
        if PROJECT is not None:
            proj = [PROJECT] if isinstance(PROJECT, str) else list(PROJECT)
            if not as_df and not COUNT and not DEBUG:
                raise GraphydbError(
                    "PROJECT requires as_df=True — hydrated items need "
                    "every system column")
            base_cols = EDGE_COLS if collect.is_edge else NODE_COLS
            allowed = set(base_cols) | set(collect.extras)
            bad = [c for c in proj if c not in allowed]
            if bad:
                raise GraphydbError(
                    f"PROJECT columns {bad} not available; choose from "
                    f"{sorted(allowed)}")
            if "uid" not in proj:
                raise GraphydbError(
                    "PROJECT must include 'uid' (the distinct/dedup key)")

        # split kwargs: FTS matches, extra column expressions, bind params
        fts_specs: dict[str, str] = {}
        extras: dict[str, str] = {}
        binds: dict[str, Any] = {}
        for key, val in params.items():
            if key.endswith("_fts") and key[:-4] in aliases:
                fts_specs[key[:-4]] = val
            elif key in collect.extras:
                extras[key] = val
            else:
                binds[key] = val
        missing = [n for n in collect.extras if n not in extras]
        if missing:
            raise GraphydbError(f"No expression supplied for extras {missing}")

        conds: list[str] = []
        if WHERE:
            conds.extend([WHERE] if isinstance(WHERE, str) else list(WHERE))
        if _anchor is not None:
            conds.append(f"{_anchor[0]} = :gdb_anchor_uid")
            binds["gdb_anchor_uid"] = _anchor[1]

        # FTS: compile each match to a uid view, semi-joined in the SQL
        fts_views: dict[str, str] = {}
        for alias, query in fts_specs.items():
            link = next(l for l in links if l.alias == alias)
            uid_df = self._fts_match_uids(query, edge=link.is_edge)
            vname = f"gdb_fts_{self._gid}_{alias}"
            uid_df.createOrReplaceTempView(vname)
            fts_views[alias] = vname

        # typed-props map: aliases over a frame carrying a pstruct column
        # compile JSON paths to struct access (columnar, pushdown-able)
        def _pfields(df: DataFrame):
            if "pstruct" in df.columns:
                return frozenset(
                    f.name for f in df.schema["pstruct"].dataType.fields)
            return frozenset()
        nfields, efields = _pfields(self.nodes_df), _pfields(self.edges_df)
        typed = {l.alias: (efields if l.is_edge else nfields) for l in links}

        # uid-only node references read off the adjacent edge's endpoint
        # column (o.uid ≡ pl.enduid) so the node join below can be
        # eliminated too — e.g. COUNT(o.uid) never scans the order nodes
        import re as _re
        ref_parts = ([str(c) for c in conds]
                     + [str(ORDER or ""), str(GROUP or "")]
                     + [str(v) for v in extras.values()])
        # ORDER is excluded along with GROUP: with the collect join gone
        # the select list is DISTINCT/grouped uid only, and an ORDER
        # clause referencing any chain alias would name a column outside
        # the select list (analysis error) — keep the node join instead
        collect_uid_only = (proj is not None and set(proj) == {"uid"}
                            and not collect.extras
                            and collect.alias not in fts_specs
                            and not GROUP and not ORDER)
        rewrites = uid_only_rewrites(
            links, ref_parts, set(fts_specs), self._edge_integrity,
            include_collect=collect_uid_only)
        if rewrites:
            def _sub(txt: str) -> str:
                for a, repl in rewrites.items():
                    txt = _re.sub(rf"\b{a}\s*\.\s*uid\b", repl, txt)
                return txt
            conds = [_sub(str(c)) for c in conds]
            extras = {k: _sub(str(v)) for k, v in extras.items()}
            ORDER = _sub(str(ORDER)) if ORDER else ORDER
            GROUP = _sub(str(GROUP)) if GROUP else GROUP

        # redundant-join elimination: unobserved node links whose
        # existence a declared FK guarantees never enter the join tree
        refs_text = " ".join(
            [str(c) for c in conds] + [str(ORDER or ""), str(GROUP or "")]
            + [str(v) for v in extras.values()])
        eliminated = eliminable_links(
            links, refs_text, set(fts_specs), self._edge_integrity,
            allow_collect=collect.alias in rewrites)

        # int-key join rewrite is available when the frames carry the raw
        # int keys behind the prefixed uids AND referential integrity is
        # declared (conn kinds must be statically known to drop the prefix)
        self._flush()   # a pending mutation drops the key columns
        int_keys = ("nkey" in self._nodes_df.columns
                    and {"skey", "ekey"} <= set(self._edges_df.columns)
                    and bool(self._edge_integrity))

        sql = compile_fetch_sql(
            links, self._view("nodes"), self._view("edges"),
            kind_views=self._kind_views(links),
            where=conds or None, order=ORDER, group=GROUP, limit=LIMIT,
            offset=OFFSET, count=COUNT, distinct=DISTINCT, extras=extras,
            fts_views=fts_views, typed=typed, eliminated=eliminated,
            edge_endpoints=self._edge_integrity if int_keys else None,
            edge_unique=self._edge_unique or None, project=proj,
            collect_sub=(rewrites.get(collect.alias)
                         if collect.alias in eliminated else None))
        if DEBUG:
            return sql, binds
        try:
            df = self.spark.sql(sql, args=binds) if binds \
                else self.spark.sql(sql)
        except Exception as ex:  # surface the query, not a Spark stack
            from pyspark.errors import AnalysisException
            if not isinstance(ex, AnalysisException):
                raise
            raise GraphydbError(
                f"fetch compilation failed: {getattr(ex, 'desc', ex)}"
                f"\n  CHAIN: {CHAIN!r}\n  WHERE: {WHERE!r}"
                f"\n  SQL: {sql}") from ex
        if COUNT:
            return df if as_df else df.collect()[0]["n"]
        if as_df:
            return df
        rows = self._collect_guarded(df, f"fetch({CHAIN!r})")
        extra_names = tuple(extras)
        items = [self._hydrate(r, edge=collect.is_edge, extra_names=extra_names)
                 for r in rows]
        return (ESet if collect.is_edge else NSet)(items)

    def _fetch_varlength(self, chains: list[str], orig_chain: str,
                         WHERE=None, ORDER=None, GROUP=None, LIMIT=None,
                         OFFSET=None, COUNT=False, DISTINCT=True,
                         DEBUG=False, as_df=False, PROJECT=None,
                         _anchor=None, **params):
        """Variable-length fetch: run each expanded fixed-length chain
        through the normal compiler, union, distinct by collect uid.

        The var-length alias binds a DIFFERENT physical edge per depth,
        so referencing it in WHERE/extras is rejected; GROUP/ORDER/
        OFFSET don't compose with the per-depth union and raise (use a
        DataFrame op on the as_df result instead)."""
        import re as _re

        var_alias = _re.search(r"[\(\[]([A-Za-z_]\w*)\*", orig_chain).group(1)
        refs = " ".join([str(WHERE or "")]
                        + [f"{k} {v}" for k, v in params.items()])
        if _re.search(rf"\b{var_alias}\s*\.", refs):
            raise GraphydbError(
                f"Variable-length alias {var_alias!r} cannot be referenced "
                f"in WHERE/extras: each depth binds different edges")
        for clause, name in ((ORDER, "ORDER"), (GROUP, "GROUP"),
                             (OFFSET, "OFFSET")):
            if clause:
                raise GraphydbError(
                    f"{name} is not supported with variable-length chains; "
                    f"apply it to the as_df result")
        if PROJECT is not None and not as_df and not COUNT and not DEBUG:
            raise GraphydbError(
                "PROJECT requires as_df=True — hydrated items need "
                "every system column")
        if DEBUG:
            return [self.fetch(c, WHERE=WHERE, DISTINCT=DISTINCT,
                               DEBUG=True, PROJECT=PROJECT,
                               _anchor=_anchor, **params)
                    for c in chains]
        frames = [self.fetch(c, WHERE=WHERE, DISTINCT=DISTINCT,
                             as_df=True, PROJECT=PROJECT,
                             _anchor=_anchor, **params)
                  for c in chains]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        if DISTINCT:
            out = out.dropDuplicates(["uid"])
        if LIMIT is not None:
            out = out.limit(int(LIMIT))
        if COUNT:
            return out if as_df else out.count()
        if as_df:
            return out
        # hydrate like the scalar path; the collect link's edge-ness is
        # depth-invariant, read it off the first expanded chain
        collect = next(l for l in parse_chain(chains[0]) if l.collect)
        extra_names = tuple(k for k in params
                            if k in collect.extras)
        items = [self._hydrate(r, edge=collect.is_edge,
                               extra_names=extra_names)
                 for r in self._collect_guarded(out, f"fetch({orig_chain!r})")]
        return (ESet if collect.is_edge else NSet)(items)

    def sql(self, query: str, **binds) -> DataFrame:
        """Raw SQL escape hatch over ``nodes``/``edges`` temp views — the
        analogue of ``Graph.cursor()`` (graphydb.py:696-702)."""
        self.nodes_df.createOrReplaceTempView("nodes")
        self.edges_df.createOrReplaceTempView("edges")
        return self.spark.sql(query, args=binds) if binds else self.spark.sql(query)

    # ------------------------------------------------- set-anchored traversal
    def traverse(self, uids: list[str], direction: str, nodes: bool,
                 kind: Optional[str] = None, COUNT: bool = False):
        """One frontier join for a whole uid set.

        Replaces the reference's per-node N+1 query loop
        (``NSet.outN``/… graphydb.py:1711-1772) with a single distributed
        join — the key scale divergence called out in SURVEY.md §3.2.
        ``direction`` ∈ {'out', 'in', 'both'}.

        The returned set hydrates on the DRIVER (reference-parity item
        semantics) behind the :attr:`MAX_HYDRATE_ROWS` guard — bulk
        frontiers belong on ``fetch(..., as_df=True)`` / ``COUNT=True``,
        which stay distributed end to end.
        """
        self._flush()
        frontier = local_frame(self.spark, [(u,) for u in uids], UID_SCHEMA)
        edges = self._edges_df
        if kind:
            edges = edges.filter(F.col("kind") == kind)
        legs = []
        if direction in ("out", "both"):
            legs.append(edges.join(
                frontier.withColumnRenamed("uid", "startuid"),
                "startuid", "inner"))
        if direction in ("in", "both"):
            legs.append(edges.join(
                frontier.withColumnRenamed("uid", "enduid"),
                "enduid", "inner"))
        hit = legs[0] if len(legs) == 1 else legs[0].unionByName(legs[1])
        hit = hit.select(*[f.name for f in EDGE_SCHEMA.fields]) \
                 .dropDuplicates(["uid"])
        if not nodes:
            if COUNT:
                return hit.count()
            return ESet([self._hydrate(r, edge=True)
                         for r in self._collect_guarded(hit, "traverse")])
        # endpoints on the far side of each traversed edge
        tgt = []
        if direction in ("out", "both"):
            tgt.append(hit.join(frontier.withColumnRenamed("uid", "startuid"),
                                "startuid", "left_semi").select(
                                    F.col("enduid").alias("nuid")))
        if direction in ("in", "both"):
            tgt.append(hit.join(frontier.withColumnRenamed("uid", "enduid"),
                                "enduid", "left_semi").select(
                                    F.col("startuid").alias("nuid")))
        nuids = tgt[0] if len(tgt) == 1 else tgt[0].unionByName(tgt[1])
        out = self._nodes_df.join(nuids.distinct(),
                                  self._nodes_df.uid == F.col("nuid"),
                                  "left_semi")
        if COUNT:
            return out.count()
        return NSet([self._hydrate(r, edge=False)
                     for r in self._collect_guarded(out, "traverse")])

    # ------------------------------------------------------------ mutation
    def save_node(self, node: Node, force: bool = False,
                  batch: Optional[str] = None, setchange: bool = True) -> None:
        """Upsert (graphydb.py:1309-1332); no-op when clean unless forced."""
        if not node.changed and not force:
            return
        # the old-value probe exists only to journal the diff — skip it
        # when not journaling (undo's bulk re-inserts would otherwise
        # pay one uid lookup per item)
        if setchange:
            old = self._current_data(node.uid)
            self._add_change(node.uid, old, node.data(), batch)
        self._pending_nodes[node.uid] = _item_to_row(node, edge=False)
        if self._known_node_uids is not None:
            self._known_node_uids.add(node.uid)
        node._mark_clean()

    def save_edge(self, edge: Edge, force: bool = False,
                  batch: Optional[str] = None, setchange: bool = True,
                  check: bool = True) -> None:
        """Upsert with endpoint referential check (graphydb.py:1480-1509)."""
        if not edge.changed and not force:
            return
        if check:
            for end in (edge["startuid"], edge["enduid"]):
                if not (end in self._pending_nodes
                        or self._node_exists(end)):
                    raise GraphydbError(
                        f"Edge endpoint {end!r} does not exist in nodes")
        if setchange:
            old = self._current_data(edge.uid)
            self._add_change(edge.uid, old, edge.data(), batch)
        self._pending_edges[edge.uid] = _item_to_row(edge, edge=True)
        if self._known_edge_uids is not None:
            self._known_edge_uids.add(edge.uid)
        edge._mark_clean()

    def _node_exists(self, uid: str) -> bool:
        if self._known_node_uids is not None:
            return uid in self._known_node_uids
        return self._nodes_df.filter(
            F.col("uid") == F.lit(uid)).limit(1).count() > 0

    def _current_data(self, uid: str) -> Optional[dict]:
        for pend in (self._pending_nodes, self._pending_edges):
            if uid in pend:
                return json.loads(pend[uid]["props"])
        # bulk_save prefetch (pendings first: a second save of the same
        # uid inside one bulk must see the first save's value, not the
        # pre-bulk snapshot).  diff_items never mutates its inputs.
        if self._current_cache is not None and uid in self._current_cache:
            return self._current_cache[uid]
        if self._known_node_uids is not None and \
                self._known_edge_uids is not None and \
                uid not in self._known_node_uids and \
                uid not in self._known_edge_uids:
            return None
        for df, edge in ((self._nodes_df, False), (self._edges_df, True)):
            rows = df.filter(F.col("uid") == F.lit(uid)).limit(1).collect()
            if rows:
                d = json.loads(rows[0]["props"]) if rows[0]["props"] else {}
                return d
        return None

    def delete_node(self, node, disconnect: bool = False,
                    batch: Optional[str] = None, setchange: bool = True) -> None:
        """Guarded cascade delete (graphydb.py:1425-1452).

        The cascade is vectorized: incident edges are collected once
        (their ``props`` column already carries the full old data for
        the change log) and removed with ONE anti-join — the reference
        loops per edge (graphydb.py:1437-1443), which here would mean
        O(degree) Spark jobs and stall the driver on a hub node."""
        uid = node.uid if isinstance(node, Item) else node
        self._flush()
        incident = self._edges_df.filter(
            (F.col("startuid") == uid) | (F.col("enduid") == uid))
        inc_rows = incident.select("uid", "props").collect()
        if inc_rows:
            if not disconnect:
                raise GraphydbError(
                    f"Node {uid!r} still has edges; delete(disconnect=True) "
                    f"to cascade")
            batch = batch or generate_uid()
            for row in inc_rows:
                if setchange:
                    e_old = json.loads(row["props"]) if row["props"] else {}
                    self._add_change(row["uid"], e_old, None, batch)
                self._pending_edges.pop(row["uid"], None)
                if self._known_edge_uids is not None:
                    self._known_edge_uids.discard(row["uid"])
            # removal is the same predicate, pushed down — no driver-side
            # uid list shipped back to the cluster
            self._epoch += 1
            self._edges_df = (self._edges_df
                              .filter(~((F.col("startuid") == uid)
                                        | (F.col("enduid") == uid)))
                              .localCheckpoint(eager=True))
        old = self._current_data(uid)
        if setchange and old is not None:
            self._add_change(uid, old, None, batch)
        self._pending_nodes.pop(uid, None)
        if self._known_node_uids is not None:
            self._known_node_uids.discard(uid)
        self._nodes_df = self._remove_uids(self._nodes_df, [uid])

    def delete_edge(self, edge, batch: Optional[str] = None,
                    setchange: bool = True) -> None:
        uid = edge.uid if isinstance(edge, Item) else edge
        self._flush()
        old = self._current_data(uid)
        if setchange and old is not None:
            self._add_change(uid, old, None, batch)
        self._pending_edges.pop(uid, None)
        if self._known_edge_uids is not None:
            self._known_edge_uids.discard(uid)
        self._edges_df = self._remove_uids(self._edges_df, [uid])

    def upsert_nodes_df(self, df: DataFrame) -> None:
        """Bulk distributed upsert of a conforming nodes DataFrame —
        last-writer-wins by uid (keeps the incoming row).  The scale twin
        of per-item ``save()``; no change records (bulk loads don't journal,
        same stance as the reference's batch flag)."""
        self._flush()
        self._epoch += 1
        self._known_node_uids = None
        self._known_edge_uids = None
        # incoming rows bypass save-time type-checking → the node-side
        # schema is no longer provably consistent with every stored row;
        # freeze it (conform rule) rather than risk PERMISSIVE nulling.
        # Demotion is STICKY (tri-state) — auto_pstruct=False alone would
        # let a later save's "no schema yet" branch re-enter promotion.
        self._auto_pstruct["node"] = False
        self._pstruct_demoted["node"] = True
        incoming = self._conform(
            df.select(*[f.name for f in NODE_SCHEMA.fields],
                      *(["pstruct"] if "pstruct" in df.columns else [])),
            self._nodes_df)
        self._nodes_df = (self._nodes_df
                          .join(incoming.select("uid"), "uid", "left_anti")
                          .unionByName(incoming))

    def upsert_edges_df(self, df: DataFrame, check: bool = True) -> None:
        """Bulk edge upsert; ``check`` validates endpoint existence with
        one anti-join (the set-level form of graphydb.py:1491-1494)."""
        self._flush()
        self._epoch += 1
        self._auto_pstruct["edge"] = False  # same demotion as node bulk
        self._pstruct_demoted["edge"] = True  # sticky — see upsert_nodes_df
        incoming = self._conform(
            df.select(*[f.name for f in EDGE_SCHEMA.fields],
                      *(["pstruct"] if "pstruct" in df.columns else [])),
            self._edges_df)
        self._known_edge_uids = None
        if check:
            node_uids = self._nodes_df.select("uid")
            dangling = (incoming.select(F.col("startuid").alias("uid"))
                        .unionByName(incoming.select(F.col("enduid")
                                                     .alias("uid")))
                        .distinct()
                        .join(node_uids, "uid", "left_anti"))
            bad = [r["uid"] for r in dangling.limit(3).collect()]
            if bad:
                raise GraphydbError(f"Edge endpoints missing from nodes: {bad}")
        self._edges_df = (self._edges_df
                          .join(incoming.select("uid"), "uid", "left_anti")
                          .unionByName(incoming))

    # ---------------------------------------- DataFrame-native ingest
    @staticmethod
    def _pack_ingest_rows(df: DataFrame, edge: bool) -> DataFrame:
        """User-shaped frame → conforming stored rows, executor-side.

        Accepts ``uid``/``kind`` (+ ``startuid``/``enduid`` for edges),
        optional ``ctime``/``mtime`` (default 0.0), and user props as
        EITHER one ``props`` column (a JSON-object string) OR arbitrary
        extra columns (``to_json(struct(...))``-packed; null-valued
        cells are omitted, standard to_json semantics).  The stored
        ``props`` document is byte-identical to the item path's
        ``json.dumps(data, sort_keys=True)`` (``_item_to_row``) —
        built by an Arrow-batched pandas UDF so a 100M-row ingest
        never routes a row through the driver; ``_``-prefixed user
        keys are stripped like ``clean_data``."""
        import pandas as pd

        sys_cols = {"uid", "kind", "ctime", "mtime", "props"}
        if edge:
            sys_cols |= {"startuid", "enduid"}
        missing = ({"uid", "kind"} | ({"startuid", "enduid"} if edge
                                      else set())) - set(df.columns)
        if missing:
            raise GraphydbError(
                f"ingest frame missing columns: {sorted(missing)}")
        extras = [c for c in df.columns if c not in sys_cols]
        if extras and "props" in df.columns:
            raise GraphydbError(
                "pass user props as ONE props JSON column or as "
                f"separate columns, not both (extras: {sorted(extras)})")
        for c in ("ctime", "mtime"):
            if c not in df.columns:
                df = df.withColumn(c, F.lit(0.0))
        ujson = (F.col("props") if "props" in df.columns
                 else F.to_json(F.struct(*sorted(extras)))
                 if extras else F.lit("{}"))

        def pack(uid, kind, ctime, mtime, uj, start, end):
            out = []
            for i in range(len(uid)):
                d = json.loads(uj.iloc[i]) if uj.iloc[i] else {}
                d = {k: v for k, v in d.items()
                     if not k.startswith("_")}
                d["uid"] = uid.iloc[i]
                d["kind"] = kind.iloc[i]
                d["ctime"] = float(ctime.iloc[i])
                d["mtime"] = float(mtime.iloc[i])
                if start.iloc[i] is not None:
                    d["startuid"] = start.iloc[i]
                    d["enduid"] = end.iloc[i]
                out.append(json.dumps(d, sort_keys=True))
            return pd.Series(out)

        # `from __future__ import annotations` stringifies hints —
        # declare the Series eval type explicitly (the
        # kmeans_assign_arrow pattern)
        pack.__annotations__ = {c: pd.Series for c in
                                ("uid", "kind", "ctime", "mtime",
                                 "uj", "start", "end")}
        pack.__annotations__["return"] = pd.Series
        pack_udf = F.pandas_udf(pack, "string")
        s_col = F.col("startuid") if edge else F.lit(None).cast("string")
        e_col = F.col("enduid") if edge else F.lit(None).cast("string")
        packed = df.withColumn(
            "props", pack_udf(F.col("uid"), F.col("kind"),
                              F.col("ctime").cast("double"),
                              F.col("mtime").cast("double"),
                              ujson, s_col, e_col))
        schema = EDGE_SCHEMA if edge else NODE_SCHEMA
        return packed.select(
            "uid", "kind",
            *(["startuid", "enduid"] if edge else []),
            F.col("ctime").cast("double").alias("ctime"),
            F.col("mtime").cast("double").alias("mtime"),
            "props").select(*[f.name for f in schema.fields])

    def _journal_ingest(self, batch: Optional[str], n: int,
                        side: str) -> str:
        """One SUMMARY change record per ingest (the per-item JSON-diff
        journal is driver-resident — 100M diff records would defeat
        the point of the executor-side path).  The record carries a
        ``bulk`` marker; :meth:`undo` refuses it loudly."""
        batch = batch or generate_uid()
        self._change_seq += 1
        self._changes.append({"id": self._change_seq,
                              "uid": f"__bulk_{side}_{batch}",
                              "time": time.time(),
                              "batch": batch,
                              "bulk": {"side": side, "rows": int(n)}})
        return batch

    def ingest_nodes_df(self, df: DataFrame, batch: Optional[str] = None,
                        journal: bool = False) -> Optional[str]:
        """DataFrame-native bulk node ingest (VERDICT r8 #6): the
        executor-side twin of :meth:`bulk_save` for corpus-scale
        loads.  The session/mutation API keeps uid sets and pending
        rows in DRIVER memory — fine to the measured ~1M-item
        envelope (round-8 scale stress: 1M bulk_save 68–84 s), wrong
        at 100M; this path packs user-shaped rows to the stored format
        executor-side (:meth:`_pack_ingest_rows` — props JSON
        byte-identical to the item path) and merge-upserts via
        :meth:`upsert_nodes_df` (last-writer-wins by uid).  No Python
        row ever reaches the driver.  ``journal=True`` appends ONE
        summary change record under ``batch`` (bulk loads don't
        journal per-item — the reference's batch stance); such a
        record is NOT undoable and :meth:`undo` refuses it loudly.
        Returns the batch id when journaling, else None."""
        rows = self._pack_ingest_rows(df, edge=False)
        self.upsert_nodes_df(rows)
        if journal:
            return self._journal_ingest(batch, rows.count(), "nodes")
        return None

    def ingest_edges_df(self, df: DataFrame, batch: Optional[str] = None,
                        journal: bool = False,
                        check: bool = True) -> Optional[str]:
        """Edge twin of :meth:`ingest_nodes_df`; ``check`` validates
        endpoint existence with ONE distinct anti-join against the
        node table (the set-level form of the reference's per-edge
        probe), raising ``GraphydbError`` with sample offenders."""
        rows = self._pack_ingest_rows(df, edge=True)
        self.upsert_edges_df(rows, check=check)
        if journal:
            return self._journal_ingest(batch, rows.count(), "edges")
        return None

    def bulk_save(self, items, batch: Optional[str] = None,
                  setchange: bool = True) -> str:
        """Bulk save under one batch id (graphydb.py:1561-1573).

        When journaling, the per-item old-value probes are replaced by
        ONE prefetch join over the batch's uids (VERDICT r7 #8): a
        journaled 200k-modify bulk would otherwise run 200k uid point
        lookups — row-at-a-time is the reference's shape, not Spark's.

        SCALE BOUNDARY (VERDICT r8, documented): this path — like the
        whole item/session surface — holds the batch's items, pending
        rows, and the known-uid sets in DRIVER memory.  Measured
        envelope: 1M items ≈ tens of MB and 68–84 s (round-8 scale
        stress); at 10M+ prefer the executor-side paths — per-item
        semantics via :meth:`ingest_nodes_df`/:meth:`ingest_edges_df`
        (user-shaped DataFrame in, identical stored rows out), raw
        conforming frames via :meth:`upsert_nodes_df`/
        :meth:`upsert_edges_df`, or table-scale pipelines via
        ``sources/`` (tpch_graph, snapshot tables, sqlite_io).
        """
        batch = batch or generate_uid()
        items = list(items)
        if setchange:
            self._prime_current_cache(
                [it.uid for it in items if it.changed])
        try:
            for it in items:
                if isinstance(it, Edge):
                    self.save_edge(it, batch=batch, setchange=setchange)
                else:
                    self.save_node(it, batch=batch, setchange=setchange)
        finally:
            self._current_cache = None
        return batch

    def _prime_current_cache(self, uids: list[str]) -> None:
        """Prefetch current props for a journaled bulk_save: one join
        per side over the batch's uids; uids absent from both tables
        map to None (the same answer the per-uid probe would give).
        While the uid set is driver-known, uids absent from both sets
        are answered WITHOUT any Spark job — a pure-add bulk (every
        item brand-new) primes to all-None for free, exactly like the
        per-item path's known-set short-circuit (review r8 #2)."""
        cache: dict = dict.fromkeys(uids, None)
        lookup = list(cache)
        if self._known_node_uids is not None and \
                self._known_edge_uids is not None:
            lookup = [u for u in lookup
                      if u in self._known_node_uids
                      or u in self._known_edge_uids]
        if lookup:
            cache.update(self._fetch_props_bulk(lookup))
        self._current_cache = cache

    #: uids per `_fetch_props_bulk` join slice — caps peak driver
    #: memory at one slice's old props instead of the whole batch's
    #: (ADVICE r8: a journaled bulk_save of hundreds of thousands of
    #: large-prop items held every old value at once, where the
    #: per-item path held one at a time).
    _PROPS_FETCH_SLICE = 100_000

    def _fetch_props_bulk(self, uids: list[str]) -> dict:
        """uid -> parsed props for every uid present in either table,
        ONE join per side per ≤:data:`_PROPS_FETCH_SLICE` uid slice
        (each uid is in exactly one slice, so the nodes-overwrite-edges
        precedence holds slice-locally).  Nodes take precedence on a
        cross-table uid collision — the same order
        :meth:`_current_data` probes (nodes first, returns on hit;
        review r8 #3) — so the bulk and per-item paths journal
        identical old values.  Peak driver memory per slice is the
        slice's parsed props; the returned dict still holds the whole
        batch (the journaling contract) — the slice bound caps the
        COLLECT-side transient, which for wide props rows was ~2× the
        dict itself."""
        self._flush()
        uid_list = sorted(set(uids))
        out: dict = {}
        for i in range(0, len(uid_list), self._PROPS_FETCH_SLICE):
            sl = uid_list[i:i + self._PROPS_FETCH_SLICE]
            keys = local_frame(self.spark, [(u,) for u in sl], UID_SCHEMA)
            for df in (self._edges_df, self._nodes_df):  # nodes overwrite
                for r in (df.join(keys, "uid")
                          .select("uid", "props").collect()):
                    out[r["uid"]] = (json.loads(r["props"])
                                     if r["props"] else {})
        return out

    # ---------------------------------------------------------- change log
    def _add_change(self, uid: str, old: Optional[dict], new: Optional[dict],
                    batch: Optional[str]) -> None:
        """Append a JSON-diff change record (graphydb.py:572-603)."""
        d = diff_items(old, new)
        if not d:
            return
        self._change_seq += 1
        rec = {"id": self._change_seq, "uid": uid, "time": time.time()}
        rec.update(d)
        if batch:
            rec["batch"] = batch
        self._changes.append(rec)

    @property
    def nchanges(self) -> int:
        return len(self._changes)

    def clear_changes(self) -> None:
        """graphydb.py:536-543."""
        self._changes = []

    def deletechange(self, change_id: int) -> None:
        """Drop one change record by id (graphydb.py:568-570) —
        e.g. to prune a record the caller never wants undone."""
        self._changes = [c for c in self._changes if c["id"] != change_id]

    def changes_df(self) -> DataFrame:
        rows = [(c["id"], c["uid"], json.dumps(c, sort_keys=True))
                for c in self._changes]
        return self.spark.createDataFrame(
            rows, "id long, uid string, change string")

    def lastchanges(self) -> list[dict]:
        """All change rows of the most recent batch, in id order
        (graphydb.py:545-566)."""
        if not self._changes:
            return []
        last = self._changes[-1]
        batch = last.get("batch")
        if batch is None:
            return [last]
        return [c for c in self._changes if c.get("batch") == batch]

    def undo(self) -> None:
        """Invert and consume the most recent change batch
        (graphydb.py:605-636): pure-add → delete; pure-delete → re-insert
        (Edge iff ``startuid`` recorded, graphydb.py:621-624); modify →
        reverse patch + force save.

        BATCHED (VERDICT r7 #8): the reference undoes row-at-a-time,
        which here would mean one Spark anti-join per pure-add record —
        a 1M-item batch undo would schedule 1M jobs.  Instead the
        reversed chunk is grouped into maximal RUNS of the same
        operation kind with distinct uids (a repeated uid or a kind
        switch starts a new run, preserving exact sequential
        semantics): an add-run inverts as ONE uid anti-join per side, a
        delete-run re-inserts through the pending buffer (one merge at
        the next flush), and a modify-run bulk-fetches its current
        rows with ONE join before patching driver-side.  Same state as
        the per-record path (pinned by test_undo_batched_runs_*);
        per-record :meth:`_apply_inverse` remains for snapshot replay.
        """
        chunk = self.lastchanges()
        if any("bulk" in c for c in chunk):
            # a DataFrame-native ingest journals ONE summary record —
            # there is no per-item old state to invert; refuse loudly
            # instead of silently no-opping (ingest_nodes_df contract)
            raise GraphydbError(
                "cannot undo a bulk ingest batch — its summary record "
                "carries no per-item diffs (use snapshots/versioned "
                "writes for bulk rollback)")
        ids = {c["id"] for c in chunk}
        self._changes = [c for c in self._changes if c["id"] not in ids]

        def kind_of(change):
            plus, minus = change.get("+"), change.get("-")
            if plus and not minus:
                return "add"
            if minus and not plus:
                return "del"
            return "mod"

        runs: list[tuple[str, list[dict]]] = []
        cur_kind, cur, seen = None, [], set()
        for change in reversed(chunk):
            k = kind_of(change)
            if k != cur_kind or change["uid"] in seen:
                if cur:
                    runs.append((cur_kind, cur))
                cur_kind, cur, seen = k, [], set()
            cur.append(change)
            seen.add(change["uid"])
        if cur:
            runs.append((cur_kind, cur))
        for k, changes in runs:
            if k == "add":
                self._undo_add_run(changes)
            elif k == "mod":
                self._undo_mod_run(changes)
            else:
                # re-inserts buffer in the pending dicts (driver-side)
                # and merge in ONE anti-join at the next flush; with
                # setchange=False no per-item old-value probe runs
                for c in changes:
                    self._apply_inverse(c)

    def _undo_add_run(self, changes: list[dict]) -> None:
        """Invert a run of pure-adds: one uid anti-join per side."""
        node_uids, edge_uids = [], []
        for c in changes:
            uid = c["uid"]
            if "startuid" in c["+"]:
                self._pending_edges.pop(uid, None)
                if self._known_edge_uids is not None:
                    self._known_edge_uids.discard(uid)
                edge_uids.append(uid)
            else:
                self._pending_nodes.pop(uid, None)
                if self._known_node_uids is not None:
                    self._known_node_uids.discard(uid)
                node_uids.append(uid)
        if edge_uids:
            self._edges_df = self._remove_uids(self._edges_df, edge_uids)
        if node_uids:
            self._nodes_df = self._remove_uids(self._nodes_df, node_uids)

    def _undo_mod_run(self, changes: list[dict]) -> None:
        """Invert a run of modifies: bulk-fetch the run's current rows
        with ONE join per side, patch driver-side, re-save through the
        pending buffer."""
        fetched = self._fetch_props_bulk([c["uid"] for c in changes])
        for change in changes:
            cur = fetched.get(change["uid"])
            if cur is None:
                continue
            restored = patch_reverse(cur, change)
            if "startuid" in restored:
                self.save_edge(Edge(graph=self, **restored), force=True,
                               setchange=False, check=False)
            else:
                self.save_node(Node(graph=self, **restored), force=True,
                               setchange=False)

    def _apply_inverse(self, change: dict) -> None:
        """Apply the inverse of one change record to this graph's state
        (the body of ``undo``, factored out so snapshot reconstruction
        can replay it on a clone without consuming any log)."""
        uid = change["uid"]
        plus, minus = change.get("+"), change.get("-")
        if plus and not minus:
            is_edge = "startuid" in plus
            if is_edge:
                self._pending_edges.pop(uid, None)
                if self._known_edge_uids is not None:
                    self._known_edge_uids.discard(uid)
                self._edges_df = self._remove_uids(self._edges_df, [uid])
            else:
                self._pending_nodes.pop(uid, None)
                if self._known_node_uids is not None:
                    self._known_node_uids.discard(uid)
                self._nodes_df = self._remove_uids(self._nodes_df, [uid])
        elif minus and not plus:
            if "startuid" in minus:
                e = Edge(graph=self, **minus)
                self.save_edge(e, force=True, setchange=False, check=False)
            else:
                n = Node(graph=self, **minus)
                self.save_node(n, force=True, setchange=False)
        else:
            cur = self._current_data(uid)
            if cur is None:
                return
            restored = patch_reverse(cur, change)
            if "startuid" in restored:
                self.save_edge(Edge(graph=self, **restored), force=True,
                               setchange=False, check=False)
            else:
                self.save_node(Node(graph=self, **restored), force=True,
                               setchange=False)

    def as_of_change(self, change_id: int) -> "Graph":
        """Snapshot time travel (beyond reference — graphydb can only
        *destructively* undo, graphydb.py:605-636): return a NEW Graph
        reconstructed to the state immediately after change ``change_id``
        (0 = before all recorded history), leaving this graph and its
        change log untouched.

        Reconstruction replays the inverse of every later change, newest
        first, onto a clone that shares this graph's (immutable)
        DataFrames — so the cost is proportional to the number of undone
        changes, not to graph size, and nothing is copied until an
        inverse actually rewrites a frame."""
        self._flush()
        g = Graph(self.spark)
        g._nodes_df = self._nodes_df
        g._edges_df = self._edges_df
        # a fresh Graph's known-uid caches say "empty store", which would
        # short-circuit _current_data away from the inherited frames
        g._known_node_uids = (set(self._known_node_uids)
                              if self._known_node_uids is not None else None)
        g._known_edge_uids = (set(self._known_edge_uids)
                              if self._known_edge_uids is not None else None)
        g._settings = dict(self._settings)
        g._cache = dict(self._cache)
        # behavioral config must travel with the snapshot: without the FTS
        # field lists a fetch with an FTS match builds an index over zero
        # fields (silently no matches), and without the declared-integrity
        # dicts join elimination / int-key joins silently turn off
        g._fts_node_fields = list(self._fts_node_fields)
        g._fts_edge_fields = list(self._fts_edge_fields)
        g._edge_integrity = dict(self._edge_integrity)
        g._edge_unique = dict(self._edge_unique)
        later = sorted((c for c in self._changes if c["id"] > change_id),
                       key=lambda c: -c["id"])
        for change in later:
            g._apply_inverse(change)
        g._flush()
        g._changes = [dict(c) for c in self._changes
                      if c["id"] <= change_id]
        g._change_seq = max((c["id"] for c in g._changes), default=0)
        return g

    # ------------------------------------------------------------ KV stores
    def savesetting(self, key: str, value: Any) -> None:
        """JSON-roundtrip KV (graphydb.py:660-677)."""
        self._settings[key] = json.loads(json.dumps(value))

    def getsetting(self, key: str, default: Any = None) -> Any:
        return self._settings.get(key, default)

    def cache(self, key: str, value: Any) -> None:
        self._cache[key] = json.loads(json.dumps(value))

    def cached(self, key: str) -> Any:
        """KeyError on miss (graphydb.py:679-694)."""
        return self._cache[key]

    # --------------------------------------------------------------- stats
    @property
    def stats(self) -> dict:
        """Totals + per-kind counts (graphydb.py:704-739)."""
        self._flush()
        nodekinds = {r["kind"]: r["count"] for r in
                     self._nodes_df.groupBy("kind").count().collect()}
        edgekinds = {r["kind"]: r["count"] for r in
                     self._edges_df.groupBy("kind").count().collect()}
        out = {
            "nodes": sum(nodekinds.values()),
            "edges": sum(edgekinds.values()),
            "nodekinds": nodekinds,
            "edgekinds": edgekinds,
            "changes": len(self._changes),
            "spark_version": self.spark.version,
        }
        if self.path is not None:
            # reference parity (graphydb.py:719-731): on-disk footprint,
            # human-formatted with the same B/K/M break points
            size = 0
            for sub in ("nodes", "edges", "meta"):
                d = os.path.join(self.path, sub)
                for root, _dirs, files in os.walk(d):
                    size += sum(os.path.getsize(os.path.join(root, f))
                                for f in files)
            if size < 1000:
                out["file_size"] = f"{size}B"
            elif size < 1000000:
                out["file_size"] = f"{size // 1000}K"
            else:
                out["file_size"] = f"{size // 1000000}M"
        return out

    # ----------------------------------------------------- batch analytics
    # Thin facades over operators.graph_algos (beyond-reference extension,
    # SURVEY.md §7.3e): the reference has no batch analytics at all, so
    # these define the switchover surface.  Kind filters prune the lazy
    # union-of-kinds frames before any shuffle.

    def degrees(self, direction: str = "both", **kw) -> DataFrame:
        from .operators.graph_algos import degrees
        return degrees(self.edges_df, direction, **kw)

    def connected_components(self, node_kinds: Optional[list[str]] = None,
                             edge_kinds: Optional[list[str]] = None,
                             **kw) -> DataFrame:
        from .operators.graph_algos import connected_components
        return connected_components(self._sub(self.nodes_df, node_kinds),
                                    self._sub(self.edges_df, edge_kinds),
                                    **kw)

    def pagerank(self, node_kinds: Optional[list[str]] = None,
                 edge_kinds: Optional[list[str]] = None, **kw) -> DataFrame:
        from .operators.graph_algos import pagerank
        return pagerank(self._sub(self.nodes_df, node_kinds),
                        self._sub(self.edges_df, edge_kinds), **kw)

    def k_hop(self, seed_uids: list[str], k: int,
              direction: str = "out",
              edge_kinds: Optional[list[str]] = None) -> DataFrame:
        from .operators.graph_algos import k_hop
        seeds = local_frame(self.spark, [(u,) for u in seed_uids],
                            UID_SCHEMA)
        return k_hop(self._sub(self.edges_df, edge_kinds), seeds, k,
                     direction)

    def bfs_distances(self, seed_uids: list[str], max_depth: int = 6,
                      direction: str = "both",
                      edge_kinds: Optional[list[str]] = None) -> DataFrame:
        from .operators.graph_algos import bfs_distances
        seeds = local_frame(self.spark, [(u,) for u in seed_uids],
                            UID_SCHEMA)
        return bfs_distances(self._sub(self.edges_df, edge_kinds), seeds,
                             max_depth, direction)

    def triangle_count(self,
                       edge_kinds: Optional[list[str]] = None,
                       **kw) -> DataFrame:
        from .operators.graph_algos import triangle_count
        return triangle_count(self._sub(self.edges_df, edge_kinds), **kw)

    @staticmethod
    def _sub(df: DataFrame, kinds: Optional[list[str]]) -> DataFrame:
        return df.where(F.col("kind").isin(kinds)) if kinds else df

    # ----------------------------------------------------------------- FTS
    def resetfts(self, nodefields: Optional[list[str]] = None,
                 edgefields: Optional[list[str]] = None) -> None:
        """Declare FTS-indexed property fields (graphydb.py:638-658).

        The index itself is a *derived* DataFrame rebuilt lazily from the
        current nodes/edges (so updates/deletes never desync it) — see
        :mod:`graphydb_spark.fts`.
        """
        self._fts_node_fields = list(nodefields or [])
        self._fts_edge_fields = list(edgefields or [])

    def fts_index(self, edge: bool = False) -> DataFrame:
        from .fts import build_index
        fields = self._fts_edge_fields if edge else self._fts_node_fields
        df = self.edges_df if edge else self.nodes_df   # flushes pending
        key = (edge, tuple(fields), self._epoch)
        hit = self._fts_cache.get(key)
        if hit is None:
            hit = build_index(df, fields).localCheckpoint(eager=True)
            # keep only current-epoch entries (old epochs are stale)
            self._fts_cache = {k: v for k, v in self._fts_cache.items()
                               if k[2] == self._epoch}
            self._fts_cache[key] = hit
        return hit

    def _fts_match_uids(self, query: str, edge: bool = False) -> DataFrame:
        from .fts import match_uids
        return match_uids(self.fts_index(edge=edge), query)
