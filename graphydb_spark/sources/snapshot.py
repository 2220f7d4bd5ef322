"""Versioned snapshot tables: atomic parquet publish, time travel,
optimistic concurrency, compaction and an exactly-once streaming sink.

The reference persists one mutable SQLite file — readers see whatever
state the writer last fsynced (graphydb.py `open`/`save`).  A 100 TB
distributed pipeline cannot mutate in place: a published dataset must
flip atomically from one consistent version to the next while a
thousand executors are mid-read.  This module is the minimal
table-format core that provides that (the same commit protocol Delta
Lake / Iceberg build on, reduced to its load-bearing essentials,
stdlib-only):

Layout::

    <path>/
      data/<commit-uuid>-part-*.parquet   immutable data files
      _manifests/v0000000001.json         one manifest per version

A manifest names the EXACT data files (relative paths) visible at that
version plus the schema JSON and bookkeeping (action, parent version,
optional idempotence token).  Commit = exclusive creation
(``O_CREAT|O_EXCL``) of the next version's manifest — atomic on POSIX;
an object store would use put-if-absent.  Losing a race raises
``CommitConflict``; ``commit_snapshot`` retries appends (an append is
order-independent) and surfaces the conflict for overwrites.

Readers list ``_manifests``, pick the requested (default: highest)
version and read exactly its files — a half-finished write is invisible
because its manifest does not exist yet, and time travel is "read an
older manifest".  Data files are never rewritten, so any pinned version
stays readable until :func:`expire_snapshots` garbage-collects it.

Scale notes: the data files are written by a normal distributed
``df.write.parquet`` (every executor writes in parallel; the driver
only renames + writes one small JSON).  Manifests hold file NAMES, not
data — a manifest for a 100 TB table is a few MB of JSON.  Compaction
(:func:`compact_snapshot`) rewrites small files into right-sized ones
as a NEW version, so it never disturbs concurrent readers.
"""

from __future__ import annotations

import json
import math
import operator
import os
import shutil
import time
import uuid
from functools import reduce

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_V_DIGITS = 10


class CommitConflict(RuntimeError):
    """Another writer committed the version this writer targeted."""


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _MANIFEST_DIR,
                        f"v{version:0{_V_DIGITS}d}.json")


def snapshot_versions(path: str) -> list[int]:
    """Committed versions, ascending (empty list: not a snapshot table)."""
    mdir = os.path.join(path, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as fh:
        return json.load(fh)


def snapshot_history(path: str) -> list[dict]:
    """One dict per version: version, action, parent, n_files, txn."""
    out = []
    for v in snapshot_versions(path):
        m = _read_manifest(path, v)
        out.append({"version": v, "action": m["action"],
                    "parent": m["parent"], "n_files": len(m["files"]),
                    "txn": m.get("txn")})
    return out


def _head(path: str) -> int:
    vs = snapshot_versions(path)
    return vs[-1] if vs else 0


def _stage_files(df: DataFrame, path: str) -> tuple[list[str], str]:
    """Distributed parquet write to a staging dir, then rename each part
    file into ``data/`` under a commit-unique prefix.  Returns the
    relative file names and the schema JSON.  The renames are same-
    filesystem metadata ops; nothing is visible to readers until the
    manifest commits."""
    token = uuid.uuid4().hex[:12]
    staging = os.path.join(path, f"_staging-{token}")
    df.write.mode("overwrite").parquet(staging)
    data_dir = os.path.join(path, _DATA_DIR)
    os.makedirs(data_dir, exist_ok=True)
    rel = []
    for name in sorted(os.listdir(staging)):
        if not name.endswith(".parquet"):
            continue
        dst = f"{token}-{name}"
        os.rename(os.path.join(staging, name),
                  os.path.join(data_dir, dst))
        rel.append(f"{_DATA_DIR}/{dst}")
    shutil.rmtree(staging, ignore_errors=True)
    return rel, df.schema.json()


def _stat_value(v):
    """JSON-safe, order-preserving canonical form for a footer stat.
    bool before int (bool is an int subclass); date/datetime → ISO
    strings, whose lexicographic order IS chronological order, so
    ``where`` bounds for temporal columns are ISO strings too.
    Unorderable-in-JSON types (Decimal, raw bytes) return None and the
    column simply never prunes."""
    import datetime
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode()
        except UnicodeDecodeError:
            return None
    return None


def _file_stats(path: str, rel_files: list[str]) -> dict:
    """Per-file row count + per-column [min, max] from the parquet
    footers, for the manifest's data-skipping index.  Footer reads are
    metadata-only (no data pages); at cluster scale the executors that
    wrote each file would report stats with it — here the driver reads
    the footers it just renamed.  Only scalar min/max-able columns are
    indexed; everything else simply never prunes."""
    out = {}
    for rel in rel_files:
        md = pq.ParquetFile(os.path.join(path, rel)).metadata
        cols: dict = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                st = c.statistics
                if (st is None or not st.has_min_max
                        or "." in c.path_in_schema):  # nested: skip
                    cols[c.path_in_schema] = None
                    continue
                mn, mx = _stat_value(st.min), _stat_value(st.max)
                if mn is None or mx is None or type(mn) is not type(mx):
                    cols[c.path_in_schema] = None
                    continue
                prev = cols.get(c.path_in_schema)
                if prev is None and c.path_in_schema in cols:
                    continue  # poisoned by an earlier row group
                cols[c.path_in_schema] = ([mn, mx] if prev is None
                                          else [min(prev[0], mn),
                                                max(prev[1], mx)])
        out[rel] = {"rows": md.num_rows,
                    "cols": {k: v for k, v in cols.items()
                             if v is not None}}
    return out


def _commit_manifest(path: str, version: int, manifest: dict) -> None:
    """Exclusive-create commit: O_EXCL loses atomically to a racer."""
    mdir = os.path.join(path, _MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    target = _manifest_path(path, version)
    try:
        fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise CommitConflict(
            f"version {version} at {path!r} was committed by another "
            f"writer") from None
    with os.fdopen(fd, "w") as fh:
        json.dump(manifest, fh)


def commit_snapshot(df: DataFrame, path: str, mode: str = "append",
                    txn: dict | None = None, max_retries: int = 10,
                    meta: dict | None = None, meta_fn=None) -> int:
    """Publish ``df`` as the next version of the snapshot table.

    ``mode='append'`` adds the rows to the current version's files;
    ``mode='overwrite'`` replaces the logical content (old files stay on
    disk for time travel until expired).  ``txn`` is an optional
    idempotence token recorded in the manifest — if the SAME token is
    already present in table history the commit is skipped and the
    existing version returned (the exactly-once handshake
    :func:`stream_to_snapshot` relies on).

    Appends that lose a commit race retry against the new head (append
    content is order-independent); an overwrite that loses raises
    :class:`CommitConflict` — the caller must re-decide on top of the
    winner's table, there is no safe automatic answer.

    ``meta`` is an arbitrary JSON-able dict that rides in the manifest
    and is readable via :func:`snapshot_meta` — table-level sidecar
    state that must stay ATOMIC with the data (index parameters,
    centroid vectors, tokenizer config).  Appends inherit the parent's
    meta unless they pass their own; overwrites reset it.

    ``meta_fn`` (mutually exclusive with ``meta``) derives this
    commit's meta FROM the parent's inside the retry loop —
    ``meta_fn(parent_meta_or_None) -> dict`` — so counter-style
    sidecars (doc counts, token totals) roll forward correctly even
    when the commit loses races to concurrent appenders: each retry
    re-reads the winner's meta before applying the delta.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if meta is not None and meta_fn is not None:
        raise ValueError("pass meta OR meta_fn, not both")
    os.makedirs(path, exist_ok=True)
    if txn is not None and _txn_seen(path, txn):
        return _txn_version(path, txn)
    files, schema_json = _stage_files(df, path)
    return _commit_staged(path, files, schema_json, mode=mode, txn=txn,
                          max_retries=max_retries, meta=meta,
                          meta_fn=meta_fn)


def _commit_staged(path: str, files: list[str], schema_json: str,
                   mode: str = "append", txn: dict | None = None,
                   max_retries: int = 10, meta: dict | None = None,
                   meta_fn=None) -> int:
    """Manifest-commit of files already staged by :func:`_stage_files` —
    the lower half of :func:`commit_snapshot`, split out so a builder
    can WRITE ONCE, derive commit metadata FROM the staged files, and
    then publish atomically.  Staged files stay invisible to readers
    until the manifest lands; the same retry/conflict semantics as
    commit_snapshot apply.  Callers must run the ``_txn_seen``
    idempotence probe BEFORE staging (commit_snapshot does) — probing
    here too would double the common path's manifest reads, and a
    replayed token should skip the write entirely, not just the
    manifest; the retry loop still catches tokens that land
    concurrently."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if meta is not None and meta_fn is not None:
        raise ValueError("pass meta OR meta_fn, not both")
    stats = _file_stats(path, files)
    for _ in range(max_retries):
        head = _head(path)
        parent = _read_manifest(path, head) if head else {}
        if mode == "append" and head:
            base = parent["files"]
            base_stats = parent.get("file_stats", {})
        else:
            base, base_stats = [], {}
        inherited = (parent.get("meta") if mode == "append" and head
                     else None)
        eff_meta = (meta_fn(inherited) if meta_fn is not None
                    else meta if meta is not None else inherited)
        manifest = {"action": mode, "parent": head,
                    "files": base + files, "schema": schema_json,
                    "file_stats": {**base_stats, **stats},
                    "meta": eff_meta,
                    "committed_at": time.time(), "txn": txn,
                    # per-source high-water marks carried forward on
                    # EVERY action, so the idempotence probe is one
                    # head-manifest read, not a history scan (O(1) per
                    # commit instead of O(versions) — the difference
                    # between a year-old streaming table and a stalled
                    # one); same design as Delta's txn appIds
                    "txn_wm": _merge_wm(parent.get("txn_wm", {}), txn)}
        try:
            _commit_manifest(path, head + 1, manifest)
            return head + 1
        except CommitConflict:
            if mode == "overwrite":
                raise
            if txn is not None and _txn_seen(path, txn):
                return _txn_version(path, txn)
    raise CommitConflict(
        f"append to {path!r} lost {max_retries} commit races")


def _is_stream_txn(txn) -> bool:
    return (isinstance(txn, dict) and set(txn) == {"source", "batch"}
            and isinstance(txn["batch"], int))


def _merge_wm(wm: dict, txn) -> dict:
    if not _is_stream_txn(txn):
        return wm
    prev = wm.get(str(txn["source"]), -1)
    return {**wm, str(txn["source"]): max(prev, txn["batch"])}


def _txn_seen(path: str, txn) -> bool:
    """O(1) idempotence probe for (source, batch) stream tokens via the
    head manifest's watermark map; arbitrary tokens (and tables written
    before watermarks existed) fall back to the history scan."""
    head = _head(path)
    if not head:
        return False
    if _is_stream_txn(txn):
        m = _read_manifest(path, head)
        wm = m.get("txn_wm")
        if wm is not None:
            return wm.get(str(txn["source"]), -1) >= txn["batch"]
    return any(h["txn"] == txn for h in snapshot_history(path))


def _txn_version(path: str, txn) -> int:
    """The version that committed ``txn`` (slow path — only reached on
    an actual replay, never on the per-commit probe).  Falls back to
    the head for watermark-covered tokens whose manifest was expired."""
    for h in reversed(snapshot_history(path)):
        if h["txn"] == txn:
            return h["version"]
    return _head(path)


def snapshot_meta(path: str, version: int | None = None) -> dict | None:
    """The ``meta`` sidecar dict committed with (or inherited by) the
    given version — None if the table never carried one."""
    vs = snapshot_versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed snapshot at {path!r}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise FileNotFoundError(f"version {v} not in {path!r}")
    return _read_manifest(path, v).get("meta")


def read_snapshot(spark: SparkSession, path: str,
                  version: int | None = None,
                  where: dict | None = None) -> DataFrame:
    """The table exactly as of ``version`` (default: latest committed).

    Reads only the manifest's files — concurrent in-flight writes are
    invisible, and pinning ``version`` gives a reproducible input for
    a whole multi-job pipeline run (the property training-data lineage
    needs: "shard set X was built from corpus version 41").

    ``where`` maps column → ``(lo, hi)`` inclusive bounds (either end
    may be None), or → a LIST of such ranges read as a disjunction (a
    row matches when any range holds it; columns are ANDed).  Files
    whose manifest min/max cannot intersect are dropped BEFORE Spark
    ever lists them — manifest-level data skipping, the step above
    parquet row-group pruning: with sorted or clustered writes a
    selective query opens a handful of files out of millions.  The same
    predicate is also applied to the surviving rows, so results are
    exact regardless of stats coverage; a point range ``lo == hi``
    renders as equality (several as one ``isin``), so parquet receives
    ``EqualTo``/``In`` pushdowns.  A range list reads each file once
    however many ranges hit it — the one-scan form of a union of
    per-range reads."""
    vs = snapshot_versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed snapshot at {path!r}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise FileNotFoundError(f"version {v} not in {path!r} "
                                f"(have {vs[0]}..{vs[-1]})")
    m = _read_manifest(path, v)
    schema = StructType.fromJson(json.loads(m["schema"]))
    files = m["files"]
    if where:
        stats = m.get("file_stats", {})
        files = [f for f in files
                 if _may_match(stats.get(f, {}).get("cols", {}), where)]
    if not files:
        df = spark.createDataFrame([], schema)
    else:
        df = spark.read.schema(schema).parquet(
            *[os.path.join(path, f) for f in files])
    for col, ranges in (where or {}).items():
        df = df.where(_ranges_cond(col, _ranges(ranges)))
    return df


def _ranges(spec) -> list[tuple]:
    """A ``where`` value as its list of ``(lo, hi)`` ranges."""
    return spec if isinstance(spec, list) else [spec]


def sql_ident(name: str) -> str:
    """``name`` as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(v) -> str | None:
    """``v`` as Spark SQL literal text that parses back to the value
    ``F.lit(v)`` makes — for a str, an int or a float; None for any
    other type.  A float's ``repr`` is the shortest decimal that
    round-trips and the ``D`` suffix keeps it a double (a bare ``0.5``
    parses as a decimal); non-finite floats go through a string cast.
    Building an expression from SQL text costs one py4j round trip
    however many literals it holds."""
    if isinstance(v, bool):
        return None
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isfinite(v):
            return f"{v!r}D"
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        return f"CAST('{v}inity' AS DOUBLE)"        # 'inf' / '-inf'
    return None


def _ranges_cond(col: str, ranges: list[tuple]):
    """Disjunction of inclusive ranges over ``col``: the point ranges
    fold into one ``IN`` (parquet ``In``, or ``EqualTo`` once the
    optimizer rewrites a one-value ``In``), parsed from SQL text when
    every point renders as a literal (one py4j call for any number of
    points); the rest are ``>=``/``<=`` bounds; an empty list matches
    nothing."""
    from pyspark.sql import functions as F
    c = F.col(col)
    points = sorted({lo for lo, hi in ranges
                     if lo is not None and lo == hi})
    lits = [sql_literal(p) for p in points]
    if None in lits:
        conds = [c.isin(points)]
    elif points:
        conds = [F.expr(f"{sql_ident(col)} IN ({', '.join(lits)})")]
    else:
        conds = []
    for lo, hi in ranges:
        if lo is not None and lo == hi:
            continue
        bounds = [c >= F.lit(lo)] if lo is not None else []
        if hi is not None:
            bounds.append(c <= F.lit(hi))
        conds.append(reduce(operator.and_, bounds) if bounds
                     else F.lit(True))
    return reduce(operator.or_, conds) if conds else F.lit(False)


def pruned_file_rows(path: str, version: int | None = None,
                     where: dict | None = None) -> tuple[int, int]:
    """``(n_files, n_rows)`` that :func:`read_snapshot` with the same
    ``where`` (ranges or range lists) would open — from the manifest
    alone, zero file I/O; a file hit by several ranges counts once.

    Probe operators use this to size their post-scan shuffle widths
    data-proportionally (rows the probe actually reads, not the
    session-global ``spark.sql.shuffle.partitions``): a point probe of
    a manifest-pruned table reads a handful of files whose row counts
    the manifest already carries, so the right reduce width is known
    BEFORE any job runs (guide §2.2 — fewer, larger partitions)."""
    vs = snapshot_versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed snapshot at {path!r}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise FileNotFoundError(f"version {v} not in {path!r} "
                                f"(have {vs[0]}..{vs[-1]})")
    m = _read_manifest(path, v)
    stats = m.get("file_stats", {})
    files = m["files"]
    if where:
        files = [f for f in files
                 if _may_match(stats.get(f, {}).get("cols", {}), where)]
    # a file the manifest has no stats for (an older writer, a
    # hand-built manifest) counts as the mean of the files that have
    # them: counting it as 0 rows would pin a probe's width to 1
    known = [int(st["rows"]) for st in stats.values() if "rows" in st]
    fallback = sum(known) // len(known) if known else 0
    rows = sum(int(stats[f]["rows"]) if "rows" in stats.get(f, {})
               else fallback for f in files)
    return len(files), rows


def _may_match(col_stats: dict, where: dict) -> bool:
    """False only when the stats PROVE no row in the file satisfies
    the predicate: for some column, no range of its list can intersect
    the file's [min, max].  A column with no stats never prunes."""
    for col, spec in where.items():
        rng = col_stats.get(col)
        if rng is None:
            continue
        mn, mx = rng
        if not any((hi is None or mn <= hi) and (lo is None or mx >= lo)
                   for lo, hi in _ranges(spec)):
            return False
    return True


def read_snapshot_changes(spark: SparkSession, path: str,
                          since_version: int,
                          to_version: int | None = None) -> DataFrame:
    """Exactly the rows APPENDED after ``since_version`` up to
    ``to_version`` (default head) — the incremental-consumption
    contract (process a 100 TB table's new data without rescanning it):
    downstream checkpoints the version it last processed and asks for
    the delta.  Valid only across pure-append history; an overwrite or
    compaction in the range rewrites file identity, so the delta is no
    longer representable as "new files" and this raises ``ValueError``
    (the consumer must fall back to a full recompute, exactly as with
    Iceberg/Delta incremental scans)."""
    vs = snapshot_versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed snapshot at {path!r}")
    to = vs[-1] if to_version is None else to_version
    if since_version != 0 and since_version not in vs:
        raise FileNotFoundError(f"version {since_version} not in {path!r}")
    if to not in vs:
        raise FileNotFoundError(f"version {to} not in {path!r}")
    for v in vs:
        if since_version < v <= to:
            act = _read_manifest(path, v)["action"]
            if act != "append":
                raise ValueError(
                    f"non-append action {act!r} at version {v}: the "
                    f"range ({since_version}, {to}] has no pure delta")
    m_to = _read_manifest(path, to)
    base = (set(_read_manifest(path, since_version)["files"])
            if since_version else set())
    new = [f for f in m_to["files"] if f not in base]
    schema = StructType.fromJson(json.loads(m_to["schema"]))
    if not new:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(path, f) for f in new])


#: meta ``kind`` → the column whose per-file clustering the table's
#: probes prune on; :func:`compact_snapshot` re-clusters by it so
#: compaction never degrades manifest skipping.
_CLUSTER_COL_BY_KIND = {"ivf": "cluster", "ivfpq": "cluster",
                        "fts": "token", "minhash_lsh": "bh"}


def compact_snapshot(spark: SparkSession, path: str,
                     target_files: int = 8,
                     cluster_by: list[str] | None = None) -> int:
    """Rewrite the current version into ``target_files`` right-sized
    files and commit the rewrite as a new version (action='compact').

    The small-files problem is the canonical snapshot-table failure
    mode (every streaming micro-batch appends a few files; a year later
    the manifest lists millions and open() dominates scan time).
    Readers pinned to old versions are untouched — compaction adds
    files, expiry removes them.

    Compaction is a PHYSICAL rewrite, so it must carry every logical
    property of the table forward (round-7 fix — the old version
    silently dropped both):

    * ``meta`` rides into the new manifest unchanged — a compacted
      IVF/FTS/MinHash index keeps its centroids / corpus stats /
      hash-space params, so probes keep working;
    * ``txn_wm`` (the per-source streaming high-water marks) rides
      forward too — a micro-batch replayed AFTER compaction still
      no-ops, preserving the exactly-once contract;
    * the clustered layout is REBUILT, not coalesced away:
      ``cluster_by`` (default: inferred from ``meta['kind']`` —
      IVF/IVF-PQ cells, FTS token ranges, MinHash band hashes)
      range-partitions and sorts the rewrite so per-file min/max stay
      narrow and manifest pruning keeps skipping files.  Pass
      ``cluster_by=[]`` to force a plain coalesce for tables with no
      pruning column.

    A concurrent commit between the head read and the manifest write
    raises :class:`CommitConflict` — compaction is maintenance; re-run
    it on the winner's head (the rewrite must be redone anyway)."""
    head = _head(path)
    if not head:
        raise FileNotFoundError(f"no committed snapshot at {path!r}")
    parent = _read_manifest(path, head)
    df = read_snapshot(spark, path)
    if cluster_by is None:
        kind = (parent.get("meta") or {}).get("kind")
        col = _CLUSTER_COL_BY_KIND.get(kind)
        cluster_by = [col] if col and col in df.columns else []
    if cluster_by:
        df = (df.repartitionByRange(max(1, target_files), *cluster_by)
              .sortWithinPartitions(*cluster_by))
    else:
        df = df.coalesce(max(1, target_files))
    files, schema_json = _stage_files(df, path)
    manifest = {"action": "compact", "parent": head, "files": files,
                "schema": schema_json,
                "file_stats": _file_stats(path, files),
                "meta": parent.get("meta"),
                "committed_at": time.time(), "txn": None,
                "txn_wm": parent.get("txn_wm", {})}
    _commit_manifest(path, head + 1, manifest)
    return head + 1


def expire_snapshots(path: str, keep_last: int = 1,
                     keep_versions: set | None = None) -> int:
    """Garbage-collect: drop all but the newest ``keep_last`` manifests
    (plus any explicitly pinned in ``keep_versions``) and delete data
    files no surviving manifest references.  Returns the number of
    data files deleted.  Time travel reaches only the surviving
    manifests afterwards."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vs = snapshot_versions(path)
    pinned = keep_versions or set()
    keep_set = set(vs[-keep_last:]) | (pinned & set(vs))
    drop = [v for v in vs if v not in keep_set]
    keep = [v for v in vs if v in keep_set]
    live: set[str] = set()
    for v in keep:
        live.update(_read_manifest(path, v)["files"])
    removed = 0
    for v in drop:
        for f in _read_manifest(path, v)["files"]:
            if f not in live:
                full = os.path.join(path, f)
                if os.path.exists(full):
                    os.remove(full)
                    removed += 1
                live.add(f)  # only attempt once
        os.remove(_manifest_path(path, v))
    return removed


def refresh_aggregate(spark: SparkSession, table_path: str,
                      agg_path: str, keys: list[str],
                      measures: dict) -> int | None:
    """Incrementally maintained grouped aggregate (materialized view)
    over a snapshot table — the storage-integrated form of the
    merge(base, delta) == recompute algebra q:incremental_agg proves:

    - reads EXACTLY the rows appended since the last refresh
      (:func:`read_snapshot_changes`), aggregates only them, and
      merges the mergeable partial states into the stored view
      (count/sum → sum, min → min, max → max);
    - commits the view with the consumed head version as its stream
      txn token, so the "which rows have I folded in" bookkeeping IS
      the manifest watermark: a crashed-and-rerun refresh replays as a
      no-op and the view is exactly-once under at-least-once driving;
    - a non-append range (someone overwrote/compacted the base) makes
      the delta unrepresentable — the refresh falls back to a full
      recompute automatically, same trigger Delta/Iceberg MV engines
      use.

    ``measures``: ``{out_col: ("count", None) | ("sum"|"min"|"max",
    in_col)}``.  Returns the new view version, or None when the base
    had nothing new.  At 100 TB this is the difference between an
    hourly dashboard costing one micro-batch scan and one full-table
    scan."""
    from pyspark.sql import functions as F
    src = f"agg:{table_path}"
    consumed = -1
    if snapshot_versions(agg_path):
        wm = _read_manifest(agg_path, _head(agg_path)).get("txn_wm", {})
        consumed = wm.get(src, -1)
    head = _head(table_path)
    if head == consumed:
        return None

    def agg_of(df):
        aggs = []
        for out, (fn, col) in measures.items():
            if fn == "count":
                aggs.append(F.count(F.lit(1)).alias(out))
            else:
                aggs.append(getattr(F, fn)(col).alias(out))
        return df.groupBy(*keys).agg(*aggs)

    def combine(df):
        aggs = []
        for out, (fn, _col) in measures.items():
            merge_fn = F.sum if fn in ("count", "sum") else getattr(F, fn)
            aggs.append(merge_fn(out).alias(out))
        return df.groupBy(*keys).agg(*aggs)

    try:
        delta = read_snapshot_changes(spark, table_path,
                                      max(consumed, 0), head)
        fresh = agg_of(delta)
        if consumed > 0:
            cur = read_snapshot(spark, agg_path)
            fresh = combine(cur.unionByName(fresh))
    except ValueError:  # rewrite in range: delta not representable
        fresh = agg_of(read_snapshot(spark, table_path, head))
    return commit_snapshot(fresh, agg_path, mode="overwrite",
                           txn={"source": src, "batch": head})


def merge_snapshot(spark: SparkSession, path: str, updates: DataFrame,
                   key: str | list[str], delete_col: str | None = None
                   ) -> int:
    """MERGE INTO the snapshot table: rows in ``updates`` replace
    current rows with the same ``key``, new keys insert, and (when
    ``delete_col`` names a boolean column) delete-marked keys drop —
    the upsert sink (reference save semantics, SURVEY.md §2.1 S6/S7)
    expressed against immutable storage: one anti-join of the current
    version against the update keys + a union, committed as a NEW
    version, so concurrent readers keep their snapshot and time travel
    spans the merge.

    Scale shape: the anti-join is the only wide operation and it
    shuffles on the merge key; updates are usually a small fraction of
    the table, so AQE broadcasts the update-key side.  (A format with
    file-level deletes would rewrite only matched files — manifest
    stats make the matched-file set computable — but rewriting the
    logical table keeps the commit protocol untouched and is the
    correct baseline.)  Duplicate keys WITHIN ``updates`` are an
    error-by-construction ambiguity; last-writer-wins needs an
    explicit pre-dedup by the caller."""
    keys = [key] if isinstance(key, str) else list(key)
    cur = read_snapshot(spark, path)
    from pyspark.sql import functions as F
    if delete_col is not None:
        dels = updates.where(F.col(delete_col)).select(*keys)
        ups = updates.where(~F.col(delete_col)).drop(delete_col)
        touched = ups.select(*keys).unionByName(dels)
    else:
        ups = updates
        touched = ups.select(*keys)
    merged = cur.join(touched, keys, "left_anti").unionByName(ups)
    return commit_snapshot(merged, path, mode="overwrite")


def cluster_by_zorder(df: DataFrame, cols: list[str], n_files: int = 8,
                      bits: int = 12) -> DataFrame:
    """Lay ``df`` out along a Z-order (Morton) curve over ``cols`` so
    that each output file covers a small hyper-rectangle of the value
    space — which turns the manifest's per-file min/max stats into an
    effective MULTI-column file-skipping index (sorting by one column
    only ever prunes that column; bit interleaving prunes all of them
    at once).  This is the standard table-format clustering step
    (Delta/Iceberg OPTIMIZE ZORDER), reduced to Spark primitives:

    1. each column min-max-quantizes to ``bits`` levels (one tiny agg),
    2. the z-value interleaves the column bits (pure codegen exprs),
    3. ``repartitionByRange(n_files, z)`` + an in-partition sort give
       contiguous curve segments, one per output file.

    Pass the returned frame straight to :func:`commit_snapshot`.  The
    Morton key itself is :func:`graphydb_spark.operators.pipeline.
    zorder_key` (shared with the raw-parquet ``write_zordered`` sink —
    same curve, different stats consumer: manifest min/max here,
    parquet footers there).  Linear quantization is skew-sensitive (a
    heavy-hitter value concentrates curve mass); for skewed columns
    pre-bucket to ranks first."""
    from ..operators.pipeline import zorder_key
    return (df.withColumn("_z", zorder_key(df, cols, bits))
            .repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z"))


def stream_to_snapshot(spark: SparkSession, source_dir: str, schema,
                       path: str, checkpoint: str):
    """Exactly-once streaming sink into a snapshot table.

    ``foreachBatch`` + the manifest's ``txn`` token: each micro-batch
    commits with ``txn={'source': checkpoint, 'batch': epoch_id}``.  On
    failure/restart Structured Streaming replays the batch;
    :func:`commit_snapshot` sees the token already in history and
    no-ops, so rows land exactly once even though delivery is
    at-least-once.  (This is the standard idempotent-sink contract —
    Spark's own docs recommend exactly this use of (checkpointId,
    batchId).)  Readers meanwhile only ever see whole micro-batches,
    never partial files."""
    stream = (spark.readStream.schema(schema).json(source_dir))

    def sink(batch_df, epoch_id: int) -> None:
        commit_snapshot(batch_df, path, mode="append",
                        txn={"source": checkpoint, "batch": epoch_id})

    return (stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())
