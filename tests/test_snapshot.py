"""Snapshot-table sink: atomic publish, time travel, optimistic
concurrency, idempotent commits, compaction, expiry, streaming."""

import json
import os

import pytest
from pyspark.sql import functions as F

from graphydb_spark.sources import snapshot as snap


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("val"))


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def test_append_overwrite_and_time_travel(spark, table):
    v1 = snap.commit_snapshot(_df(spark, 0, 5), table)
    v2 = snap.commit_snapshot(_df(spark, 5, 8), table)  # append
    assert (v1, v2) == (1, 2)
    assert snap.read_snapshot(spark, table).count() == 8
    assert snap.read_snapshot(spark, table, version=1).count() == 5
    v3 = snap.commit_snapshot(_df(spark, 100, 102), table,
                              mode="overwrite")
    assert v3 == 3
    assert sorted(r["id"] for r in
                  snap.read_snapshot(spark, table).collect()) == [100, 101]
    # old versions still fully readable after the overwrite
    assert snap.read_snapshot(spark, table, version=2).count() == 8
    hist = snap.snapshot_history(table)
    assert [h["action"] for h in hist] == ["append", "append", "overwrite"]
    assert [h["parent"] for h in hist] == [0, 1, 2]


def test_reader_never_sees_uncommitted_files(spark, table):
    snap.commit_snapshot(_df(spark, 0, 5), table)
    # a crashed writer: staged data renamed into data/ but no manifest
    _df(spark, 1000, 2000)._jdf  # noqa: B018 — build only
    files, _ = snap._stage_files(_df(spark, 1000, 2000), table)
    assert files  # orphans exist on disk...
    assert snap.read_snapshot(spark, table).count() == 5  # ...invisible


def test_append_retries_through_commit_race(spark, table):
    snap.commit_snapshot(_df(spark, 0, 5), table)
    real = snap._commit_manifest
    raced = {"n": 0}

    def lose_first(path, version, manifest):
        if raced["n"] == 0:
            raced["n"] += 1
            # a concurrent writer lands the version we targeted
            real(path, version, {"action": "append", "parent": version - 1,
                                 "files": snap._read_manifest(path,
                                                              version - 1)
                                 ["files"], "schema": manifest["schema"],
                                 "committed_at": 0, "txn": None})
        return real(path, version, manifest)

    snap._commit_manifest, orig = lose_first, snap._commit_manifest
    try:
        v = snap.commit_snapshot(_df(spark, 5, 8), table)
    finally:
        snap._commit_manifest = orig
    assert v == 3  # retried onto the racer's head
    assert snap.read_snapshot(spark, table).count() == 8


def test_overwrite_conflict_raises(spark, table):
    snap.commit_snapshot(_df(spark, 0, 5), table)
    real = snap._commit_manifest

    def racer_wins(path, version, manifest):
        real(path, version, dict(manifest, txn={"racer": True}))
        return real(path, version, manifest)  # raises CommitConflict

    snap._commit_manifest = racer_wins
    try:
        with pytest.raises(snap.CommitConflict):
            snap.commit_snapshot(_df(spark, 9, 10), table,
                                 mode="overwrite")
    finally:
        snap._commit_manifest = real


def test_txn_token_is_idempotent(spark, table):
    t = {"source": "job-a", "batch": 7}
    v1 = snap.commit_snapshot(_df(spark, 0, 5), table, txn=t)
    v2 = snap.commit_snapshot(_df(spark, 0, 5), table, txn=t)  # replay
    assert v1 == v2 == 1
    assert snap.read_snapshot(spark, table).count() == 5  # not doubled


def test_compact_then_expire(spark, table):
    for i in range(4):
        snap.commit_snapshot(_df(spark, i * 10, i * 10 + 10), table)
    before = len(snap._read_manifest(table, 4)["files"])
    v = snap.compact_snapshot(spark, table, target_files=2)
    assert v == 5
    after = snap._read_manifest(table, 5)
    assert len(after["files"]) <= 2 < before
    assert snap.read_snapshot(spark, table).count() == 40
    # version 4 (pre-compaction) still reads until expiry
    assert snap.read_snapshot(spark, table, version=4).count() == 40
    removed = snap.expire_snapshots(table, keep_last=1)
    assert removed == before  # all pre-compaction files GC'd
    assert snap.snapshot_versions(table) == [5]
    assert snap.read_snapshot(spark, table).count() == 40
    with pytest.raises(FileNotFoundError):
        snap.read_snapshot(spark, table, version=4)


def test_empty_table_schema_preserved(spark, table):
    snap.commit_snapshot(_df(spark, 0, 5).where(F.lit(False)), table)
    out = snap.read_snapshot(spark, table)
    assert out.count() == 0
    assert out.schema.fieldNames() == ["id", "val"]


def test_compact_preserves_meta_and_txn_wm(spark, table):
    """Compaction is a PHYSICAL rewrite: the meta sidecar AND the
    streaming high-water marks must ride into the new manifest
    (round-7 fix — both were silently dropped, so compacting an index
    table lost its centroids and a replayed micro-batch RE-committed,
    breaking exactly-once)."""
    t = {"source": "stream:ck", "batch": 3}
    snap.commit_snapshot(_df(spark, 0, 10), table,
                         meta={"kind": "demo", "n": 10})
    snap.commit_snapshot(_df(spark, 10, 20), table, txn=t)
    v = snap.compact_snapshot(spark, table, target_files=1)
    assert snap.snapshot_meta(table, v) == {"kind": "demo", "n": 10}
    # the pre-compaction batch token still no-ops: the replay returns
    # the version that originally carried it and commits nothing new
    v2 = snap.commit_snapshot(_df(spark, 10, 20), table, txn=t)
    assert v2 == 2 and snap._head(table) == v
    assert snap.read_snapshot(spark, table).count() == 20


def test_compact_ivf_table_keeps_probes_and_pruning(spark, tmp_path):
    """Compacting a persisted IVF index must (a) keep the probes
    working — meta carries the centroids — and (b) REBUILD the
    cell-clustered layout so manifest pruning still opens a strict
    subset of files (a blind coalesce would interleave cells and
    every probe would read everything)."""
    from graphydb_spark.operators.persisted_index import (
        append_ivf_table, build_ivf_table, ivf_probe_files,
        probe_ivf_table)
    emb = spark.createDataFrame(
        [(i, [float(i % 8) * 5.0, float(i % 3), -1.0, 2.0])
         for i in range(160)],
        "vec_id long, embedding array<double>")
    p = str(tmp_path / "ivf")
    build_ivf_table(emb, p, k=8, iters=2, files_per_cell=1.0)
    # a few small appends (the streaming small-files shape)
    for j in range(3):
        extra = spark.createDataFrame(
            [(1000 + j * 10 + i,
              [float(i % 8) * 5.0, 1.0, -1.0, 2.0]) for i in range(10)],
            "vec_id long, embedding array<double>")
        append_ivf_table(spark, p, extra)
    q = [10.0, 1.0, -1.0, 2.0]
    want = [(r.vec_id, r.cosine)
            for r in probe_ivf_table(spark, p, q, k=12, nprobe=2).collect()]
    n_before = len(snap._read_manifest(p, snap._head(p))["files"])
    snap.compact_snapshot(spark, p, target_files=4)
    got = [(r.vec_id, r.cosine)
           for r in probe_ivf_table(spark, p, q, k=12, nprobe=2).collect()]
    assert got == want                       # value-identical serve
    opened, total = ivf_probe_files(p, q, nprobe=1)
    assert total <= 4 < n_before             # files actually shrank
    assert opened < total                    # pruning survived


def test_compact_fts_table_keeps_bm25(spark, tmp_path):
    """FTS compaction: BM25 needs meta (n_docs, sum_doclen) and the
    token-range layout; both must survive the rewrite."""
    from graphydb_spark.operators.persisted_index import (
        build_fts_table, probe_fts_table)
    docs = spark.createDataFrame(
        [(f"D:{i}", f"data query engine w{i % 7} token w{i % 11}")
         for i in range(60)],
        "uid string, text string")
    p = str(tmp_path / "fts")
    build_fts_table(docs, p, ["text"], n_files=6)
    want = sorted((r.uid, r.score) for r in
                  probe_fts_table(spark, p, ["data", "engine"]).collect())
    snap.compact_snapshot(spark, p, target_files=2)
    got = sorted((r.uid, r.score) for r in
                 probe_fts_table(spark, p, ["data", "engine"]).collect())
    assert got == want
    m = snap._read_manifest(p, snap._head(p))
    assert len(m["files"]) <= 2
    # token-range stats stayed narrow enough to skip at least one file
    stats = m["file_stats"]
    mins = {tuple(s["cols"]["token"])[0] for s in stats.values()
            if "token" in s.get("cols", {})}
    assert len(mins) > 1                     # files cover distinct ranges


def test_stream_to_snapshot_exactly_once(spark, table, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    with open(src / "a.json", "w") as fh:
        for i in range(6):
            fh.write(json.dumps({"id": i}) + "\n")
    schema = "id long"
    q = snap.stream_to_snapshot(spark, str(src), schema, table, ckpt)
    q.awaitTermination(120)
    n1 = snap.read_snapshot(spark, table).count()
    assert n1 == 6
    # restart with no new data: replayed batches must be no-ops
    q = snap.stream_to_snapshot(spark, str(src), schema, table, ckpt)
    q.awaitTermination(120)
    assert snap.read_snapshot(spark, table).count() == 6
    # new file arrives -> exactly its rows append
    with open(src / "b.json", "w") as fh:
        fh.write(json.dumps({"id": 99}) + "\n")
    q = snap.stream_to_snapshot(spark, str(src), schema, table, ckpt)
    q.awaitTermination(120)
    assert snap.read_snapshot(spark, table).count() == 7


def test_graph_write_open_versioned(spark, tmp_path):
    from graphydb_spark import Graph
    store = str(tmp_path / "gstore")
    g = Graph(spark)
    a = g.Node("Person", name="Ann").save()
    b = g.Node("Person", name="Bob").save()
    g.Edge(a, "Likes", b).save()
    g.savesetting("k", {"x": 1})
    g.declare_integrity("Likes", start_kind="Person", end_kind="Person")
    v1 = g.write_versioned(store)
    g.Node("Person", name="Cec").save()
    v2 = g.write_versioned(store)
    assert (v1, v2) == (1, 2)
    g2 = Graph.open_versioned(spark, store)
    assert g2.stats["nodes"] == 3
    assert g2.getsetting("k") == {"x": 1}
    assert "Likes" in g2._edge_integrity
    old = Graph.open_versioned(spark, store, version=1)
    assert old.stats["nodes"] == 2
    assert [r["uid"] for r in
            old.fetch("(p:Person) -(e:Likes)> [q:Person]",
                      as_df=True).collect()] == [b.uid]


def test_manifest_stats_skip_files(spark, table):
    # three appends with disjoint id ranges -> three file groups
    for lo in (0, 100, 200):
        snap.commit_snapshot(
            _df(spark, lo, lo + 10).coalesce(1), table)
    m = snap._read_manifest(table, 3)
    assert all(f in m["file_stats"] for f in m["files"])
    assert sum(s["rows"] for s in m["file_stats"].values()) == 30
    # bounds land entirely in the middle file: exactly 1 file read
    pruned = snap.read_snapshot(spark, table, where={"id": (100, 105)})
    assert len(pruned.inputFiles()) == 1
    assert sorted(r["id"] for r in pruned.collect()) == list(
        range(100, 106))
    # bounds matching nothing: zero files, empty result, schema intact
    none = snap.read_snapshot(spark, table, where={"id": (900, 999)})
    assert none.count() == 0 and none.schema.fieldNames() == ["id", "val"]
    # row-level exactness: the in-file filter still applies
    part = snap.read_snapshot(spark, table, where={"id": (5, 104)})
    assert part.count() == 10  # 5..9 + 100..104


def test_point_ranges_read_any_literal(spark, table):
    """Point ranges are one parsed ``IN``: strings with quotes,
    backslashes, non-ASCII and control characters, integers and doubles
    all read back exactly the rows equal to them."""
    vals = ["a'b", "c\\d", "\\'", "é\n\t", "x y", ""]
    snap.commit_snapshot(spark.createDataFrame(
        [(v, i, i / 3) for i, v in enumerate(vals)],
        "s string, i long, f double"), table)
    for v in vals:
        got = snap.read_snapshot(spark, table, where={"s": [(v, v)]})
        assert [r["s"] for r in got.collect()] == [v]
    got = snap.read_snapshot(spark, table, where={"i": [(1, 1), (3, 3)]})
    assert sorted(r["i"] for r in got.collect()) == [1, 3]
    got = snap.read_snapshot(spark, table, where={"f": [(5 / 3, 5 / 3)]})
    assert [r["i"] for r in got.collect()] == [5]


def test_range_list_where_is_a_disjunction(spark, table):
    for lo in (0, 100, 200):
        snap.commit_snapshot(
            _df(spark, lo, lo + 10).coalesce(1), table)
    m = snap._read_manifest(table, 3)
    cols = [m["file_stats"][f]["cols"] for f in m["files"]]
    # a file is kept iff SOME range of the list can intersect it
    ranges = [(3, 3), (205, 300)]
    assert [snap._may_match(c, {"id": ranges}) for c in cols] == [
        c["id"][0] in (0, 200) for c in cols]
    assert not any(snap._may_match(c, {"id": [(50, 60), (150, 150)]})
                   for c in cols)
    assert not any(snap._may_match(c, {"id": []}) for c in cols)
    # the tuple form is the one-range list
    for rng in [(100, 105), (None, 5), (205, None), (900, 999)]:
        assert [snap._may_match(c, {"id": rng}) for c in cols] == [
            snap._may_match(c, {"id": [rng]}) for c in cols]
        assert snap.pruned_file_rows(table, 3, {"id": rng}) == \
            snap.pruned_file_rows(table, 3, {"id": [rng]})
    # a file hit by several ranges is opened (and counted) once
    both = [(1, 1), (4, 6), (208, 208)]
    assert snap.pruned_file_rows(table, 3, {"id": both}) == (2, 20)
    df = snap.read_snapshot(spark, table, where={"id": both})
    assert len(df.inputFiles()) == 2
    # rows are filtered by OR: each matching row once, in no order
    assert sorted(r["id"] for r in df.collect()) == [1, 4, 5, 6, 208]
    # points render as equality / In, so parquet gets them pushed down
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "In(id, [1,208])" in plan, plan
    one = snap.read_snapshot(spark, table, where={"id": [(104, 104)]})
    assert "EqualTo(id,104)" in \
        one._jdf.queryExecution().executedPlan().toString()
    assert [r["id"] for r in one.collect()] == [104]
    # columns still AND: the list disjoins within ``id`` only
    anded = snap.read_snapshot(
        spark, table, where={"id": both, "val": (0, 10)})
    assert sorted(r["id"] for r in anded.collect()) == [1, 4, 5]
    # an empty list matches nothing, schema intact
    none = snap.read_snapshot(spark, table, where={"id": []})
    assert none.count() == 0 and none.schema.fieldNames() == ["id", "val"]


def test_pruned_file_rows_without_file_stats(spark, table):
    # a manifest that lacks stats for a kept file: that file counts as
    # the mean of the files that have stats, not as 0 rows
    for lo in (0, 100, 200):
        snap.commit_snapshot(
            _df(spark, lo, lo + 10).coalesce(1), table)
    path = snap._manifest_path(table, 3)
    m = snap._read_manifest(table, 3)
    middle = next(f for f, s in m["file_stats"].items()
                  if s["cols"]["id"][0] == 100)
    del m["file_stats"][middle]
    with open(path, "w") as fh:
        json.dump(m, fh)
    assert snap.pruned_file_rows(table, 3) == (3, 30)
    # the stats-less file cannot be pruned; the other two are
    assert snap.pruned_file_rows(table, 3, {"id": (100, 105)}) == (1, 10)
    del m["file_stats"]
    with open(path, "w") as fh:
        json.dump(m, fh)
    assert snap.pruned_file_rows(table, 3) == (3, 0)


def test_incremental_read_returns_exact_delta(spark, table):
    snap.commit_snapshot(_df(spark, 0, 10), table)
    snap.commit_snapshot(_df(spark, 10, 13), table)
    snap.commit_snapshot(_df(spark, 13, 17), table)
    d = snap.read_snapshot_changes(spark, table, since_version=1)
    assert sorted(r["id"] for r in d.collect()) == list(range(10, 17))
    d12 = snap.read_snapshot_changes(spark, table, 1, to_version=2)
    assert sorted(r["id"] for r in d12.collect()) == [10, 11, 12]
    # since the beginning = full table
    assert snap.read_snapshot_changes(spark, table, 0).count() == 17
    # empty delta
    assert snap.read_snapshot_changes(spark, table, 3).count() == 0


def test_incremental_read_refuses_rewrites(spark, table):
    snap.commit_snapshot(_df(spark, 0, 10), table)
    snap.compact_snapshot(spark, table, target_files=1)
    with pytest.raises(ValueError):
        snap.read_snapshot_changes(spark, table, since_version=1)
    snap.commit_snapshot(_df(spark, 10, 12), table)
    # delta after the rewrite is fine
    d = snap.read_snapshot_changes(spark, table, since_version=2)
    assert sorted(r["id"] for r in d.collect()) == [10, 11]


def test_zorder_clustering_prunes_multi_column_boxes(spark, tmp_path):
    # two independent uniform columns: a row-order layout gives every
    # file the full range of both (no skipping); the z-order layout
    # gives each file a small (x, y) rectangle
    base = spark.range(20000).select(
        F.col("id"),
        (F.xxhash64("id") % 1000).alias("x"),
        (F.xxhash64(F.col("id") + 7) % 1000).alias("y"))
    plain_t = str(tmp_path / "plain")
    z_t = str(tmp_path / "zed")
    snap.commit_snapshot(base.repartition(8), plain_t)
    snap.commit_snapshot(snap.cluster_by_zorder(base, ["x", "y"], 8),
                         z_t)
    box = {"x": (-1000, -700), "y": (-1000, -700)}  # ~2.3% of space
    plain = snap.read_snapshot(spark, plain_t, where=box)
    zed = snap.read_snapshot(spark, z_t, where=box)
    n_plain, n_zed = len(plain.inputFiles()), len(zed.inputFiles())
    assert n_plain == 8          # row-order layout: nothing skips
    assert n_zed <= 3            # z-order: the box touches few files
    assert sorted(r["id"] for r in plain.collect()) == \
        sorted(r["id"] for r in zed.collect())  # identical results


def test_merge_snapshot_upsert_insert_delete(spark, table):
    snap.commit_snapshot(_df(spark, 0, 5), table)  # ids 0..4, val=2*id
    updates = spark.createDataFrame(
        [(2, 999, False),   # update existing
         (7, 700, False),   # insert new
         (4, 0, True)],     # delete existing
        "id long, val long, is_delete boolean")
    v = snap.merge_snapshot(spark, table, updates, "id",
                            delete_col="is_delete")
    assert v == 2
    got = {r["id"]: r["val"] for r in
           snap.read_snapshot(spark, table).collect()}
    assert got == {0: 0, 1: 2, 2: 999, 3: 6, 7: 700}
    # pre-merge version still readable (time travel across the merge)
    old = {r["id"]: r["val"] for r in
           snap.read_snapshot(spark, table, version=1).collect()}
    assert old == {0: 0, 1: 2, 2: 4, 3: 6, 4: 8}


def test_merge_snapshot_without_delete_col(spark, table):
    snap.commit_snapshot(_df(spark, 0, 3), table)
    ups = spark.createDataFrame([(1, 111), (9, 900)], "id long, val long")
    snap.merge_snapshot(spark, table, ups, "id")
    got = {r["id"]: r["val"] for r in
           snap.read_snapshot(spark, table).collect()}
    assert got == {0: 0, 1: 111, 2: 4, 9: 900}


def test_additive_schema_evolution(spark, table):
    snap.commit_snapshot(_df(spark, 0, 3), table)
    wider = _df(spark, 3, 5).withColumn("tag", F.lit("b"))
    snap.commit_snapshot(wider, table)  # append with an added column
    out = snap.read_snapshot(spark, table)
    assert out.schema.fieldNames() == ["id", "val", "tag"]
    rows = {r["id"]: r["tag"] for r in out.collect()}
    # old files surface null for the new column; new files carry it
    assert rows[0] is None and rows[4] == "b"


def test_txn_watermark_probe_is_single_manifest_read(spark, table):
    # three stream batches from one source
    for b in range(3):
        snap.commit_snapshot(_df(spark, b * 5, b * 5 + 5), table,
                             txn={"source": "s1", "batch": b})
    m = snap._read_manifest(table, 3)
    assert m["txn_wm"] == {"s1": 2}
    # replayed batch: watermark short-circuits (count manifest reads)
    reads = {"n": 0}
    real = snap._read_manifest

    def counting(path, version):
        reads["n"] += 1
        return real(path, version)

    snap._read_manifest = counting
    try:
        snap.commit_snapshot(_df(spark, 0, 5), table,
                             txn={"source": "s1", "batch": 1})
        replay_reads = reads["n"]   # probe hit + version lookup
        reads["n"] = 0
        snap.commit_snapshot(_df(spark, 90, 91), table,
                             txn={"source": "s1", "batch": 3})
        fresh_reads = reads["n"]
    finally:
        snap._read_manifest = real
    # the COMMON path (fresh batch) must not scan history: one read for
    # the watermark probe + one for the parent manifest, regardless of
    # how many versions exist
    assert fresh_reads == 2, fresh_reads
    assert replay_reads >= 1       # replays may scan to find the version
    assert snap.read_snapshot(spark, table).count() == 16  # no doubles
    # a NEW source is independent
    v = snap.commit_snapshot(_df(spark, 100, 101), table,
                             txn={"source": "s2", "batch": 0})
    assert v == 5
    assert snap._read_manifest(table, 5)["txn_wm"] == {"s1": 3, "s2": 0}
    # watermarks survive an overwrite (exactly-once across rewrites)
    snap.commit_snapshot(_df(spark, 0, 1), table, mode="overwrite")
    assert snap.commit_snapshot(
        _df(spark, 0, 5), table, txn={"source": "s1", "batch": 2}) <= 6
    assert snap.read_snapshot(spark, table).count() == 1  # replay no-op


def test_refresh_aggregate_incremental_equals_recompute(spark, tmp_path):
    tbl = str(tmp_path / "base")
    agg = str(tmp_path / "agg")
    meas = {"n": ("count", None), "s": ("sum", "val"),
            "mn": ("min", "val"), "mx": ("max", "val")}

    def expect():
        cur = snap.read_snapshot(spark, tbl)
        return {(r["grp"],): (r["n"], r["s"], r["mn"], r["mx"])
                for r in cur.groupBy((F.col("id") % 3).alias("grp"))
                .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("s"),
                     F.min("val").alias("mn"), F.max("val").alias("mx"))
                .collect()}

    def got():
        return {(r["grp"],): (r["n"], r["s"], r["mn"], r["mx"])
                for r in snap.read_snapshot(spark, agg).collect()}

    def base_df(lo, hi):
        return _df(spark, lo, hi).withColumn("grp", F.col("id") % 3)

    snap.commit_snapshot(base_df(0, 10), tbl)
    v1 = snap.refresh_aggregate(spark, tbl, agg, ["grp"], meas)
    assert v1 == 1 and got() == expect()
    # idempotent: nothing new -> no-op, version unchanged
    assert snap.refresh_aggregate(spark, tbl, agg, ["grp"], meas) is None
    assert snap.snapshot_versions(agg) == [1]
    # two more appends, one refresh folds both
    snap.commit_snapshot(base_df(10, 25), tbl)
    snap.commit_snapshot(base_df(25, 30), tbl)
    assert snap.refresh_aggregate(spark, tbl, agg, ["grp"], meas) == 2
    assert got() == expect()
    # compaction breaks the pure-append delta -> full recompute path
    snap.compact_snapshot(spark, tbl, target_files=1)
    snap.commit_snapshot(base_df(30, 33), tbl)
    assert snap.refresh_aggregate(spark, tbl, agg, ["grp"], meas) == 3
    assert got() == expect()


def test_graph_expire_versions_pins_referenced_tables(spark, tmp_path):
    from graphydb_spark import Graph
    store = str(tmp_path / "gexp")
    g = Graph(spark)
    for i in range(3):
        g.Node("P", name=f"n{i}").save()
        g.write_versioned(store)
    assert snap.snapshot_versions(store) == [1, 2, 3]
    removed = Graph.expire_versions(store, keep_last=1)
    assert removed > 0
    assert snap.snapshot_versions(store) == [3]
    g3 = Graph.open_versioned(spark, store)
    assert g3.stats["nodes"] == 3
    with pytest.raises(FileNotFoundError):
        Graph.open_versioned(spark, store, version=1)


def test_commit_meta_fn_rolls_forward_per_commit(spark, tmp_path):
    """meta_fn derives each commit's meta FROM the parent's inside the
    retry loop — counter sidecars accumulate across appends instead of
    overwriting each other with pre-read values."""
    import pytest
    from graphydb_spark.sources.snapshot import (commit_snapshot,
                                                 snapshot_meta)
    p = str(tmp_path / "t")
    commit_snapshot(spark.range(2), p, mode="overwrite", meta={"n": 2})
    for k in (3, 5):
        commit_snapshot(spark.range(k), p, mode="append",
                        meta_fn=lambda m, k=k: {"n": (m or {"n": 0})["n"]
                                                + k})
    assert snapshot_meta(p, None) == {"n": 10}
    with pytest.raises(ValueError, match="meta OR meta_fn"):
        commit_snapshot(spark.range(1), p, mode="append",
                        meta={"n": 0}, meta_fn=lambda m: m)
