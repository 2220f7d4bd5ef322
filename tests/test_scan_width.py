"""Round-10 optimization guards.

1. probe_fts_table sizes its plan from the manifest's pruned rows: a
   probe that fits one partition has no exchange at all, a wider one
   pins the postings' exchange (score agg on uid) to that width instead
   of the session shuffle conf — a point probe must not pay 25-32
   near-empty tasks — and takes df from a broadcast per-token
   aggregate, so a hot term's postings never meet on one task.
2. quality_filter's token walk is compute-once: a ``where(keep)``
   consumer must NOT re-derive the split+lower walk once per rule
   inside a pushed-down filter (the measured 6× clone that serialized
   the ×10 corpus_pipeline), and the walk must stay ABOVE a spread
   exchange rather than being pushed below it into the scan.
3. spread_scan_by_bytes sizes from UNCOMPRESSED footer bytes: no-op on
   a bench-scale corpus, proportional width beyond it, untouched
   shuffled inputs; neither spread helper runs a job on a shuffled
   (aggregate-shaped) input.
4. match_fts_table compiles every MATCH form to one per-uid aggregate:
   a probe that fits one partition is one job with no exchange.
"""
import pytest
from pyspark.sql import functions as F

from graphydb_spark.operators import persisted_index
from graphydb_spark.operators.pipeline import quality_filter
from graphydb_spark.operators.text import (spread_scan_by_bytes,
                                           spread_small_scan)
from graphydb_spark.sources.snapshot import pruned_file_rows


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, f"the quick brown fox is one of many and jumps to a "
                f"lazy dog in the field for fun on day {i} with joy " * 2,
             "en", 100)
            for i in range(60)]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long")


def _probe(spark, corpus, tmp_path):
    path = str(tmp_path / "fts")
    persisted_index.build_fts_table(corpus, path, ["text"],
                                    id_col="doc_id")
    return path, persisted_index.probe_fts_table(spark, path,
                                                 ["quick", "dog"])


def test_fts_probe_fitting_one_partition_has_no_exchange(spark, corpus,
                                                         tmp_path):
    path, df = _probe(spark, corpus, tmp_path)
    # the manifest says the pruned postings fit one partition, so the
    # scan is coalesced and the df window and the uid sum run in its
    # stage: no exchange of any kind, before or after AQE re-planning
    before = df._jdf.queryExecution().executedPlan().toString()
    assert len(df.collect()) > 0                  # the probe still scores
    after = df._jdf.queryExecution().executedPlan().toString()
    for plan in (before, after):
        assert "Exchange" not in plan, plan
        assert "ENSURE_REQUIREMENTS" not in plan, plan
        assert "Coalesce 1" in plan, plan


def test_fts_probe_exchanges_are_probe_width(spark, corpus, tmp_path,
                                             monkeypatch):
    path, narrow = _probe(spark, corpus, tmp_path)
    rows = pruned_file_rows(path, None, {"token": [("dog", "dog"),
                                                   ("quick", "quick")]})[1]
    monkeypatch.setattr(persisted_index, "PROBE_ROWS_PER_PARTITION", 10)
    w = min(rows // 10 + 1,
            int(spark.conf.get("spark.sql.shuffle.partitions")))
    assert w > 1, rows
    df = persisted_index.probe_fts_table(spark, path, ["quick", "dog"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the postings move through ONE exchange, the score sum's,
    # user-pinned at width w (REPARTITION_BY_NUM is never AQE-coalesced
    # and never the session conf width) and reused by the aggregate.
    # df is a per-token aggregate broadcast back, not a token window
    # (which funnels a hot term's postings onto one task): its partial
    # counts are the only conf-width ENSURE_REQUIREMENTS exchange.
    assert plan.count(f", {w}), REPARTITION_BY_NUM") == 1, plan
    assert "hashpartitioning(uid" in plan, plan
    assert plan.count("ENSURE_REQUIREMENTS") == 1, plan
    assert "partial_count(1)" in plan, plan
    assert plan.count("Exchange") == 3, plan    # + the BroadcastExchange
    assert "BroadcastHashJoin" in plan and "Window" not in plan, plan
    # the width changes the plan, not the scores
    got = {r.uid: r.score for r in df.collect()}
    want = {r.uid: r.score for r in narrow.collect()}
    assert got.keys() == want.keys() and got
    assert all(abs(got[u] - want[u]) <= 1e-12 * abs(want[u]) for u in got)


def _shuffle_rows_per_task(spark, group):
    """Per stage of the jobs in ``group``: the shuffle records each task
    read, from the status store."""
    from py4j.protocol import Py4JJavaError
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    for j in sc.statusTracker().getJobIdsForGroup(group):
        ids = str(store.job(j).stageIds().mkString(","))
        for sid in (int(x) for x in ids.split(",") if x):
            # the store keeps at most spark.ui.retainedStages stages, so
            # late in a long session a listed stage can be gone (seen
            # as NoSuchElementException); the caller asserts that the
            # stage which read the postings is found
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            tasks = store.taskList(sid, st.attemptId(), 100_000)
            out.append([tasks.apply(i).taskMetrics().get()
                        .shuffleReadMetrics().recordsRead()
                        for i in range(tasks.size())])
    return out


@pytest.mark.parametrize("fields,terms", [(["text"], ["hot", "w7"]),
                                          (["text", "title"], ["hot"])])
def test_fts_probe_hot_term_spreads_at_width(spark, tmp_path, monkeypatch,
                                             fields, terms):
    """A term holding half the postings must not land on one task when
    the probe is wide: every task after an exchange holds at most twice
    its share of that stage's rows, and the scores equal the width-1
    plan's (two addends per uid sum exactly in either order).  The
    multi-field index counts df as distinct uids."""
    import math
    docs = spark.createDataFrame(
        [(i, f"hot w{i}", f"hot t{i}") for i in range(400)],
        "doc_id long, text string, title string")
    path = str(tmp_path / "fts")
    persisted_index.build_fts_table(docs, path, fields, id_col="doc_id")
    narrow = {r.uid: r.score for r in
              persisted_index.probe_fts_table(spark, path, terms).collect()}
    monkeypatch.setattr(persisted_index, "PROBE_ROWS_PER_PARTITION", 20)
    sc = spark.sparkContext
    group = "fts-hot-term-" + "-".join(fields)     # this case's jobs only
    sc.setJobGroup(group, group)
    try:
        wide = {r.uid: r.score for r in
                persisted_index.probe_fts_table(spark, path,
                                                terms).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert wide == narrow and len(wide) == 400
    stages = [t for t in _shuffle_rows_per_task(spark, group) if sum(t)]
    assert any(sum(t) >= 400 for t in stages), stages
    for rows in stages:
        assert len(rows) > 1 or sum(rows) < 10, stages
        assert max(rows) <= 2 * math.ceil(sum(rows) / len(rows)), stages


def test_spread_helpers_run_no_job_on_aggregate_input(spark, corpus,
                                                      tmp_path):
    # the ENSURE_REQUIREMENTS exchange of an aggregate is planned after
    # sparkPlan(), so only a logical-plan guard keeps the helpers'
    # ``.rdd`` probe from running the aggregate at construction
    sc = spark.sparkContext
    corpus.write.parquet(str(tmp_path / "docs"))
    agg = spark.read.parquet(str(tmp_path / "docs")).groupBy("lang").count()
    for helper in (spread_small_scan, spread_scan_by_bytes):
        group = f"spread-guard-{helper.__name__}"
        sc.setJobGroup(group, group)
        try:
            out = helper(agg)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert out is agg
        assert sc.statusTracker().getJobIdsForGroup(group) == [], helper


@pytest.fixture(scope="module")
def fts_path(corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fts_match") / "fts")
    persisted_index.build_fts_table(corpus, path, ["text"], id_col="doc_id")
    return path


@pytest.mark.parametrize("q", ["quick", "quick dog", "quick OR nothing",
                               "quick NOT 7", "qui*", '"quick brown"',
                               "quick NEAR/2 fox",
                               'NEAR("quick brown" one, 3)'])
def test_fts_match_probe_is_one_job_without_exchange(spark, fts_path, q):
    """Every MATCH form is one per-uid aggregate over the pruned scan:
    a probe that fits one partition runs as ONE job with no exchange,
    and no form plans a join (phrase and NEAR included)."""
    sc = spark.sparkContext
    group = f"fts-match-{q}"
    sc.setJobGroup(group, group)
    try:
        df = persisted_index.match_fts_table(spark, fts_path, q)
        assert df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, q
    qe = df._jdf.queryExecution()
    assert "Exchange" not in qe.executedPlan().toString(), q
    assert "Join" not in qe.optimizedPlan().toString(), q


def test_quality_filter_token_walk_not_cloned_into_filter(spark, corpus):
    out = quality_filter(corpus).where(F.col("keep")).select("doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the tokenize walk appears exactly once (the compute-once
    # projection); a pushed filter re-deriving it per rule shows up as
    # 5+ occurrences of the split(lower( chain
    assert plan.count("split(lower(") == 1, plan
    # and the filter still applies (semantics unchanged)
    assert out.count() == corpus.count()  # synthetic corpus all passes


def test_quality_filter_walk_stays_above_spread_exchange(spark, corpus):
    spread = corpus.repartition(4)  # stand-in for the spread exchange
    out = quality_filter(spread).where(F.col("keep")).select("doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    walk_at = plan.index("split(lower(")
    ex_at = plan.index("RoundRobinPartitioning")
    # plan text is top-down: the walk (above) prints BEFORE the
    # round-robin exchange (below) — pushdown must not invert them
    assert walk_at < ex_at, plan


def test_quality_filter_values_unchanged_by_compute_once(spark):
    rows = [(1, "the a of and to in is for on with many good tokens "
                "indeed quite long enough to pass the gate", "en", 90),
            (2, "x", "en", 1),
            (3, None, "en", 0)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long")
    got = {r["doc_id"]: (r["ok_tokens"], r["ok_avg_len"], r["ok_symbols"],
                         r["ok_stopwords"], r["keep"])
           for r in quality_filter(df, min_tokens=5).collect()}
    assert got[1] == (True, True, True, True, True)
    assert got[2][0] is False and got[2][4] is False


def test_spread_by_bytes_noop_small_and_untouched_shuffled(spark, corpus):
    small = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    assert spread_scan_by_bytes(small) is small          # tiny → no-op
    shuffled = corpus.repartition(2, "doc_id")
    assert spread_scan_by_bytes(shuffled) is shuffled    # exchange guard


def test_spread_by_bytes_proportional(spark, tmp_path):
    # ~9 MB of uncompressed text in one file → width ≈ bytes/2MB + 1,
    # capped at defaultParallelism.  Distinct per-row text so parquet's
    # dictionary encoding cannot collapse it (the width proxy is the
    # footer's encoded-page byte size).
    rows = [(i, f"tok {i} " * 2500) for i in range(500)]
    p = str(tmp_path / "big")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    out = spread_scan_by_bytes(df)
    par = spark.sparkContext.defaultParallelism
    w = out.rdd.getNumPartitions()
    assert w > 1 and w <= par, w
