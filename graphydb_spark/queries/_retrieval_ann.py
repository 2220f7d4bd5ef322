"""standing-index retrieval/ANN probes: LSH, BM25, hybrid, PRF, IVF-PQ serve.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import persisted_index
from ..sources.tpch_graph import tpch_graph
from ._registry import query
from ._shared import _docs, _emb, _ivfb_full
from ._pipeline import _ivf_ctes, _ivf_oracle_sql


def q_lsh_probe(spark, sf_dir):
    """Incremental near-dup probe SERVED from the persisted MinHash
    index (the standing-pipeline shape, like hybrid_search): even
    doc_ids are indexed ONCE per session
    (persisted_index.build_minhash_index → snapshot table), each run
    only signs the odd-doc_id batch (on the driver when it is small and
    ASCII) and reads the index files that can hold its band hashes —
    the corpus side is a parquet read of signatures, never
    re-tokenized or shuffled.  Emits
    (index_id, new_id, est_jaccard) for every pair sharing an LSH band
    (8 hashes, 4 bands of 2) whose signatures agree on ≥ 4 of 8
    components (est_jaccard ≥ 0.5, the unbiased MinHash estimator).
    Signing uses the 'sliced' production scheme (VERDICT r5 #2 —
    signing was 78% of the probe's wall): 2 md5 per shingle, each
    digest sliced into four 32-bit hex components, min-aggregated;
    the oracle replays the identical substr(md5()) slices, and the
    pair-output differential gate vs the 8-md5 'salted' scheme is
    tests/test_persisted_index.py::test_lsh_scheme_differential."""
    mh_path = _retrieval_indexes(spark, sf_dir)["mh"]
    batch = _docs(spark, sf_dir).where("doc_id % 2 = 1")
    return persisted_index.probe_minhash_index(spark, mh_path, batch,
                                               threshold=0.5)


_LSH_PROBE_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents
), sg AS (
  SELECT doc_id, list_transform(range(1, len(ws)-1),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
  FROM toks WHERE len(ws) >= 3
), hx AS (
  SELECT doc_id,
         list_transform(sh, s -> md5('0:' || s)) AS h0,
         list_transform(sh, s -> md5('1:' || s)) AS h1
  FROM sg
), sig AS (
  SELECT doc_id, [
    list_min(list_transform(h0, h -> substr(h, 1, 8))),
    list_min(list_transform(h0, h -> substr(h, 9, 8))),
    list_min(list_transform(h0, h -> substr(h, 17, 8))),
    list_min(list_transform(h0, h -> substr(h, 25, 8))),
    list_min(list_transform(h1, h -> substr(h, 1, 8))),
    list_min(list_transform(h1, h -> substr(h, 9, 8))),
    list_min(list_transform(h1, h -> substr(h, 17, 8))),
    list_min(list_transform(h1, h -> substr(h, 25, 8)))] AS s
  FROM hx
), banded AS (
  SELECT doc_id, s, [
    md5(s[1] || '|' || s[2]), md5(s[3] || '|' || s[4]),
    md5(s[5] || '|' || s[6]), md5(s[7] || '|' || s[8])] AS bands
  FROM sig
), cand AS (
  SELECT DISTINCT i.doc_id AS index_id, n.doc_id AS new_id,
         i.s AS si, n.s AS sn
  FROM banded i JOIN banded n
    ON (i.bands[1] = n.bands[1] OR i.bands[2] = n.bands[2]
        OR i.bands[3] = n.bands[3] OR i.bands[4] = n.bands[4])
  WHERE i.doc_id % 2 = 0 AND n.doc_id % 2 = 1
)
SELECT index_id, new_id,
       CAST(len(list_filter(range(1, 9), i -> si[i] = sn[i])) AS DOUBLE)
       / 8.0 AS est_jaccard
FROM cand
WHERE len(list_filter(range(1, 9), i -> si[i] = sn[i])) >= 4
"""
query("lsh_probe", q_lsh_probe, _LSH_PROBE_ORACLE)


# Session-lifetime persisted retrieval indexes: a standing pipeline
# indexes the corpus ONCE and every query only probes — so the catalog's
# retrieval queries build the FTS + IVF snapshot tables on first touch
# (memoized per session × sf_dir, like the graph encoding) and their
# DataFrames read the committed files.  Bench warm-ups absorb the build;
# the timed runs measure the probe path, which is the steady state.
_RIDX_CACHE: dict = {}


def _retrieval_indexes(spark, sf_dir):
    key = (id(spark), sf_dir)
    got = _RIDX_CACHE.get(key)
    if got:
        return got
    import hashlib
    import os
    import tempfile
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(),
                        f"graphydb_spark_ridx_{os.getpid()}_{tag}")
    fts_path = os.path.join(base, "fts")
    ivf_path = os.path.join(base, "ivf")
    mh_path = os.path.join(base, "mh")
    g = tpch_graph(spark, sf_dir)
    docs = g.nodes_df.where(F.col("kind") == "Document")
    persisted_index.build_fts_table(docs, fts_path, ["text"])
    # reuse the session-shared k=8/iters=2 assignment — same
    # deterministic trajectory the oracles replay, computed once
    persisted_index.build_ivf_table(_emb(spark, sf_dir), ivf_path,
                                    k=8, iters=2,
                                    precomputed=_ivfb_full(spark, sf_dir))
    # the standing near-dup index: even doc_ids play the corpus.
    # scheme='sliced' is the production signing path (2 md5/shingle
    # sliced into 4×32-bit components each, vs 8 md5/shingle) — the
    # oracle replays the identical substr(md5(...)) slices in DuckDB.
    persisted_index.build_minhash_index(
        _docs(spark, sf_dir).where("doc_id % 2 = 0"), mh_path,
        text_col="text", id_col="doc_id", k=3, num_hashes=8, bands=4,
        scheme="sliced")
    got = {"fts": fts_path, "ivf": ivf_path, "mh": mh_path}
    _RIDX_CACHE[key] = got
    return got


def q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion, SERVED from the
    persisted index tables (the standing-pipeline shape): BM25 top-20
    for ['data','query'] via persisted_index.probe_fts_table — one
    manifest-pruned read of the terms' token ranges + meta corpus stats, no
    per-query index rebuild — fused with the IVF top-20 around
    vec_id 0's embedding via probe_ivf_table (nprobe=2 of 8 cells, so
    only ~1/4 of the vector table's files are opened); rrf =
    Σ 1/(60 + rank).  Both rank lists order by score ROUNDED to 6 dp
    (then id) so integer ranks are engine-portable; the oracle replays
    the identical deterministic k-means (unrolled Lloyd CTEs) and cell
    restriction, so the ANN result is exactly reproducible."""
    from pyspark.sql import Window as W

    ridx = _retrieval_indexes(spark, sf_dir)
    fts_path, ivf_path = ridx["fts"], ridx["ivf"]
    # top-20 via distributed TakeOrdered FIRST, then rank the 20
    # survivors — a partitionless row_number window over ALL scored
    # docs funnels the corpus through one task (the global_shuffle
    # lesson); ranking after the limit is the same result at any scale
    tw = W.orderBy(F.round(F.col("score"), 6).desc(), F.col("doc_id"))
    trank = (persisted_index.probe_fts_table(spark, fts_path,
                                             ["data", "query"])
             .select(F.substring("uid", 10, 30).cast("long")
                     .alias("doc_id"), "score")
             .orderBy(F.round(F.col("score"), 6).desc(), F.col("doc_id"))
             .limit(20)
             .withColumn("rank_text", F.row_number().over(tw)
                         .cast("long"))
             .drop("score"))
    emb = _emb(spark, sf_dir)
    qv = list(emb.where(F.col("vec_id") == 0)
              .select("embedding").collect()[0][0])
    vw = W.orderBy(F.col("c").desc(), F.col("doc_id"))
    # k=21: the query vector itself (vec_id 0, cosine 1) may occupy a
    # probed slot — fetch one extra, drop it, rank the remaining 20
    vrank = (persisted_index.probe_ivf_table(spark, ivf_path, qv,
                                             k=21, nprobe=2)
             .where(F.col("vec_id") != 0)
             .select(F.col("vec_id").alias("doc_id"),
                     F.round("cosine", 6).alias("c"))
             .orderBy(F.col("c").desc(), F.col("doc_id")).limit(20)
             .withColumn("rank_vec", F.row_number().over(vw)
                         .cast("long"))
             .drop("c"))
    fused = trank.join(vrank, "doc_id", "full_outer")
    rrf = (F.coalesce(1.0 / (F.lit(60) + F.col("rank_text")), F.lit(0.0))
           + F.coalesce(1.0 / (F.lit(60) + F.col("rank_vec")),
                        F.lit(0.0)))
    return (fused.select("doc_id", F.round(rrf, 9).alias("rrf"),
                         "rank_text", "rank_vec")
            .orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(10))


def q_bm25_probe(spark, sf_dir):
    """Top-10 BM25 for ['data','query'] served FROM the persisted FTS
    snapshot table (persisted_index.build_fts_table → probe_fts_table):
    the probe reads only the manifest-pruned token ranges plus the meta
    corpus stats — never rebuilding the tf index — and is
    value-identical to fts.bm25_scores over the derived index, so the
    oracle replays plain BM25 SQL.  The standing-index form of
    q_bm25_rank (reference analogue: FTS5's persistent index,
    graphydb.py:638-658)."""
    fts_path = _retrieval_indexes(spark, sf_dir)["fts"]
    return (persisted_index.probe_fts_table(spark, fts_path,
                                            ["data", "query"])
            .select(F.substring("uid", 10, 30).cast("long")
                    .alias("doc_id"),
                    F.round("score", 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id"))
            .limit(10))


def q_ivf_probe(spark, sf_dir):
    """q_ivf_topk served from the PERSISTED IVF snapshot table
    (persisted_index.build_ivf_table → probe_ivf_table): the session's
    standing index shares the deterministic k=8/iters=2 k-means, so the
    oracle is the identical unrolled-Lloyd replay — but the probe reads
    ONLY the 2 probed cells' manifest-pruned files instead of scanning
    an in-memory assignment."""
    ivf_path = _retrieval_indexes(spark, sf_dir)["ivf"]
    emb = _emb(spark, sf_dir)
    qv = list(emb.where(F.col("vec_id") == 0)
              .select("embedding").collect()[0][0])
    top = persisted_index.probe_ivf_table(spark, ivf_path, qv,
                                          k=6, nprobe=2)
    return (top.where(F.col("vec_id") != 0)
            .select("vec_id", F.round("cosine", 6).alias("cosine")))
query("ivf_probe", q_ivf_probe, _ivf_oracle_sql())


def q_fts_match_probe(spark, sf_dir):
    """Composite MATCH served FROM the persisted positional FTS table
    (persisted_index.match_fts_table): boolean (AND/NOT/OR), a quoted
    phrase and a prefix in one expression — ``data NOT query OR
    "table hash" OR quer*`` — reading only the manifest-pruned token
    ranges the terms touch.  The reference serves exactly this grammar
    from FTS5's persistent index (graphydb.py:876-893); q:fts_* are the
    per-session derived-index forms."""
    fts_path = _retrieval_indexes(spark, sf_dir)["fts"]
    return (persisted_index.match_fts_table(
        spark, fts_path, 'data NOT query OR "table hash" OR quer*')
        .select("uid"))


_FTS_MATCH_PROBE_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents
)
SELECT 'Document:' || CAST(doc_id AS VARCHAR) AS uid FROM toks
WHERE (list_contains(ws, 'data') AND NOT list_contains(ws, 'query'))
   OR instr(' ' || array_to_string(ws, ' ') || ' ', ' table hash ') > 0
   OR len(list_filter(ws, x -> x LIKE 'quer%')) > 0
"""
query("fts_match_probe", q_fts_match_probe, _FTS_MATCH_PROBE_ORACLE)


_BM25_PROBE_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents
),
docs AS (SELECT doc_id, len(ws) AS dl FROM toks WHERE len(ws) > 0),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM docs),
tf AS (
  SELECT toks.doc_id, u.tok AS term, COUNT(*) AS tf
  FROM toks, UNNEST(ws) AS u(tok)
  WHERE u.tok IN ('data','query')
  GROUP BY toks.doc_id, u.tok
),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         SUM( ln((s.n - d.df + 0.5)/(d.df + 0.5) + 1.0)
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * docs.dl / s.avgdl))
            ) AS score
  FROM tf JOIN dfreq d USING (term)
       JOIN docs ON docs.doc_id = tf.doc_id
       CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score
FROM scored
ORDER BY round(score, 6) DESC, doc_id
LIMIT 10
"""
query("bm25_probe", q_bm25_probe, _BM25_PROBE_ORACLE)


def _hybrid_oracle_sql(k: int = 8, iters: int = 2, nprobe: int = 2) -> str:
    """DuckDB replay of q_hybrid_search: the BM25 leg is plain SQL (the
    persisted probe is value-identical to the derived index), the
    vector leg replays the SAME deterministic k-means (shared unrolled
    Lloyd CTE chain — the q_ivf_topk precedent), restricts to the
    ``nprobe`` nearest cells, and replays the double-limit dance
    (top-21 by unrounded cosine → drop vec_id 0 → rank top-20 by
    6 dp-rounded cosine) — row sets agree because the unrounded cosines
    are bit-identical folds in both engines."""
    fold_cos = """
         list_sum(list_transform(range(1, len(e.embedding)+1),
           i -> q0.qv[i] * CAST(e.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, len(q0.qv)+1),
              i -> q0.qv[i] * q0.qv[i])))
          * sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
              i -> CAST(e.embedding[i] AS DOUBLE)
                 * CAST(e.embedding[i] AS DOUBLE)))))"""
    return _ivf_ctes(k, iters) + f""",
toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents
),
docs AS (SELECT doc_id, len(ws) AS dl FROM toks WHERE len(ws) > 0),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM docs),
tf AS (
  SELECT toks.doc_id, u.tok AS term, COUNT(*) AS tf
  FROM toks, UNNEST(ws) AS u(tok)
  WHERE u.tok IN ('data','query')
  GROUP BY toks.doc_id, u.tok
),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         SUM( ln((s.n - d.df + 0.5)/(d.df + 0.5) + 1.0)
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * docs.dl / s.avgdl))
            ) AS score
  FROM tf JOIN dfreq d USING (term)
       JOIN docs ON docs.doc_id = tf.doc_id
       CROSS JOIN stats s
  GROUP BY tf.doc_id
),
trank AS (
  SELECT doc_id, rt AS rank_text FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY round(score, 6) DESC, doc_id)
           AS rt
    FROM scored) WHERE rt <= 20
),
q0 AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       FROM e WHERE vec_id = 0),
probe AS (
  SELECT c FROM (
    SELECT c{iters}.c,
           list_sum(list_transform(range(1, len(q0.qv)+1),
             i -> (c{iters}.cent[i] - q0.qv[i])
                * (c{iters}.cent[i] - q0.qv[i]))) AS d
    FROM c{iters}, q0) ORDER BY d, c LIMIT {nprobe}),
cand AS (
  SELECT e.vec_id,{fold_cos} AS cos
  FROM e JOIN fin USING (vec_id), q0
  WHERE fin.c IN (SELECT c FROM probe)),
vtop AS (SELECT vec_id, cos FROM cand ORDER BY cos DESC, vec_id LIMIT 21),
vrank AS (
  SELECT doc_id, rv AS rank_vec FROM (
    SELECT vec_id AS doc_id,
           row_number() OVER (ORDER BY round(cos, 6) DESC, vec_id) AS rv
    FROM vtop WHERE vec_id <> 0) WHERE rv <= 20
)
SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
       round(COALESCE(1.0 / (60 + t.rank_text), 0)
             + COALESCE(1.0 / (60 + v.rank_vec), 0), 9) AS rrf,
       t.rank_text, v.rank_vec
FROM trank t FULL OUTER JOIN vrank v ON t.doc_id = v.doc_id
ORDER BY rrf DESC, doc_id LIMIT 10
"""
query("hybrid_search", q_hybrid_search, _hybrid_oracle_sql())


# Session-lifetime IVF-PQ index (the two-stage-serve demo's standing
# table) — separate memo from _retrieval_indexes so the FTS/IVF/MinHash
# probes don't pay its build in their warm-ups.
_IVFPQ_CACHE: dict = {}


def _ivfpq_index(spark, sf_dir):
    key = (id(spark), sf_dir)
    got = _IVFPQ_CACHE.get(key)
    if got:
        return got
    import hashlib
    import os
    import tempfile
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(),
                        f"graphydb_spark_ivfpq_{os.getpid()}_{tag}")
    persisted_index.build_ivfpq_table(_emb(spark, sf_dir), path,
                                      k=4, m=4, pq_k=8, iters=2,
                                      store_raw=True)
    _IVFPQ_CACHE[key] = path
    return path


def q_pq_rerank_topk(spark, sf_dir):
    """Two-stage IVF-PQ serve (FAISS's refine idiom): ADC candidates
    from the persisted cells, then EXACT L2 re-rank from the raw
    refine column stored in the same files
    (persisted_index.probe_ivfpq_table(rerank=α)).

    FULL-hash gate on the whole rerank plumbing — candidate pass over
    every probed cell, bounded id-collect, manifest-pruned raw-vector
    re-read, sequential-fold L2, (dist, id) tie-break, 6 dp rounding —
    by probing all cells with k·α ≥ corpus size, which makes the
    re-ranked result EXACTLY the brute-force L2 top-10 the oracle
    states in three lines.  The bounded-α quality curve (where the
    result is approximate and SQL can't replay the cut) is pinned
    separately: tests/test_persisted_index.py rerank suite + the
    committed 1M-vector stress (recall@100 57%→79%/97% at
    nprobe=8/16, α=4)."""
    path = _ivfpq_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7)
          .select("embedding").collect()[0][0]]
    k, rerank = 10, 200
    # the exact-equivalence premise — k·α covers the corpus so the
    # two-stage result IS brute force — must fail loudly if the
    # fixture ever outgrows it (sf0.1 has exactly 2000 = k·α rows)
    _assert_exact_rerank_premise("pq_rerank_topk", emb, k, rerank,
                                 path=path, nprobe=4)
    top = persisted_index.probe_ivfpq_table(spark, path, qv, k=k,
                                            nprobe=4, rerank=rerank)
    return top.select("vec_id", F.round("l2_dist", 6).alias("l2_dist"))


_PQ_RERANK_ORACLE = """
WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id = 7),
d AS (
  SELECT vec_id,
         list_sum(list_transform(range(1, len(embedding)+1),
           i -> (CAST(embedding[i] AS DOUBLE) - q.qv[i])
              * (CAST(embedding[i] AS DOUBLE) - q.qv[i]))) AS l2
  FROM embeddings, q
)
SELECT vec_id, round(l2, 6) AS l2_dist
FROM d ORDER BY l2, vec_id LIMIT 10
"""
query("pq_rerank_topk", q_pq_rerank_topk, _PQ_RERANK_ORACLE)


def q_ivfpq_rerank_probe(spark, sf_dir):
    """BOUNDED-α two-stage IVF-PQ serve — the honest production shape
    pq_rerank_topk deliberately sidesteps: nprobe=2 of 4 cells, ADC
    top-30 candidates, exact top-10 re-rank.  FULL oracle anyway: the
    DuckDB twin replays the ENTIRE index bit-for-bit — the coarse
    unrolled-Lloyd chain, per-vector residuals against the final
    centroids, one unrolled-Lloyd chain per PQ subspace over the
    residual slices, the query's per-cell distance tables, the ADC sum,
    the (adc, id) candidate cut, and the exact-L2 re-rank — so even the
    approximate cut is engine-portable (the _pq_oracle_sql precedent,
    extended with the residual layer)."""
    path = _ivfpq_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7)
          .select("embedding").collect()[0][0]]
    top = persisted_index.probe_ivfpq_table(spark, path, qv, k=10,
                                            nprobe=2, rerank=3)
    return top.select("vec_id", F.round("l2_dist", 6).alias("l2_dist"))


def _ivfpq_rerank_oracle_sql(k_coarse: int = 4, iters: int = 2,
                             m: int = 4, pq_k: int = 8,
                             nprobe: int = 2, topk: int = 10,
                             alpha: int = 3, dim: int = 64,
                             qid: int = 7) -> str:
    """DuckDB replay of q_ivfpq_rerank_probe (and of
    persisted_index.build_ivfpq_table + probe_ivfpq_table(rerank=α)
    generally): coarse chain → residuals → m namespaced PQ chains over
    residual slices → per-cell ADC tables → candidate cut → exact
    re-rank.  Every float fold is sequential in both engines."""
    sub = dim // m
    coarse = _ivf_ctes(k_coarse, iters)
    res = f""",
res AS MATERIALIZED (
  SELECT e.vec_id, list_transform(range(1, len(e.embedding)+1),
         i -> CAST(e.embedding[i] AS DOUBLE) - cc.cent[i]) AS embedding
  FROM e JOIN fin USING (vec_id) JOIN c{iters} cc ON cc.c = fin.c)"""
    chains = "".join(
        "," + _ivf_ctes(
            pq_k, iters,
            source=(f"SELECT vec_id, embedding[{s*sub+1}:{(s+1)*sub}] "
                    f"AS embedding FROM res"),
            pfx=f"s{s}_", with_kw=False)
        for s in range(m))
    tabs = "".join(f""",
tab{s} AS (
  SELECT qres.c, bk.c AS code,
         list_sum(list_transform(range(1, {sub}+1),
           i -> (bk.cent[i] - qres.rv[{s*sub} + i])
              * (bk.cent[i] - qres.rv[{s*sub} + i]))) AS d
  FROM qres, s{s}_c{iters} bk)""" for s in range(m))
    code_joins = " ".join(f"JOIN s{s}_fin USING (vec_id)"
                          for s in range(m))
    tab_joins = " ".join(
        f"JOIN tab{s} t{s} ON t{s}.c = f.c AND t{s}.code = s{s}_fin.c"
        for s in range(m))
    dist = " + ".join(f"t{s}.d" for s in range(m))
    return coarse + res + chains + f""",
q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = {qid}),
probe AS (
  SELECT c FROM (
    SELECT cc.c, list_sum(list_transform(range(1, len(q.qv)+1),
             i -> (cc.cent[i] - q.qv[i]) * (cc.cent[i] - q.qv[i]))) AS d
    FROM c{iters} cc, q) ORDER BY d, c LIMIT {nprobe}),
qres AS (
  SELECT cc.c, list_transform(range(1, len(q.qv)+1),
         i -> q.qv[i] - cc.cent[i]) AS rv
  FROM c{iters} cc, q WHERE cc.c IN (SELECT c FROM probe)){tabs},
adc AS (
  SELECT f.vec_id, {dist} AS adc_dist
  FROM fin f {code_joins} {tab_joins}
  WHERE f.c IN (SELECT c FROM probe)),
cand AS (SELECT vec_id FROM adc
         ORDER BY adc_dist, vec_id LIMIT {topk * alpha})
SELECT e.vec_id,
       round(list_sum(list_transform(range(1, len(e.embedding)+1),
         i -> (CAST(e.embedding[i] AS DOUBLE) - q.qv[i])
            * (CAST(e.embedding[i] AS DOUBLE) - q.qv[i]))), 6) AS l2_dist
FROM e JOIN cand USING (vec_id), q
ORDER BY list_sum(list_transform(range(1, len(e.embedding)+1),
         i -> (CAST(e.embedding[i] AS DOUBLE) - q.qv[i])
            * (CAST(e.embedding[i] AS DOUBLE) - q.qv[i]))), e.vec_id
LIMIT {topk}
"""
query("ivfpq_rerank_probe", q_ivfpq_rerank_probe, _ivfpq_rerank_oracle_sql())


def q_token_budget_mixture(spark, sf_dir):
    """Token-budgeted source mixture (pipeline.token_budget_mixture):
    keep each source's expected token mass at its budget via
    rate_s = min(1, budget_s / tokens_s) + the deterministic md5 gate.
    FULL oracle: the per-source token sums, the rate arithmetic and the
    hex-threshold gate all replay in plain SQL (the mixture_sample
    twin, with budgets over SUM(n_chars) instead of doc proportions)."""
    from ..operators.pipeline import token_budget_mixture
    docs = _docs(spark, sf_dir)
    out = token_budget_mixture(
        docs, "source", {"src0": 40_000.0, "src1": 15_000.0}, "doc_id")
    return out.select("doc_id", "source")
query("token_budget_mixture", q_token_budget_mixture, """
WITH tot AS (
  SELECT source, SUM(CAST(n_chars AS DOUBLE)) AS tok,
         CASE source WHEN 'src0' THEN 40000.0
                     WHEN 'src1' THEN 15000.0 END AS b
  FROM documents GROUP BY source
), rates AS (
  SELECT source, LEAST(1.0, b / tok) AS rate FROM tot WHERE b IS NOT NULL
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates USING (source)
WHERE rate >= 1.0
   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      < printf('%04x', CAST(floor(rate * 65536) AS INT))
""")


def _assert_exact_rerank_premise(name, emb, k, rerank,
                                 path=None, nprobe=None):
    """The exact-equivalence gate both rerank registry entries rest on
    (ADVICE r5: the boundary held silently with zero margin) — shared
    so a fixture-growth fix can never update one site and leave the
    other's constant stale.  Guards BOTH halves of the premise
    (ADVICE r6): the candidate pool covers the corpus (k·α ≥ n) AND
    the probe opens every index cell (nprobe ≥ built cell count, read
    from the snapshot meta) — either half failing silently would
    surface as an opaque oracle mismatch instead of this error."""
    n = emb.count()
    if k * rerank < n:
        raise AssertionError(
            f"{name} exact-equivalence boundary broken: "
            f"k*rerank={k * rerank} < corpus {n}; raise rerank")
    if path is not None:
        ncells = len(persisted_index.snapshot_meta(path, None)["centroids"])
        if nprobe < ncells:
            raise AssertionError(
                f"{name} exact-equivalence boundary broken: nprobe="
                f"{nprobe} < the index's {ncells} cells — un-probed "
                f"cells would hide corpus rows from the candidate pass")


def q_pq_batch_rerank(spark, sf_dir):
    """BATCH two-stage IVF-PQ serve
    (persisted_index.probe_ivfpq_table_batch(rerank=α)): three query
    vectors ride one closure matrix through the ADC scan, their
    candidate (qid, id) pairs broadcast-semi-join the raw refine
    column from the same manifest-pruned cells, and exact L2 re-ranks
    per query — the batch form of pq_rerank_topk, same FULL-hash gate:
    all cells probed with k·α ≥ corpus makes each query's re-ranked
    result EXACTLY its brute-force L2 top-10, which the oracle states
    per qid.  The bounded-α batch path is pinned by
    test_ivfpq_batch_rerank_equals_single_probes."""
    path = _ivfpq_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    k, rerank = 10, 200
    _assert_exact_rerank_premise("pq_batch_rerank", emb, k, rerank,
                                 path=path, nprobe=4)
    queries = (emb.where(F.col("vec_id").isin([3, 7, 11]))
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    out = persisted_index.probe_ivfpq_table_batch(
        spark, path, queries, k=k, nprobe=4, rerank=rerank)
    return out.select("qid", "vec_id",
                      F.round("l2_dist", 6).alias("l2_dist"))


_PQ_BATCH_RERANK_ORACLE = """
WITH q AS (
  SELECT vec_id AS qid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id IN (3, 7, 11)),
d AS (
  SELECT q.qid, e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding)+1),
           i -> (CAST(e.embedding[i] AS DOUBLE) - q.qv[i])
              * (CAST(e.embedding[i] AS DOUBLE) - q.qv[i]))) AS l2
  FROM embeddings e, q),
r AS (
  SELECT qid, vec_id, l2,
         row_number() OVER (PARTITION BY qid
                            ORDER BY l2, vec_id) AS rn
  FROM d)
SELECT qid, vec_id, round(l2, 6) AS l2_dist
FROM r WHERE rn <= 10
"""
query("pq_batch_rerank", q_pq_batch_rerank, _PQ_BATCH_RERANK_ORACLE)


def q_prf_expansion(spark, sf_dir):
    """Pseudo-relevance-feedback retrieval (Rocchio's two-pass idiom),
    SERVED from the standing FTS index: (1) BM25 top-10 for the seed
    terms ['data','query'] via the persisted probe (manifest-pruned
    token-range reads + meta corpus stats); (2) expansion terms = the
    top-5 tokens of those 10 docs by summed frequency (seeds excluded;
    the doc texts come from the DOCUMENTS table by id — the forward
    index — never a uid-scan of the token-sorted postings); (3) final
    BM25 top-10 for seeds+expansion.  The 5 expansion terms are a
    bounded driver fetch (the q_ivf_probe query-vector precedent).
    Every cut is engine-portable: stage 1 and 3 order by 6 dp-rounded
    score then doc_id (the bm25_probe precedent), stage 2 by integer
    tf then term."""
    from ..operators.text import tokens as _tok
    fts_path = _retrieval_indexes(spark, sf_dir)["fts"]
    seeds = ["data", "query"]
    top1 = (persisted_index.probe_fts_table(spark, fts_path, seeds)
            .select(F.substring("uid", 10, 30).cast("long")
                    .alias("doc_id"),
                    F.round("score", 6).alias("s"))
            .orderBy(F.col("s").desc(), F.col("doc_id")).limit(10))
    exp = (_docs(spark, sf_dir).join(F.broadcast(top1), "doc_id")
           .select(F.explode(_tok(F.col("text"))).alias("term"))
           .where(~F.col("term").isin(seeds))
           .groupBy("term").agg(F.count("*").alias("tf"))
           .orderBy(F.col("tf").desc(), F.col("term")).limit(5))
    terms = seeds + [r["term"] for r in exp.collect()]
    return (persisted_index.probe_fts_table(spark, fts_path, terms)
            .select(F.substring("uid", 10, 30).cast("long")
                    .alias("doc_id"),
                    F.round("score", 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id")).limit(10))


def _bm25_cte(tf_where: str, tag: str) -> str:
    """One BM25 scoring chain over the shared tokenizer CTEs —
    parameterized by the tf filter so the PRF oracle can run the seed
    pass and the expanded pass with identical constants (k1=1.2,
    b=0.75, idf=ln((n-df+.5)/(df+.5)+1) — probe_fts_table's exact
    formula)."""
    return f"""
tf{tag} AS (
  SELECT toks.doc_id, u.tok AS term, COUNT(*) AS tf
  FROM toks, UNNEST(ws) AS u(tok)
  WHERE {tf_where}
  GROUP BY toks.doc_id, u.tok),
dfreq{tag} AS (SELECT term, COUNT(DISTINCT doc_id) AS df
               FROM tf{tag} GROUP BY term),
scored{tag} AS (
  SELECT t.doc_id,
         SUM( ln((s.n - d.df + 0.5)/(d.df + 0.5) + 1.0)
              * (t.tf * 2.2)
              / (t.tf + 1.2 * (1 - 0.75 + 0.75 * docs.dl / s.avgdl))
            ) AS score
  FROM tf{tag} t JOIN dfreq{tag} d USING (term)
       JOIN docs ON docs.doc_id = t.doc_id
       CROSS JOIN stats s
  GROUP BY t.doc_id)"""


_PRF_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents
),
docs AS (SELECT doc_id, len(ws) AS dl FROM toks WHERE len(ws) > 0),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM docs),""" + \
    _bm25_cte("u.tok IN ('data','query')", "1") + """,
top1 AS (SELECT doc_id FROM scored1
         ORDER BY round(score, 6) DESC, doc_id LIMIT 10),
exp AS (
  SELECT u.tok AS term, COUNT(*) AS tf
  FROM toks JOIN top1 USING (doc_id), UNNEST(ws) AS u(tok)
  WHERE u.tok NOT IN ('data','query')
  GROUP BY u.tok ORDER BY tf DESC, term LIMIT 5),""" + \
    _bm25_cte("u.tok IN ('data','query') "
              "OR u.tok IN (SELECT term FROM exp)", "2") + """
SELECT doc_id, round(score, 6) AS score
FROM scored2
ORDER BY round(score, 6) DESC, doc_id
LIMIT 10
"""
query("prf_expansion", q_prf_expansion, _PRF_ORACLE)


def q_ann_recall_curve(spark, sf_dir):
    """ANN serving-quality evaluation over the standing IVF table:
    recall@10 of the manifest-pruned probe vs exact brute force (the
    nprobe=8 probe over an 8-cell index reads every cell, so it IS the
    exact top-10) for nprobe ∈ {1,2,4,8} — the capacity-planning curve
    an operator reads before picking a probe width.  Four bounded
    probes of a constant-size loop (the q_ivf_probe collect precedent);
    hits is the integer overlap, recall = hits/10.  The oracle replays
    the identical deterministic k-means (shared unrolled-Lloyd chain)
    and cell restriction per nprobe."""
    ivf_path = _retrieval_indexes(spark, sf_dir)["ivf"]
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0)
          .select("embedding").collect()[0][0]]
    base = {r["vec_id"] for r in persisted_index.probe_ivf_table(
        spark, ivf_path, qv, k=10, nprobe=8).collect()}
    rows = []
    for np_ in (1, 2, 4, 8):
        # nprobe=8 IS the exact probe — reuse base instead of running
        # the identical all-cells job twice
        got = base if np_ == 8 else {
            r["vec_id"] for r in persisted_index.probe_ivf_table(
                spark, ivf_path, qv, k=10, nprobe=np_).collect()}
        hits = len(got & base)
        rows.append((np_, hits, round(hits / 10.0, 6)))
    return spark.createDataFrame(rows,
                                 "nprobe int, hits int, recall double")


def _ann_recall_oracle_sql(k: int = 8, iters: int = 2,
                           topk: int = 10) -> str:
    branches = []
    probes = []
    for np_ in (1, 2, 4, 8):
        probes.append(f"""
probe{np_} AS (SELECT c FROM celld ORDER BY d, c LIMIT {np_}),
top{np_} AS (
  SELECT vec_id FROM scored WHERE c IN (SELECT c FROM probe{np_})
  ORDER BY cos DESC, vec_id LIMIT {topk})""")
        branches.append(f"""
SELECT {np_} AS nprobe,
       (SELECT COUNT(*) FROM top{np_} JOIN base USING (vec_id)) AS hits,
       round((SELECT COUNT(*) FROM top{np_} JOIN base USING (vec_id))
             / {topk}.0, 6) AS recall""")
    return _ivf_ctes(k, iters) + f""",
q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM e WHERE vec_id = 0),
celld AS (
  SELECT c{iters}.c,
         list_sum(list_transform(range(1, len(q.qv)+1),
           i -> (c{iters}.cent[i] - q.qv[i])
              * (c{iters}.cent[i] - q.qv[i]))) AS d
  FROM c{iters}, q),
scored AS (
  SELECT fin.c, e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding)+1),
           i -> q.qv[i] * CAST(e.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, len(q.qv)+1),
              i -> q.qv[i] * q.qv[i])))
          * sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
              i -> CAST(e.embedding[i] AS DOUBLE)
                 * CAST(e.embedding[i] AS DOUBLE))))) AS cos
  FROM e JOIN fin USING (vec_id), q),
base AS (SELECT vec_id FROM scored ORDER BY cos DESC, vec_id
         LIMIT {topk}),{",".join(probes)}
{" UNION ALL ".join(branches)}
ORDER BY nprobe
"""
query("ann_recall_curve", q_ann_recall_curve, _ann_recall_oracle_sql())


def q_ivf_batch_probe(spark, sf_dir):
    """CHUNKED batch ANN serving under the full-hash gate (round 7 —
    the path that replaced the 65,536-query cap): three query vectors
    ride persisted_index.probe_ivf_table_batch against the standing
    IVF snapshot with nprobe = ALL 8 cells, so every query's candidate
    set is the whole corpus and its top-5 is EXACTLY brute-force
    cosine, which the oracle states per qid in four lines (the
    pq_batch_rerank premise, cosine flavor).  max_batch=2 forces the
    probe through the chunk iterator (2 + 1 queries, two closure-
    matrix scans, per-chunk localCheckpoint + union) — the driver's
    gate now hashes the CHUNKED path's values, not just the
    single-scan path's (chunk==single identity is also pinned by
    test_batch_probe_chunked_equals_capped).

    OPTS OUT of the plan cache (ADVICE r7): the multi-chunk result is
    eagerly materialized on session-lifetime localCheckpoint blocks —
    a cached handle would re-read those rows (not re-run the probe)
    and fail permanently after an executor loss.  Every call rebuilds
    the probe from the standing index, so a timing of this entry
    measures the real chunked serve path each run."""
    ivf_path = _retrieval_indexes(spark, sf_dir)["ivf"]
    emb = _emb(spark, sf_dir)
    meta = persisted_index.snapshot_meta(ivf_path, None)
    ncells = len(meta["centroids"])
    assert ncells == 8, (
        f"ivf_batch_probe exact-equivalence premise broken: the "
        f"standing index has {ncells} cells, the probe covers 8")
    queries = (emb.where(F.col("vec_id").isin([2, 5, 9]))
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    out = persisted_index.probe_ivf_table_batch(
        spark, ivf_path, queries, k=5, nprobe=ncells, max_batch=2)
    out = out.select("qid", "vec_id",
                     F.round("cosine", 6).alias("cosine"))
    out._gdb_no_plan_cache = True
    return out


_IVF_BATCH_PROBE_ORACLE = """
WITH q AS (
  SELECT vec_id AS qid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id IN (2, 5, 9)),
d AS (
  SELECT q.qid, e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding)+1),
           i -> q.qv[i] * CAST(e.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, len(q.qv)+1),
              i -> q.qv[i] * q.qv[i])))
          * sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
              i -> CAST(e.embedding[i] AS DOUBLE)
                 * CAST(e.embedding[i] AS DOUBLE))))) AS cos
  FROM embeddings e, q),
r AS (
  SELECT qid, vec_id, cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, vec_id) AS rn
  FROM d)
SELECT qid, vec_id, round(cos, 6) AS cosine
FROM r WHERE rn <= 5
"""
query("ivf_batch_probe", q_ivf_batch_probe, _IVF_BATCH_PROBE_ORACLE)


def q_rerank_shuffle_probe(spark, sf_dir):
    """The DISTRIBUTED stage-2 rerank under the full-hash gate (round
    8 — the path that replaced the k·α > 2M broadcast refusal): two
    query vectors with rerank=200,001 make k·α = 2,000,010 exceed
    MAX_RERANK_PAIRS, so the batch serves in 1-query chunks and each
    chunk's candidate pairs SHUFFLE-join the raw refine column instead
    of broadcasting (persisted_index._batch_chunk's fallback
    branch).  All cells probed + k·α ≥ corpus keeps the exact-
    equivalence premise: each query's re-ranked top-10 is EXACTLY its
    brute-force L2 top-10, which the oracle states per qid (the
    pq_batch_rerank premise served by the other join strategy; value-
    identity between strategies is also pinned by
    test_ivfpq_rerank_shuffle_equals_broadcast).

    OPTS OUT of the plan cache (the ivf_batch_probe precedent): the
    multi-chunk serve is eagerly materialized, so every call rebuilds
    the probe and a timing measures the real shuffle-rerank path."""
    path = _ivfpq_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    k, rerank = 10, 200_001
    _assert_exact_rerank_premise("rerank_shuffle_probe", emb, k,
                                 rerank, path=path, nprobe=4)
    queries = (emb.where(F.col("vec_id").isin([4, 8]))
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    out = persisted_index.probe_ivfpq_table_batch(
        spark, path, queries, k=k, nprobe=4, rerank=rerank)
    out = out.select("qid", "vec_id",
                     F.round("l2_dist", 6).alias("l2_dist"))
    out._gdb_no_plan_cache = True
    return out


_RERANK_SHUFFLE_ORACLE = """
WITH q AS (
  SELECT vec_id AS qid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id IN (4, 8)),
d AS (
  SELECT q.qid, e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding)+1),
           i -> (CAST(e.embedding[i] AS DOUBLE) - q.qv[i])
              * (CAST(e.embedding[i] AS DOUBLE) - q.qv[i]))) AS l2
  FROM embeddings e, q),
r AS (
  SELECT qid, vec_id, l2,
         row_number() OVER (PARTITION BY qid
                            ORDER BY l2, vec_id) AS rn
  FROM d)
SELECT qid, vec_id, round(l2, 6) AS l2_dist
FROM r WHERE rn <= 10
"""
query("rerank_shuffle_probe", q_rerank_shuffle_probe, _RERANK_SHUFFLE_ORACLE)


def q_dist_stage1_probe(spark, sf_dir):
    """The DISTRIBUTED stage-1 batch ANN path under the full-hash gate
    (round 9 — the path that removed the last driver-sequenced funnel,
    VERDICT r8 #1): three query vectors ride
    persisted_index.probe_ivf_table_batch with strategy='distributed',
    so cell assignment is the executor-side Arrow nprobe-cells UDF,
    the probe is ONE lazy cogroup plan (query vectors never collect to
    the driver), and per-query top-5 merges across salted blocks via
    the global row_number.  nprobe = ALL 8 cells keeps the exact-
    equivalence premise: each query's candidate set is the whole
    corpus, so its top-5 is EXACTLY brute-force cosine, which the
    oracle states per qid (the ivf_batch_probe premise served by the
    join-based path; distributed==chunked identity is also pinned by
    test_ivf_batch_distributed_equals_chunked).

    Stays plan-cacheable: the distributed serve is fully lazy (no
    checkpoint blocks), so a cached handle re-runs the real cogroup
    job per execution — unlike the chunked multi-chunk serve."""
    ivf_path = _retrieval_indexes(spark, sf_dir)["ivf"]
    emb = _emb(spark, sf_dir)
    meta = persisted_index.snapshot_meta(ivf_path, None)
    ncells = len(meta["centroids"])
    assert ncells == 8, (
        f"dist_stage1_probe exact-equivalence premise broken: the "
        f"standing index has {ncells} cells, the probe covers 8")
    queries = (emb.where(F.col("vec_id").isin([1, 6, 7]))
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    out = persisted_index.probe_ivf_table_batch(
        spark, ivf_path, queries, k=5, nprobe=ncells,
        strategy="distributed")
    return out.select("qid", "vec_id",
                      F.round("cosine", 6).alias("cosine"))


_DIST_STAGE1_ORACLE = """
WITH q AS (
  SELECT vec_id AS qid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id IN (1, 6, 7)),
d AS (
  SELECT q.qid, e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding)+1),
           i -> q.qv[i] * CAST(e.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, len(q.qv)+1),
              i -> q.qv[i] * q.qv[i])))
          * sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
              i -> CAST(e.embedding[i] AS DOUBLE)
                 * CAST(e.embedding[i] AS DOUBLE))))) AS cos
  FROM embeddings e, q),
r AS (
  SELECT qid, vec_id, cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, vec_id) AS rn
  FROM d)
SELECT qid, vec_id, round(cos, 6) AS cosine
FROM r WHERE rn <= 5
"""
query("dist_stage1_probe", q_dist_stage1_probe, _DIST_STAGE1_ORACLE)


def q_dist_rerank_probe(spark, sf_dir):
    """The distributed path's STAGE-2 under the full-hash gate: two
    query vectors through probe_ivfpq_table_batch with
    strategy='distributed' and rerank — candidates shuffle-join the
    raw refine column AND the queries frame executor-side (no
    broadcast, no driver pair materialization), exact L2 re-ranks per
    query.  All cells probed + k·α ≥ corpus keeps the exact-
    equivalence premise (the rerank_shuffle_probe premise served by
    the cogroup stage-1 + join stage-2; distributed==chunked identity
    incl. rerank is pinned by
    test_ivfpq_batch_distributed_equals_chunked).  Fully lazy, so it
    stays plan-cacheable like dist_stage1_probe."""
    path = _ivfpq_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    k, rerank = 10, 200_001
    _assert_exact_rerank_premise("dist_rerank_probe", emb, k,
                                 rerank, path=path, nprobe=4)
    queries = (emb.where(F.col("vec_id").isin([3, 7]))
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    out = persisted_index.probe_ivfpq_table_batch(
        spark, path, queries, k=k, nprobe=4, rerank=rerank,
        strategy="distributed")
    return out.select("qid", "vec_id",
                      F.round("l2_dist", 6).alias("l2_dist"))


_DIST_RERANK_ORACLE = """
WITH q AS (
  SELECT vec_id AS qid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id IN (3, 7)),
d AS (
  SELECT q.qid, e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding)+1),
           i -> (CAST(e.embedding[i] AS DOUBLE) - q.qv[i])
              * (CAST(e.embedding[i] AS DOUBLE) - q.qv[i]))) AS l2
  FROM embeddings e, q),
r AS (
  SELECT qid, vec_id, l2,
         row_number() OVER (PARTITION BY qid
                            ORDER BY l2, vec_id) AS rn
  FROM d)
SELECT qid, vec_id, round(l2, 6) AS l2_dist
FROM r WHERE rn <= 10
"""
query("dist_rerank_probe", q_dist_rerank_probe, _DIST_RERANK_ORACLE)


def q_ivf_cell_stats(spark, sf_dir):
    """The IVF drift telemetry under the full-hash gate (round 9,
    VERDICT r8 #4): per-cell row counts of the standing IVF table read
    from the META COUNTERS that build_ivf_table writes and
    append_ivf_table rolls forward — zero Spark jobs on the serve side
    (ivf_cell_balance's input).  All k cells appear, unpopulated ones
    as 0.  The oracle recomputes ground truth from scratch: the shared
    unrolled-Lloyd CTE chain reproduces the engine's deterministic
    k-means assignment exactly, so counting `fin` per cell IS the
    counter the meta must equal — the gate proves the incremental
    telemetry equals a full recount."""
    ivf_path = _retrieval_indexes(spark, sf_dir)["ivf"]
    meta = persisted_index.snapshot_meta(ivf_path, None)
    counts = meta["cell_counts"]
    rows = [(c, int(counts.get(str(c), 0))) for c in range(meta["k"])]
    return spark.createDataFrame(rows, "cluster int, n_rows long")


_IVF_CELL_STATS_ORACLE = _ivf_ctes(8, 2) + """,
counts AS (SELECT c, COUNT(*) AS n FROM fin GROUP BY c)
SELECT CAST(t.c AS INT) AS cluster,
       CAST(COALESCE(counts.n, 0) AS BIGINT) AS n_rows
FROM (SELECT UNNEST(range(8)) AS c) t LEFT JOIN counts USING (c)
ORDER BY cluster
"""
query("ivf_cell_stats", q_ivf_cell_stats, _IVF_CELL_STATS_ORACLE)
