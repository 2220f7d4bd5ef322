"""analytics catalog (rounds 3-5): graph algorithms, sketches, projections."""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import graph_algos, similarity, text
from ..sources.tpch_graph import load_tables, tpch_graph
from ._registry import query
from ._shared import _docs, _emb, _events
from ._pipeline import _ivf_ctes


def q_resample_locf(spark, sf_dir):
    """Time-series gap-fill: hourly per-user resample of events.value
    with last-observation-carried-forward (the timeseries-DB hypertable
    rollup + locf shape).  FULL oracle: the value column is copied, not
    computed, so doubles hash exactly; the in-bucket election is made
    deterministic by the (ts, event_id) tiebreak."""
    from ..operators.relational import resample_locf
    return resample_locf(_events(spark, sf_dir), "user_id", "ts", "value",
                         unit="hour", tiebreak="event_id")


_RESAMPLE_LOCF_ORACLE = """
WITH b AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_ts, value,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
latest AS (SELECT user_id, bucket_ts, value AS obs FROM b WHERE rn = 1),
span AS (SELECT user_id, MIN(bucket_ts) AS lo, MAX(bucket_ts) AS hi
         FROM latest GROUP BY 1),
grid AS (SELECT user_id, g.g AS bucket_ts
         FROM span, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS g(g))
SELECT g.user_id, g.bucket_ts,
       last_value(l.obs IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket_ts
         ROWS UNBOUNDED PRECEDING) AS value,
       l.obs IS NULL AS filled
FROM grid g LEFT JOIN latest l USING (user_id, bucket_ts)
"""
query("resample_locf", q_resample_locf, _RESAMPLE_LOCF_ORACLE)


def q_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k for vec_id=0 (Jégou et al. 2011):
    4 subspaces × 8-centroid codebooks, asymmetric-distance scan over
    the code table only.  FULL oracle: each subspace k-means is the
    shared deterministic unrolled-CTE chain (namespaced per subspace);
    distance-table entries and the ADC sum are sequential double folds
    in both engines, so they agree bitwise."""
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0)
          .select("embedding").collect()[0][0]]
    codes, books = similarity.pq_index(emb, m=4, k=8, iters=2)
    top = similarity.pq_topk(codes, books, qv, k=10)
    return top.select("vec_id", F.round("adc_dist", 6).alias("adc_dist"))


def _pq_oracle_sql(m: int = 4, k: int = 8, iters: int = 2,
                   topk: int = 10, dim: int = 64) -> str:
    """DuckDB replay of q_pq_topk: one namespaced k-means CTE chain per
    subspace (bit-identical centroids/assignments by the same three
    rules as _ivf_oracle_sql), then the ADC table join."""
    sub = dim // m
    chains = "".join(
        ("," if s else "") + _ivf_ctes(
            k, iters,
            source=(f"SELECT vec_id, embedding[{s*sub+1}:{(s+1)*sub}] "
                    f"AS embedding FROM embeddings"),
            pfx=f"s{s}_", with_kw=(s == 0))
        for s in range(m))
    tabs = ",".join(f"""
tab{s} AS (
  SELECT c.c, list_sum(list_transform(range(1, {sub}+1),
    i -> (c.cent[i] - q.qv[{s*sub} + i])
       * (c.cent[i] - q.qv[{s*sub} + i]))) AS d
  FROM s{s}_c{iters} c, q)""" for s in range(m))
    code_joins = " ".join(f"JOIN s{s}_fin USING (vec_id)"
                          for s in range(1, m))
    tab_joins = " ".join(f"JOIN tab{s} t{s} ON t{s}.c = s{s}_fin.c"
                         for s in range(m))
    dist = " + ".join(f"t{s}.d" for s in range(m))
    return chains + f""",
q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 0),{tabs}
SELECT s0_fin.vec_id, round({dist}, 6) AS adc_dist
FROM s0_fin {code_joins} {tab_joins}
ORDER BY {dist}, s0_fin.vec_id LIMIT {topk}"""
query("pq_topk", q_pq_topk, _pq_oracle_sql())


def q_random_walks(spark, sf_dir):
    """DeepWalk corpus: 2 seeded walks of length 4 from the 20 lowest
    orders over the symmetrized Contains (order↔part) graph.  FULL
    oracle: walks are hash-driven (md5-hash60 of seed:walk_id:step mod
    degree over sorted distinct neighbors), so SQL replays every step."""
    g = tpch_graph(spark, sf_dir)
    edges = g.edges_df.where(F.col("kind") == "Contains")
    starts = (load_tables(spark, sf_dir)["orders"]
              .orderBy("o_orderkey").limit(20)
              .select(F.concat(F.lit("Order:"),
                               F.col("o_orderkey").cast("string"))
                      .alias("uid")))
    return graph_algos.random_walks(edges, starts, walk_len=4,
                                    walks_per_node=2)


def _random_walks_oracle_sql(walk_len: int = 4, wpn: int = 2,
                             n_starts: int = 20, seed: str = "w") -> str:
    """Unrolled walk steps; each w{t} CTE replays the engine's
    hash-pick (left join keeps walks alive at isolated nodes)."""
    ws = ", ".join(str(i) for i in range(wpn))
    parts = [f"""ed AS (
  SELECT 'Order:' || CAST(l_orderkey AS VARCHAR) AS src,
         'Part:' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
sym AS (SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed),
adj AS (SELECT src, list_sort(list_distinct(list(dst))) AS nbrs
        FROM sym GROUP BY src),
starts AS (SELECT 'Order:' || CAST(o_orderkey AS VARCHAR) AS uid
           FROM orders ORDER BY o_orderkey LIMIT {n_starts}),
w0 AS (SELECT uid || '#' || CAST(t.w AS VARCHAR) AS walk_id,
              uid AS cur, uid AS path
       FROM starts, UNNEST([{ws}]) AS t(w))"""]
    for t in range(1, walk_len + 1):
        pick = (f"nbrs[1 + CAST((('0x' || substr(md5("
                f"'{seed}:' || walk_id || ':{t}'), 1, 15))::BIGINT "
                f"% len(nbrs)) AS INT)]")
        parts.append(f"""w{t} AS (
  SELECT walk_id,
         CASE WHEN nbrs IS NULL THEN cur ELSE {pick} END AS cur,
         CASE WHEN nbrs IS NULL THEN path
              ELSE path || '>' || {pick} END AS path
  FROM w{t-1} LEFT JOIN adj ON cur = src)""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT walk_id, path FROM w{walk_len}")
query("random_walks", q_random_walks, _random_walks_oracle_sql())


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (clickstream modeling).  FULL oracle: integer counts,
    (ts, event_id) total order, 6 dp row-normalized probabilities."""
    from ..operators.relational import transition_matrix
    return transition_matrix(_events(spark, sf_dir), "user_id", "ts",
                             "event_type", tiebreak="event_id")


_EVENT_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT event_type AS state,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_state
  FROM events),
c AS (SELECT state, next_state, COUNT(*) AS cnt
      FROM seq WHERE next_state IS NOT NULL GROUP BY 1, 2)
SELECT state, next_state, cnt,
       round(cnt / SUM(cnt) OVER (PARTITION BY state), 6) AS prob
FROM c
"""
query("event_transitions", q_event_transitions, _EVENT_TRANSITIONS_ORACLE)


def q_incremental_dedup(spark, sf_dir):
    """Snapshot-over-snapshot dedup: documents with doc_id < 250 play
    the already-ingested corpus (their md5 fingerprints are the
    persisted index); the rest arrive as the new batch and are tagged
    kept / dup_history / dup_batch.  FULL oracle (pure hash joins)."""
    from ..operators.dedup import incremental_dedup
    docs = _docs(spark, sf_dir)
    hist = (docs.where(F.col("doc_id") < 250)
            .select(F.md5("text").alias("content_hash")))
    return incremental_dedup(docs.where(F.col("doc_id") >= 250), hist)


_INCREMENTAL_DEDUP_ORACLE = """
WITH fp AS (SELECT doc_id, md5(COALESCE(text, '')) AS content_hash
            FROM documents WHERE doc_id >= 250),
hist AS (SELECT DISTINCT md5(COALESCE(text, '')) AS content_hash
         FROM documents WHERE doc_id < 250),
first AS (SELECT content_hash, MIN(doc_id) AS first_id
          FROM fp GROUP BY 1)
SELECT fp.doc_id, fp.content_hash,
       CASE WHEN hist.content_hash IS NOT NULL THEN 'dup_history'
            WHEN fp.doc_id != first.first_id THEN 'dup_batch'
            ELSE 'kept' END AS status
FROM fp LEFT JOIN hist USING (content_hash)
JOIN first USING (content_hash)
"""
query("incremental_dedup", q_incremental_dedup, _INCREMENTAL_DEDUP_ORACLE)


_PROFILE_COLS = ["event_id", "user_id", "event_type", "value", "ts"]


def q_profile_events(spark, sf_dir):
    """Single-pass column profiler over the raw events table (nulls,
    exact distincts, min/max as strings).  FULL oracle — the profiled
    columns render identically in both engines (ints, strings, 2 dp
    doubles, microsecond timestamps)."""
    from ..operators.relational import profile_columns
    return profile_columns(_events(spark, sf_dir), _PROFILE_COLS)


def _profile_events_oracle_sql() -> str:
    aggs = ", ".join(
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n_{i}, COUNT(DISTINCT {c}) AS d_{i}, "
        f"CAST(MIN({c}) AS VARCHAR) AS mn_{i}, "
        f"CAST(MAX({c}) AS VARCHAR) AS mx_{i}"
        for i, c in enumerate(_PROFILE_COLS))
    sel = "\nUNION ALL ".join(
        f"SELECT '{c}' AS col_name, n_{i} AS n_nulls, d_{i} AS n_distinct, "
        f"mn_{i} AS min_value, mx_{i} AS max_value FROM a"
        for i, c in enumerate(_PROFILE_COLS))
    return f"WITH a AS (SELECT {aggs} FROM events)\n{sel}"
query("profile_events", q_profile_events, _profile_events_oracle_sql())


def q_knn_join(spark, sf_dir):
    """Batch k-NN join: exact cosine top-5 of the corpus (vec_id ≥ 10)
    for EACH of the 10 lowest-id query vectors at once.  FULL oracle —
    the same sequential cosine folds as the knn_cosine oracle, ranked
    per query with an id tiebreak."""
    emb = _emb(spark, sf_dir)
    return similarity.knn_join(emb.where(F.col("vec_id") < 10),
                               emb.where(F.col("vec_id") >= 10), k=5)


_KNN_JOIN_ORACLE = """
WITH q AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
pairs AS (
  SELECT q.query_id, c.vec_id,
         list_sum(list_transform(range(1, len(c.embedding)+1),
           i -> q.qv[i] * CAST(c.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, len(q.qv)+1),
              i -> q.qv[i] * q.qv[i])))
          * sqrt(list_sum(list_transform(range(1, len(c.embedding)+1),
              i -> CAST(c.embedding[i] AS DOUBLE)
                 * CAST(c.embedding[i] AS DOUBLE))))) AS cos
  FROM c, q)
SELECT query_id, vec_id, round(cos, 6) AS cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, vec_id) AS BIGINT) AS rn
FROM pairs
QUALIFY rn <= 5
"""
query("knn_join", q_knn_join, _KNN_JOIN_ORACLE)


def q_standardize(spark, sf_dir):
    """Z-score feature normalization of the embedding corpus against
    per-dimension quantized-integer stats (bit-reproducible at any
    parallelism).  FULL oracle: the stats CTE replays the exact BIGINT
    sums and the same double formula, element rounding at 6 dp."""
    emb = _emb(spark, sf_dir)
    mean, std = similarity.dim_stats(emb)
    return similarity.standardize(emb, mean, std)


_STANDARDIZE_ORACLE = """
WITH x AS (SELECT vec_id, embedding FROM embeddings),
st AS (
  SELECT t.i AS dim,
    CAST(SUM(CAST(ROUND(CAST(embedding[t.i] AS DOUBLE) * 1e9) AS BIGINT))
         AS DOUBLE) / (1e9 * COUNT(*)) AS m,
    CAST(SUM(CAST(ROUND(CAST(embedding[t.i] AS DOUBLE)
                        * CAST(embedding[t.i] AS DOUBLE) * 1e9) AS BIGINT))
         AS DOUBLE) / (1e9 * COUNT(*)) AS ms
  FROM x, UNNEST(range(1, len(embedding)+1)) AS t(i)
  GROUP BY 1),
sa AS (SELECT list(m ORDER BY dim) AS mean,
              list(CASE WHEN ms - m*m > 0 THEN sqrt(ms - m*m)
                        ELSE 0.0 END ORDER BY dim) AS sd
       FROM st),
zz AS (
  SELECT vec_id,
    list_transform(range(1, len(embedding)+1),
      i -> CASE WHEN sa.sd[i] > 0
                THEN round((CAST(embedding[i] AS DOUBLE) - sa.mean[i])
                           / sa.sd[i], 6)
                ELSE 0.0 END) AS z
  FROM x, sa)
SELECT vec_id, z,
       round(sqrt(list_sum(list_transform(z, v -> v*v))), 6) AS z_norm
FROM zz
"""
query("standardize_embeddings", q_standardize, _STANDARDIZE_ORACLE)


def q_jl_projection(spark, sf_dir):
    """Johnson–Lindenstrauss random projection 64 → 16 dims (seeded
    Gaussian planes, 1/√16 scale).  FULL oracle with the plane matrix
    inlined via repr() — the same doubles the engine folds."""
    return similarity.random_projection(_emb(spark, sf_dir),
                                        out_dim=16, in_dim=64, seed=7)


def _jl_oracle_sql(out_dim: int = 16, in_dim: int = 64,
                   seed: int = 7) -> str:
    import math as _math
    planes = similarity._random_hyperplanes(in_dim, out_dim, seed)
    pl = "[" + ", ".join(
        "[" + ", ".join(repr(v) for v in p) + "]" for p in planes) + "]"
    inv = repr(1.0 / _math.sqrt(out_dim))
    return f"""
WITH p AS (SELECT {pl} AS pl),
proj AS (
  SELECT vec_id,
    list_transform(range(1, {out_dim}+1),
      k -> round(list_sum(list_transform(range(1, {in_dim}+1),
             j -> p.pl[k][j] * CAST(e.embedding[j] AS DOUBLE)))
           * {inv}, 6)) AS proj
  FROM embeddings e, p)
SELECT vec_id, proj,
       round(sqrt(list_sum(list_transform(proj, v -> v*v))), 6)
       AS proj_norm
FROM proj"""
query("jl_projection", q_jl_projection, _jl_oracle_sql())


def q_dag_layers(spark, sf_dir):
    """Topological layering of the (acyclic) TPC-H graph encoding:
    longest directed path ending at each node.  FULL oracle: the
    recursive-CTE walk enumerates all paths and max-aggregates per
    destination — integer-exact."""
    g = tpch_graph(spark, sf_dir)
    return graph_algos.dag_layers(g.edges_df)


_DAG_LAYERS_ORACLE = """
WITH RECURSIVE e(src, dst) AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'Nation:' || CAST(n_nationkey AS VARCHAR) AS src,
           'Region:' || CAST(n_regionkey AS VARCHAR) AS dst FROM nation
    UNION ALL SELECT 'Customer:' || CAST(c_custkey AS VARCHAR),
                     'Nation:' || CAST(c_nationkey AS VARCHAR)
              FROM customer
    UNION ALL SELECT 'Supplier:' || CAST(s_suppkey AS VARCHAR),
                     'Nation:' || CAST(s_nationkey AS VARCHAR)
              FROM supplier
    UNION ALL SELECT 'Customer:' || CAST(o_custkey AS VARCHAR),
                     'Order:' || CAST(o_orderkey AS VARCHAR) FROM orders
    UNION ALL SELECT 'Order:' || CAST(l_orderkey AS VARCHAR),
                     'Part:' || CAST(l_partkey AS VARCHAR) FROM lineitem
    UNION ALL SELECT 'Order:' || CAST(l_orderkey AS VARCHAR),
                     'Supplier:' || CAST(l_suppkey AS VARCHAR)
              FROM lineitem
    UNION ALL SELECT 'User:' || CAST(user_id AS VARCHAR),
                     'Event:' || CAST(event_id AS VARCHAR) FROM events)),
nodes AS (SELECT src AS uid FROM e UNION SELECT dst FROM e),
walk(uid, len) AS (
  SELECT dst, 1 FROM e
  UNION ALL
  SELECT e.dst, w.len + 1 FROM walk w JOIN e ON e.src = w.uid)
SELECT n.uid, CAST(COALESCE(MAX(w.len), 0) AS BIGINT) AS layer
FROM nodes n LEFT JOIN walk w ON w.uid = n.uid
GROUP BY n.uid
"""
query("dag_layers", q_dag_layers, _DAG_LAYERS_ORACLE)


def q_scc(spark, sf_dir):
    """Strongly connected components over the order-ring part graph
    (each order's sorted distinct parts close a directed ring; orders
    sharing a part merge into one SCC).  FULL oracle: the output is
    canonical (scc = min member uid), so the DuckDB side states the
    SPEC — mutual reachability via a transitive-closure CTE — rather
    than replaying the engine's coloring algorithm."""
    from pyspark.sql import Window as W
    li = (load_tables(spark, sf_dir)["lineitem"]
          .where(F.col("l_orderkey") < 100)
          .select("l_orderkey", "l_partkey").distinct())
    w = W.partitionBy("l_orderkey").orderBy("l_partkey")
    wf = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ring = li.select(
        F.concat(F.lit("Part:"), F.col("l_partkey").cast("string"))
        .alias("startuid"),
        F.concat(F.lit("Part:"),
                 F.coalesce(F.lead("l_partkey").over(w),
                            F.first("l_partkey").over(wf))
                 .cast("string")).alias("enduid"))
    return graph_algos.strongly_connected_components(ring)


_SCC_ORACLE = """
WITH RECURSIVE li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_orderkey < 100),
ring AS (
  SELECT 'Part:' || CAST(p AS VARCHAR) AS src,
         'Part:' || CAST(COALESCE(
             lead(p) OVER (PARTITION BY o ORDER BY p),
             first_value(p) OVER (PARTITION BY o ORDER BY p))
           AS VARCHAR) AS dst
  FROM li),
e AS (SELECT DISTINCT src, dst FROM ring WHERE src != dst),
nodes AS (SELECT DISTINCT src AS uid FROM ring
          UNION SELECT dst FROM ring),
reach(a, b) AS (
  SELECT uid, uid FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b)
SELECT n.uid, MIN(r.a) AS scc
FROM nodes n
JOIN reach r ON r.b = n.uid
JOIN reach r2 ON r2.a = n.uid AND r2.b = r.a
GROUP BY n.uid
"""
query("scc_parts", q_scc, _SCC_ORACLE)


def q_temperature_mixture(spark, sf_dir):
    """Temperature-scaled mixture (w_s ∝ n_s^0.7, the mBERT/XLM-R
    multilingual rebalancing rule).  FULL oracle: n^α quantizes to a
    1e-6 integer (exact normalizer sum), the per-source rate rounds to
    6 dp before the md5 hash gate."""
    from ..operators.pipeline import temperature_mixture
    out = temperature_mixture(_docs(spark, sf_dir), "source", "doc_id",
                              alpha=0.7)
    return out.select("doc_id", "source")


_TEMPERATURE_MIXTURE_ORACLE = """
WITH counts AS (
  SELECT source, COUNT(*) AS n,
         CAST(ROUND(pow(CAST(COUNT(*) AS DOUBLE), 0.7) * 1e6) AS BIGINT)
         AS wq
  FROM documents GROUP BY source),
tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS t FROM counts),
rates AS (
  SELECT source,
         round((SELECT MIN(n / (CAST(wq AS DOUBLE) / CAST(t AS DOUBLE)))
                FROM counts, tot)
               * (CAST(wq AS DOUBLE) / CAST(t AS DOUBLE)) / n, 6) AS rate
  FROM counts, tot)
SELECT d.doc_id, d.source
FROM documents d JOIN rates USING (source)
WHERE rate >= 1.0
   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      < printf('%04x', CAST(floor(rate * 65536) AS INT))
"""
query("temperature_mixture", q_temperature_mixture,
      _TEMPERATURE_MIXTURE_ORACLE)


def q_negative_samples(spark, sf_dir):
    """Deterministic negative sampling (3 hash-picked non-edges per
    node) over the l_orderkey<50 Contains slice — the link-prediction
    training-pair generator paired with q:random_walks.  FULL oracle:
    canonical row_number indexing + md5-hash60 picks + NOT EXISTS."""
    li = (load_tables(spark, sf_dir)["lineitem"]
          .where(F.col("l_orderkey") < 50))
    edges = li.select(
        F.concat(F.lit("Order:"), F.col("l_orderkey").cast("string"))
        .alias("startuid"),
        F.concat(F.lit("Part:"), F.col("l_partkey").cast("string"))
        .alias("enduid")).distinct()
    return graph_algos.negative_samples(edges, k=3)


_NEGATIVE_SAMPLES_ORACLE = """
WITH e AS (SELECT DISTINCT
             'Order:' || CAST(l_orderkey AS VARCHAR) AS src,
             'Part:' || CAST(l_partkey AS VARCHAR) AS dst
           FROM lineitem WHERE l_orderkey < 50),
nodes AS (SELECT src AS uid FROM e UNION SELECT dst FROM e),
idx AS (SELECT uid, row_number() OVER (ORDER BY uid) - 1 AS i
        FROM nodes),
nn AS (SELECT COUNT(*) AS n FROM idx),
cand AS (
  SELECT x.uid AS src,
         ('0x' || substr(md5('neg:' || x.uid || ':'
                             || CAST(t.k AS VARCHAR)), 1, 15))::BIGINT
         % nn.n AS pick
  FROM idx x, UNNEST([0, 1, 2]) AS t(k), nn),
pairs AS (SELECT DISTINCT c.src, y.uid AS dst
          FROM cand c JOIN idx y ON y.i = c.pick
          WHERE c.src != y.uid),
sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
SELECT p.src, p.dst FROM pairs p
WHERE NOT EXISTS (SELECT 1 FROM sym s
                  WHERE s.src = p.src AND s.dst = p.dst)
"""
query("negative_samples", q_negative_samples, _NEGATIVE_SAMPLES_ORACLE)


def q_apply_cdc(spark, sf_dir):
    """CDC apply: a synthesized change feed (deletes for keys ≡0 mod
    10, a delete-then-update conflict for ≡1 — the seq-2 update must
    win, inserts under new keys for ≡2) merges onto the orders
    snapshot.  FULL oracle: window replay of the same feed."""
    from ..operators.relational import apply_cdc
    o = (load_tables(spark, sf_dir)["orders"]
         .select("o_orderkey", "o_totalprice", "o_orderstatus"))
    k = F.col("o_orderkey")

    def chg(rows, seq, op, tp, st):
        return rows.select(
            k.alias("o_orderkey"), F.lit(seq).alias("seq"),
            F.lit(op).alias("op"), tp.alias("o_totalprice"),
            st.alias("o_orderstatus"))

    nul_d, nul_s = (F.lit(None).cast("double"),
                    F.lit(None).cast("string"))
    feed = (chg(o.where(k % 10 == 0), 1, "D", nul_d, nul_s)
            .unionByName(chg(o.where(k % 10 == 1), 1, "D", nul_d, nul_s))
            .unionByName(chg(o.where(k % 10 == 1), 2, "U",
                             F.col("o_totalprice") + 1000, F.lit("U9")))
            .unionByName(
                o.where(k % 10 == 2).select(
                    (k + 10000000).alias("o_orderkey"),
                    F.lit(1).alias("seq"), F.lit("I").alias("op"),
                    F.col("o_totalprice"), F.lit("N")
                    .alias("o_orderstatus"))))
    return apply_cdc(o, feed, "o_orderkey", "seq")


_APPLY_CDC_ORACLE = """
WITH snap AS (SELECT o_orderkey AS k, o_totalprice AS tp,
                     o_orderstatus AS st FROM orders),
chg AS (
  SELECT o_orderkey AS k, 1 AS seq, 'D' AS op,
         CAST(NULL AS DOUBLE) AS tp, CAST(NULL AS VARCHAR) AS st
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL SELECT o_orderkey, 1, 'D', NULL, NULL
  FROM orders WHERE o_orderkey % 10 = 1
  UNION ALL SELECT o_orderkey, 2, 'U', o_totalprice + 1000, 'U9'
  FROM orders WHERE o_orderkey % 10 = 1
  UNION ALL SELECT o_orderkey + 10000000, 1, 'I', o_totalprice, 'N'
  FROM orders WHERE o_orderkey % 10 = 2),
win AS (SELECT k, op, tp, st FROM (
  SELECT k, op, tp, st,
         row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
  FROM chg) WHERE rn = 1)
SELECT COALESCE(s.k, w.k) AS o_orderkey,
       CASE WHEN w.op IS NOT NULL THEN w.tp ELSE s.tp END
         AS o_totalprice,
       CASE WHEN w.op IS NOT NULL THEN w.st ELSE s.st END
         AS o_orderstatus
FROM snap s FULL OUTER JOIN win w ON s.k = w.k
WHERE w.op IS NULL OR w.op != 'D'
"""
query("apply_cdc", q_apply_cdc, _APPLY_CDC_ORACLE)


def q_histogram_values(spark, sf_dir):
    """Equi-width 10-bin histogram of events.value with a dense bin
    spine (empty bins present).  FULL oracle — bounds/width/binning
    replay as the same double expressions."""
    from ..operators.relational import histogram
    return histogram(_events(spark, sf_dir), "value", bins=10)


_HISTOGRAM_ORACLE = """
WITH b AS (SELECT MIN(CAST(value AS DOUBLE)) AS blo,
                  MAX(CAST(value AS DOUBLE)) AS bhi FROM events),
p AS (SELECT blo, bhi,
             CASE WHEN (bhi - blo) / 10 = 0 THEN 1.0
                  ELSE (bhi - blo) / 10 END AS w FROM b),
c AS (SELECT LEAST(9, CAST(floor((CAST(value AS DOUBLE) - blo) / w)
                           AS BIGINT)) AS bin,
             COUNT(*) AS n
      FROM events, p
      WHERE value IS NOT NULL AND CAST(value AS DOUBLE) >= blo
        AND CAST(value AS DOUBLE) <= bhi
      GROUP BY 1),
spine AS (SELECT t.b AS bin FROM UNNEST(range(0, 10)) AS t(b))
SELECT s.bin, round(p.blo + s.bin * p.w, 6) AS lo,
       round(p.blo + (s.bin + 1) * p.w, 6) AS hi,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM spine s CROSS JOIN p LEFT JOIN c ON c.bin = s.bin
"""
query("histogram_values", q_histogram_values, _HISTOGRAM_ORACLE)


def q_winsorize_values(spark, sf_dir):
    """p01/p99 winsorization of events.value (outlier-robust clamp).
    FULL oracle: exact linear-interpolation percentiles (the shared
    portable definition), clamp rounded to 6 dp."""
    from ..operators.relational import winsorize
    out = winsorize(_events(spark, sf_dir), "value")
    return out.select("event_id", "value_winsorized")


_WINSORIZE_ORACLE = """
WITH p AS (SELECT quantile_cont(value, 0.01) AS lo,
                  quantile_cont(value, 0.99) AS hi FROM events)
SELECT event_id,
       round(LEAST(GREATEST(CAST(value AS DOUBLE), lo), hi), 6)
       AS value_winsorized
FROM events, p
"""
query("winsorize_values", q_winsorize_values, _WINSORIZE_ORACLE)


def q_tfidf_keywords(spark, sf_dir):
    """Top-3 TF-IDF keywords per document (exact integer tf/df, natural
    log idf, 6 dp, term tiebreak).  FULL oracle."""
    from ..operators.text import tfidf_topk
    return tfidf_topk(_docs(spark, sf_dir), k=3)


_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, t.term
  FROM (SELECT doc_id, list_filter(
          string_split_regex(lower(text), '[^a-z0-9]+'),
          x -> x != '') AS ws FROM documents),
       UNNEST(ws) AS t(term)),
n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
idf AS (SELECT term, ln(CAST((SELECT nd FROM n) AS DOUBLE) / COUNT(*))
               AS idf
        FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, round(tf.tf * idf.idf, 6) AS tfidf
  FROM tf JOIN idf USING (term))
SELECT doc_id, term, tfidf,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS BIGINT)
       AS rank
FROM scored
QUALIFY rank <= 3
"""
query("tfidf_keywords", q_tfidf_keywords, _TFIDF_ORACLE)


def q_reciprocity(spark, sf_dir):
    """Reciprocity of the order-ring part graph (2-part orders close
    mutually-reciprocated pairs).  FULL oracle — exact integer counts."""
    from pyspark.sql import Window as W
    li = (load_tables(spark, sf_dir)["lineitem"]
          .where(F.col("l_orderkey") < 100)
          .select("l_orderkey", "l_partkey").distinct())
    w = W.partitionBy("l_orderkey").orderBy("l_partkey")
    wf = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ring = li.select(
        F.concat(F.lit("Part:"), F.col("l_partkey").cast("string"))
        .alias("startuid"),
        F.concat(F.lit("Part:"),
                 F.coalesce(F.lead("l_partkey").over(w),
                            F.first("l_partkey").over(wf))
                 .cast("string")).alias("enduid"))
    return graph_algos.reciprocity(ring)


_RECIPROCITY_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_orderkey < 100),
ring AS (
  SELECT 'Part:' || CAST(p AS VARCHAR) AS src,
         'Part:' || CAST(COALESCE(
             lead(p) OVER (PARTITION BY o ORDER BY p),
             first_value(p) OVER (PARTITION BY o ORDER BY p))
           AS VARCHAR) AS dst
  FROM li),
e AS (SELECT DISTINCT src, dst FROM ring WHERE src != dst),
rec AS (SELECT COUNT(*) AS nr FROM e
        WHERE EXISTS (SELECT 1 FROM e e2
                      WHERE e2.src = e.dst AND e2.dst = e.src))
SELECT (SELECT COUNT(*) FROM e) AS n_edges,
       nr AS n_reciprocated,
       round(nr / (SELECT COUNT(*) FROM e), 6) AS reciprocity
FROM rec
"""
query("reciprocity_parts", q_reciprocity, _RECIPROCITY_ORACLE)


def q_grouped_split(spark, sf_dir):
    """Leakage-safe holdout split: the hash band keys on the SOURCE, so
    every document of a source lands in one split (GroupShuffleSplit).
    FULL oracle — same band-edge hex literals on the group key."""
    from ..operators.pipeline import grouped_split
    out = grouped_split(_docs(spark, sf_dir), "source",
                        val=0.2, test=0.2)
    return out.select("doc_id", "source", "split")


_GROUPED_SPLIT_ORACLE = """
SELECT doc_id, source,
       CASE
         WHEN substr(md5(source), 1, 4)
              < printf('%04x', CAST(ceil(0.2 * 65536) AS INT))
           THEN 'val'
         WHEN substr(md5(source), 1, 4)
              < printf('%04x', CAST(ceil(0.4 * 65536) AS INT))
           THEN 'test'
         ELSE 'train'
       END AS split
FROM documents
"""
query("grouped_split", q_grouped_split, _GROUPED_SPLIT_ORACLE)


_VALUE_BANDS = [(0.0, 1.0, "tiny"), (1.0, 2.0, "small"),
                (2.0, 4.0, "low"), (4.0, 8.0, "mid"),
                (8.0, 16.0, "high"), (16.0, 64.0, "big"),
                (64.0, 1024.0, "huge")]


def q_interval_lookup(spark, sf_dir):
    """Value-band enrichment of events via the bucketed interval lookup
    (non-uniform power-of-two bands — the IP-geo shape).  FULL oracle:
    the bands inline as VALUES and DuckDB's BETWEEN join replays the
    same half-open semantics."""
    from ..operators.relational import interval_lookup
    ranges = spark.createDataFrame(_VALUE_BANDS,
                                   "lo double, hi double, band string")
    out = interval_lookup(_events(spark, sf_dir), ranges, "value",
                          key_cols=["event_id"])
    return out.select("event_id", "value", "band")


def _interval_lookup_oracle_sql() -> str:
    vals = ", ".join(f"({lo!r}, {hi!r}, '{b}')"
                     for lo, hi, b in _VALUE_BANDS)
    return f"""
WITH bands(lo, hi, band) AS (VALUES {vals})
SELECT e.event_id, e.value, b.band
FROM events e LEFT JOIN bands b
  ON CAST(e.value AS DOUBLE) >= b.lo AND CAST(e.value AS DOUBLE) < b.hi
"""
query("interval_lookup", q_interval_lookup, _interval_lookup_oracle_sql())


def q_grouped_percentiles(spark, sf_dir):
    """Exact per-group percentiles (p50/p95/p99 of value per event
    type) — the grouped order-statistics profile.  FULL oracle: both
    engines use linear-interpolation exact percentiles; results round
    to 6 dp."""
    ev = _events(spark, sf_dir)
    return (ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count("*").alias("n")))


_GROUPED_PERCENTILES_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""
query("grouped_percentiles", q_grouped_percentiles,
      _GROUPED_PERCENTILES_ORACLE)


def q_degree_distribution(spark, sf_dir):
    """Degree distribution of the co-incidence (Contains) graph: how
    many parts have each order-degree — the power-law profile every
    graph audit starts with.  FULL oracle (pure integer counts)."""
    g = tpch_graph(spark, sf_dir)
    deg = (g.edges_df.where(F.col("kind") == "Contains")
           .groupBy(F.col("enduid").alias("uid"))
           .agg(F.count("*").alias("degree")))
    return (deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))
            .orderBy("degree"))


_DEGREE_DISTRIBUTION_ORACLE = """
WITH deg AS (SELECT l_partkey, COUNT(*) AS degree
             FROM lineitem GROUP BY l_partkey)
SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
"""
query("degree_distribution", q_degree_distribution,
      _DEGREE_DISTRIBUTION_ORACLE)


def q_modal_event(spark, sf_dir):
    """Each user's most frequent event type (argmax of a grouped count,
    lexicographic tiebreak).  FULL oracle."""
    ev = _events(spark, sf_dir)
    counts = (ev.groupBy("user_id", "event_type")
              .agg(F.count("*").alias("cnt")))
    from pyspark.sql import Window as W
    w = W.partitionBy("user_id").orderBy(F.col("cnt").desc(),
                                         F.col("event_type"))
    return (counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", F.col("event_type").alias("modal_event"),
                    "cnt"))


_MODAL_EVENT_ORACLE = """
WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt
           FROM events GROUP BY 1, 2)
SELECT user_id, event_type AS modal_event, cnt FROM (
  SELECT user_id, event_type, cnt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY cnt DESC, event_type) AS rn
  FROM c) WHERE rn = 1
"""
query("modal_event", q_modal_event, _MODAL_EVENT_ORACLE)


def q_media_pipeline(spark, sf_dir):
    """Composite multimodal DAG (the image-curation analogue of
    corpus_pipeline): synthesize containers → decode real headers →
    gate on pixel area ≥ 400 → thumbnail to 16 px.  FULL oracle: every
    stage's arithmetic (construction formulas, area gate, scale math)
    replays in SQL bit-exactly."""
    from ..operators.multimodal import (documents_as_media,
                                       extract_features, resize)
    media = documents_as_media(_docs(spark, sf_dir))
    feats = extract_features(media)
    keep = feats.where(F.col("width") * F.col("height") >= 400)
    kept_media = media.join(keep.select("media_id"), "media_id")
    resized = resize(kept_media, max_side=16)
    return (resized.join(keep.select("media_id", "fmt", "n_frames"),
                         "media_id")
            .select("media_id", "fmt", "width", "height", "n_frames"))


_MEDIA_PIPELINE_ORACLE = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
              ELSE 'gif' END AS fmt,
         4 + n_chars % 60 AS w,
         4 + (n_chars // 7) % 60 AS h,
         CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 4 ELSE 1 END AS nf
  FROM documents),
kept AS (SELECT * FROM dims WHERE w * h >= 400),
scaled AS (SELECT media_id, fmt, w, h, nf,
                  LEAST(1.0, 16.0 / GREATEST(w, h)) AS scale
           FROM kept)
SELECT media_id, fmt,
       CAST(GREATEST(1, FLOOR(w * scale)) AS INT) AS width,
       CAST(GREATEST(1, FLOOR(h * scale)) AS INT) AS height,
       CAST(nf AS INT) AS n_frames
FROM scaled
"""
query("media_pipeline", q_media_pipeline, _MEDIA_PIPELINE_ORACLE)


def q_k_truss(spark, sf_dir):
    """4-truss of the part co-purchase graph (orders < 60): edges in
    ≥ 2 triangles survive the peel.  FULL oracle: the peel loop
    unrolls as MATERIALIZED CTE rounds (idempotent past the fixpoint,
    the k_core pattern)."""
    li = (load_tables(spark, sf_dir)["lineitem"]
          .where(F.col("l_orderkey") < 60)
          .select("l_orderkey", "l_partkey").distinct())
    a, b = li.alias("x"), li.alias("y")
    edges = (a.join(b, (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
                    & (F.col("x.l_partkey") < F.col("y.l_partkey")))
             .select(F.concat(F.lit("Part:"),
                              F.col("x.l_partkey").cast("string"))
                     .alias("startuid"),
                     F.concat(F.lit("Part:"),
                              F.col("y.l_partkey").cast("string"))
                     .alias("enduid")).distinct())
    return graph_algos.k_truss(edges, k=4)


def _k_truss_oracle_sql(k: int = 4, rounds: int = 8) -> str:
    # edges canonicalized on the STRING uids (LEAST/GREATEST), exactly
    # as the engine does — mixing int-canonical storage with the string
    # '<' of the wedge join would silently miss triangles
    parts = ["""e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(sa, sb) AS a, GREATEST(sa, sb) AS b FROM (
    SELECT 'Part:' || CAST(x.p AS VARCHAR) AS sa,
           'Part:' || CAST(y.p AS VARCHAR) AS sb
    FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          FROM lineitem WHERE l_orderkey < 60) x
    JOIN (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          FROM lineitem WHERE l_orderkey < 60) y
      ON x.o = y.o AND x.p < y.p))"""]
    for r in range(1, rounds + 1):
        p = f"e{r-1}"
        parts.append(f"""t{r} AS (
  SELECT w.a AS ta, w.b1 AS tb, w.b2 AS tc
  FROM (SELECT x.a, x.b AS b1, y.b AS b2
        FROM {p} x JOIN {p} y ON x.a = y.a AND x.b < y.b) w
  JOIN {p} z ON z.a = w.b1 AND z.b = w.b2),
s{r} AS (
  SELECT a, b, COUNT(*) AS s FROM (
    SELECT ta AS a, tb AS b FROM t{r}
    UNION ALL SELECT ta, tc FROM t{r}
    UNION ALL SELECT tb, tc FROM t{r}) GROUP BY 1, 2),
e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM {p} e LEFT JOIN s{r} USING (a, b)
  WHERE COALESCE(s, 0) >= {k - 2})""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT a, b FROM e{rounds}")
query("k_truss_parts", q_k_truss, _k_truss_oracle_sql())


def q_sentence_stats(spark, sf_dir):
    """Per-document sentence profile (count + mean token length) via a
    regex sentence split — the C4 sentence-level unit of analysis.
    FULL oracle: the same split regex runs in both engines; the mean is
    an exact integer ratio rounded to 6 dp."""
    docs = _docs(spark, sf_dir)
    sents = F.filter(F.split(F.col("text"), r"[.!?]+"),
                     lambda s: F.trim(s) != "")
    n_tokens = F.aggregate(
        sents, F.lit(0),
        lambda acc, s: acc + F.size(F.filter(
            F.split(F.lower(s), "[^a-z0-9]+"), lambda t: t != "")))
    return docs.select(
        "doc_id",
        F.size(sents).cast("long").alias("n_sentences"),
        F.round(n_tokens / F.greatest(F.size(sents), F.lit(1)), 6)
        .alias("mean_sentence_tokens"))


_SENTENCE_STATS_ORACLE = """
WITH s AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[.!?]+'),
                     x -> trim(x) != '') AS sents
  FROM documents)
SELECT doc_id,
       CAST(len(sents) AS BIGINT) AS n_sentences,
       round(COALESCE(list_sum(list_transform(sents,
               x -> len(list_filter(
                 string_split_regex(lower(x), '[^a-z0-9]+'),
                 t -> t != '')))), 0)
             / greatest(len(sents), 1), 6) AS mean_sentence_tokens
FROM s
"""
query("sentence_stats", q_sentence_stats, _SENTENCE_STATS_ORACLE)


def q_interarrival_stats(spark, sf_dir):
    """Per-user inter-arrival time profile: mean/max gap seconds
    between consecutive events (lag window, exact microsecond integers
    until the final 6 dp division).  FULL oracle."""
    ev = _events(spark, sf_dir)
    from pyspark.sql import Window as W
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = (F.unix_micros("ts")
              - F.unix_micros(F.lag("ts").over(w)))
    gaps = (ev.select("user_id", gap_us.alias("g"))
            .where(F.col("g").isNotNull()))
    return (gaps.groupBy("user_id").agg(
        F.round((F.sum("g") / F.count("*")) / 1e6, 6)
        .alias("mean_gap_s"),
        F.round(F.max("g") / 1e6, 6).alias("max_gap_s"),
        F.count("*").alias("n_gaps")))


_INTERARRIVAL_ORACLE = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
  FROM events)
SELECT user_id,
       round((SUM(g) / COUNT(*)) / 1e6, 6) AS mean_gap_s,
       round(MAX(g) / 1e6, 6) AS max_gap_s,
       COUNT(*) AS n_gaps
FROM g WHERE g IS NOT NULL GROUP BY user_id
"""
query("interarrival_stats", q_interarrival_stats, _INTERARRIVAL_ORACLE)


def q_pixel_stats(spark, sf_dir):
    """REAL raster decoding under the oracle gate: pixel_stats decodes
    the synthetic BMP rasters (raw BGR read) and PNG rasters (zlib
    inflate + unfilter) and reports exact integer sum/sum-of-squares —
    which the oracle recomputes from the generators' closed-form pixel
    formulas ((7i) mod 256 rows for BMP, (3x+y) mod 256 for PNG).  The
    fixture GIFs carry minimal LZW streams the decoder honestly
    rejects, so their stats are null — also predicted."""
    from ..operators.multimodal import documents_as_media, pixel_stats
    media = documents_as_media(_docs(spark, sf_dir))
    return pixel_stats(media)


_PIXEL_STATS_ORACLE = """
WITH dims AS (
  SELECT doc_id AS media_id, doc_id % 3 AS k,
         4 + n_chars % 60 AS w, 4 + (n_chars // 7) % 60 AS h
  FROM documents),
bmp AS (
  SELECT media_id, 'bmp' AS fmt,
         CAST(3 * w * h AS BIGINT) AS n_px,
         CAST(h * list_sum(list_transform(range(0, 3 * w),
                i -> (7 * i) % 256)) AS BIGINT) AS px_sum,
         CAST(h * list_sum(list_transform(range(0, 3 * w),
                i -> ((7 * i) % 256) * ((7 * i) % 256)))
              AS BIGINT) AS px_sum_sq
  FROM dims WHERE k = 0),
png AS (
  SELECT media_id, 'png' AS fmt,
         CAST(w * h AS BIGINT) AS n_px,
         CAST(list_sum(list_transform(range(0, h), y ->
                list_sum(list_transform(range(0, w), x ->
                  (x * 3 + y) % 256)))) AS BIGINT) AS px_sum,
         CAST(list_sum(list_transform(range(0, h), y ->
                list_sum(list_transform(range(0, w), x ->
                  ((x * 3 + y) % 256) * ((x * 3 + y) % 256)))))
              AS BIGINT) AS px_sum_sq
  FROM dims WHERE k = 1),
gif AS (
  SELECT media_id, 'gif' AS fmt, CAST(NULL AS BIGINT) AS n_px,
         CAST(NULL AS BIGINT) AS px_sum, CAST(NULL AS BIGINT) AS px_sum_sq
  FROM dims WHERE k = 2)
SELECT * FROM bmp UNION ALL SELECT * FROM png UNION ALL SELECT * FROM gif
"""
query("pixel_stats", q_pixel_stats, _PIXEL_STATS_ORACLE)


def q_jpeg_stats(spark, sf_dir):
    """The JPEG decoder under the oracle gate: pixel_stats entropy-
    decodes real baseline JPEGs (Huffman + IDCT) whose DC-only blocks
    follow a closed form — the oracle recomputes the exact cropped
    per-block pixel sums in SQL."""
    from ..operators.multimodal import documents_as_jpeg, pixel_stats
    media = documents_as_jpeg(_docs(spark, sf_dir))
    return (pixel_stats(media)
            .select("media_id", "n_px", "px_sum", "px_sum_sq"))


_JPEG_STATS_ORACLE = """
WITH dims AS (
  SELECT doc_id AS media_id,
         4 + n_chars % 60 AS w, 4 + (n_chars // 7) % 60 AS h
  FROM documents),
blocks AS (
  SELECT media_id, w, h,
         (w + 7) // 8 AS bw, (h + 7) // 8 AS bh
  FROM dims)
SELECT media_id,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(list_sum(list_transform(range(0, bh), by ->
              list_sum(list_transform(range(0, bw), bx ->
                ((17 * bx + 29 * by) % 256)
                * LEAST(8, w - 8 * bx) * LEAST(8, h - 8 * by)))))
            AS BIGINT) AS px_sum,
       CAST(list_sum(list_transform(range(0, bh), by ->
              list_sum(list_transform(range(0, bw), bx ->
                ((17 * bx + 29 * by) % 256)
                * ((17 * bx + 29 * by) % 256)
                * LEAST(8, w - 8 * bx) * LEAST(8, h - 8 * by)))))
            AS BIGINT) AS px_sum_sq
FROM blocks
"""
query("jpeg_stats", q_jpeg_stats, _JPEG_STATS_ORACLE)


def q_weekly_trend(spark, sf_dir):
    """Week-over-week order revenue with percent change (lag window
    over a weekly DECIMAL-exact sum) — the period-over-period BI shape.
    FULL oracle; pct rounds to 6 dp, first week is null."""
    o = load_tables(spark, sf_dir)["orders"]
    weekly = (o.groupBy(F.date_trunc("week", F.col("o_orderdate")
                                     .cast("timestamp")).alias("week"))
              .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                   .alias("_rev")))
    from pyspark.sql import Window as W
    w = W.orderBy("week")
    # pct math in pure IEEE doubles — decimal division SCALE rules
    # differ between engines and flip the 6th dp
    rd = F.col("_rev").cast("double")
    prev = F.lag(rd).over(w)
    return (weekly.select(
        F.col("week").cast("date").alias("week"),
        rd.alias("revenue"),
        F.round((rd - prev) / prev * 100, 6).alias("wow_pct")))


_WEEKLY_TREND_ORACLE = """
WITH weekly AS (
  SELECT date_trunc('week', CAST(o_orderdate AS TIMESTAMP)) AS week,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1)
SELECT CAST(week AS DATE) AS week, CAST(rev AS DOUBLE) AS revenue,
       round((CAST(rev AS DOUBLE)
              - lag(CAST(rev AS DOUBLE)) OVER (ORDER BY week))
             / lag(CAST(rev AS DOUBLE)) OVER (ORDER BY week) * 100, 6)
       AS wow_pct
FROM weekly
"""
query("weekly_trend", q_weekly_trend, _WEEKLY_TREND_ORACLE)


def q_transition_entropy(spark, sf_dir):
    """Shannon entropy of each state's next-event distribution (how
    predictable a user's next action is, per current action).  FULL
    oracle: each -p·log2(p) term rounds to 9 dp DECIMAL before the sum,
    so the aggregation is order-free (the unigram_logprob discipline)."""
    from pyspark.sql import Window as W

    from ..operators.relational import transition_matrix
    # reuse the sequencing/counting of transition_matrix so ordering
    # and tiebreak semantics cannot silently diverge from
    # q_event_transitions
    c = transition_matrix(_events(spark, sf_dir), "user_id", "ts",
                          "event_type", tiebreak="event_id") \
        .select("state", "cnt")
    tot = W.partitionBy("state")
    p = F.col("cnt") / F.sum("cnt").over(tot)
    term = F.round(-p * F.log2(p), 9).cast("decimal(18,9)")
    return (c.withColumn("__t", term)
            .groupBy("state")
            .agg(F.round(F.sum("__t").cast("double"), 6)
                 .alias("entropy_bits"),
                 F.count("*").alias("n_successors")))


_TRANSITION_ENTROPY_ORACLE = """
WITH seq AS (
  SELECT event_type AS state,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events),
c AS (SELECT state, nxt, COUNT(*) AS cnt
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
t AS (SELECT state,
             CAST(ROUND(-(cnt / SUM(cnt) OVER (PARTITION BY state))
                        * log2(cnt / SUM(cnt) OVER (PARTITION BY state)),
                        9) AS DECIMAL(18,9)) AS term
      FROM c)
SELECT state, round(CAST(SUM(term) AS DOUBLE), 6) AS entropy_bits,
       COUNT(*) AS n_successors
FROM t GROUP BY state
"""
query("transition_entropy", q_transition_entropy, _TRANSITION_ENTROPY_ORACLE)


def q_pmi_collocations(spark, sf_dir):
    """Top-20 collocations by pointwise mutual information over
    adjacent token pairs (min count 5, the classic collocation
    extractor).  FULL oracle: PMI = log2(N·c_xy/(c_x·c_y)) from exact
    integer counts — one deterministic double per pair."""
    docs = _docs(spark, sf_dir)
    # token array materialized once, bigrams via one zip_with pass —
    # an element_at lambda over the raw tokenizer expression
    # re-tokenizes per element (O(len²) per doc; see q_ngram_novelty)
    ws = docs.select(text.tokens(F.col("text")).alias("ws"))
    grams = F.zip_with(
        F.slice(F.col("ws"), 1,
                F.greatest(F.size("ws") - 1, F.lit(0))),
        F.slice(F.col("ws"), 2,
                F.greatest(F.size("ws") - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("x"), b.alias("y")))
    pairs = (ws.select(F.explode(grams).alias("g"))
             .select("g.x", "g.y"))
    # everything derives from the ONE pair-count aggregate: the
    # unigram counts are its margins, N its total (empty-frame window,
    # the mixture_sample idiom) — the corpus tokenizes once (the cxy
    # exchange is identical in every branch, so ReusedExchange shares
    # it at runtime), and no eager count bakes work out of the plan
    from pyspark.sql import Window as W
    cxy = pairs.groupBy("x", "y").agg(F.count("*").alias("cxy"))
    uni = (cxy.select(F.col("x").alias("t"), F.col("cxy").alias("c"))
           .unionByName(cxy.select(F.col("y").alias("t"),
                                   F.col("cxy").alias("c")))
           .groupBy("t").agg(F.sum("c").alias("c")))
    scored = (cxy.withColumn("__n", F.sum("cxy").over(W.partitionBy()))
              .where(F.col("cxy") >= 5)
              .join(uni.select(F.col("t").alias("x"),
                               F.col("c").alias("cx")), "x")
              .join(uni.select(F.col("t").alias("y"),
                               F.col("c").alias("cy")), "y")
              .withColumn("pmi", F.round(F.log2(
                  F.col("__n").cast("double") * F.col("cxy")
                  / (F.col("cx") * F.col("cy"))), 6)))
    return (scored.select("x", "y", "cxy", "pmi")
            .orderBy(F.col("pmi").desc(), "x", "y").limit(20))


_PMI_ORACLE = """
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t != '') AS ws
  FROM documents),
pairs AS (
  SELECT ws[t.i] AS x, ws[t.i + 1] AS y
  FROM toks, UNNEST(range(1, len(ws))) AS t(i)),
cxy AS (SELECT x, y, COUNT(*) AS cxy FROM pairs GROUP BY 1, 2),
uni AS (SELECT t, COUNT(*) AS c FROM (
          SELECT x AS t FROM pairs UNION ALL SELECT y FROM pairs)
        GROUP BY 1),
n AS (SELECT COUNT(*) AS total FROM pairs)
SELECT x, y, cxy,
       round(log2(CAST((SELECT total FROM n) AS DOUBLE) * cxy
                  / (ux.c * uy.c)), 6) AS pmi
FROM cxy JOIN uni ux ON ux.t = x JOIN uni uy ON uy.t = y
WHERE cxy >= 5
ORDER BY pmi DESC, x, y LIMIT 20
"""
query("pmi_collocations", q_pmi_collocations, _PMI_ORACLE)


def q_bpe_train(spark, sf_dir):
    """BPE tokenizer training: first 6 merge rules learned from the
    documents corpus (Sennrich et al. 2016).  FULL oracle: integer
    pair counts + lexicographic tie-break make every merge choice
    deterministic; the unrolled per-round CTE chain replays the
    identical count→argmax→rewrite loop."""
    from ..operators.text import bpe_train
    return bpe_train(_docs(spark, sf_dir), rounds=6)


def q_bpe_tokenize(spark, sf_dir):
    """Train-then-apply: per-document token counts under the 6 learned
    BPE merges (the billed token count a real tokenizer reports).  FULL
    oracle: shared training CTEs + the identical replace chain."""
    from ..operators.text import bpe_apply, bpe_train
    docs = _docs(spark, sf_dir)
    merges = [(r["lhs"], r["rhs"])
              for r in bpe_train(docs, rounds=6).collect()]
    return bpe_apply(docs, merges)


def _bpe_ctes(rounds: int = 6, source: str = "documents") -> str:
    """Unrolled BPE rounds: per round a pair-count aggregate over the
    word-frequency dict, a 1-row argmax (ORDER BY cnt DESC, pair), and
    the double-replace merge rewrite (both engines scan left-to-right
    non-overlapping, so the rewrites agree byte-for-byte).  Shared by
    the bpe_train / bpe_tokenize / fertility / pipeline-v3 oracles;
    ``source`` names the (possibly CTE-defined) corpus to train on."""
    parts = [f"""w0 AS MATERIALIZED (
  SELECT array_to_string(string_split(word, ''), ' ') AS seq, freq
  FROM (SELECT t.tok AS word, COUNT(*) AS freq
        FROM (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 x -> x != '') AS ws FROM {source}),
             UNNEST(ws) AS t(tok)
        GROUP BY 1))"""]
    for r in range(1, rounds + 1):
        p = f"w{r-1}"
        parts.append(f"""p{r} AS (
  SELECT syms[i] || ' ' || syms[i+1] AS pair, SUM(freq) AS cnt
  FROM (SELECT string_split(seq, ' ') AS syms, freq FROM {p}),
       UNNEST(range(1, len(syms))) AS t(i)
  GROUP BY 1),
b{r} AS MATERIALIZED (SELECT pair, cnt FROM p{r}
                      ORDER BY cnt DESC, pair LIMIT 1),
w{r} AS MATERIALIZED (
  SELECT trim(replace(replace(' ' || seq || ' ',
           ' ' || (SELECT pair FROM b{r}) || ' ',
           ' ' || replace((SELECT pair FROM b{r}), ' ', '') || ' '),
           ' ' || (SELECT pair FROM b{r}) || ' ',
           ' ' || replace((SELECT pair FROM b{r}), ' ', '') || ' ')) AS seq,
         freq
  FROM {p})""")
    return ",\n".join(parts)


def _bpe_train_oracle_sql(rounds: int = 6) -> str:
    sel = "\nUNION ALL ".join(
        f"SELECT {r} AS merge_round, split_part(pair, ' ', 1) AS lhs, "
        f"split_part(pair, ' ', 2) AS rhs, CAST(cnt AS BIGINT) AS cnt "
        f"FROM b{r}"
        for r in range(1, rounds + 1))
    return "WITH " + _bpe_ctes(rounds) + "\n" + sel
query("bpe_train", q_bpe_train, _bpe_train_oracle_sql())


def _bpe_tokenize_oracle_sql(rounds: int = 6) -> str:
    """Replays training (shared CTE chain) then the apply chain: the
    learned pairs land as row columns via a 1-row cross join (lambdas
    capture them), and each word encodes through the same double-replace
    sequence the engine compiles."""
    mrg = ", ".join(f"(SELECT pair FROM b{r}) AS p{r}"
                    for r in range(1, rounds + 1))
    seq = "' ' || array_to_string(string_split(w, ''), ' ') || ' '"
    for r in range(1, rounds + 1):
        pat = f"' ' || p{r} || ' '"
        rep = f"' ' || replace(p{r}, ' ', '') || ' '"
        seq = f"replace(replace({seq}, {pat}, {rep}), {pat}, {rep})"
    return "WITH " + _bpe_ctes(rounds) + f""",
mrg AS (SELECT {mrg})
SELECT doc_id,
       CAST(COALESCE(list_sum(list_transform(ws,
         w -> len(string_split(trim({seq}), ' ')))), 0) AS BIGINT)
       AS n_bpe_tokens
FROM (SELECT doc_id, list_filter(
        string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS ws
      FROM documents), mrg"""
query("bpe_tokenize", q_bpe_tokenize, _bpe_tokenize_oracle_sql())


def q_zscore_anomaly(spark, sf_dir):
    """Hourly event-count anomaly detection: hours whose count sits
    more than 2 sample standard deviations from the global hourly
    mean.  FULL oracle: mean/std derive from exact BIGINT sums
    (sum n, sum n*n) so the z doubles are bit-identical on both
    engines; one groupBy + one unpartitioned window over the tiny
    hourly frame — the raw events never shuffle twice."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir)
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.count("*").alias("n")))
    w = W.partitionBy()
    s = F.sum("n").over(w).cast("double")
    ss = F.sum(F.col("n") * F.col("n")).over(w).cast("double")
    c = F.count("*").over(w).cast("double")
    z = F.round((F.col("n") - s / c)
                / F.sqrt((ss - s * s / c) / (c - 1)), 6)
    return (hourly.withColumn("z", z)
            .where(F.abs(F.col("z")) > 2)
            .select("hour", "n", "z"))


_ZSCORE_ANOMALY_ORACLE = """
WITH h AS (SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n
           FROM events GROUP BY 1),
g AS (SELECT hour, n,
             CAST(SUM(n) OVER () AS DOUBLE) AS s,
             CAST(SUM(n * n) OVER () AS DOUBLE) AS ss,
             CAST(COUNT(*) OVER () AS DOUBLE) AS c
      FROM h),
z AS (SELECT hour, n,
             round((n - s / c) / sqrt((ss - s * s / c) / (c - 1)), 6) AS z
      FROM g)
SELECT hour, n, z FROM z WHERE abs(z) > 2
"""
query("zscore_anomaly", q_zscore_anomaly, _ZSCORE_ANOMALY_ORACLE)


def q_autocorr_revenue(spark, sf_dir):
    """Lag-1 and lag-7 autocorrelation of daily order revenue (is
    yesterday / the same weekday last week predictive?).  FULL oracle:
    Pearson r computed in closed form from exact DECIMAL sums of the
    lagged pairs — doubles appear only in the final expression, so the
    result is deterministic on both engines."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("decimal(18,2)").alias("rev")))
    w = W.orderBy("day")
    parts = []
    for lag in (1, 7):
        x, y = F.col("rev"), F.col("prev")
        pair = (daily.withColumn("prev", F.lag("rev", lag).over(w))
                .where(F.col("prev").isNotNull())
                .agg(F.count("*").cast("double").alias("c"),
                     F.sum(x).cast("double").alias("sx"),
                     F.sum(y).cast("double").alias("sy"),
                     F.sum((x * y).cast("decimal(38,4)"))
                     .cast("double").alias("sxy"),
                     F.sum((x * x).cast("decimal(38,4)"))
                     .cast("double").alias("sxx"),
                     F.sum((y * y).cast("decimal(38,4)"))
                     .cast("double").alias("syy"))
                .select(F.lit(lag).alias("lag"),
                        F.col("c").cast("bigint").alias("n_days"),
                        F.round((F.col("c") * F.col("sxy")
                                 - F.col("sx") * F.col("sy"))
                                / F.sqrt((F.col("c") * F.col("sxx")
                                          - F.col("sx") * F.col("sx"))
                                         * (F.col("c") * F.col("syy")
                                            - F.col("sy") * F.col("sy"))),
                                6).alias("autocorr")))
        parts.append(pair)
    return parts[0].unionByName(parts[1])


def _autocorr_oracle_sql() -> str:
    sels = []
    for lag in (1, 7):
        sels.append(f"""
SELECT {lag} AS lag, CAST(c AS BIGINT) AS n_days,
       round((c * sxy - sx * sy)
             / sqrt((c * sxx - sx * sx) * (c * syy - sy * sy)), 6)
       AS autocorr
FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS c,
             CAST(SUM(rev) AS DOUBLE) AS sx,
             CAST(SUM(prev) AS DOUBLE) AS sy,
             CAST(SUM(CAST(rev * prev AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(rev * rev AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(prev * prev AS DECIMAL(38,4))) AS DOUBLE) AS syy
      FROM (SELECT rev, lag(rev, {lag}) OVER (ORDER BY day) AS prev
            FROM daily)
      WHERE prev IS NOT NULL)""")
    return ("""
WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                           AS DECIMAL(18,2)) AS rev
               FROM orders GROUP BY 1)
""" + " UNION ALL ".join(sels))
query("autocorr_revenue", q_autocorr_revenue, _autocorr_oracle_sql())


def q_benford_digits(spark, sf_dir):
    """Benford's-law profile of order totals: observed leading-digit
    distribution vs the expected log10(1+1/d) — the classic fraud /
    data-quality screen.  FULL oracle: the leading digit comes from the
    exact integer cent value's string form (no cross-engine libm in
    the digit), counts are exact, and the two ratio doubles round at
    6 dp."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (o.where(F.col("o_totalprice") > 0)
              .groupBy(digit.alias("digit"))
              .agg(F.count("*").alias("n")))
    return (counts
            .withColumn("pct", F.round(F.col("n").cast("double")
                                       / F.sum("n").over(
                                           W.partitionBy()), 6))
            .withColumn("benford",
                        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6))
            .select("digit", "n", "pct", "benford"))


_BENFORD_ORACLE = """
WITH c AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         COUNT(*) AS n
  FROM orders WHERE o_totalprice > 0 GROUP BY 1)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS pct,
       round(log10(1.0 + 1.0 / digit), 6) AS benford
FROM c
"""
query("benford_digits", q_benford_digits, _BENFORD_ORACLE)


def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation: quartile-code every customer on
    Recency / Frequency / Monetary and count the cells — the marketing
    workhorse.  FULL oracle: each ntile(4) carries a custkey tiebreak
    so the quartile assignment is a total order, and the cell sums are
    DECIMAL-exact."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    per = (o.groupBy("o_custkey")
           .agg(F.max(F.col("o_orderdate").cast("date")).alias("r"),
                F.count("*").alias("f"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(18,2)").alias("m")))
    rq = F.ntile(4).over(W.orderBy("r", "o_custkey"))
    fq = F.ntile(4).over(W.orderBy("f", "o_custkey"))
    mq = F.ntile(4).over(W.orderBy("m", "o_custkey"))
    coded = per.select(
        F.concat(rq.cast("string"), fq.cast("string"),
                 mq.cast("string")).alias("segment"),
        F.col("m"))
    return (coded.groupBy("segment")
            .agg(F.count("*").alias("n_customers"),
                 F.sum("m").cast("double").alias("monetary")))


_RFM_ORACLE = """
WITH per AS (
  SELECT o_custkey,
         MAX(CAST(o_orderdate AS DATE)) AS r,
         COUNT(*) AS f,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS m
  FROM orders GROUP BY 1),
coded AS (
  SELECT CAST(ntile(4) OVER (ORDER BY r, o_custkey) AS VARCHAR)
         || CAST(ntile(4) OVER (ORDER BY f, o_custkey) AS VARCHAR)
         || CAST(ntile(4) OVER (ORDER BY m, o_custkey) AS VARCHAR)
         AS segment, m
  FROM per)
SELECT segment, COUNT(*) AS n_customers,
       CAST(SUM(m) AS DOUBLE) AS monetary
FROM coded GROUP BY segment
"""
query("rfm_segments", q_rfm_segments, _RFM_ORACLE)


def q_activity_streaks(spark, sf_dir):
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands shape (row_number date-offset anchor).  FULL
    oracle: pure integer/date arithmetic, no doubles at all."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir)
    days = (ev.select("user_id", F.col("ts").cast("date").alias("day"))
            .distinct())
    rn = F.row_number().over(
        W.partitionBy("user_id").orderBy("day"))
    anchored = days.withColumn("anchor", F.date_sub(F.col("day"), rn))
    streaks = (anchored.groupBy("user_id", "anchor")
               .agg(F.count("*").alias("len")))
    return (streaks.groupBy("user_id")
            .agg(F.max("len").alias("longest"),
                 F.count("*").alias("n_streaks"),
                 F.sum("len").alias("active_days")))


_STREAKS_ORACLE = """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
              FROM events),
anchored AS (
  SELECT user_id,
         day - CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY day) AS INTEGER)
         AS anchor
  FROM days),
streaks AS (SELECT user_id, anchor, COUNT(*) AS len
            FROM anchored GROUP BY 1, 2)
SELECT user_id, MAX(len) AS longest, COUNT(*) AS n_streaks,
       SUM(len) AS active_days
FROM streaks GROUP BY user_id
"""
query("activity_streaks", q_activity_streaks, _STREAKS_ORACLE)


def q_decile_share(spark, sf_dir):
    """Revenue concentration: share of total revenue captured by each
    customer decile (the Lorenz-curve table).  FULL oracle: ntile(10)
    with custkey tiebreak, DECIMAL-exact decile sums, one ratio
    double rounded at 6 dp."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    per = (o.groupBy("o_custkey")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(18,2)").alias("rev")))
    d = per.withColumn(
        "decile", F.ntile(10).over(W.orderBy("rev", "o_custkey")))
    by = (d.groupBy("decile")
          .agg(F.count("*").alias("n_customers"),
               F.sum("rev").cast("decimal(28,2)").alias("_drev")))
    tot = F.sum("_drev").over(W.partitionBy())
    return (by.select(
        "decile", "n_customers",
        F.col("_drev").cast("double").alias("revenue"),
        F.round(F.col("_drev").cast("double") / tot.cast("double"), 6)
        .alias("share")))


_DECILE_SHARE_ORACLE = """
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS rev
  FROM orders GROUP BY 1),
d AS (SELECT rev, ntile(10) OVER (ORDER BY rev, o_custkey) AS decile
      FROM per),
by_d AS (SELECT decile, COUNT(*) AS n_customers,
                CAST(SUM(rev) AS DECIMAL(28,2)) AS drev
         FROM d GROUP BY 1)
SELECT decile, n_customers, CAST(drev AS DOUBLE) AS revenue,
       round(CAST(drev AS DOUBLE)
             / CAST(SUM(drev) OVER () AS DOUBLE), 6) AS share
FROM by_d
"""
query("decile_share", q_decile_share, _DECILE_SHARE_ORACLE)


def q_gini_revenue(spark, sf_dir):
    """Gini coefficient of customer revenue — the single-number
    inequality summary (G = sum((2i-n-1)·x_i) / (n·sum(x)) over the
    value-sorted series).  FULL oracle: rank and both sums are exact
    (BIGINT × DECIMAL), one closed-form double at the end; the
    custkey tiebreak fixes i, and ties in x cannot change the sum."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    per = (o.groupBy("o_custkey")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(18,2)").alias("rev")))
    ranked = per.withColumn(
        "i", F.row_number().over(W.orderBy("rev", "o_custkey"))
        .cast("bigint"))
    agg = ranked.agg(
        F.count("*").cast("double").alias("n"),
        F.sum((F.col("i") * F.col("rev")).cast("decimal(38,2)"))
        .cast("double").alias("sir"),
        F.sum("rev").cast("double").alias("sr"))
    return agg.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round((2.0 * F.col("sir") - (F.col("n") + 1) * F.col("sr"))
                / (F.col("n") * F.col("sr")), 6).alias("gini"))


_GINI_ORACLE = """
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS rev
  FROM orders GROUP BY 1),
ranked AS (
  SELECT rev,
         CAST(row_number() OVER (ORDER BY rev, o_custkey) AS BIGINT)
         AS i
  FROM per),
a AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(i * rev AS DECIMAL(38,2))) AS DOUBLE) AS sir,
             CAST(SUM(rev) AS DOUBLE) AS sr
      FROM ranked)
SELECT CAST(n AS BIGINT) AS n_customers,
       round((2.0 * sir - (n + 1) * sr) / (n * sr), 6) AS gini
FROM a
"""
query("gini_revenue", q_gini_revenue, _GINI_ORACLE)


def q_fingerprint_dups(spark, sf_dir):
    """Token-sort fingerprint canonicalization (record-linkage
    standard): part names that collapse to the same sorted-token key —
    catches exact and word-reordered duplicates.  FULL oracle: pure
    string ops + integer counts."""
    p = load_tables(spark, sf_dir)["part"]
    fp = F.array_join(F.array_sort(F.split(F.col("p_name"), " ")), " ")
    return (p.groupBy(fp.alias("fingerprint"))
            .agg(F.count("*").alias("n_parts"),
                 F.countDistinct("p_name").alias("n_names"))
            .where(F.col("n_parts") > 1))


_FINGERPRINT_DUPS_ORACLE = """
SELECT array_to_string(list_sort(string_split(p_name, ' ')), ' ')
       AS fingerprint,
       COUNT(*) AS n_parts,
       COUNT(DISTINCT p_name) AS n_names
FROM part GROUP BY 1 HAVING COUNT(*) > 1
"""
query("fingerprint_dups", q_fingerprint_dups, _FINGERPRINT_DUPS_ORACLE)


def q_fuzzy_name_pairs(spark, sf_dir):
    """Blocked fuzzy record linkage: part-name pairs within edit
    distance 2, candidate pairs restricted to a shared last-token
    block (the noun) so the comparison never goes all-pairs — the
    standard blocking+verify shape that scales where naive O(n²)
    cannot.  FULL oracle: levenshtein is the same DP in both engines;
    top-50 carries a full key tiebreak."""
    p = (load_tables(spark, sf_dir)["part"]
         .select("p_partkey", "p_name",
                 F.element_at(F.split(F.col("p_name"), " "), -1)
                 .alias("block")))
    a, b = p.alias("a"), p.alias("b")
    pairs = (a.join(b, (F.col("a.block") == F.col("b.block"))
                    & (F.col("a.p_partkey") < F.col("b.p_partkey")))
             .select(F.col("a.p_partkey").alias("k1"),
                     F.col("b.p_partkey").alias("k2"),
                     F.col("a.p_name").alias("name1"),
                     F.col("b.p_name").alias("name2"),
                     F.levenshtein("a.p_name", "b.p_name").alias("dist"))
             .where((F.col("dist") > 0) & (F.col("dist") <= 2)))
    return pairs.orderBy("dist", "k1", "k2").limit(50)


_FUZZY_NAME_ORACLE = """
WITH t AS (SELECT p_partkey, p_name,
                  string_split(p_name, ' ')[-1] AS block
           FROM part)
SELECT a.p_partkey AS k1, b.p_partkey AS k2,
       a.p_name AS name1, b.p_name AS name2,
       levenshtein(a.p_name, b.p_name) AS dist
FROM t a JOIN t b
  ON a.block = b.block AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
ORDER BY dist, k1, k2 LIMIT 50
"""
query("fuzzy_name_pairs", q_fuzzy_name_pairs, _FUZZY_NAME_ORACLE)


def q_lexical_diversity(spark, sf_dir):
    """Per-document lexical diversity: type-token ratio and hapax
    ratio (vocab-richness quality signals for corpus filtering).
    FULL oracle: exact integer counts, ratios round at 6 dp; the
    per-doc token-frequency map never shuffles (doc_id is the group
    key end-to-end)."""
    docs = _docs(spark, sf_dir)
    toks = (docs.select("doc_id", F.explode(text.tokens(F.col("text")))
                        .alias("tok")))
    freq = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    return (freq.groupBy("doc_id")
            .agg(F.sum("c").alias("n_tokens"),
                 F.count("*").alias("n_types"),
                 F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                 .alias("n_hapax"))
            .select("doc_id", "n_tokens",
                    F.round(F.col("n_types").cast("double")
                            / F.col("n_tokens"), 6).alias("ttr"),
                    F.round(F.col("n_hapax").cast("double")
                            / F.col("n_tokens"), 6).alias("hapax_ratio")))


_LEXICAL_DIVERSITY_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != ''))
    AS tok
  FROM documents),
freq AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2)
SELECT doc_id, SUM(c) AS n_tokens,
       round(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS ttr,
       round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / SUM(c), 6) AS hapax_ratio
FROM freq GROUP BY doc_id
"""
query("lexical_diversity", q_lexical_diversity, _LEXICAL_DIVERSITY_ORACLE)


def q_zipf_slope(spark, sf_dir):
    """Zipf's-law fit over the corpus vocabulary: least-squares slope
    of ln(freq) on ln(rank) for tokens with freq ≥ 2 — the classic
    naturalness check on a training corpus.  FULL oracle: each ln term
    rounds to 9 dp DECIMAL before the sums (order-free, libm-proof),
    slope/intercept emerge from one closed-form double."""
    from pyspark.sql import Window as W
    docs = _docs(spark, sf_dir)
    freq = (docs.select(F.explode(text.tokens(F.col("text")))
                        .alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("c"))
            .where(F.col("c") >= 2))
    ranked = freq.withColumn(
        "r", F.row_number().over(W.orderBy(F.col("c").desc(), "tok")))
    x = F.round(F.log(F.col("r").cast("double")), 9) \
        .cast("decimal(18,9)")
    y = F.round(F.log(F.col("c").cast("double")), 9) \
        .cast("decimal(18,9)")
    terms = ranked.select(
        x.alias("x"), y.alias("y"),
        (x * y).cast("decimal(38,18)").alias("xy"),
        (x * x).cast("decimal(38,18)").alias("xx"))
    agg = terms.agg(F.count("*").cast("double").alias("n"),
                    F.sum("x").cast("double").alias("sx"),
                    F.sum("y").cast("double").alias("sy"),
                    F.sum("xy").cast("double").alias("sxy"),
                    F.sum("xx").cast("double").alias("sxx"))
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return agg.select(
        F.col("n").cast("bigint").alias("n_ranks"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
        .alias("intercept"))


_ZIPF_ORACLE = """
WITH freq AS (
  SELECT tok, COUNT(*) AS c FROM (
    SELECT unnest(list_filter(
      string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != ''))
      AS tok
    FROM documents)
  GROUP BY 1 HAVING COUNT(*) >= 2),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM freq),
t AS (
  SELECT CAST(round(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
         CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
  FROM ranked),
a AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx
      FROM t)
SELECT CAST(n AS BIGINT) AS n_ranks,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
             6) AS intercept
FROM a
"""
query("zipf_slope", q_zipf_slope, _ZIPF_ORACLE)


def q_mad_outliers(spark, sf_dir):
    """Robust per-nation outlier screen on customer balances: median /
    MAD and the count beyond 3 MADs (the robust z-score).  FULL
    oracle: both engines use linearly-interpolated exact percentiles;
    outputs round at 6 dp."""
    cust = load_tables(spark, sf_dir)["customer"]
    med = (cust.groupBy("c_nationkey")
           .agg(F.expr("percentile(c_acctbal, 0.5)").alias("med")))
    dev = (cust.join(med, "c_nationkey")
           .withColumn("adev", F.abs(F.col("c_acctbal") - F.col("med"))))
    mad2 = (dev.groupBy("c_nationkey")
            .agg(F.expr("percentile(adev, 0.5)").alias("mad")))
    out = (dev.join(mad2, "c_nationkey")
           .groupBy("c_nationkey")
           .agg(F.count("*").alias("n_customers"),
                F.round(F.first("med"), 6).alias("med"),
                F.round(F.first("mad"), 6).alias("mad"),
                F.sum(F.when(F.col("adev") > 3 * F.col("mad"), 1)
                      .otherwise(0)).alias("n_outliers")))
    return out


_MAD_ORACLE = """
WITH med AS (SELECT c_nationkey, quantile_cont(c_acctbal, 0.5) AS med
             FROM customer GROUP BY 1),
dev AS (SELECT c.c_nationkey, med,
               abs(c_acctbal - med) AS adev
        FROM customer c JOIN med USING (c_nationkey)),
mad AS (SELECT c_nationkey, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY 1)
SELECT c_nationkey, COUNT(*) AS n_customers,
       round(any_value(med), 6) AS med,
       round(any_value(d.mad), 6) AS mad,
       SUM(CASE WHEN adev > 3 * d.mad THEN 1 ELSE 0 END) AS n_outliers
FROM dev JOIN mad d USING (c_nationkey)
GROUP BY c_nationkey
"""
query("mad_outliers", q_mad_outliers, _MAD_ORACLE)


def q_scd2_intervals(spark, sf_dir):
    """Type-2 slowly-changing-dimension build: collapse each user's
    event stream into validity intervals of consecutive equal states
    (run-length islands via change-flag cumsum).  FULL oracle: pure
    integer/timestamp arithmetic under a (ts, event_id) total order."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.col("event_type") != F.lag("event_type").over(w)),
        1).otherwise(0)
    grp = F.sum(chg).over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow))
    runs = ev.select("user_id", "event_type", "ts",
                     grp.alias("grp"))
    return (runs.groupBy("user_id", "grp")
            .agg(F.min("event_type").alias("state"),
                 F.min("ts").alias("valid_from"),
                 F.max("ts").alias("valid_to"),
                 F.count("*").alias("n_events"))
            .select("user_id", "grp", "state", "valid_from",
                    "valid_to", "n_events"))


_SCD2_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR event_type != lag(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
runs AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged)
SELECT user_id, grp, MIN(event_type) AS state,
       MIN(ts) AS valid_from, MAX(ts) AS valid_to,
       COUNT(*) AS n_events
FROM runs GROUP BY user_id, grp
"""
query("scd2_intervals", q_scd2_intervals, _SCD2_ORACLE)


def q_attribution_last_touch(spark, sf_dir):
    """Last-touch marketing attribution: every purchase credited to
    the user's most recent prior click/view ('direct' when none) —
    the carry-forward last_value(IGNORE NULLS) idiom.  FULL oracle:
    (ts, event_id) total order; value sums are DECIMAL-exact."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir)
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, -1))
    marker = F.when(F.col("event_type").isin("click", "view"),
                    F.col("event_type"))
    ch = F.last(marker, ignorenulls=True).over(w)
    purchases = (ev.withColumn("channel", ch)
                 .where(F.col("event_type") == "purchase"))
    return (purchases
            .groupBy(F.coalesce("channel", F.lit("direct"))
                     .alias("channel"))
            .agg(F.count("*").alias("n_purchases"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("total_value")))


_ATTRIBUTION_ORACLE = """
WITH marked AS (
  SELECT event_type, value,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS channel
  FROM events)
SELECT COALESCE(channel, 'direct') AS channel,
       COUNT(*) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM marked WHERE event_type = 'purchase'
GROUP BY 1
"""
query("attribution_last_touch", q_attribution_last_touch, _ATTRIBUTION_ORACLE)


def q_rolling_distinct_users(spark, sf_dir):
    """Rolling 7-day distinct active users per day (the DAU/WAU
    shape).  Distinct-count-over-range-window isn't a window function
    in either engine; the scalable form is a broadcast join of the
    dim-sized day grid onto the distinct (day, user) pairs.  FULL
    oracle: exact integers."""
    ev = _events(spark, sf_dir)
    du = (ev.select(F.col("ts").cast("date").alias("day"), "user_id")
          .distinct())
    days = du.select("day").distinct() \
        .select(F.col("day").alias("as_of"))
    j = du.join(F.broadcast(days),
                (F.col("day") <= F.col("as_of"))
                & (F.col("day") >= F.date_sub(F.col("as_of"), 6)))
    return (j.groupBy("as_of")
            .agg(F.countDistinct("user_id").alias("wau")))


_ROLLING_DISTINCT_ORACLE = """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
            FROM events),
days AS (SELECT DISTINCT day AS as_of FROM du)
SELECT as_of, COUNT(DISTINCT user_id) AS wau
FROM du JOIN days
  ON du.day <= as_of AND du.day >= as_of - 6
GROUP BY as_of
"""
query("rolling_distinct_users", q_rolling_distinct_users,
      _ROLLING_DISTINCT_ORACLE)


def q_skyline_parts(spark, sf_dir):
    """2-D skyline (Pareto frontier): parts not dominated on
    (price ↓, size ↑).  The naive form is O(n²); this is the
    O(n log n) shape — a 50-row per-size min-price table with a
    strictly-greater cumulative min, broadcast back onto parts — so
    the fact table never self-joins.  FULL oracle: integer sizes,
    exact double price comparisons."""
    from pyspark.sql import Window as W
    p = load_tables(spark, sf_dir)["part"]
    sz = (p.groupBy("p_size")
          .agg(F.min("p_retailprice").alias("minp")))
    wd = W.orderBy(F.col("p_size").desc()) \
        .rowsBetween(W.unboundedPreceding, -1)
    sz = sz.withColumn("min_gt", F.min("minp").over(wd))
    keep = p.join(F.broadcast(sz), "p_size").where(
        (F.col("min_gt").isNull()
         | (F.col("p_retailprice") < F.col("min_gt")))
        & (F.col("p_retailprice") == F.col("minp")))
    return keep.select("p_partkey", "p_name", "p_size",
                       "p_retailprice")


_SKYLINE_ORACLE = """
WITH sz AS (
  SELECT p_size, MIN(p_retailprice) AS minp,
         MIN(MIN(p_retailprice))
           OVER (ORDER BY p_size DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS min_gt
  FROM part GROUP BY p_size)
SELECT p_partkey, p_name, p.p_size, p_retailprice
FROM part p JOIN sz ON p.p_size = sz.p_size
WHERE (min_gt IS NULL OR p_retailprice < min_gt)
  AND p_retailprice = minp
"""
query("skyline_parts", q_skyline_parts, _SKYLINE_ORACLE)


def q_ngram_novelty(spark, sf_dir):
    """Per-document novelty: fraction of its distinct 3-grams first
    introduced by this document (global first-occurrence = min doc_id
    per gram) — the redundancy-growth curve of a crawl.  FULL oracle:
    exact integer counts, ratio rounds at 6 dp."""
    docs = _docs(spark, sf_dir)
    # materialize the token array ONCE: referencing the tokenizer
    # expression inside a higher-order-function lambda re-evaluates the
    # full lower+regex split per element (O(len²) per doc — measured
    # 70× slower at sf0.1); zip_with over the materialized array is
    # one O(len) pass
    ws = docs.select("doc_id", text.tokens(F.col("text")).alias("ws"))
    grams = F.zip_with(
        F.slice(F.col("ws"), 1,
                F.greatest(F.size("ws") - 2, F.lit(0))),
        F.zip_with(
            F.slice(F.col("ws"), 2,
                    F.greatest(F.size("ws") - 2, F.lit(0))),
            F.slice(F.col("ws"), 3,
                    F.greatest(F.size("ws") - 2, F.lit(0))),
            lambda b, c: F.concat_ws(" ", b, c)),
        lambda a, bc: F.concat_ws(" ", a, bc))
    # within-doc dedup happens row-locally (array_distinct) so the
    # exploded (doc, gram) pairs are already distinct — no dedup
    # shuffle; first-occurrence via a window on g reuses the single
    # gram exchange instead of an agg+join pair: 2 shuffles end-to-end
    from pyspark.sql import Window as W
    dg = ws.select("doc_id",
                   F.explode(F.array_distinct(grams)).alias("g"))
    first = F.min("doc_id").over(W.partitionBy("g"))
    return (dg.withColumn("first_doc", first)
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_grams"),
                 F.sum(F.when(F.col("first_doc") == F.col("doc_id"),
                              1).otherwise(0)).alias("n_novel"))
            .withColumn("novelty",
                        F.round(F.col("n_novel").cast("double")
                                / F.col("n_grams"), 6)))


_NGRAM_NOVELTY_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != '') AS ws
  FROM documents),
dg AS (
  SELECT DISTINCT doc_id,
         ws[t.i] || ' ' || ws[t.i + 1] || ' ' || ws[t.i + 2] AS g
  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
first AS (SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY g)
SELECT doc_id, COUNT(*) AS n_grams,
       SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS n_novel,
       round(CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS novelty
FROM dg JOIN first USING (g)
GROUP BY doc_id
"""
query("ngram_novelty", q_ngram_novelty, _NGRAM_NOVELTY_ORACLE)


def q_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: BM25 text ranking fused with cosine vector
    ranking by Reciprocal Rank Fusion (score = Σ 1/(60+rank), the
    Cormack et al. standard) over the shared doc/vec id space.  FULL
    oracle: RRF uses only ranks, both underlying rankings are already
    oracle-proven deterministic (bm25_rank, knn_cosine), and the two
    1/(60+r) terms are exact-input doubles."""
    from pyspark.sql import Window as W

    from ..fts import bm25_scores, build_tf_index
    g = tpch_graph(spark, sf_dir)
    docs = g.nodes_df.where(F.col("kind") == "Document")
    idx = build_tf_index(docs, ["text"])
    bm = (bm25_scores(idx, ["data", "query"])
          .withColumn("r_text", F.row_number().over(
              W.orderBy(F.col("score").desc(), "uid")))
          .where(F.col("r_text") <= 50)
          .select(F.regexp_extract("uid", r"(\d+)$", 1)
                  .cast("bigint").alias("id"), "r_text"))
    emb = _emb(spark, sf_dir)
    qv = list(emb.where(F.col("vec_id") == 0)
              .select("embedding").collect()[0][0])
    cos = (similarity.cosine_topk(emb, qv, k=50, exclude_ids=[0])
           .withColumn("r_vec", F.row_number().over(
               W.orderBy(F.col("cosine").desc(), "vec_id")))
           .select(F.col("vec_id").alias("id"), "r_vec"))
    return (bm.join(cos, "id", "outer")
            .withColumn("rrf", F.round(
                F.coalesce(1.0 / (60 + F.col("r_text")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("r_vec")), F.lit(0.0)),
                9))
            .orderBy(F.col("rrf").desc(), "id").limit(10)
            .select("id", "r_text", "r_vec", "rrf"))


_RRF_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents),
docs AS (SELECT doc_id, len(ws) AS dl FROM toks WHERE len(ws) > 0),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM docs),
tf AS (
  SELECT toks.doc_id, u.tok AS term, COUNT(*) AS tf
  FROM toks, UNNEST(ws) AS u(tok)
  WHERE u.tok IN ('data','query')
  GROUP BY toks.doc_id, u.tok),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, 'Document:' || CAST(tf.doc_id AS VARCHAR) AS uid,
         SUM( ln((s.n - d.df + 0.5)/(d.df + 0.5) + 1.0)
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * docs.dl / s.avgdl))
            ) AS score
  FROM tf JOIN dfreq d USING (term)
       JOIN docs ON docs.doc_id = tf.doc_id
       CROSS JOIN stats s
  GROUP BY tf.doc_id),
tr AS (
  SELECT doc_id AS id, r_text FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, uid) AS r_text
    FROM scored) WHERE r_text <= 50),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cscored AS (
  SELECT e.vec_id,
    list_sum(list_transform(range(1, len(e.embedding)+1),
      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
         i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))))
     * sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
         i -> CAST(e.embedding[i] AS DOUBLE)
            * CAST(e.embedding[i] AS DOUBLE)))))
    AS cos
  FROM embeddings e, q WHERE e.vec_id != 0),
cr AS (
  SELECT vec_id AS id, r_vec FROM (
    SELECT vec_id,
           row_number() OVER (ORDER BY cos DESC, vec_id) AS r_vec
    FROM cscored) WHERE r_vec <= 50)
SELECT COALESCE(tr.id, cr.id) AS id, r_text, r_vec,
       round(COALESCE(1.0/(60 + r_text), 0.0)
             + COALESCE(1.0/(60 + r_vec), 0.0), 9) AS rrf
FROM tr FULL JOIN cr ON tr.id = cr.id
ORDER BY rrf DESC, id LIMIT 10
"""
query("rrf_fusion", q_rrf_fusion, _RRF_ORACLE)


def q_mmr_select(spark, sf_dir):
    """MMR diverse top-8 for vec_id=0: distributed cosine prune to a
    24-candidate pool, then the greedy λ·relevance − (1−λ)·redundancy
    selection (two-stage retrieval; pool is constant-sized so the
    rerank tier is O(pool²·dim) regardless of corpus size).  FULL
    oracle: the greedy loop unrolls to one CTE per pick; every cosine
    is the same left-to-right fold on both sides."""
    emb = _emb(spark, sf_dir)
    qv = list(emb.where(F.col("vec_id") == 0)
              .select("embedding").collect()[0][0])
    sel = similarity.mmr_rerank(emb, qv, k=8, pool=24, lam=0.7,
                                exclude_ids=[0])
    rows = [(rank, int(i), round(score, 6), round(c0, 6))
            for rank, i, score, c0 in sel]
    return spark.createDataFrame(
        rows, "rank int, vec_id bigint, mmr double, cos0 double")


def _mmr_oracle_sql(k: int = 8, pool: int = 24, lam: float = 0.7) -> str:
    """DuckDB replay of q_mmr_select: candidate pool + pairwise-cosine
    CTE, then one (max-sim, argmax) CTE pair per greedy round — the
    same unrolled-loop idiom as the ivf/pagerank oracles.  λ and 1−λ
    are emitted as exact double reprs so the score arithmetic is
    bit-identical to the engine's Python floats."""
    la, ula = repr(float(lam)), repr(1.0 - float(lam))
    parts = [f"""
WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
           FROM embeddings WHERE vec_id = 0),
c0 AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       FROM embeddings WHERE vec_id != 0),
scored AS (
  SELECT e.vec_id, e.v,
    list_sum(list_transform(range(1, len(e.v)+1),
                            i -> e.v[i] * q.qe[i]))
    / (sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
                                    i -> q.qe[i] * q.qe[i])))
     * sqrt(list_sum(list_transform(range(1, len(e.v)+1),
                                    i -> e.v[i] * e.v[i])))) AS cos0
  FROM c0 e, q),
cand AS MATERIALIZED (
  SELECT vec_id, v, cos0 FROM scored
  ORDER BY cos0 DESC, vec_id LIMIT {pool}),
pc AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
    list_sum(list_transform(range(1, len(a.v)+1),
                            i -> a.v[i] * b.v[i]))
    / (sqrt(list_sum(list_transform(range(1, len(a.v)+1),
                                    i -> a.v[i] * a.v[i])))
     * sqrt(list_sum(list_transform(range(1, len(b.v)+1),
                                    i -> b.v[i] * b.v[i])))) AS cs
  FROM cand a, cand b WHERE a.vec_id != b.vec_id),
ms1 AS (SELECT vec_id, cos0, CAST(0.0 AS DOUBLE) AS ms FROM cand),
s1 AS MATERIALIZED (
  SELECT vec_id, {la} * cos0 - {ula} * ms AS score, cos0 FROM ms1
  ORDER BY score DESC, vec_id LIMIT 1)"""]
    for r in range(2, k + 1):
        excl = " AND ".join(
            f"m.vec_id != (SELECT vec_id FROM s{j})" for j in range(1, r))
        parts.append(f""",
ms{r} AS (
  SELECT m.vec_id, m.cos0, GREATEST(m.ms, pc.cs) AS ms
  FROM ms{r - 1} m
  JOIN pc ON pc.ia = m.vec_id
         AND pc.ib = (SELECT vec_id FROM s{r - 1})
  WHERE {excl}),
s{r} AS MATERIALIZED (
  SELECT vec_id, {la} * cos0 - {ula} * ms AS score, cos0 FROM ms{r}
  ORDER BY score DESC, vec_id LIMIT 1)""")
    sels = " UNION ALL ".join(
        f"SELECT {r} AS rank, vec_id, round(score, 6) AS mmr, "
        f"round(cos0, 6) AS cos0 FROM s{r}" for r in range(1, k + 1))
    parts.append("\n" + sels)
    return "".join(parts)
query("mmr_select", q_mmr_select, _mmr_oracle_sql())


def q_silhouette_kmeans(spark, sf_dir):
    """Cluster-quality audit: simplified (centroid-based) silhouette
    per k-means cluster — a = distance to own centroid, b = distance
    to the nearest other centroid, s = (b−a)/b.  FULL oracle: reuses
    the reproducible IVF centroid trajectory (unrolled Lloyd CTEs);
    per-point terms round to 9 dp DECIMAL so the cluster means are
    order-free."""
    from pyspark.sql import Window as W
    emb = _emb(spark, sf_dir)
    _indexed, cents = similarity.ivf_index(emb, k=8, iters=2)
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "c int, cent array<double>")
    d2 = F.aggregate(
        F.zip_with(F.col("cent"), F.col("embedding"),
                   lambda c, x: (c - x.cast("double"))
                   * (c - x.cast("double"))),
        F.lit(0.0), lambda a, v: a + v)
    j = (emb.crossJoin(F.broadcast(cdf))
         .select("vec_id", "c", d2.alias("d2")))
    w = W.partitionBy("vec_id").orderBy("d2", "c")
    r = j.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 2)
    piv = (r.groupBy("vec_id")
           .agg(F.min(F.when(F.col("rn") == 1, F.col("c")))
                .alias("cluster"),
                F.min(F.when(F.col("rn") == 1, F.sqrt("d2"))).alias("a"),
                F.min(F.when(F.col("rn") == 2, F.sqrt("d2"))).alias("b")))
    s = F.when(F.col("b") > 0,
               (F.col("b") - F.col("a")) / F.col("b")).otherwise(F.lit(0.0))
    t = F.round(s, 9).cast("decimal(18,9)")
    return (piv.select("cluster", t.alias("t"))
            .groupBy("cluster")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("t").cast("double") / F.count("*"), 6)
                 .alias("avg_silhouette")))


def _silhouette_oracle_sql(k: int = 8, iters: int = 2) -> str:
    dist = ("list_sum(list_transform(range(1, len(e.embedding)+1), "
            "i -> (c2.cent[i] - CAST(e.embedding[i] AS DOUBLE)) * "
            "(c2.cent[i] - CAST(e.embedding[i] AS DOUBLE))))")
    return _ivf_ctes(k, iters) + f""",
d AS (SELECT e.vec_id, c2.c, {dist} AS d2 FROM e, c2),
r AS (SELECT vec_id, c, d2,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2, c) AS rn
      FROM d),
piv AS (SELECT vec_id,
               MIN(CASE WHEN rn = 1 THEN c END) AS cluster,
               MIN(CASE WHEN rn = 1 THEN sqrt(d2) END) AS a,
               MIN(CASE WHEN rn = 2 THEN sqrt(d2) END) AS b
        FROM r WHERE rn <= 2 GROUP BY vec_id),
t AS (SELECT cluster,
             CAST(round(CASE WHEN b > 0 THEN (b - a) / b
                             ELSE 0.0 END, 9) AS DECIMAL(18,9)) AS t
      FROM piv)
SELECT cluster, COUNT(*) AS n,
       round(CAST(SUM(t) AS DOUBLE) / COUNT(*), 6) AS avg_silhouette
FROM t GROUP BY cluster"""
query("silhouette_kmeans", q_silhouette_kmeans, _silhouette_oracle_sql())


def q_new_vs_returning(spark, sf_dir):
    """Monthly buyer mix: orders split into first-ever-order customers
    vs returning ones (the growth-accounting staple).  FULL oracle:
    first-order month per customer via a min aggregate broadcast back;
    revenue DECIMAL-exact."""
    o = load_tables(spark, sf_dir)["orders"]
    month = F.date_trunc("month", F.col("o_orderdate")).cast("date")
    firsts = (o.groupBy("o_custkey")
              .agg(F.date_trunc("month", F.min("o_orderdate"))
                   .cast("date").alias("first_month")))
    return (o.join(F.broadcast(firsts), "o_custkey")
            .withColumn("month", month)
            .withColumn("buyer_type",
                        F.when(F.col("month") == F.col("first_month"),
                               "new").otherwise("returning"))
            .groupBy("month", "buyer_type")
            .agg(F.countDistinct("o_custkey").alias("n_buyers"),
                 F.count("*").alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("double").alias("revenue")))


_NEW_VS_RETURNING_ORACLE = """
WITH firsts AS (
  SELECT o_custkey,
         CAST(date_trunc('month', MIN(o_orderdate)) AS DATE)
         AS first_month
  FROM orders GROUP BY 1)
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       CASE WHEN CAST(date_trunc('month', o_orderdate) AS DATE)
                 = first_month
            THEN 'new' ELSE 'returning' END AS buyer_type,
       COUNT(DISTINCT o_custkey) AS n_buyers,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       AS revenue
FROM orders JOIN firsts USING (o_custkey)
GROUP BY 1, 2
"""
query("new_vs_returning", q_new_vs_returning, _NEW_VS_RETURNING_ORACLE)


def q_cohort_ltv(spark, sf_dir):
    """Cumulative lifetime value per acquisition cohort: revenue by
    (first-order month, months-since-acquisition), accumulated along
    the age axis — the LTV curve behind payback analysis.  FULL
    oracle: month offsets are integer-exact; the cumulative sum runs
    over DECIMAL cell totals before the final double cast."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    firsts = (o.groupBy("o_custkey")
              .agg(F.date_trunc("month", F.min("o_orderdate"))
                   .cast("date").alias("cohort")))
    cells = (o.join(F.broadcast(firsts), "o_custkey")
             .select("cohort",
                     F.months_between(
                         F.date_trunc("month", F.col("o_orderdate")),
                         F.col("cohort")).cast("int").alias("age"),
                     F.col("o_totalprice").cast("decimal(18,2)")
                     .alias("rev"))
             .groupBy("cohort", "age")
             .agg(F.count("*").alias("n_orders"),
                  F.sum("rev").cast("decimal(28,2)").alias("_rev")))
    w = (W.partitionBy("cohort").orderBy("age")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (cells.select(
        F.col("cohort").cast("string").alias("cohort"), "age",
        "n_orders",
        F.col("_rev").cast("double").alias("revenue"),
        F.sum("_rev").over(w).cast("double").alias("cum_ltv")))


_COHORT_LTV_ORACLE = """
WITH firsts AS (
  SELECT o_custkey,
         CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS cohort
  FROM orders GROUP BY 1),
cells AS (
  SELECT cohort,
         CAST(datediff('month', CAST(cohort AS TIMESTAMP),
                       date_trunc('month', o_orderdate)) AS INTEGER)
         AS age,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(28,2)) AS rev
  FROM orders JOIN firsts USING (o_custkey)
  GROUP BY 1, 2)
SELECT CAST(cohort AS VARCHAR) AS cohort, age, n_orders,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(SUM(rev) OVER (PARTITION BY cohort ORDER BY age
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
       AS cum_ltv
FROM cells
"""
query("cohort_ltv", q_cohort_ltv, _COHORT_LTV_ORACLE)


def q_churn_screen(spark, sf_dir):
    """Churn screen by nation: customers whose last order predates the
    dataset horizon by more than 90 days, with the nation's churn
    rate.  FULL oracle: date arithmetic on exact timestamps, one
    global-max scalar broadcast."""
    from pyspark.sql import Window as W
    t = load_tables(spark, sf_dir)
    o, c = t["orders"], t["customer"]
    last = (o.groupBy("o_custkey")
            .agg(F.max(F.col("o_orderdate").cast("date")).alias("last_order")))
    horizon = F.max("last_order").over(W.partitionBy())
    flagged = (last.withColumn(
        "churned",
        F.when(F.datediff(horizon, F.col("last_order")) > 90, 1)
        .otherwise(0)))
    return (flagged.join(c, flagged.o_custkey == c.c_custkey)
            .groupBy("c_nationkey")
            .agg(F.count("*").alias("n_buyers"),
                 F.sum("churned").alias("n_churned"),
                 F.round(F.sum("churned").cast("double")
                         / F.count("*"), 6).alias("churn_rate")))


_CHURN_ORACLE = """
WITH last AS (
  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_order
  FROM orders GROUP BY 1),
flagged AS (
  SELECT o_custkey,
         CASE WHEN datediff('day', last_order, MAX(last_order) OVER ())
                   > 90
              THEN 1 ELSE 0 END AS churned
  FROM last)
SELECT c_nationkey, COUNT(*) AS n_buyers,
       SUM(churned) AS n_churned,
       round(CAST(SUM(churned) AS DOUBLE) / COUNT(*), 6) AS churn_rate
FROM flagged JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""
query("churn_screen", q_churn_screen, _CHURN_ORACLE)


def q_seq_copurchase(spark, sf_dir):
    """Sequential pattern mining (order-2): part pairs where a
    customer's later order contains the consequent after an earlier
    order contained the antecedent — top-20 directed sequences.  The
    per-customer purchase lists are capped by the same pair-explosion
    guard as the basket queries (order timelines are short in TPC-H;
    a power-law customer would be dropped, not exploded).  FULL
    oracle: exact integer support counts, full key tiebreak."""
    t = load_tables(spark, sf_dir)
    o, li = t["orders"], t["lineitem"]
    purch = (li.join(o.select("o_orderkey", "o_custkey", "o_orderdate"),
                     li.l_orderkey == o.o_orderkey)
             .select("o_custkey", "o_orderdate", "l_partkey")
             .distinct())
    sizes = (purch.groupBy("o_custkey")
             .agg(F.count("*").alias("__n")))
    purch = (purch.join(sizes.where(F.col("__n") <= 256)
                        .select("o_custkey"), "o_custkey"))
    a, b = purch.alias("a"), purch.alias("b")
    seq = (a.join(b, (F.col("a.o_custkey") == F.col("b.o_custkey"))
                  & (F.col("a.o_orderdate") < F.col("b.o_orderdate"))
                  & (F.col("a.l_partkey") != F.col("b.l_partkey")))
           .select(F.col("a.o_custkey").alias("cust"),
                   F.col("a.l_partkey").alias("p1"),
                   F.col("b.l_partkey").alias("p2"))
           .distinct())
    return (seq.groupBy("p1", "p2")
            .agg(F.count("*").alias("support"))
            .orderBy(F.col("support").desc(), "p1", "p2").limit(20))


_SEQ_COPURCHASE_ORACLE = """
WITH purch0 AS (
  SELECT DISTINCT o_custkey, o_orderdate, l_partkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
purch AS (
  SELECT * FROM purch0
  WHERE o_custkey IN (SELECT o_custkey FROM purch0
                      GROUP BY o_custkey HAVING COUNT(*) <= 256)),
seq AS (
  SELECT DISTINCT a.o_custkey AS cust, a.l_partkey AS p1,
                  b.l_partkey AS p2
  FROM purch a JOIN purch b
    ON a.o_custkey = b.o_custkey
   AND a.o_orderdate < b.o_orderdate
   AND a.l_partkey != b.l_partkey)
SELECT p1, p2, COUNT(*) AS support
FROM seq GROUP BY p1, p2
ORDER BY support DESC, p1, p2 LIMIT 20
"""
query("seq_copurchase", q_seq_copurchase, _SEQ_COPURCHASE_ORACLE)


def q_rich_club(spark, sf_dir):
    """Rich-club coefficient φ(k) of the part co-purchase graph: edge
    density among nodes of degree > k, for a ladder of thresholds —
    do high-degree parts preferentially co-occur?  FULL oracle: exact
    integer N_k/E_k, one ratio double.  The pair graph is the
    capped/oriented co-purchase projection (deg table is
    node-dimension-sized and broadcasts onto the edges)."""
    li = (load_tables(spark, sf_dir)["lineitem"]
          .select("l_orderkey", "l_partkey").distinct())
    a, b = li.alias("a"), li.alias("b")
    edges = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .select(F.col("a.l_partkey").alias("u"),
                     F.col("b.l_partkey").alias("v"))
             .distinct())
    deg = (edges.select(F.col("u").alias("n"))
           .unionByName(edges.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count("*").alias("d")))
    ks = spark.range(1, 7).select(
        F.expr("shiftleft(1, cast(id as int))").alias("k"))
    nk = (deg.crossJoin(F.broadcast(ks))
          .where(F.col("d") > F.col("k"))
          .groupBy("k").agg(F.count("*").alias("n_rich")))
    ed = (edges
          .join(deg.withColumnRenamed("n", "u")
                .withColumnRenamed("d", "du"), "u")
          .join(deg.withColumnRenamed("n", "v")
                .withColumnRenamed("d", "dv"), "v"))
    ek = (ed.crossJoin(F.broadcast(ks))
          .where((F.col("du") > F.col("k")) & (F.col("dv") > F.col("k")))
          .groupBy("k").agg(F.count("*").alias("e_rich")))
    return (nk.join(ek, "k", "left")
            .select("k", "n_rich",
                    F.coalesce("e_rich", F.lit(0)).alias("e_rich"),
                    F.when(F.col("n_rich") > 1, F.round(
                        2.0 * F.coalesce("e_rich", F.lit(0))
                        / (F.col("n_rich")
                           * (F.col("n_rich") - F.lit(1))), 6))
                    .otherwise(F.lit(0.0)).alias("phi")))


_RICH_CLUB_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (SELECT n, COUNT(*) AS d FROM (
          SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
        GROUP BY n),
ks AS (SELECT (1 << CAST(r AS INTEGER)) AS k
       FROM UNNEST(range(1, 7)) AS t(r)),
nk AS (SELECT k, COUNT(*) AS n_rich FROM deg, ks WHERE d > k GROUP BY k),
ek AS (SELECT k, COUNT(*) AS e_rich
       FROM edges
       JOIN deg du ON du.n = edges.u
       JOIN deg dv ON dv.n = edges.v
       CROSS JOIN ks
       WHERE du.d > k AND dv.d > k GROUP BY k)
SELECT nk.k, n_rich, COALESCE(e_rich, 0) AS e_rich,
       CASE WHEN n_rich > 1
            THEN round(2.0 * COALESCE(e_rich, 0)
                       / (n_rich * (n_rich - 1)), 6)
            ELSE 0.0 END AS phi
FROM nk LEFT JOIN ek ON nk.k = ek.k
"""
query("rich_club", q_rich_club, _RICH_CLUB_ORACLE)


def q_neighbor_degree(spark, sf_dir):
    """Average-neighbor-degree curve knn(k) over the co-purchase graph
    (the functional form behind the assortativity scalar: do
    high-degree parts attach to high-degree parts?).  FULL oracle:
    per-node neighbor-degree ratios round to 9 dp DECIMAL before the
    per-degree-class mean, so the aggregation is order-free."""
    li = (load_tables(spark, sf_dir)["lineitem"]
          .select("l_orderkey", "l_partkey").distinct())
    a, b = li.alias("a"), li.alias("b")
    edges = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .select(F.col("a.l_partkey").alias("u"),
                     F.col("b.l_partkey").alias("v"))
             .distinct())
    und = (edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    nbr = (und.join(deg.select(F.col("u").alias("v"),
                               F.col("d").alias("dv")), "v")
           .groupBy("u").agg(F.sum("dv").alias("snd")))
    per_node = (deg.join(nbr, "u")
                .select("d", F.round(F.col("snd").cast("double")
                                     / F.col("d"), 9)
                        .cast("decimal(18,9)").alias("t")))
    return (per_node.groupBy("d")
            .agg(F.count("*").alias("n_nodes"),
                 F.round(F.sum("t").cast("double") / F.count("*"), 6)
                 .alias("knn")))


_NEIGHBOR_DEGREE_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
und AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
nbr AS (SELECT und.u, SUM(dv.d) AS snd
        FROM und JOIN deg dv ON dv.u = und.v GROUP BY und.u),
per_node AS (
  SELECT deg.d,
         CAST(round(CAST(snd AS DOUBLE) / deg.d, 9)
              AS DECIMAL(18,9)) AS t
  FROM deg JOIN nbr ON deg.u = nbr.u)
SELECT d, COUNT(*) AS n_nodes,
       round(CAST(SUM(t) AS DOUBLE) / COUNT(*), 6) AS knn
FROM per_node GROUP BY d
"""
query("neighbor_degree", q_neighbor_degree, _NEIGHBOR_DEGREE_ORACLE)


def _ewma_weights(alpha: float = 0.2, n: int = 20) -> list[float]:
    return [(1.0 - alpha) ** k for k in range(n)]


def q_ewma_revenue(spark, sf_dir):
    """Exponentially-weighted moving average of daily revenue
    (α = 0.2, 20-day window) — the BI smoothing curve.  FULL oracle:
    the weight ladder is one precomputed double literal shared
    verbatim by both engines (no cross-libm pow), the windowed value
    list is frame-ordered, and numerator/denominator are the same
    left-to-right folds."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("rev")))
    w = W.orderBy("day").rowsBetween(-19, 0)
    arr = F.collect_list("rev").over(w)
    wl = F.lit(_ewma_weights())
    wrev = F.reverse(F.slice(wl, 1, F.size(arr)))
    num = F.aggregate(F.zip_with(arr, wrev, lambda x, wt: x * wt),
                      F.lit(0.0), lambda acc, v: acc + v)
    den = F.aggregate(wrev, F.lit(0.0), lambda acc, v: acc + v)
    return (daily.select("day", "rev",
                         F.round(num / den, 6).alias("ewma")))


def _ewma_oracle_sql(alpha: float = 0.2, n: int = 20) -> str:
    wl = "[" + ", ".join(repr(w) for w in _ewma_weights(alpha, n)) + "]"
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS rev
  FROM orders GROUP BY 1),
win AS (
  SELECT day, rev,
         list(rev) OVER (ORDER BY day
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         AS arr
  FROM daily),
wts AS (SELECT day, rev, arr,
               list_reverse(list_slice({wl}, 1, len(arr))) AS wrev
        FROM win)
SELECT day, rev,
       round(list_sum(list_transform(range(1, len(arr)+1),
                                     i -> arr[i] * wrev[i]))
             / list_sum(wrev), 6) AS ewma
FROM wts
"""
query("ewma_revenue", q_ewma_revenue, _ewma_oracle_sql())
