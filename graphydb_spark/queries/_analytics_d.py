"""analytics catalog: steady states, histograms, distances, reservoirs."""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup, graph_algos, similarity, text
from ..sources.tpch_graph import load_tables, tpch_graph
from ._registry import query
from ._shared import _docs, _emb, _events, _ivf_blocked
from ._pipeline import (_LANGUAGE_ID_ORACLE, _MINHASH_PAIRS_ORACLE, _ivf_ctes,
                        q_minhash_pairs)
from ._analytics_a import _bpe_ctes


def q_markov_steady_state(spark, sf_dir):
    """Stationary distribution of the per-user event-type Markov chain
    by 8 synchronous power iterations from uniform — where user
    behavior settles long-run.  Row-stochastic probabilities and every
    update re-round to the 9 dp DECIMAL grid (the textrank ladder), so
    the unrolled-CTE oracle replays bit-for-bit."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("long").alias("t"),
        "event_id", "event_type")
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    tr = (ev.withColumn("nxt", F.lead("event_type").over(w))
          .where(F.col("nxt").isNotNull())
          .groupBy(F.col("event_type").alias("s"),
                   F.col("nxt").alias("d"))
          .agg(F.count("*").alias("c")))
    tot = tr.groupBy("s").agg(F.sum("c").alias("n"))
    p = (tr.join(tot, "s")
         .select("s", "d",
                 F.round(F.col("c") / F.col("n"), 9)
                 .cast("decimal(18,9)").alias("p"))
         .localCheckpoint(eager=True))
    pi = (tot.select(F.col("s").alias("d"))
          .withColumn("pi", F.lit(0.2).cast("decimal(18,9)")))
    for _ in range(8):
        pi = (p.join(pi.select(F.col("d").alias("s"), "pi"), "s")
              .groupBy("d")
              .agg(F.round(F.sum(F.col("pi") * F.col("p"))
                           .cast("double"), 9)
                   .cast("decimal(18,9)").alias("pi"))
              .localCheckpoint(eager=True))
    return pi.select(F.col("d").alias("event_type"),
                     F.col("pi").cast("double").alias("steady_state"))


def _steady_state_oracle_sql(iters: int = 8) -> str:
    ctes = ["""tr AS MATERIALIZED (
  SELECT s, d, COUNT(*) AS c FROM (
    SELECT event_type AS s,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY CAST(floor(epoch(ts))
                                               AS BIGINT), event_id)
             AS d
    FROM events)
  WHERE d IS NOT NULL GROUP BY s, d)""",
            """tp AS MATERIALIZED (
  SELECT tr.s, tr.d,
         CAST(round(tr.c * 1.0 / t.n, 9) AS DECIMAL(18,9)) AS p
  FROM tr JOIN (SELECT s, SUM(c) AS n FROM tr GROUP BY s) t
    ON t.s = tr.s)""",
            """pi0 AS MATERIALIZED (
  SELECT DISTINCT s AS d, CAST(0.2 AS DECIMAL(18,9)) AS pi FROM tr)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""pi{i} AS MATERIALIZED (
  SELECT tp.d,
         CAST(round(CAST(SUM(pi.pi * tp.p) AS DOUBLE), 9)
              AS DECIMAL(18,9)) AS pi
  FROM tp JOIN pi{i - 1} pi ON pi.d = tp.s
  GROUP BY tp.d)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT d AS event_type, CAST(pi AS DOUBLE) AS steady_state
FROM pi{iters}""")
query("markov_steady_state", q_markov_steady_state, _steady_state_oracle_sql())


def q_token_burstiness(spark, sf_dir):
    """Church-Gale token burstiness proxy: collection frequency over
    document frequency for the 30 most frequent tokens — cf/df >> 1
    flags bursty topical terms, ~1 flags function words.  Exact
    integer counts, one division."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id",
                       F.explode(text.tokens(F.col("text")))
                       .alias("tok"))
    agg = toks.groupBy("tok").agg(
        F.count("*").alias("cf"),
        F.countDistinct("doc_id").alias("df"))
    return (agg.select("tok", "cf", "df",
                       F.round(F.col("cf")
                               / F.col("df").cast("double"), 6)
                       .alias("burstiness"))
            .orderBy(F.col("cf").desc(), "tok").limit(30))


_TOKEN_BURST_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
         '[^a-z0-9]+'), x -> x != '')) AS tok
  FROM documents),
agg AS (
  SELECT tok, COUNT(*) AS cf, COUNT(DISTINCT doc_id) AS df
  FROM toks GROUP BY tok)
SELECT tok, cf, df, round(cf * 1.0 / df, 6) AS burstiness
FROM agg ORDER BY cf DESC, tok LIMIT 30
"""
query("token_burstiness", q_token_burstiness, _TOKEN_BURST_ORACLE)


def q_mutual_knn(spark, sf_dir):
    """Mutual nearest-neighbor pairs over the embedding corpus: pairs
    where each vector is the other's top-1 neighbor (integer-grid
    dots, argmax with id tie-break) — the high-precision seed pairs
    used to bootstrap alignment and dedup pipelines.  Neighbors come
    from the shared IVF blocking (_ivf_blocked, same-cell equi-join,
    never the O(n²) cross join): top-1-within-cell is the standard
    blocked-kNN approximation, and mutuality is unaffected for pairs
    that share a cell — the oracle replays the identical unrolled-
    Lloyd assignment so the candidate set is engine-reproducible."""
    idx = _ivf_blocked(spark, sf_dir)
    q = idx.select("cluster", "vec_id", F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1e3).cast("long"))
        .alias("q"))
    a = q.select("cluster", F.col("vec_id").alias("va"),
                 F.col("q").alias("qa"))
    b = q.select("cluster", F.col("vec_id").alias("vb"),
                 F.col("q").alias("qb"))
    dot = F.aggregate(F.zip_with("qa", "qb", lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda acc, v: acc + v)
    best = F.max(F.struct(F.col("s").alias("s"),
                          (-F.col("vb")).alias("negid")))
    nn = (a.join(b, "cluster").where(F.col("va") != F.col("vb"))
          .select("va", "vb", dot.alias("s"))
          .groupBy("va").agg(best.alias("m"))
          .select(F.col("va"), (-F.col("m.negid")).cast("long")
                  .alias("nn"))
          .localCheckpoint(eager=True))
    r = nn.select(F.col("va").alias("x"), F.col("nn").alias("y"))
    return (r.alias("p")
            .join(r.alias("qq"),
                  (F.col("p.x") == F.col("qq.y"))
                  & (F.col("p.y") == F.col("qq.x")))
            .where(F.col("p.x") < F.col("p.y"))
            .select(F.col("p.x").alias("vec_a"),
                    F.col("p.y").alias("vec_b")))


_MUTUAL_KNN_ORACLE = _ivf_ctes(8, 2) + """,
qd AS (
  SELECT vec_id, t.i AS i,
         CAST(round(CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)
                    * 1e3) AS BIGINT) AS v
  FROM embeddings, UNNEST(range(len(embedding))) AS t(i)),
dots AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, SUM(a.v * b.v) AS s
  FROM qd a JOIN qd b ON a.i = b.i AND a.vec_id <> b.vec_id
       JOIN fin fa ON fa.vec_id = a.vec_id
       JOIN fin fb ON fb.vec_id = b.vec_id AND fb.c = fa.c
  GROUP BY 1, 2),
nn AS (
  SELECT va AS x, vb AS y FROM (
    SELECT va, vb, row_number() OVER (PARTITION BY va
                                      ORDER BY s DESC, vb) AS rk
    FROM dots) WHERE rk = 1)
SELECT p.x AS vec_a, p.y AS vec_b
FROM nn p JOIN nn q ON p.x = q.y AND p.y = q.x
WHERE p.x < p.y
"""
query("mutual_knn", q_mutual_knn, _MUTUAL_KNN_ORACLE)


def q_dead_stock(spark, sf_dir):
    """Dead-stock screen: parts with NO sales in the trailing year of
    the dataset but sales before it — discontinuation candidates.
    One anti-join against the recent window; exact counts + last-sale
    recency."""
    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_partkey", F.col("l_shipdate").cast("date").alias("d"))
    hor = li.agg(F.max("d").alias("h"))
    j = li.crossJoin(F.broadcast(hor))
    recent = (j.where(F.col("d") > F.date_sub(F.col("h"), 365))
              .select("l_partkey").distinct())
    old = (j.where(F.col("d") <= F.date_sub(F.col("h"), 365))
           .groupBy("l_partkey")
           .agg(F.max("d").alias("last_sale"),
                F.count("*").alias("n_lifetime_lines")))
    return (old.join(recent, "l_partkey", "left_anti")
            .select("l_partkey", "last_sale", "n_lifetime_lines"))


_DEAD_STOCK_ORACLE = """
WITH h AS (SELECT MAX(CAST(l_shipdate AS DATE)) AS h FROM lineitem),
recent AS (
  SELECT DISTINCT l_partkey FROM lineitem, h
  WHERE CAST(l_shipdate AS DATE) > h.h - INTERVAL 365 DAY),
old AS (
  SELECT l_partkey, MAX(CAST(l_shipdate AS DATE)) AS last_sale,
         COUNT(*) AS n_lifetime_lines
  FROM lineitem, h
  WHERE CAST(l_shipdate AS DATE) <= h.h - INTERVAL 365 DAY
  GROUP BY 1)
SELECT o.l_partkey, o.last_sale, o.n_lifetime_lines
FROM old o LEFT JOIN recent r ON r.l_partkey = o.l_partkey
WHERE r.l_partkey IS NULL
"""
query("dead_stock", q_dead_stock, _DEAD_STOCK_ORACLE)


def q_session_depth_curve(spark, sf_dir):
    """Session-depth survival curve: P(session reaches >= k events)
    for k = 1..10 — the engagement funnel's denominator-safe form.
    Sessionization as in q:session_labels; exact counts."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("long").alias("t"), "event_id")
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    new_s = F.when(
        (F.col("t") - F.lag("t").over(w) > 1800)
        | F.lag("t").over(w).isNull(), 1).otherwise(0)
    sess = (ev.withColumn("ns", new_s)
            .withColumn("sid", F.sum("ns").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)))
            .groupBy("user_id", "sid")
            .agg(F.count("*").alias("depth")))
    ks = spark.createDataFrame([(k,) for k in range(1, 11)], "k int")
    tot = sess.count()
    return (ks.crossJoin(sess)
            .groupBy("k")
            .agg(F.sum((F.col("depth") >= F.col("k")).cast("int"))
                 .alias("n_reaching"))
            .select("k", "n_reaching",
                    F.round(F.col("n_reaching") / F.lit(float(tot)), 6)
                    .alias("survival")))


_SESSION_DEPTH_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id
  FROM events),
s AS (
  SELECT *, CASE WHEN t - lag(t) OVER w > 1800
                   OR lag(t) OVER w IS NULL THEN 1 ELSE 0 END AS ns
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
g AS (
  SELECT user_id,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM s),
sess AS (
  SELECT user_id, sid, COUNT(*) AS depth FROM g GROUP BY 1, 2),
tot AS (SELECT COUNT(*) AS n FROM sess),
ks(k) AS (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10))
SELECT k, SUM(CASE WHEN depth >= k THEN 1 ELSE 0 END) AS n_reaching,
       round(SUM(CASE WHEN depth >= k THEN 1 ELSE 0 END) * 1.0
             / MIN(tot.n), 6) AS survival
FROM ks, sess, tot GROUP BY k
"""
query("session_depth_curve", q_session_depth_curve, _SESSION_DEPTH_ORACLE)


def q_price_stickiness(spark, sf_dir):
    """Price stickiness: share of both-year parts whose rounded unit
    price is UNCHANGED 1997 -> 1998, plus up/down move counts — menu-
    cost economics on the catalog.  Unit prices are the q:price_index
    6 dp rationals; comparisons exact."""
    li = (load_tables(spark, sf_dir)["lineitem"]
          .where(F.col("l_shipdate").between("1997-01-01",
                                             "1998-12-31"))
          .groupBy("l_partkey",
                   F.year(F.col("l_shipdate")).alias("yr"))
          .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"),
               F.sum((F.col("l_extendedprice")
                      .cast("decimal(18,2)") * 100).cast("long"))
               .cast("long").alias("spend")))
    p = F.round(F.col("spend") / F.col("q"), 6).cast("decimal(28,6)")
    a = li.where(F.col("yr") == 1997).select(
        "l_partkey", p.alias("p0"))
    b = li.where(F.col("yr") == 1998).select(
        "l_partkey", p.alias("p1"))
    j = a.join(b, "l_partkey")
    return j.agg(
        F.count("*").alias("n_parts"),
        F.sum((F.col("p1") == F.col("p0")).cast("int"))
        .alias("unchanged"),
        F.sum((F.col("p1") > F.col("p0")).cast("int")).alias("up"),
        F.sum((F.col("p1") < F.col("p0")).cast("int")).alias("down"),
        F.round(F.sum((F.col("p1") == F.col("p0")).cast("int"))
                / F.count("*"), 6).alias("sticky_share"))


_PRICE_STICKY_ORACLE = """
WITH li AS (
  SELECT l_partkey, EXTRACT(year FROM l_shipdate) AS yr,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS spend
  FROM lineitem
  WHERE l_shipdate BETWEEN DATE '1997-01-01' AND DATE '1998-12-31'
  GROUP BY 1, 2),
a AS (SELECT l_partkey,
             CAST(round(spend * 1.0 / q, 6) AS DECIMAL(28,6)) AS p0
      FROM li WHERE yr = 1997),
b AS (SELECT l_partkey,
             CAST(round(spend * 1.0 / q, 6) AS DECIMAL(28,6)) AS p1
      FROM li WHERE yr = 1998),
j AS (SELECT * FROM a JOIN b USING (l_partkey))
SELECT COUNT(*) AS n_parts,
       SUM(CASE WHEN p1 = p0 THEN 1 ELSE 0 END) AS unchanged,
       SUM(CASE WHEN p1 > p0 THEN 1 ELSE 0 END) AS up,
       SUM(CASE WHEN p1 < p0 THEN 1 ELSE 0 END) AS down,
       round(SUM(CASE WHEN p1 = p0 THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS sticky_share
FROM j
"""
query("price_stickiness", q_price_stickiness, _PRICE_STICKY_ORACLE)


def q_roc_curve(spark, sf_dir):
    """ROC curve of a deterministic classifier (score = discount,
    outcome = item returned): one (threshold, tpr, fpr) row per
    distinct score.  Scalable shape: the full fact table collapses to
    an 11-row (score, tp, fp) contingency by ONE map-side-combinable
    groupBy; the cumulative window runs on that tiny frame (the
    partitionless window here is over ≤ #distinct-scores rows, not the
    dataset — cf. the q:global_shuffle note).  All counts integer;
    one division at the end."""
    from pyspark.sql import Window as W
    li = load_tables(spark, sf_dir)["lineitem"].select(
        F.round(F.col("l_discount") * 100).cast("int").alias("thr_pct"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"))
    by = (li.groupBy("thr_pct")
          .agg(F.sum("y").alias("tp_s"),
               F.sum(1 - F.col("y")).alias("fp_s")))
    tot = by.agg(F.sum("tp_s").alias("pos"), F.sum("fp_s").alias("neg"))
    w = W.orderBy(F.col("thr_pct").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow)
    return (by.withColumn("cum_tp", F.sum("tp_s").over(w))
            .withColumn("cum_fp", F.sum("fp_s").over(w))
            .crossJoin(F.broadcast(tot))
            .select("thr_pct", "cum_tp", "cum_fp",
                    F.round(F.col("cum_tp") / F.col("pos"), 6).alias("tpr"),
                    F.round(F.col("cum_fp") / F.col("neg"), 6).alias("fpr")))


_ROC_ORACLE = """
WITH li AS (
  SELECT CAST(round(l_discount * 100) AS INT) AS thr_pct,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem),
by_s AS (
  SELECT thr_pct, SUM(y) AS tp_s, SUM(1 - y) AS fp_s
  FROM li GROUP BY 1),
tot AS (SELECT SUM(tp_s) AS pos, SUM(fp_s) AS neg FROM by_s),
cum AS (
  SELECT thr_pct,
         SUM(tp_s) OVER (ORDER BY thr_pct DESC
                         ROWS UNBOUNDED PRECEDING) AS cum_tp,
         SUM(fp_s) OVER (ORDER BY thr_pct DESC
                         ROWS UNBOUNDED PRECEDING) AS cum_fp
  FROM by_s)
SELECT thr_pct, cum_tp, cum_fp,
       round(cum_tp * 1.0 / pos, 6) AS tpr,
       round(cum_fp * 1.0 / neg, 6) AS fpr
FROM cum, tot
"""
query("roc_curve", q_roc_curve, _ROC_ORACLE)


def q_pr_curve(spark, sf_dir):
    """Precision-recall curve for the same classifier as q:roc_curve —
    one (threshold, precision, recall) row per distinct score, plus
    the positive-prevalence baseline each precision should beat.
    Same contingency-collapse shape (exact integers, final division
    only)."""
    from pyspark.sql import Window as W
    li = load_tables(spark, sf_dir)["lineitem"].select(
        F.round(F.col("l_discount") * 100).cast("int").alias("thr_pct"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"))
    by = (li.groupBy("thr_pct")
          .agg(F.sum("y").alias("tp_s"), F.count("*").alias("n_s")))
    tot = by.agg(F.sum("tp_s").alias("pos"), F.sum("n_s").alias("n"))
    w = W.orderBy(F.col("thr_pct").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow)
    return (by.withColumn("cum_tp", F.sum("tp_s").over(w))
            .withColumn("cum_n", F.sum("n_s").over(w))
            .crossJoin(F.broadcast(tot))
            .select("thr_pct",
                    F.round(F.col("cum_tp") / F.col("cum_n"), 6)
                    .alias("precision"),
                    F.round(F.col("cum_tp") / F.col("pos"), 6)
                    .alias("recall"),
                    F.round(F.col("pos") / F.col("n"), 6)
                    .alias("prevalence")))


_PR_ORACLE = """
WITH li AS (
  SELECT CAST(round(l_discount * 100) AS INT) AS thr_pct,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem),
by_s AS (
  SELECT thr_pct, SUM(y) AS tp_s, COUNT(*) AS n_s FROM li GROUP BY 1),
tot AS (SELECT SUM(tp_s) AS pos, SUM(n_s) AS n FROM by_s),
cum AS (
  SELECT thr_pct,
         SUM(tp_s) OVER (ORDER BY thr_pct DESC
                         ROWS UNBOUNDED PRECEDING) AS cum_tp,
         SUM(n_s) OVER (ORDER BY thr_pct DESC
                        ROWS UNBOUNDED PRECEDING) AS cum_n
  FROM by_s)
SELECT thr_pct,
       round(cum_tp * 1.0 / cum_n, 6) AS precision,
       round(cum_tp * 1.0 / pos, 6) AS recall,
       round(pos * 1.0 / n, 6) AS prevalence
FROM cum, tot
"""
query("pr_curve", q_pr_curve, _PR_ORACLE)


def q_brier_calibration(spark, sf_dir):
    """Calibration-by-decile + per-bin Brier score for a fixed-weight
    linear scorer p = (45*discount_pct + 9*quantity + 50)/1000 against
    the returned-flag outcome.  The score is built in INTEGER
    milli-units (p_millis) so binning and the (p-y)^2 sums are exact
    decimals on both engines; doubles appear only in the final rounded
    divisions.  One groupBy over the fact table — map-side combinable,
    no shuffle beyond the 10-bin aggregate."""
    li = load_tables(spark, sf_dir)["lineitem"].select(
        (F.round(F.col("l_discount") * 100).cast("int") * 45
         + F.col("l_quantity").cast("int") * 9 + 50).alias("p_millis"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"))
    li = li.withColumn("bin", F.floor(F.col("p_millis") / 100).cast("int"))
    p = (F.col("p_millis").cast("decimal(10,6)") / 1000)
    sq = (p - F.col("y")).cast("decimal(16,10)")
    return (li.withColumn("p", p).withColumn("sq", sq * sq)
            .groupBy("bin")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("p") / F.count("*"), 6)
                 .cast("double").alias("mean_pred"),
                 F.round(F.sum("y") / F.count("*"), 6)
                 .cast("double").alias("event_rate"),
                 F.round(F.sum("sq") / F.count("*"), 6)
                 .cast("double").alias("brier")))


_BRIER_ORACLE = """
WITH li AS (
  SELECT CAST(round(l_discount * 100) AS INT) * 45
         + CAST(l_quantity AS INT) * 9 + 50 AS p_millis,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem),
b AS (
  SELECT CAST(floor(p_millis / 100.0) AS INT) AS bin,
         CAST(p_millis AS DECIMAL(10,6)) / 1000 AS p, y
  FROM li)
SELECT bin, COUNT(*) AS n,
       round(SUM(p) * 1.0 / COUNT(*), 6) AS mean_pred,
       round(SUM(y) * 1.0 / COUNT(*), 6) AS event_rate,
       round(SUM(CAST(p - y AS DECIMAL(16,10))
                 * CAST(p - y AS DECIMAL(16,10))) * 1.0 / COUNT(*), 6)
       AS brier
FROM b GROUP BY 1
"""
query("brier_calibration", q_brier_calibration, _BRIER_ORACLE)


def q_butterfly_count(spark, sf_dir):
    """Bipartite butterfly census of the customer-part purchase graph:
    edges, wedges (part pairs sharing a customer), and butterflies
    (2x2 bicliques) — the bipartite clustering primitives.

    Scale shape: pairs are generated from the CUSTOMER side only
    (degree ≤ catalog fanout, never part popularity), a degree cap
    mirrors the q:copurchase_pairs skew guard (hot hubs excluded
    identically in both engines — normally empty on TPC-H), and the
    per-pair counts collapse by map-side-combinable groupBys; only the
    wedge stream shuffles."""
    n_part = spark.sparkContext.defaultParallelism * 2
    t = load_tables(spark, sf_dir)
    cp = (t["lineitem"].select("l_orderkey", "l_partkey")
          .join(t["orders"].select("o_orderkey", "o_custkey"),
                F.col("l_orderkey") == F.col("o_orderkey"))
          .select(F.col("o_custkey").alias("c"),
                  F.col("l_partkey").alias("p"))
          .distinct())
    deg = cp.groupBy("c").agg(F.count("*").alias("d"))
    keep = deg.where(F.col("d") <= 200)
    cpk = (cp.join(keep.select("c"), "c", "left_semi")
           .repartition(n_part, "c"))
    a, b = cpk.alias("a"), cpk.alias("b")
    pairs = (a.join(b, (F.col("a.c") == F.col("b.c"))
                    & (F.col("a.p") < F.col("b.p")))
             .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
             .agg(F.count("*").alias("s")))
    side = keep.agg(
        F.sum("d").alias("n_edges"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"))
    bf = pairs.agg(
        F.coalesce(F.sum(F.expr("s * (s - 1) div 2")), F.lit(0))
        .alias("n_butterflies"))
    return side.crossJoin(F.broadcast(bf))


_BUTTERFLY_ORACLE = """
WITH cp AS (
  SELECT DISTINCT o_custkey AS c, l_partkey AS p
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
deg AS (SELECT c, COUNT(*) AS d FROM cp GROUP BY 1),
keep AS (SELECT c, d FROM deg WHERE d <= 200),
cpk AS (SELECT cp.c, cp.p FROM cp JOIN keep USING (c)),
pairs AS (
  SELECT a.p AS pa, b.p AS pb, COUNT(*) AS s
  FROM cpk a JOIN cpk b ON a.c = b.c AND a.p < b.p
  GROUP BY 1, 2)
SELECT (SELECT CAST(SUM(d) AS BIGINT) FROM keep) AS n_edges,
       (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM keep)
         AS n_wedges,
       (SELECT CAST(COALESCE(SUM(s * (s - 1) // 2), 0) AS BIGINT)
        FROM pairs) AS n_butterflies
"""
query("butterfly_count", q_butterfly_count, _BUTTERFLY_ORACLE)


def q_diameter_sweep(spark, sf_dir):
    """Double-sweep diameter lower bound of the Region-Nation-Customer-
    Order graph: BFS from the ASIA region node, hop to the farthest
    node found (ties by uid), BFS again — ecc(far) bounds the true
    diameter from below (exact on trees, and this subgraph is a
    forest of region stars).  Two frontier BFS passes; each round
    shuffles only the new frontier.  The argmax pick is a 1-row
    driver scalar, not a collect of the reach set."""
    t = load_tables(spark, sf_dir)
    seed = (t["region"].where(F.col("r_name") == "ASIA")
            .select(F.concat(F.lit("Region:"),
                             F.col("r_regionkey")).alias("uid")))
    g = tpch_graph(spark, sf_dir)
    edges = g.edges_df.where(
        F.col("kind").isin("InRegion", "FromNation", "Placed"))
    d1 = graph_algos.bfs_distances(edges, seed, max_depth=6,
                                   direction="both")
    far = d1.orderBy(F.col("dist").desc(), F.col("uid")).first()
    seed2 = spark.createDataFrame([(far["uid"],)], "uid string")
    d2 = graph_algos.bfs_distances(edges, seed2, max_depth=8,
                                   direction="both")
    lb = d2.agg(F.max("dist")).first()[0]
    return spark.createDataFrame(
        [(far["uid"], int(far["dist"]), int(lb))],
        "far_uid string, ecc_start int, diameter_lb int")


_DIAMETER_SWEEP_ORACLE = """
WITH RECURSIVE
ed(a, b) AS (
  SELECT 'Nation:' || CAST(n_nationkey AS VARCHAR),
         'Region:' || CAST(n_regionkey AS VARCHAR) FROM nation
  UNION ALL
  SELECT 'Region:' || CAST(n_regionkey AS VARCHAR),
         'Nation:' || CAST(n_nationkey AS VARCHAR) FROM nation
  UNION ALL
  SELECT 'Customer:' || CAST(c_custkey AS VARCHAR),
         'Nation:' || CAST(c_nationkey AS VARCHAR) FROM customer
  UNION ALL
  SELECT 'Nation:' || CAST(c_nationkey AS VARCHAR),
         'Customer:' || CAST(c_custkey AS VARCHAR) FROM customer
  UNION ALL
  SELECT 'Customer:' || CAST(o_custkey AS VARCHAR),
         'Order:' || CAST(o_orderkey AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'Order:' || CAST(o_orderkey AS VARCHAR),
         'Customer:' || CAST(o_custkey AS VARCHAR) FROM orders
),
w1(uid, d) AS (
  SELECT 'Region:' || CAST(r_regionkey AS VARCHAR), 0
  FROM region WHERE r_name = 'ASIA'
  UNION
  SELECT ed.b, w1.d + 1 FROM w1 JOIN ed ON ed.a = w1.uid
  WHERE w1.d < 6),
d1 AS (SELECT uid, MIN(d) AS d FROM w1 GROUP BY uid),
far AS (SELECT uid, d FROM d1 ORDER BY d DESC, uid LIMIT 1),
w2(uid, d) AS (
  SELECT uid, 0 FROM far
  UNION
  SELECT ed.b, w2.d + 1 FROM w2 JOIN ed ON ed.a = w2.uid
  WHERE w2.d < 8),
d2 AS (SELECT uid, MIN(d) AS d FROM w2 GROUP BY uid)
SELECT (SELECT uid FROM far) AS far_uid,
       CAST((SELECT d FROM far) AS INT) AS ecc_start,
       CAST((SELECT MAX(d) FROM d2) AS INT) AS diameter_lb
"""
query("diameter_sweep", q_diameter_sweep, _DIAMETER_SWEEP_ORACLE)


def q_eigenvector_parts(spark, sf_dir):
    """Eigenvector centrality (top 20) of the Part-Supplier bipartite
    supply graph — the classic centrality missing from the katz/
    pagerank/HITS family: influence weighted by neighbors' influence.
    8 unnormalized power-iteration rounds (edge list partitioned once,
    only the node-sized score frame shuffles per round), max-normalized
    at the end; the DuckDB oracle replays the identical unrolled
    recursion.  Ordering on round(score, 6) + uid so float-summation
    noise cannot flip the selection."""
    li = (load_tables(spark, sf_dir)["lineitem"]
          .select(F.concat(F.lit("Part:"), F.col("l_partkey"))
                  .alias("startuid"),
                  F.concat(F.lit("Supplier:"), F.col("l_suppkey"))
                  .alias("enduid"))
          .distinct())
    ev = graph_algos.eigenvector_centrality(li, iters=8)
    return (ev.select("uid", F.round("score", 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col("uid")).limit(20))


_EIGENVECTOR_ORACLE = """
WITH RECURSIVE
fwd(a, b) AS (
  SELECT DISTINCT 'Part:' || CAST(l_partkey AS VARCHAR),
         'Supplier:' || CAST(l_suppkey AS VARCHAR) FROM lineitem),
ed(a, b) AS (
  SELECT a, b FROM fwd UNION ALL SELECT b, a FROM fwd),
ev(iter, uid, x) AS (
  SELECT 0, a, 1.0::DOUBLE FROM (SELECT DISTINCT a FROM ed)
  UNION ALL
  SELECT e.iter + 1, ed.b, SUM(e.x)
  FROM ev e JOIN ed ON e.uid = ed.a
  WHERE e.iter < 8
  GROUP BY e.iter + 1, ed.b),
fin AS (SELECT uid, x FROM ev WHERE iter = 8),
m AS (SELECT MAX(x) AS mx FROM fin)
SELECT uid, round(x / mx, 6) AS score
FROM fin, m
ORDER BY score DESC, uid LIMIT 20
"""
query("eigenvector_parts", q_eigenvector_parts, _EIGENVECTOR_ORACLE)


def q_unpivot_metrics(spark, sf_dir):
    """Wide→long UNPIVOT (melt): per-region scalar metrics
    (customers, suppliers, account-balance cents) unpivoted to
    (region, metric, value) rows — Spark's native ``unpivot``
    operator, DuckDB's UNION-ALL twin.  Exact integers throughout."""
    t = load_tables(spark, sf_dir)
    nat = t["nation"].select("n_nationkey", "n_regionkey")
    cust = (t["customer"].join(F.broadcast(nat),
                               F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy(F.col("n_regionkey").alias("crk"))
            .agg(F.count("*").alias("n_customers"),
                 F.sum((F.col("c_acctbal").cast("decimal(18,2)") * 100)
                       .cast("long")).alias("acctbal_cents")))
    supp = (t["supplier"].join(F.broadcast(nat),
                               F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy(F.col("n_regionkey").alias("srk"))
            .agg(F.count("*").alias("n_suppliers")))
    wide = (t["region"].select(F.col("r_regionkey"), F.col("r_name"))
            .join(cust, F.col("r_regionkey") == F.col("crk"), "left")
            .join(supp, F.col("r_regionkey") == F.col("srk"), "left")
            .select("r_name",
                    F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
                    F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
                    F.coalesce("acctbal_cents", F.lit(0))
                    .alias("acctbal_cents")))
    return wide.unpivot("r_name",
                        ["n_customers", "n_suppliers", "acctbal_cents"],
                        "metric", "value")


_UNPIVOT_ORACLE = """
WITH nat AS (SELECT n_nationkey, n_regionkey FROM nation),
cust AS (
  SELECT n_regionkey, COUNT(*) AS n_customers,
         CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS acctbal_cents
  FROM customer JOIN nat ON c_nationkey = n_nationkey GROUP BY 1),
supp AS (
  SELECT n_regionkey, COUNT(*) AS n_suppliers
  FROM supplier JOIN nat ON s_nationkey = n_nationkey GROUP BY 1),
wide AS (
  SELECT r_name,
         COALESCE(n_customers, 0) AS n_customers,
         COALESCE(n_suppliers, 0) AS n_suppliers,
         COALESCE(acctbal_cents, 0) AS acctbal_cents
  FROM region
  LEFT JOIN cust ON r_regionkey = cust.n_regionkey
  LEFT JOIN supp ON r_regionkey = supp.n_regionkey)
SELECT r_name, 'n_customers' AS metric,
       CAST(n_customers AS BIGINT) AS value FROM wide
UNION ALL
SELECT r_name, 'n_suppliers', CAST(n_suppliers AS BIGINT) FROM wide
UNION ALL
SELECT r_name, 'acctbal_cents', CAST(acctbal_cents AS BIGINT) FROM wide
"""
query("unpivot_metrics", q_unpivot_metrics, _UNPIVOT_ORACLE)


def q_bitmap_distinct(spark, sf_dir):
    """EXACT distinct users per event type via mergeable bitmap words
    (the Druid/ClickHouse bitmap-index trick): user ids chunk into
    32-bit words (word = id div 32, bit = id mod 32), bit_or is the
    mergeable partial aggregate, popcount-sum the final.  Unlike
    count_distinct's expand-dedup-count, the shuffle carries one word
    per (type, id-range-of-32) — dense id spaces compress ~32×, and
    the partial bit_or combines map-side.  Oracle: plain
    COUNT(DISTINCT) — same exact semantics."""
    ev = _events(spark, sf_dir)
    words = (ev.select("event_type",
                       (F.col("user_id") / 32).cast("long").alias("word"),
                       F.expr("shiftleft(CAST(1 AS BIGINT), "
                              "CAST(user_id % 32 AS INT))").alias("bit"))
             .groupBy("event_type", "word")
             .agg(F.expr("bit_or(bit)").alias("bm")))
    return (words.groupBy("event_type")
            .agg(F.sum(F.expr("bit_count(bm)")).alias("n_users")))


_BITMAP_DISTINCT_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
"""
query("bitmap_distinct", q_bitmap_distinct, _BITMAP_DISTINCT_ORACLE)


def q_croston_demand(spark, sf_dir):
    """Croston's method for intermittent demand, per part brand:
    exponential smoothing (α = 0.1) of nonzero-demand-day sizes and of
    inter-demand intervals; forecast rate = size / interval.  The
    smoothing is a LEFT FOLD over the day-ordered demand sequence —
    identical double-op order in Spark's ``aggregate`` and DuckDB's
    ``list_reduce`` (first element is the classic Croston init), so no
    cross-libm pow and no associativity drift.  Per-brand sequences
    are bounded by the calendar (one element per active day), so the
    collect_list is group-local, never driver-side."""
    t = load_tables(spark, sf_dir)
    d = (t["lineitem"]
         .join(F.broadcast(t["part"].select("p_partkey", "p_brand")),
               F.col("l_partkey") == F.col("p_partkey"))
         .groupBy(F.col("p_brand").alias("brand"),
                  F.col("l_shipdate").cast("date").alias("day"))
         .agg(F.sum(F.col("l_quantity").cast("long")).alias("q")))
    g = (d.groupBy("brand")
         .agg(F.sort_array(F.collect_list(F.struct("day", "q")))
              .alias("arr"),
              F.count("*").alias("n_demand_days")))
    g = (g.withColumn("sizes",
                      F.expr("transform(arr, s -> CAST(s.q AS DOUBLE))"))
         .withColumn("ints", F.expr(
             "transform(sequence(2, size(arr)), i -> CAST(datediff("
             "element_at(arr, i).day, element_at(arr, i-1).day)"
             " AS DOUBLE))")))
    fold = ("aggregate(slice({c}, 2, size({c}) - 1), "
            "element_at({c}, 1), "
            "(acc, x) -> CAST(0.9 AS DOUBLE) * acc"
            " + CAST(0.1 AS DOUBLE) * x)")
    return (g.where(F.col("n_demand_days") >= 2)
            .select("brand", "n_demand_days",
                    F.round(F.expr(fold.format(c="sizes")), 6)
                    .alias("smoothed_size"),
                    F.round(F.expr(fold.format(c="ints")), 6)
                    .alias("smoothed_interval"),
                    F.round(F.expr(fold.format(c="sizes"))
                            / F.expr(fold.format(c="ints")), 6)
                    .alias("demand_rate")))


_CROSTON_ORACLE = """
WITH d AS (
  SELECT p_brand AS brand, CAST(l_shipdate AS DATE) AS day,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS q
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2),
g AS (
  SELECT brand, list(q ORDER BY day) AS sizes,
         list(day ORDER BY day) AS days,
         COUNT(*) AS n_demand_days
  FROM d GROUP BY 1),
i AS (
  SELECT brand, sizes, n_demand_days,
         list_transform(range(2, n_demand_days + 1),
                        i -> CAST(days[i] - days[i-1] AS DOUBLE)) AS ints
  FROM g WHERE n_demand_days >= 2)
SELECT brand, n_demand_days,
       round(list_reduce(sizes, (acc, x) ->
             0.9::DOUBLE * acc + 0.1::DOUBLE * x), 6) AS smoothed_size,
       round(list_reduce(ints, (acc, x) ->
             0.9::DOUBLE * acc + 0.1::DOUBLE * x), 6)
         AS smoothed_interval,
       round(list_reduce(sizes, (acc, x) ->
             0.9::DOUBLE * acc + 0.1::DOUBLE * x)
             / list_reduce(ints, (acc, x) ->
               0.9::DOUBLE * acc + 0.1::DOUBLE * x), 6) AS demand_rate
FROM i
"""
query("croston_demand", q_croston_demand, _CROSTON_ORACLE)


def q_attribution_time_decay(spark, sf_dir):
    """Time-decay multi-touch attribution: each purchase's value is
    split over the user's click/view touches in the prior 7 days with
    rational decay w = 1 / (1 + Δdays) (no cross-libm pow), weights
    normalized per purchase; 'direct' absorbs untouched purchases.
    The touch join is keyed on user_id with a residual time band —
    per-user fanout, no cross join; credit sums are grouped once."""
    ev = _events(spark, sf_dir)
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("pid"),
                         F.col("user_id").alias("pu"),
                         F.col("ts").cast("long").alias("pt"),
                         F.col("value").cast("decimal(18,2)")
                         .alias("val")))
    touches = (ev.where(F.col("event_type").isin("click", "view"))
               .select(F.col("user_id").alias("tu"),
                       F.col("ts").cast("long").alias("tt"),
                       F.col("event_type").alias("channel")))
    j = purchases.join(
        touches, (F.col("pu") == F.col("tu"))
        & (F.col("tt") < F.col("pt"))
        & (F.col("tt") >= F.col("pt") - 7 * 86400))
    wt = 1 / (1 + (F.col("pt") - F.col("tt")) / F.lit(86400.0))
    per = (j.withColumn("w", wt)
           .groupBy("pid", "channel")
           .agg(F.sum("w").alias("w_ch"),
                F.max(F.col("val").cast("double")).alias("val")))
    tot = per.groupBy(F.col("pid").alias("pid2")).agg(
        F.sum("w_ch").alias("w_tot"))
    credited = (per.join(tot, F.col("pid") == F.col("pid2"))
                .select("channel",
                        (F.col("val") * F.col("w_ch") / F.col("w_tot"))
                        .alias("credit")))
    direct = (purchases.join(per.select("pid").distinct(),
                             "pid", "left_anti")
              .select(F.lit("direct").alias("channel"),
                      F.col("val").cast("double").alias("credit")))
    return (credited.unionByName(direct)
            .groupBy("channel")
            .agg(F.round(F.sum("credit"), 4).alias("credited_value")))


_TIME_DECAY_ORACLE = """
WITH purchases AS (
  SELECT event_id AS pid, user_id AS pu,
         CAST(floor(epoch(ts)) AS BIGINT) AS pt,
         CAST(value AS DECIMAL(18,2)) AS val
  FROM events WHERE event_type = 'purchase'),
touches AS (
  SELECT user_id AS tu, CAST(floor(epoch(ts)) AS BIGINT) AS tt,
         event_type AS channel
  FROM events WHERE event_type IN ('click', 'view')),
j AS (
  SELECT pid, channel, val,
         1 / (1 + (pt - tt) / 86400.0) AS w
  FROM purchases JOIN touches
    ON pu = tu AND tt < pt AND tt >= pt - 7 * 86400),
per AS (
  SELECT pid, channel, SUM(w) AS w_ch,
         MAX(CAST(val AS DOUBLE)) AS val
  FROM j GROUP BY 1, 2),
tot AS (SELECT pid, SUM(w_ch) AS w_tot FROM per GROUP BY 1),
credited AS (
  SELECT channel, per.val * w_ch / w_tot AS credit
  FROM per JOIN tot USING (pid)),
direct AS (
  SELECT 'direct' AS channel, CAST(val AS DOUBLE) AS credit
  FROM purchases
  WHERE pid NOT IN (SELECT DISTINCT pid FROM per))
SELECT channel, round(SUM(credit), 4) AS credited_value
FROM (SELECT * FROM credited UNION ALL SELECT * FROM direct)
GROUP BY 1
"""
query("attribution_time_decay", q_attribution_time_decay, _TIME_DECAY_ORACLE)


def q_moments_by_segment(spark, sf_dir):
    """Distribution profiling per market segment: population skewness
    and excess kurtosis of customer account balances from EXACT
    decimal power sums (cents^k, k ≤ 4, decimal(38,0) — no float
    accumulation, no engine-specific bias correction), doubles only in
    the final moment algebra.  One map-side-combinable groupBy."""
    c = (load_tables(spark, sf_dir)["customer"]
         .select("c_mktsegment",
                 (F.col("c_acctbal").cast("decimal(18,2)") * 100)
                 .cast("decimal(38,0)").alias("v")))
    g = (c.groupBy("c_mktsegment")
         .agg(F.count("*").alias("n"),
              F.sum("v").alias("s1"),
              F.sum(F.col("v") * F.col("v")).alias("s2"),
              F.sum(F.col("v") * F.col("v") * F.col("v")).alias("s3"),
              F.sum(F.col("v") * F.col("v") * F.col("v") * F.col("v"))
              .alias("s4")))
    n = F.col("n").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    s3, s4 = F.col("s3").cast("double"), F.col("s4").cast("double")
    m = s1 / n
    m2 = s2 / n - m * m
    m3 = s3 / n - 3 * m * s2 / n + 2 * m * m * m
    m4 = (s4 / n - 4 * m * s3 / n + 6 * m * m * s2 / n
          - 3 * m * m * m * m)
    # variance is ~1e11 cents² — emit it as an EXACT integer
    # ((n·s2 − s1²) div n²) rather than a rounded double: at this
    # magnitude the decimal→double cast can differ by one ulp between
    # engines and flip the rounding (BASELINE.md determinism lessons)
    var_exact = F.expr(
        "(CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1) "
        "div (CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))")
    return g.select(
        "c_mktsegment", "n",
        var_exact.cast("long").alias("variance_cents2"),
        F.round(m3 / F.sqrt(m2 * m2 * m2), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3, 6).alias("excess_kurtosis"))


_MOMENTS_ORACLE = """
WITH c AS (
  SELECT c_mktsegment,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS HUGEINT) AS v
  FROM customer),
g AS (
  SELECT c_mktsegment, COUNT(*) AS n,
         SUM(v) AS s1, SUM(v * v) AS s2, SUM(v * v * v) AS s3,
         SUM(v * v * v * v) AS s4
  FROM c GROUP BY 1),
d AS (
  SELECT c_mktsegment, n,
         CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1,
         CAST(s2 AS DOUBLE) AS s2, CAST(s3 AS DOUBLE) AS s3,
         CAST(s4 AS DOUBLE) AS s4
  FROM g),
mm AS (
  SELECT c_mktsegment, n, s1 / nd AS m,
         s2 / nd - (s1 / nd) * (s1 / nd) AS m2,
         s3 / nd - 3 * (s1 / nd) * s2 / nd
           + 2 * (s1 / nd) * (s1 / nd) * (s1 / nd) AS m3,
         s4 / nd - 4 * (s1 / nd) * s3 / nd
           + 6 * (s1 / nd) * (s1 / nd) * s2 / nd
           - 3 * (s1 / nd) * (s1 / nd) * (s1 / nd) * (s1 / nd) AS m4
  FROM d)
SELECT mm.c_mktsegment, mm.n,
       CAST((g.n * g.s2 - g.s1 * g.s1) // (g.n * g.n) AS BIGINT)
         AS variance_cents2,
       round(m3 / sqrt(m2 * m2 * m2), 6) AS skewness,
       round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis
FROM mm JOIN g ON mm.c_mktsegment = g.c_mktsegment
"""
query("moments_by_segment", q_moments_by_segment, _MOMENTS_ORACLE)


def q_lorenz_curve(spark, sf_dir):
    """Lorenz curve of customer lifetime spend in deciles: cumulative
    share of revenue held by the bottom d/10 of customers — the curve
    behind q:gini_revenue.  Decile by ntile over exact cent totals
    (ties broken by custkey for a unique assignment); shares are
    integer-cent ratios rounded once."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    spend = (o.groupBy("o_custkey")
             .agg(F.sum((F.col("o_totalprice").cast("decimal(18,2)")
                         * 100).cast("long")).alias("cents")))
    d = spend.withColumn(
        "decile", F.ntile(10).over(W.orderBy("cents", "o_custkey")))
    per = (d.groupBy("decile")
           .agg(F.sum("cents").alias("c"), F.count("*").alias("n")))
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = per.agg(F.sum("c").alias("t"), F.sum("n").alias("tn"))
    return (per.withColumn("cum_c", F.sum("c").over(w))
            .withColumn("cum_n", F.sum("n").over(w))
            .crossJoin(F.broadcast(tot))
            .select("decile",
                    F.round(F.col("cum_n") / F.col("tn"), 6)
                    .alias("pop_share"),
                    F.round(F.col("cum_c") / F.col("t"), 6)
                    .alias("revenue_share")))


_LORENZ_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
d AS (
  SELECT cents, ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
  FROM spend),
per AS (
  SELECT decile, SUM(cents) AS c, COUNT(*) AS n FROM d GROUP BY 1),
tot AS (SELECT SUM(c) AS t, SUM(n) AS tn FROM per),
cum AS (
  SELECT decile,
         SUM(c) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
           AS cum_c,
         SUM(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
           AS cum_n
  FROM per)
SELECT decile, round(cum_n * 1.0 / tn, 6) AS pop_share,
       round(cum_c * 1.0 / t, 6) AS revenue_share
FROM cum, tot
"""
query("lorenz_curve", q_lorenz_curve, _LORENZ_ORACLE)


def q_otif_rate(spark, sf_dir):
    """On-time fulfilment rate and mean lateness per order priority
    (the OTIF logistics KPI, restated for the fixture's reduced
    lineitem: on-time = line shipped within 30 days of order date;
    lateness averaged over late lines only).  Exact integer day
    arithmetic; the priority dimension broadcasts onto the fact
    scan — single groupBy, one shuffle of 5 groups."""
    t = load_tables(spark, sf_dir)
    li = (t["lineitem"].select("l_orderkey", "l_shipdate")
          .join(t["orders"].select("o_orderkey", "o_orderdate",
                                   "o_orderpriority"),
                F.col("l_orderkey") == F.col("o_orderkey"))
          .select("o_orderpriority",
                  (F.datediff(F.col("l_shipdate").cast("date"),
                              F.col("o_orderdate").cast("date")) - 30)
                  .alias("late_days")))
    return (li.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_lines"),
                 F.sum((F.col("late_days") <= 0).cast("int"))
                 .alias("on_time"),
                 F.round(F.sum((F.col("late_days") <= 0).cast("int"))
                         / F.count("*"), 6).alias("otif_rate"),
                 F.round(F.sum(F.when(F.col("late_days") > 0,
                                      F.col("late_days")).otherwise(0))
                         / F.nullif(F.sum((F.col("late_days") > 0)
                                          .cast("int")), F.lit(0)), 6)
                 .alias("mean_late_days")))


_OTIF_ORACLE = """
WITH li AS (
  SELECT o_orderpriority,
         CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) - 30
           AS late_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
SELECT o_orderpriority, COUNT(*) AS n_lines,
       SUM(CASE WHEN late_days <= 0 THEN 1 ELSE 0 END) AS on_time,
       round(SUM(CASE WHEN late_days <= 0 THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS otif_rate,
       round(SUM(CASE WHEN late_days > 0 THEN late_days ELSE 0 END)
             * 1.0 / NULLIF(SUM(CASE WHEN late_days > 0 THEN 1
                                     ELSE 0 END), 0), 6)
         AS mean_late_days
FROM li GROUP BY 1
"""
query("otif_rate", q_otif_rate, _OTIF_ORACLE)


def q_embedding_norm_outliers(spark, sf_dir):
    """Norm-based embedding sanity screen: vectors whose squared norm
    deviates from the corpus median by > 3×MAD (the robust-zscore
    gate run before indexing a vector store).  Norms on the 1e3
    integer grid (q:mutual_knn pattern) so they are EXACT longs; the
    median/MAD order statistics interpolate on .5 grains — exact in
    doubles — so the 3×MAD comparison is engine-stable with no
    rounding at all.  Two tiny broadcast scalars; the corpus is
    scanned twice, never shuffled."""
    emb = _emb(spark, sf_dir)
    sq = F.aggregate(
        F.transform(F.col("embedding"),
                    lambda x: F.round(x.cast("double") * 1e3)
                    .cast("long")),
        F.lit(0).cast("long"), lambda acc, v: acc + v * v)
    q = emb.select("vec_id", sq.alias("sq_norm"))
    med = q.agg(F.expr("percentile(sq_norm, 0.5)").alias("med"))
    dev = (q.crossJoin(F.broadcast(med))
           .withColumn("ad", F.abs(F.col("sq_norm") - F.col("med"))))
    mad = dev.agg(F.expr("percentile(ad, 0.5)").alias("mad"))
    return (dev.crossJoin(F.broadcast(mad))
            .where(F.col("ad") > 3 * F.col("mad"))
            .select("vec_id", "sq_norm", F.col("ad").alias("abs_dev")))


_NORM_OUTLIER_ORACLE = """
WITH q AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(embedding, x ->
              CAST(round(CAST(x AS DOUBLE) * 1e3) AS BIGINT)
              * CAST(round(CAST(x AS DOUBLE) * 1e3) AS BIGINT)))
              AS BIGINT) AS sq_norm
  FROM embeddings),
med AS (SELECT quantile_cont(sq_norm, 0.5) AS med FROM q),
dev AS (SELECT vec_id, sq_norm, abs(sq_norm - med) AS ad FROM q, med),
mad AS (SELECT quantile_cont(ad, 0.5) AS mad FROM dev)
SELECT vec_id, sq_norm, ad AS abs_dev
FROM dev, mad WHERE ad > 3 * mad
"""
query("embedding_norm_outliers", q_embedding_norm_outliers,
      _NORM_OUTLIER_ORACLE)


def q_seasonal_decomposition(spark, sf_dir):
    """Additive weekday seasonality of daily revenue, classically
    decomposed: centered 7-day moving average as trend, per-weekday
    mean residual as the seasonal index.  EXACT integer path: daily
    cents are longs, the ×7-scaled residual (7·rev − Σ₇) avoids the
    division, and the single double division happens once per weekday
    group.  Full-window days only (count = 7) so edges don't bias."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(F.sum((F.col("o_totalprice").cast("decimal(18,2)")
                         * 100).cast("long")).alias("rev")))
    w = W.orderBy("day").rowsBetween(-3, 3)
    t = (daily.withColumn("s7", F.sum("rev").over(w))
         .withColumn("n7", F.count("*").over(w))
         .where(F.col("n7") == 7)
         .withColumn("resid7", 7 * F.col("rev") - F.col("s7")))
    return (t.groupBy(F.expr("weekday(day)").alias("wd"))
            .agg(F.count("*").alias("n_days"),
                 F.round(F.sum("resid7") / (7.0 * F.count("*")), 4)
                 .alias("seasonal_cents")))


_SEASONAL_DECOMP_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY 1),
t AS (
  SELECT day, rev,
         SUM(rev) OVER (ORDER BY day
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS s7,
         COUNT(*) OVER (ORDER BY day
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS n7
  FROM daily)
SELECT isodow(day) - 1 AS wd, COUNT(*) AS n_days,
       round(SUM(7 * rev - s7) / (7.0 * COUNT(*)), 4)
         AS seasonal_cents
FROM t WHERE n7 = 7 GROUP BY 1
"""
query("seasonal_decomposition", q_seasonal_decomposition,
      _SEASONAL_DECOMP_ORACLE)


def q_discount_qty_heatmap(spark, sf_dir):
    """2-D pricing heatmap: line count and mean revenue per
    (discount %, quantity decile-bucket) cell — the margin surface
    behind q:price_elasticity.  Exact integer bins, DECIMAL cent
    sums, one map-side-combinable groupBy of ≤ 55 cells."""
    li = load_tables(spark, sf_dir)["lineitem"].select(
        F.round(F.col("l_discount") * 100).cast("int").alias("disc_pct"),
        (F.least(F.col("l_quantity").cast("int") - 1, F.lit(49)) / 10)
        .cast("int").alias("qty_bucket"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"))
    return (li.groupBy("disc_pct", "qty_bucket")
            .agg(F.count("*").alias("n_lines"),
                 F.round(F.sum("cents") / (100.0 * F.count("*")), 4)
                 .alias("mean_revenue")))


_HEATMAP_ORACLE = """
WITH li AS (
  SELECT CAST(round(l_discount * 100) AS INT) AS disc_pct,
         CAST(least(CAST(l_quantity AS INT) - 1, 49) // 10 AS INT)
           AS qty_bucket,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM lineitem)
SELECT disc_pct, qty_bucket, COUNT(*) AS n_lines,
       round(SUM(cents) / (100.0 * COUNT(*)), 4) AS mean_revenue
FROM li GROUP BY 1, 2
"""
query("discount_qty_heatmap", q_discount_qty_heatmap, _HEATMAP_ORACLE)


def q_equi_depth_bounds(spark, sf_dir):
    """Equi-depth range-partition boundaries: the 15 interior
    16-quantiles of order value in exact cents — what a terasort-shaped
    range partitioner (cf. q:global_shuffle, q:exact_median_terasort)
    feeds its partitioner at scale.  Spark's exact ``percentile``
    aggregate == DuckDB ``quantile_cont``: linear interpolation on
    integer cents is .5-grained and engine-exact, so no rounding is
    needed."""
    o = load_tables(spark, sf_dir)["orders"].select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"))
    fr = [i / 16.0 for i in range(1, 16)]
    pct = o.agg(F.expr(
        "percentile(cents, array({}))".format(
            ", ".join(repr(f) for f in fr))).alias("b"))
    return (pct.select(F.posexplode("b").alias("q16", "boundary_cents"))
            .select((F.col("q16") + 1).alias("q16"), "boundary_cents"))


_EQUI_DEPTH_ORACLE = """
WITH o AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders),
pct AS (
  SELECT quantile_cont(cents, [{fracs}]) AS b FROM o)
SELECT CAST(i AS INT) AS q16, b[CAST(i AS INT)] AS boundary_cents
FROM pct, range(1, 16) t(i)
""".format(fracs=", ".join(repr(i / 16.0) for i in range(1, 16)))
query("equi_depth_bounds", q_equi_depth_bounds, _EQUI_DEPTH_ORACLE)


def q_lateness_audit(spark, sf_dir):
    """Streaming watermark audit replayed over the batch log: events
    arrive in event_id order; an event is 'late' when its event time
    lags the running max seen so far by > 10 minutes (i.e. a 10-min
    watermark would have dropped it).  Per event-type: late share and
    max observed lag — the number that sizes
    ``withWatermark`` before deploying the streaming job.  One
    running-max window over arrival order, one groupBy; exact integer
    seconds."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir).select(
        "event_id", "event_type", F.col("ts").cast("long").alias("t"))
    w = (W.orderBy("event_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    lag = F.greatest(F.max("t").over(w) - F.col("t"), F.lit(0))
    return (ev.withColumn("lag_s", lag)
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum((F.col("lag_s") > 600).cast("int"))
                 .alias("n_late"),
                 F.round(F.sum((F.col("lag_s") > 600).cast("int"))
                         / F.count("*"), 6).alias("late_share"),
                 F.max("lag_s").alias("max_lag_s")))


_LATENESS_ORACLE = """
WITH ev AS (
  SELECT event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events),
lagged AS (
  SELECT event_type,
         greatest(MAX(t) OVER (ORDER BY event_id
                               ROWS UNBOUNDED PRECEDING) - t, 0)
           AS lag_s
  FROM ev)
SELECT event_type, COUNT(*) AS n_events,
       SUM(CASE WHEN lag_s > 600 THEN 1 ELSE 0 END) AS n_late,
       round(SUM(CASE WHEN lag_s > 600 THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS late_share,
       MAX(lag_s) AS max_lag_s
FROM lagged GROUP BY 1
"""
query("lateness_audit", q_lateness_audit, _LATENESS_ORACLE)


def q_id_gaps(spark, sf_dir):
    """Gaps-and-islands over the FINISHED-order key sequence (the
    fixture's full key space is dense, so islands are carved by
    status): contiguous runs found by the key − row_number
    constant-difference trick (one sort, no self-join), gaps read off
    consecutive island borders.  Top 20 widest gaps, ties by start
    key.  Exact integers."""
    from pyspark.sql import Window as W
    o = (load_tables(spark, sf_dir)["orders"]
         .where(F.col("o_orderstatus") == "F")
         .select(F.col("o_orderkey").alias("k")).distinct())
    grp = (F.col("k")
           - F.row_number().over(W.orderBy("k"))).alias("g")
    islands = (o.withColumn("g", grp)
               .groupBy("g")
               .agg(F.min("k").alias("run_start"),
                    F.max("k").alias("run_end")))
    w2 = W.orderBy("run_start")
    return (islands
            .withColumn("next_start", F.lead("run_start").over(w2))
            .where(F.col("next_start").isNotNull())
            .select((F.col("run_end") + 1).alias("gap_start"),
                    (F.col("next_start") - 1).alias("gap_end"),
                    (F.col("next_start") - F.col("run_end") - 1)
                    .alias("gap_len"))
            .orderBy(F.col("gap_len").desc(), F.col("gap_start"))
            .limit(20))


_ID_GAPS_ORACLE = """
WITH o AS (SELECT DISTINCT o_orderkey AS k FROM orders
           WHERE o_orderstatus = 'F'),
isl AS (
  SELECT k, k - row_number() OVER (ORDER BY k) AS g FROM o),
islands AS (
  SELECT g, MIN(k) AS run_start, MAX(k) AS run_end
  FROM isl GROUP BY 1),
gaps AS (
  SELECT run_end + 1 AS gap_start,
         lead(run_start) OVER (ORDER BY run_start) - 1 AS gap_end,
         lead(run_start) OVER (ORDER BY run_start) - run_end - 1
           AS gap_len
  FROM islands)
SELECT gap_start, gap_end, gap_len
FROM gaps WHERE gap_end IS NOT NULL
ORDER BY gap_len DESC, gap_start LIMIT 20
"""
query("id_gaps", q_id_gaps, _ID_GAPS_ORACLE)


def q_newsvendor_stock(spark, sf_dir):
    """Newsvendor stocking level per brand at critical ratio 0.75
    (binary-exact fraction — the interpolated quantile stays
    engine-exact on integer daily demand), with expected per-day
    shortage and leftover units against that level.  Demand days
    aggregate exactly (longs); the quantile interpolation grain is
    .25 so every comparison and sum below is IEEE-exact — no
    rounding anywhere."""
    t = load_tables(spark, sf_dir)
    d = (t["lineitem"]
         .join(F.broadcast(t["part"].select("p_partkey", "p_brand")),
               F.col("l_partkey") == F.col("p_partkey"))
         .groupBy(F.col("p_brand").alias("brand"),
                  F.col("l_shipdate").cast("date").alias("day"))
         .agg(F.sum(F.col("l_quantity").cast("long")).alias("q")))
    lvl = (d.groupBy("brand")
           .agg(F.expr("percentile(q, 0.75)").alias("stock_level"),
                F.count("*").alias("n_days")))
    j = d.join(lvl, "brand")
    return (j.groupBy("brand")
            .agg(F.max("stock_level").alias("stock_level"),
                 F.max("n_days").alias("n_days"),
                 (F.sum(F.greatest(F.col("q") - F.col("stock_level"),
                                   F.lit(0.0))) / F.max("n_days"))
                 .alias("mean_shortage"),
                 (F.sum(F.greatest(F.col("stock_level") - F.col("q"),
                                   F.lit(0.0))) / F.max("n_days"))
                 .alias("mean_leftover")))


_NEWSVENDOR_ORACLE = """
WITH d AS (
  SELECT p_brand AS brand, CAST(l_shipdate AS DATE) AS day,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2),
lvl AS (
  SELECT brand, quantile_cont(q, 0.75) AS stock_level,
         COUNT(*) AS n_days
  FROM d GROUP BY 1)
SELECT d.brand, MAX(stock_level) AS stock_level,
       MAX(n_days) AS n_days,
       SUM(greatest(q - stock_level, 0.0)) / MAX(n_days)
         AS mean_shortage,
       SUM(greatest(stock_level - q, 0.0)) / MAX(n_days)
         AS mean_leftover
FROM d JOIN lvl ON d.brand = lvl.brand
GROUP BY 1
"""
query("newsvendor_stock", q_newsvendor_stock, _NEWSVENDOR_ORACLE)


def q_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch guardrail: users hash-split 50/50 by the
    engine's portable assignment hash (md5 first hex nibble), one
    chi-square GOF statistic per event type + flag vs the 3.841
    critical value (α = .05, df = 1).  The same deterministic
    assignment both engines replay bit-for-bit — the pre-analysis
    sanity check every experimentation platform runs."""
    ev = (_events(spark, sf_dir)
          .select("event_type", "user_id").distinct()
          .withColumn("arm", (F.substring(
              F.md5(F.col("user_id").cast("string")), 1, 1)
              .isin(*"01234567")).cast("int")))
    g = (ev.groupBy("event_type")
         .agg(F.sum("arm").alias("na"),
              F.sum(1 - F.col("arm")).alias("nb")))
    chi = ((F.col("na") - F.col("nb"))
           * (F.col("na") - F.col("nb"))
           / (F.col("na") + F.col("nb")).cast("double"))
    return g.select("event_type", "na", "nb",
                    F.round(chi, 6).alias("chi2"),
                    (chi > 3.841).cast("int").alias("srm_flag"))


_SRM_ORACLE = """
WITH ev AS (
  SELECT DISTINCT event_type, user_id FROM events),
armed AS (
  SELECT event_type,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 1 ELSE 0 END AS arm
  FROM ev),
g AS (
  SELECT event_type, SUM(arm) AS na, SUM(1 - arm) AS nb
  FROM armed GROUP BY 1)
SELECT event_type, na, nb,
       round((na - nb) * (na - nb) / CAST(na + nb AS DOUBLE), 6)
         AS chi2,
       CASE WHEN (na - nb) * (na - nb) / CAST(na + nb AS DOUBLE)
                 > 3.841 THEN 1 ELSE 0 END AS srm_flag
FROM g
"""
query("srm_check", q_srm_check, _SRM_ORACLE)


def q_power_analysis(spark, sf_dir):
    """A/B test sizing per market segment: observed baseline
    conversion (share of customers with ≥ 10 orders — mid-range at
    every SF since orders/customer is scale-invariant) + required n
    per arm to detect a 2-point absolute lift at α = .05 / power = .8
    — the two-proportion closed form with shared z literals.  sqrt is
    IEEE-correctly-rounded (unlike ln/exp), so the double algebra is
    engine-exact before the final rounding."""
    t = load_tables(spark, sf_dir)
    buyers = (t["orders"].groupBy("o_custkey").agg(F.count("*").alias("no"))
              .where(F.col("no") >= 10).select("o_custkey"))
    c = (t["customer"]
         .join(buyers, F.col("c_custkey") == F.col("o_custkey"), "left")
         .groupBy("c_mktsegment")
         .agg(F.count("*").alias("n_customers"),
              F.sum(F.col("o_custkey").isNotNull().cast("int"))
              .alias("n_buyers")))
    p1 = F.col("n_buyers") / F.col("n_customers").cast("double")
    p2 = p1 + 0.02
    pbar = (p1 + p2) / 2
    za, zb = 1.959963984540054, 0.8416212335729143
    num = (za * F.sqrt(2 * pbar * (1 - pbar))
           + zb * F.sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
    n_req = F.ceil(num * num / (0.02 * 0.02))
    return c.select("c_mktsegment", "n_customers",
                    F.round(p1, 6).alias("baseline_rate"),
                    n_req.cast("long").alias("n_per_arm"))


_POWER_ORACLE = """
WITH buyers AS (SELECT o_custkey FROM orders GROUP BY 1
                HAVING COUNT(*) >= 10),
c AS (
  SELECT c_mktsegment, COUNT(*) AS n_customers,
         SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END)
           AS n_buyers
  FROM customer LEFT JOIN buyers ON c_custkey = o_custkey
  GROUP BY 1),
p AS (
  SELECT c_mktsegment, n_customers,
         n_buyers / CAST(n_customers AS DOUBLE) AS p1
  FROM c),
num AS (
  SELECT c_mktsegment, n_customers, p1,
         1.959963984540054
           * sqrt(2 * ((p1 + (p1 + 0.02)) / 2)
                  * (1 - (p1 + (p1 + 0.02)) / 2))
         + 0.8416212335729143
           * sqrt(p1 * (1 - p1) + (p1 + 0.02) * (1 - (p1 + 0.02)))
           AS z
  FROM p)
SELECT c_mktsegment, n_customers, round(p1, 6) AS baseline_rate,
       CAST(ceil(z * z / (0.02 * 0.02)) AS BIGINT) AS n_per_arm
FROM num
"""
query("power_analysis", q_power_analysis, _POWER_ORACLE)


def q_hypergeom_enrichment(spark, sf_dir):
    """Market-basket enrichment screen: (nation, brand) cells whose
    purchase-line count deviates from the hypergeometric expectation
    by |z| > 2 — the over/under-representation test run on feature
    co-occurrence.  All counts exact integers; mean/variance algebra
    in doubles with an identical operation order on both engines
    (sqrt only — IEEE-exact)."""
    t = load_tables(spark, sf_dir)
    li = (t["lineitem"]
          .join(F.broadcast(t["part"].select("p_partkey", "p_brand")),
                F.col("l_partkey") == F.col("p_partkey"))
          .join(t["orders"].select("o_orderkey", "o_custkey"),
                F.col("l_orderkey") == F.col("o_orderkey"))
          .join(F.broadcast(t["customer"]
                            .select("c_custkey", "c_nationkey")),
                F.col("o_custkey") == F.col("c_custkey"))
          .select(F.col("c_nationkey").alias("nation"),
                  F.col("p_brand").alias("brand")))
    cell = li.groupBy("nation", "brand").agg(F.count("*").alias("k"))
    byn = li.groupBy(F.col("nation").alias("n1")).agg(
        F.count("*").alias("n"))
    byb = li.groupBy(F.col("brand").alias("b1")).agg(
        F.count("*").alias("kk"))
    tot = li.agg(F.count("*").alias("nn"))
    j = (cell.join(F.broadcast(byn), F.col("nation") == F.col("n1"))
         .join(F.broadcast(byb), F.col("brand") == F.col("b1"))
         .crossJoin(F.broadcast(tot)))
    m = (F.col("n") * F.col("kk")).cast("double") / F.col("nn")
    frac = F.col("kk") / F.col("nn").cast("double")
    var = (m * (1 - frac)
           * ((F.col("nn") - F.col("n"))
              / (F.col("nn") - F.lit(1.0))))
    z = (F.col("k") - m) / F.sqrt(var)
    return (j.withColumn("z", z)
            .where(F.abs(F.col("z")) > 2)
            .select("nation", "brand", "k", F.round("z", 6).alias("z")))


_HYPERGEOM_ORACLE = """
WITH li AS (
  SELECT c_nationkey AS nation, p_brand AS brand
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey),
cell AS (SELECT nation, brand, COUNT(*) AS k FROM li GROUP BY 1, 2),
byn AS (SELECT nation AS n1, COUNT(*) AS n FROM li GROUP BY 1),
byb AS (SELECT brand AS b1, COUNT(*) AS kk FROM li GROUP BY 1),
tot AS (SELECT COUNT(*) AS nn FROM li),
j AS (
  SELECT nation, brand, k, n, kk, nn,
         CAST(n * kk AS DOUBLE) / nn AS m,
         kk / CAST(nn AS DOUBLE) AS frac
  FROM cell
  JOIN byn ON nation = n1
  JOIN byb ON brand = b1, tot),
zz AS (
  SELECT nation, brand, k,
         (k - m) / sqrt(m * (1 - frac) * ((nn - n) / (nn - 1.0)))
           AS z
  FROM j)
SELECT nation, brand, k, round(z, 6) AS z
FROM zz WHERE abs(z) > 2
"""
query("hypergeom_enrichment", q_hypergeom_enrichment, _HYPERGEOM_ORACLE)


def q_quantile_normalize(spark, sf_dir):
    """Quantile normalization of document lengths across sources
    (the batch-effect-removal classic): each source's rank-r value is
    replaced by the pooled value at the proportional pooled rank
    ceil(r·N/Ns), then summarized as a per-(source, decile) mean.
    Deterministic total orders everywhere (ties by doc_id); exact
    integer ranks and sums, one double division at the end."""
    from pyspark.sql import Window as W
    d = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    pooled = (d.select("n_chars", "doc_id")
              .withColumn("pr", F.row_number().over(
                  W.orderBy("n_chars", "doc_id")))
              .select(F.col("pr").alias("target_rank"),
                      F.col("n_chars").alias("norm_value")))
    n_tot = d.count()
    per = (d.withColumn("rs", F.row_number().over(
        W.partitionBy("source").orderBy("n_chars", "doc_id")))
        .withColumn("ns", F.count("*").over(W.partitionBy("source"))))
    mapped = per.withColumn(
        "target_rank",
        F.ceil(F.col("rs") * F.lit(n_tot) / F.col("ns")).cast("int"))
    out = mapped.join(F.broadcast(pooled), "target_rank")
    dec = (F.ceil(F.col("rs") * 10 / F.col("ns"))).cast("int")
    return (out.withColumn("decile", dec)
            .groupBy("source", "decile")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("norm_value") / F.count("*"), 4)
                 .alias("mean_norm_chars")))


_QNORM_ORACLE = """
WITH d AS (SELECT doc_id, source, n_chars FROM documents),
pooled AS (
  SELECT row_number() OVER (ORDER BY n_chars, doc_id) AS target_rank,
         n_chars AS norm_value
  FROM d),
tot AS (SELECT COUNT(*) AS n_tot FROM d),
per AS (
  SELECT source,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rs,
         COUNT(*) OVER (PARTITION BY source) AS ns
  FROM d),
mapped AS (
  SELECT source, rs, ns,
         CAST(ceil(rs * n_tot * 1.0 / ns) AS INT) AS target_rank
  FROM per, tot)
SELECT source, CAST(ceil(rs * 10.0 / ns) AS INT) AS decile,
       COUNT(*) AS n,
       round(SUM(norm_value) * 1.0 / COUNT(*), 4) AS mean_norm_chars
FROM mapped JOIN pooled USING (target_rank)
GROUP BY 1, 2
"""
query("quantile_normalize", q_quantile_normalize, _QNORM_ORACLE)


def q_gains_curve(spark, sf_dir):
    """Cumulative gains chart: customers ranked by account balance
    (the 'model score'), per score-decile the cumulative share of all
    ORDERS captured — how well the score targets actual activity
    (contrast q:lorenz_curve, which ranks by the outcome itself).
    Exact integers, one division per row."""
    from pyspark.sql import Window as W
    t = load_tables(spark, sf_dir)
    cnt = (t["orders"].groupBy("o_custkey")
           .agg(F.count("*").alias("n_orders")))
    c = (t["customer"]
         .join(cnt, F.col("c_custkey") == F.col("o_custkey"), "left")
         .select("c_custkey", "c_acctbal",
                 F.coalesce("n_orders", F.lit(0)).alias("n_orders")))
    d = c.withColumn("decile", F.ntile(10).over(
        W.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))))
    per = (d.groupBy("decile")
           .agg(F.sum("n_orders").alias("captured"),
                F.count("*").alias("n_customers")))
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding,
                                        W.currentRow)
    tot = per.agg(F.sum("captured").alias("t"))
    return (per.withColumn("cum", F.sum("captured").over(w))
            .crossJoin(F.broadcast(tot))
            .select("decile", "n_customers", "captured",
                    F.round(F.col("cum") / F.col("t"), 6)
                    .alias("cum_gain")))


_GAINS_ORACLE = """
WITH cnt AS (
  SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1),
c AS (
  SELECT c_custkey, c_acctbal, COALESCE(n_orders, 0) AS n_orders
  FROM customer LEFT JOIN cnt ON c_custkey = o_custkey),
d AS (
  SELECT n_orders,
         ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey)
           AS decile
  FROM c),
per AS (
  SELECT decile, SUM(n_orders) AS captured,
         COUNT(*) AS n_customers
  FROM d GROUP BY 1),
tot AS (SELECT SUM(captured) AS t FROM per)
SELECT decile, n_customers, captured,
       round(SUM(captured) OVER (ORDER BY decile
                                 ROWS UNBOUNDED PRECEDING)
             * 1.0 / t, 6) AS cum_gain
FROM per, tot
"""
query("gains_curve", q_gains_curve, _GAINS_ORACLE)


def q_quality_rule_breakdown(spark, sf_dir):
    """Per-rule attrition report for the Gopher-style quality gate
    (q:quality_filter): how many documents fail each rule, and how
    many fail ONLY that rule — the number that tells a pipeline owner
    which rule to tune.  One pass over the corpus, 4-row output."""
    from ..operators.pipeline import quality_filter
    qf = quality_filter(_docs(spark, sf_dir))
    rules = ["ok_tokens", "ok_avg_len", "ok_symbols", "ok_stopwords"]
    n_ok = sum(F.col(r).cast("int") for r in rules)
    base = qf.select(*rules, n_ok.alias("n_ok"))
    rows = [
        base.select(
            F.lit(r).alias("rule"),
            (~F.col(r)).cast("int").alias("fail"),
            ((~F.col(r)) & (F.col("n_ok") == 3)).cast("int")
            .alias("sole"))
        for r in rules]
    u = rows[0]
    for r in rows[1:]:
        u = u.unionByName(r)
    return (u.groupBy("rule")
            .agg(F.sum("fail").alias("n_fail"),
                 F.sum("sole").alias("n_sole_fail")))


_QUALITY_BREAKDOWN_ORACLE = """
WITH t AS (
  SELECT doc_id, text,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                x -> x != '') AS toks
  FROM documents),
m AS (
  SELECT doc_id, len(toks) AS n,
    length(array_to_string(toks, ''))
      / greatest(len(toks), 1) AS avg_len,
    length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
      / greatest(length(text), 1) AS sym_ratio,
    len(list_filter(toks, x -> list_contains(
      ['the','a','of','and','to','in','is','for','on','with'], x)))
      AS sw_hits
  FROM t),
f AS (
  SELECT (n >= 20 AND n <= 100000) AS ok_tokens,
         (avg_len >= 2.0 AND avg_len <= 12.0) AS ok_avg_len,
         (sym_ratio <= 0.10) AS ok_symbols,
         (sw_hits >= 2) AS ok_stopwords
  FROM m),
g AS (
  SELECT *, CAST(ok_tokens AS INT) + CAST(ok_avg_len AS INT)
            + CAST(ok_symbols AS INT) + CAST(ok_stopwords AS INT)
            AS n_ok
  FROM f)
SELECT 'ok_tokens' AS rule,
       SUM(CASE WHEN NOT ok_tokens THEN 1 ELSE 0 END) AS n_fail,
       SUM(CASE WHEN NOT ok_tokens AND n_ok = 3 THEN 1 ELSE 0 END)
         AS n_sole_fail FROM g
UNION ALL
SELECT 'ok_avg_len',
       SUM(CASE WHEN NOT ok_avg_len THEN 1 ELSE 0 END),
       SUM(CASE WHEN NOT ok_avg_len AND n_ok = 3 THEN 1 ELSE 0 END)
FROM g
UNION ALL
SELECT 'ok_symbols',
       SUM(CASE WHEN NOT ok_symbols THEN 1 ELSE 0 END),
       SUM(CASE WHEN NOT ok_symbols AND n_ok = 3 THEN 1 ELSE 0 END)
FROM g
UNION ALL
SELECT 'ok_stopwords',
       SUM(CASE WHEN NOT ok_stopwords THEN 1 ELSE 0 END),
       SUM(CASE WHEN NOT ok_stopwords AND n_ok = 3 THEN 1 ELSE 0 END)
FROM g
"""
query("quality_rule_breakdown", q_quality_rule_breakdown,
      _QUALITY_BREAKDOWN_ORACLE)


def q_token_length_histogram(spark, sf_dir):
    """Power-of-two token-length histogram per source (the context-
    window sizing chart): bucket = floor(log2(n_tokens)) computed by
    the exact bit-length trick (length(bin(n)) − 1 — no libm log near
    power boundaries).  One narrow pass + 2-key groupBy."""
    from ..operators.text import tokens
    d = _docs(spark, sf_dir).select(
        "source",
        F.greatest(F.size(tokens(F.col("text"))), F.lit(1)).alias("n"))
    b = (F.length(F.expr("bin(n)")) - 1).alias("log2_bucket")
    return (d.select("source", b)
            .groupBy("source", "log2_bucket")
            .agg(F.count("*").alias("n_docs")))


_TOKEN_HIST_ORACLE = """
WITH d AS (
  SELECT source,
         greatest(len(list_filter(
           string_split_regex(lower(text), '[^a-z0-9]+'),
           x -> x != '')), 1) AS n
  FROM documents)
SELECT source, CAST(length(bin(n)) - 1 AS INT) AS log2_bucket,
       COUNT(*) AS n_docs
FROM d GROUP BY 1, 2
"""
query("token_length_histogram", q_token_length_histogram, _TOKEN_HIST_ORACLE)


def q_pack_efficiency_curve(spark, sf_dir):
    """Concat-and-chunk packing audit across context-window sizes
    (512..8192): shards needed, tail-padding utilization, and how
    many documents straddle a shard boundary (get split) — the curve
    that picks a training context length.  Doc order is fixed
    (doc_id); cumulative token offsets via one window; all integers
    exact."""
    from pyspark.sql import Window as W
    from ..operators.text import tokens
    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n"))
    w = (W.orderBy("doc_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    c = (d.withColumn("endo", F.sum("n").over(w))
         .withColumn("starto", F.col("endo") - F.col("n")))
    sizes = spark.createDataFrame([(512,), (1024,), (2048,), (4096,),
                                   (8192,)], "window_size int")
    j = c.crossJoin(F.broadcast(sizes))
    split = (F.floor(F.col("starto") / F.col("window_size"))
             != F.floor((F.col("endo") - 1) / F.col("window_size")))
    return (j.groupBy("window_size")
            .agg(F.max("endo").alias("total_tokens"),
                 F.ceil(F.max("endo") / F.col("window_size").cast("double"))
                 .cast("long").alias("n_shards"),
                 F.sum(split.cast("int")).alias("n_docs_split"),
                 F.round(F.max("endo")
                         / (F.ceil(F.max("endo")
                                   / F.col("window_size").cast("double"))
                            * F.col("window_size")), 6)
                 .alias("utilization"))
            .select("window_size", "total_tokens", "n_shards",
                    "n_docs_split", "utilization"))


_PACK_CURVE_ORACLE = """
WITH d AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x != '')) AS n
  FROM documents),
c AS (
  SELECT doc_id, n,
         SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
           AS endo
  FROM d),
cc AS (SELECT doc_id, n, endo, endo - n AS starto FROM c),
ws(window_size) AS (VALUES (512), (1024), (2048), (4096), (8192))
SELECT window_size,
       MAX(endo) AS total_tokens,
       CAST(ceil(MAX(endo) / CAST(window_size AS DOUBLE)) AS BIGINT)
         AS n_shards,
       SUM(CASE WHEN (starto // window_size)
                     <> ((endo - 1) // window_size)
                THEN 1 ELSE 0 END) AS n_docs_split,
       round(MAX(endo)
             / (ceil(MAX(endo) / CAST(window_size AS DOUBLE))
                * window_size), 6) AS utilization
FROM cc, ws GROUP BY 1
"""
query("pack_efficiency_curve", q_pack_efficiency_curve, _PACK_CURVE_ORACLE)


def q_lang_confusion(spark, sf_dir):
    """Full confusion matrix of the engine's stopword-vote language
    identifier against the corpus labels — the cell-level detail
    behind q:kappa_langid's single-number summary.  Exact counts +
    per-true-row share."""
    from pyspark.sql import Window as W
    guessed = text.language_id(_docs(spark, sf_dir)) \
        .select("lang", "lang_guess")
    conf = (guessed.groupBy("lang", "lang_guess")
            .agg(F.count("*").alias("n")))
    row_tot = F.sum("n").over(W.partitionBy("lang"))
    return conf.select("lang", "lang_guess", "n",
                       F.round(F.col("n") / row_tot, 6)
                       .alias("row_share"))


def _lang_confusion_oracle_sql() -> str:
    return f"""
WITH guesses AS ({_LANGUAGE_ID_ORACLE}),
conf AS (
  SELECT d.lang, g.lang_guess, COUNT(*) AS n
  FROM guesses g JOIN documents d USING (doc_id)
  GROUP BY 1, 2)
SELECT lang, lang_guess, n,
       round(n * 1.0 / SUM(n) OVER (PARTITION BY lang), 6)
         AS row_share
FROM conf
"""
query("lang_confusion", q_lang_confusion, _lang_confusion_oracle_sql())


def q_oov_rate(spark, sf_dir):
    """Out-of-vocabulary audit of the hash-banded holdout split: for
    val and test, the share of token TYPES and of token OCCURRENCES
    absent from the train-split vocabulary — the split-health number
    that predicts eval perplexity inflation.  Vocabulary membership
    via one left join on the token key; exact integers."""
    from ..operators.pipeline import train_val_test_split
    d = train_val_test_split(_docs(spark, sf_dir), "doc_id").select(
        "split", F.explode(text.tokens(F.col("text"))).alias("tok"))
    vocab = (d.where(F.col("split") == "train")
             .select("tok").distinct().withColumn("hit", F.lit(1)))
    rest = d.where(F.col("split") != "train")
    occ = (rest.join(vocab, "tok", "left")
           .groupBy("split")
           .agg(F.count("*").alias("n_tokens"),
                F.sum(F.col("hit").isNull().cast("int"))
                .alias("n_oov_tokens")))
    types = (rest.select("split", "tok").distinct()
             .join(vocab, "tok", "left")
             .groupBy(F.col("split").alias("s2"))
             .agg(F.count("*").alias("n_types"),
                  F.sum(F.col("hit").isNull().cast("int"))
                  .alias("n_oov_types")))
    return (occ.join(types, F.col("split") == F.col("s2"))
            .select("split", "n_types", "n_oov_types",
                    F.round(F.col("n_oov_types") / F.col("n_types"), 6)
                    .alias("type_oov_rate"),
                    "n_tokens", "n_oov_tokens",
                    F.round(F.col("n_oov_tokens") / F.col("n_tokens"), 6)
                    .alias("token_oov_rate")))


_OOV_ORACLE = """
WITH d AS (
  SELECT CASE
           WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                < printf('%04x', CAST(ceil(0.05 * 65536) AS INT))
             THEN 'val'
           WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                < printf('%04x', CAST(ceil(0.10 * 65536) AS INT))
             THEN 'test'
           ELSE 'train'
         END AS split,
         unnest(list_filter(
           string_split_regex(lower(text), '[^a-z0-9]+'),
           x -> x != '')) AS tok
  FROM documents),
vocab AS (
  SELECT DISTINCT tok, 1 AS hit FROM d WHERE split = 'train'),
rest AS (SELECT split, tok FROM d WHERE split <> 'train'),
occ AS (
  SELECT split, COUNT(*) AS n_tokens,
         SUM(CASE WHEN hit IS NULL THEN 1 ELSE 0 END) AS n_oov_tokens
  FROM rest LEFT JOIN vocab USING (tok) GROUP BY 1),
ty AS (
  SELECT split, COUNT(*) AS n_types,
         SUM(CASE WHEN hit IS NULL THEN 1 ELSE 0 END) AS n_oov_types
  FROM (SELECT DISTINCT split, tok FROM rest)
  LEFT JOIN vocab USING (tok) GROUP BY 1)
SELECT occ.split, n_types, n_oov_types,
       round(n_oov_types * 1.0 / n_types, 6) AS type_oov_rate,
       n_tokens, n_oov_tokens,
       round(n_oov_tokens * 1.0 / n_tokens, 6) AS token_oov_rate
FROM occ JOIN ty ON occ.split = ty.split
"""
query("oov_rate", q_oov_rate, _OOV_ORACLE)


def q_split_leakage_check(spark, sf_dir):
    """Split-leakage audit: MinHash near-dup candidate pairs that
    straddle the train/holdout boundary — the contamination
    q:grouped_split exists to prevent, quantified on the naive
    doc-hash split.  One broadcast of the (tiny) split map onto the
    LSH pair stream."""
    from ..operators.pipeline import train_val_test_split
    from ._registry import QUERIES
    docs = _docs(spark, sf_dir)
    pairs = QUERIES["minhash_pairs"](spark, sf_dir)
    sp = train_val_test_split(docs, "doc_id").select("doc_id", "split")
    j = (pairs
         .join(sp.select(F.col("doc_id").alias("id_a"),
                         F.col("split").alias("split_a")), "id_a")
         .join(sp.select(F.col("doc_id").alias("id_b"),
                         F.col("split").alias("split_b")), "id_b"))
    leak = ((F.col("split_a") == "train")
            != (F.col("split_b") == "train")).cast("int")
    return (j.agg(F.count("*").alias("n_candidate_pairs"),
                  F.sum(leak).alias("n_leaking_pairs"),
                  F.round(F.sum(leak) / F.count("*"), 6)
                  .alias("leak_share")))


def _split_leakage_oracle_sql() -> str:
    return f"""
WITH pairs AS ({_MINHASH_PAIRS_ORACLE}),
sp AS (
  SELECT doc_id,
         CASE
           WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                < printf('%04x', CAST(ceil(0.05 * 65536) AS INT))
             THEN 'val'
           WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                < printf('%04x', CAST(ceil(0.10 * 65536) AS INT))
             THEN 'test'
           ELSE 'train'
         END AS split
  FROM documents),
j AS (
  SELECT CASE WHEN (a.split = 'train') <> (b.split = 'train')
              THEN 1 ELSE 0 END AS leak
  FROM pairs
  JOIN sp a ON pairs.id_a = a.doc_id
  JOIN sp b ON pairs.id_b = b.doc_id)
SELECT COUNT(*) AS n_candidate_pairs,
       SUM(leak) AS n_leaking_pairs,
       round(SUM(leak) * 1.0 / COUNT(*), 6) AS leak_share
FROM j
"""
query("split_leakage_check", q_split_leakage_check,
      _split_leakage_oracle_sql())


def q_shingle_df_histogram(spark, sf_dir):
    """LSH capacity-planning audit: document-frequency histogram of
    3-token shingles in power-of-two buckets (exact bit-length trick,
    no libm log) — the df tail predicts MinHash bucket blowups before
    you run the join (cf. the max_bucket guard in dedup.py).  Shingles
    hash-group once; documents never pair."""
    docs = _docs(spark, sf_dir)
    ws = text.tokens(F.col("text"))
    sh = F.transform(
        F.sequence(F.lit(1), F.size("_ws") - 2),
        lambda i: F.concat_ws(
            " ", F.element_at("_ws", i), F.element_at("_ws", i + 1),
            F.element_at("_ws", i + 2)))
    df_counts = (docs.select("doc_id", ws.alias("_ws"))
                 .where(F.size("_ws") >= 3)
                 .select("doc_id", F.explode(sh).alias("g"))
                 .distinct()
                 .groupBy("g").agg(F.count("*").alias("df")))
    b = (F.length(F.expr("bin(df)")) - 1).alias("log2_df")
    return (df_counts.select(b)
            .groupBy("log2_df")
            .agg(F.count("*").alias("n_shingles")))


_SHINGLE_DF_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
  FROM toks WHERE len(ws) >= 3),
dfc AS (SELECT g, COUNT(*) AS df FROM sh GROUP BY 1)
SELECT CAST(length(bin(df)) - 1 AS INT) AS log2_df,
       COUNT(*) AS n_shingles
FROM dfc GROUP BY 1
"""
query("shingle_df_histogram", q_shingle_df_histogram, _SHINGLE_DF_ORACLE)


def q_ahash_near_dup(spark, sf_dir):
    """NEAR-duplicate image pairs by perceptual hash: the 64-bit ahash
    (REAL PNG decode on the engine side, q:ahash_groups) banded into
    4×16-bit substrings — same-band candidates only, then exact
    Hamming ≤ 6 verify.  The banded join is the scale story (no
    all-pairs); the oracle recomputes the closed-form hash and replays
    band + verify."""
    from ..operators.multimodal import ahash, documents_as_media
    pngs = _docs(spark, sf_dir).where(F.col("doc_id") % 3 == 1)
    h = ahash(documents_as_media(pngs)).select("media_id", "ahash") \
        .localCheckpoint(eager=True)
    bands = h.select(
        "media_id", "ahash",
        F.explode(F.array(*[
            F.concat(F.lit(str(i)), F.lit(":"),
                     F.substring("ahash", i * 16 + 1, 16))
            for i in range(4)])).alias("band"))
    a = bands.select(F.col("media_id").alias("id_a"),
                     F.col("ahash").alias("ha"), "band")
    b = bands.select(F.col("media_id").alias("id_b"),
                     F.col("ahash").alias("hb"), "band")
    cand = (a.join(b, ["band"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "ha", "hb").distinct())
    ham = F.expr("size(filter(sequence(1, 64), "
                 "i -> substr(ha, i, 1) != substr(hb, i, 1)))")
    return (cand.withColumn("hamming", ham)
            .where(F.col("hamming") <= 6)
            .select("id_a", "id_b", "hamming"))


_AHASH_NEAR_DUP_ORACLE = """
WITH dims AS (
  SELECT doc_id AS media_id,
         4 + n_chars % 60 AS w, 4 + (n_chars // 7) % 60 AS h
  FROM documents WHERE doc_id % 3 = 1),
cells AS (
  SELECT media_id,
         ty.y AS y, tx.x AS x,
         ((((tx.x * w) // 8) * 3 + ((ty.y * h) // 8)) % 256) AS px
  FROM dims, UNNEST(range(0, 8)) AS ty(y), UNNEST(range(0, 8)) AS tx(x)),
hashes AS (
  SELECT media_id,
         string_agg(CASE WHEN px * 64 > tot THEN '1' ELSE '0' END,
                    '' ORDER BY y, x) AS ahash
  FROM (SELECT media_id, y, x, px,
               SUM(px) OVER (PARTITION BY media_id) AS tot
        FROM cells)
  GROUP BY media_id),
bands AS (
  SELECT media_id, ahash,
         CAST(i AS VARCHAR) || ':'
           || substr(ahash, CAST(i AS INT) * 16 + 1, 16) AS band
  FROM hashes, UNNEST(range(0, 4)) AS t(i)),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         a.ahash AS ha, b.ahash AS hb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.media_id < b.media_id),
ham AS (
  SELECT id_a, id_b,
         len(list_filter(range(1, 65),
             i -> substr(ha, CAST(i AS INT), 1)
                  <> substr(hb, CAST(i AS INT), 1))) AS hamming
  FROM cand)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM ham WHERE hamming <= 6
"""
query("ahash_near_dup", q_ahash_near_dup, _AHASH_NEAR_DUP_ORACLE)


def q_qq_year_compare(spark, sf_dir):
    """Q-Q table of order values, 1996 vs 1997: both years' exact
    16-quantile ladders side by side with the quantile ratio — the
    distribution-shift diagnostic that shows WHERE two samples differ
    (q:ks_statistic only says how much).  Binary-exact fractions
    (k/16) keep the interpolation engine-exact; cents are integers."""
    o = load_tables(spark, sf_dir)["orders"].select(
        F.year(F.col("o_orderdate")).alias("yr"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"))
    fr = ", ".join(repr(i / 16.0) for i in range(1, 16))
    q = (o.where(F.col("yr").isin(1996, 1997))
         .groupBy("yr")
         .agg(F.expr(f"percentile(cents, array({fr}))").alias("b")))
    e = q.select("yr", F.posexplode("b").alias("q16", "v")) \
        .select("yr", (F.col("q16") + 1).alias("q16"), "v")
    a = e.where(F.col("yr") == 1996).select("q16",
                                            F.col("v").alias("v1996"))
    b = e.where(F.col("yr") == 1997).select(
        F.col("q16").alias("q2"), F.col("v").alias("v1997"))
    return (a.join(b, F.col("q16") == F.col("q2"))
            .select("q16", "v1996", "v1997",
                    F.round(F.col("v1997") / F.col("v1996"), 6)
                    .alias("qratio")))


_QQ_ORACLE = """
WITH o AS (
  SELECT EXTRACT(year FROM o_orderdate) AS yr,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders),
q AS (
  SELECT yr, quantile_cont(cents, [{fracs}]) AS b
  FROM o WHERE yr IN (1996, 1997) GROUP BY 1),
e AS (
  SELECT yr, CAST(i AS INT) AS q16, b[CAST(i AS INT)] AS v
  FROM q, range(1, 16) t(i))
SELECT a.q16, a.v AS v1996, b.v AS v1997,
       round(b.v / a.v, 6) AS qratio
FROM (SELECT q16, v FROM e WHERE yr = 1996) a
JOIN (SELECT q16, v FROM e WHERE yr = 1997) b USING (q16)
""".format(fracs=", ".join(repr(i / 16.0) for i in range(1, 16)))
query("qq_year_compare", q_qq_year_compare, _QQ_ORACLE)


def q_substring_spans(spark, sf_dir):
    """Cross-document EXACT shared-substring spans (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" exact-
    substring method, k-gram-chain formulation): every maximal run of
    matching 8-token grams on a (doc_a, doc_b) diagonal is a maximal
    shared token span; spans >= 12 tokens are reported with both start
    offsets.  Scale shape: ONE shuffle on the gram hash; a df/occurrence
    guard (>= 2 docs, <= 16 total occurrences) bounds the position-pair
    fanout per gram the same way dedup.py's max_bucket bounds LSH
    buckets, so boilerplate grams can never go quadratic.  The
    gaps-and-islands merge (pos - row_number on the diagonal) is a
    window over candidate pairs only — the corpus itself never pairs."""
    return dedup.shared_substring_spans(
        _docs(spark, sf_dir), k=8, min_span=12, min_docs=2, max_occ=16)


_SUBSTRING_SPANS_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents),
gr AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS g
  FROM toks, UNNEST(range(1, len(ws) - 6)) t(i)
  WHERE len(ws) >= 8),
keep AS (
  SELECT g FROM gr GROUP BY g
  HAVING COUNT(DISTINCT doc_id) >= 2 AND COUNT(*) <= 16),
gk AS (SELECT gr.doc_id, gr.pos, gr.g FROM gr JOIN keep USING (g)),
pairs AS (
  SELECT a.doc_id AS id_a, a.pos AS pa, b.doc_id AS id_b, b.pos AS pb
  FROM gk a JOIN gk b ON a.g = b.g AND a.doc_id < b.doc_id),
isl AS (
  SELECT id_a, id_b, pa, pb,
         pa - ROW_NUMBER() OVER (
           PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS isl
  FROM pairs)
SELECT id_a, id_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
       COUNT(*) + 7 AS span_len
FROM isl GROUP BY id_a, id_b, pa - pb, isl
HAVING COUNT(*) + 7 >= 12
"""
query("substring_spans", q_substring_spans, _SUBSTRING_SPANS_ORACLE)


def q_dbscan_embeddings(spark, sf_dir):
    """DBSCAN over the embeddings table (cosine >= 0.32 as the eps-ball,
    minPts 4 including self) with a DETERMINISTIC border rule: core
    points cluster by connected components over core-core eps-edges
    (min-vec_id label); border points adopt the MIN cluster among their
    core neighbors (classic DBSCAN's border assignment is scan-order-
    dependent — min-label makes it engine-portable); the rest is noise
    (cluster -1).  Eps-pairs come from the shared IVF blocking
    (_ivf_blocked, same-cell equi-join — never the O(n²) brute join):
    the core/border/noise derivation only needs the pair list, and the
    oracle replays the identical unrolled-Lloyd assignment so the
    blocked pair set is engine-reproducible (LSH buckets,
    q:lsh_near_dup, are the sibling candidate generator).
    Dot products fold sequentially in double (similarity.cosine_expr ==
    DuckDB list_sum-over-transform, the convention every embedding
    oracle in this file shares)."""
    eps, minpts = 0.32, 4
    idx = _ivf_blocked(spark, sf_dir)
    emb = idx.select(
        "cluster", "vec_id",
        F.transform(F.col("embedding"),
                    lambda x: x.cast("double")).alias("v"))
    a = emb.select("cluster", F.col("vec_id").alias("ia"),
                   F.col("v").alias("va"))
    b = emb.select("cluster", F.col("vec_id").alias("ib"),
                   F.col("v").alias("vb"))
    pairs = (a.join(b, "cluster").where(F.col("ia") < F.col("ib"))
             .where(similarity.cosine_expr("va", "vb") >= eps)
             .select("ia", "ib"))
    nb = (pairs.select(F.col("ia").alias("id"), F.col("ib").alias("nbr"))
          .unionByName(pairs.select(F.col("ib").alias("id"),
                                    F.col("ia").alias("nbr")))
          .localCheckpoint(eager=True))
    deg = nb.groupBy("id").agg(F.count("*").alias("d"))
    core = deg.where(F.col("d") + 1 >= minpts).select("id")
    # ZERO-PADDED uids: the CC min-label runs on strings, and the
    # oracle's MIN() runs on integers — padding makes lexicographic
    # order == numeric order so both engines pick the same label
    vuid = F.format_string("V:%010d", F.col("id"))
    core_edges = (nb.join(core, "id")
                  .join(core.withColumnRenamed("id", "nbr"), "nbr")
                  .select(vuid.alias("startuid"),
                          F.format_string("V:%010d", F.col("nbr"))
                          .alias("enduid")))
    core_nodes = core.select(vuid.alias("uid"))
    cc = graph_algos.connected_components(core_nodes, core_edges)
    comp = cc.select(
        F.regexp_replace("uid", "^V:", "").cast("long").alias("id"),
        F.regexp_replace("component", "^V:", "").cast("long")
        .alias("cluster"))
    core_out = comp.join(core, "id").select(
        "id", F.lit("core").alias("role"), "cluster")
    border = (nb.join(core.withColumnRenamed("id", "nbr"), "nbr")
              .join(core, "id", "left_anti")
              .join(comp.withColumnRenamed("id", "nbr")
                    .withColumnRenamed("cluster", "ncl"), "nbr")
              .groupBy("id")
              .agg(F.min("ncl").alias("cluster"))
              .select("id", F.lit("border").alias("role"), "cluster"))
    assigned = core_out.unionByName(border)
    noise = (emb.select(F.col("vec_id").alias("id"))
             .join(assigned.select("id"), "id", "left_anti")
             .select("id", F.lit("noise").alias("role"),
                     F.lit(-1).cast("long").alias("cluster")))
    return (assigned.unionByName(noise)
            .select(F.col("id").alias("vec_id"), "role", "cluster"))


_DBSCAN_ORACLE = "WITH RECURSIVE " + _ivf_ctes(
    8, 2, pfx="k_", with_kw=False) + """,
e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
p AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM e a JOIN e b ON a.vec_id < b.vec_id
       JOIN k_fin fa ON fa.vec_id = a.vec_id
       JOIN k_fin fb ON fb.vec_id = b.vec_id AND fb.c = fa.c
  WHERE list_sum(list_transform(range(1, len(a.v)+1),
                                i -> a.v[i] * b.v[i]))
        / (sqrt(list_sum(list_transform(range(1, len(a.v)+1),
                                        i -> a.v[i] * a.v[i])))
           * sqrt(list_sum(list_transform(range(1, len(b.v)+1),
                                          i -> b.v[i] * b.v[i]))))
        >= 0.32),
nb AS (SELECT ia AS id, ib AS nbr FROM p
       UNION ALL SELECT ib, ia FROM p),
deg AS (SELECT id, COUNT(*) AS d FROM nb GROUP BY 1),
core AS (SELECT id FROM deg WHERE d + 1 >= 4),
ce AS (SELECT nb.id AS a, nb.nbr AS b
       FROM nb JOIN core c1 ON nb.id = c1.id
               JOIN core c2 ON nb.nbr = c2.id),
reach(src, dst) AS (
  SELECT id, id FROM core
  UNION
  SELECT r.src, ce.b FROM reach r JOIN ce ON ce.a = r.dst),
comp AS (SELECT src AS id, MIN(dst) AS cluster FROM reach GROUP BY 1),
core_out AS (
  SELECT id, 'core' AS role, cluster FROM comp),
border AS (
  SELECT nb.id, 'border' AS role, MIN(c.cluster) AS cluster
  FROM nb JOIN comp c ON nb.nbr = c.id
  WHERE nb.id NOT IN (SELECT id FROM core)
  GROUP BY nb.id),
assigned AS (
  SELECT * FROM core_out UNION ALL SELECT * FROM border)
SELECT e.vec_id, COALESCE(a.role, 'noise') AS role,
       CAST(COALESCE(a.cluster, -1) AS BIGINT) AS cluster
FROM e LEFT JOIN assigned a ON e.vec_id = a.id
"""
query("dbscan_embeddings", q_dbscan_embeddings, _DBSCAN_ORACLE)


def q_price_model(spark, sf_dir):
    """Multiple linear regression (2 predictors + intercept) by exact
    normal equations: o_totalprice_cents ~ n_lines + sum_qty per order.
    The nine sufficient statistics (n, Sx1, Sx2, Sy, Sx11, Sx22, Sx12,
    Sx1y, Sx2y) aggregate as EXACT integers (cents/quantities, one
    map-side-combined pass over a lineitem groupBy); the 3x3 Cramer
    solve then runs on identical doubles in both engines — no libm, no
    iteration, so coefficients replay bit-for-bit.  At 100 TB the whole
    model is one partial-aggregate pass: sufficient statistics are the
    canonical distributed-regression shape."""
    t = load_tables(spark, sf_dir)
    per = (t["lineitem"]
           .groupBy("l_orderkey")
           .agg(F.count("*").cast("long").alias("x1"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .cast("long").alias("x2")))
    o = (t["orders"]
         .select("o_orderkey",
                 (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                 .cast("long").alias("y"))
         .join(per, F.col("o_orderkey") == F.col("l_orderkey")))
    s = o.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("sx1"), F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx11"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx22"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"))
    d = {c: F.col(c).cast("double") for c in
         ("n", "sx1", "sx2", "sy", "sx11", "sx22", "sx12", "sx1y",
          "sx2y")}
    det = (d["n"] * (d["sx11"] * d["sx22"] - d["sx12"] * d["sx12"])
           - d["sx1"] * (d["sx1"] * d["sx22"] - d["sx12"] * d["sx2"])
           + d["sx2"] * (d["sx1"] * d["sx12"] - d["sx11"] * d["sx2"]))
    det0 = (d["sy"] * (d["sx11"] * d["sx22"] - d["sx12"] * d["sx12"])
            - d["sx1"] * (d["sx1y"] * d["sx22"] - d["sx12"] * d["sx2y"])
            + d["sx2"] * (d["sx1y"] * d["sx12"] - d["sx11"] * d["sx2y"]))
    det1 = (d["n"] * (d["sx1y"] * d["sx22"] - d["sx12"] * d["sx2y"])
            - d["sy"] * (d["sx1"] * d["sx22"] - d["sx12"] * d["sx2"])
            + d["sx2"] * (d["sx1"] * d["sx2y"] - d["sx1y"] * d["sx2"]))
    det2 = (d["n"] * (d["sx11"] * d["sx2y"] - d["sx1y"] * d["sx12"])
            - d["sx1"] * (d["sx1"] * d["sx2y"] - d["sx1y"] * d["sx2"])
            + d["sy"] * (d["sx1"] * d["sx12"] - d["sx11"] * d["sx2"]))
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(det0 / det, 6).alias("beta0"),
        F.round(det1 / det, 6).alias("beta1"),
        F.round(det2 / det, 6).alias("beta2"))


_PRICE_MODEL_ORACLE = """
WITH per AS (
  SELECT l_orderkey,
         CAST(COUNT(*) AS BIGINT) AS x1,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS x2
  FROM lineitem GROUP BY 1),
o AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
         x1, x2
  FROM orders JOIN per ON o_orderkey = l_orderkey),
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x1) AS DOUBLE) AS sx1, CAST(SUM(x2) AS DOUBLE) AS sx2,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x1 * x1) AS DOUBLE) AS sx11,
         CAST(SUM(x2 * x2) AS DOUBLE) AS sx22,
         CAST(SUM(x1 * x2) AS DOUBLE) AS sx12,
         CAST(SUM(x1 * y) AS DOUBLE) AS sx1y,
         CAST(SUM(x2 * y) AS DOUBLE) AS sx2y
  FROM o)
SELECT CAST(n AS BIGINT) AS n,
       round((sy * (sx11 * sx22 - sx12 * sx12)
              - sx1 * (sx1y * sx22 - sx12 * sx2y)
              + sx2 * (sx1y * sx12 - sx11 * sx2y))
             / (n * (sx11 * sx22 - sx12 * sx12)
                - sx1 * (sx1 * sx22 - sx12 * sx2)
                + sx2 * (sx1 * sx12 - sx11 * sx2)), 6) AS beta0,
       round((n * (sx1y * sx22 - sx12 * sx2y)
              - sy * (sx1 * sx22 - sx12 * sx2)
              + sx2 * (sx1 * sx2y - sx1y * sx2))
             / (n * (sx11 * sx22 - sx12 * sx12)
                - sx1 * (sx1 * sx22 - sx12 * sx2)
                + sx2 * (sx1 * sx12 - sx11 * sx2)), 6) AS beta1,
       round((n * (sx11 * sx2y - sx1y * sx12)
              - sx1 * (sx1 * sx2y - sx1y * sx2)
              + sy * (sx1 * sx12 - sx11 * sx2))
             / (n * (sx11 * sx22 - sx12 * sx12)
                - sx1 * (sx1 * sx22 - sx12 * sx2)
                + sx2 * (sx1 * sx12 - sx11 * sx2)), 6) AS beta2
FROM s
"""
query("price_model", q_price_model, _PRICE_MODEL_ORACLE)


def q_mst_trade(spark, sf_dir):
    """Minimum spanning forest of the inter-nation trade graph
    (Borůvka, operators/graph_algos.boruvka_msf): nodes are nations,
    edge weight is the exact undirected revenue-cents flow between the
    pair — the cheapest backbone connecting every trading nation.
    Selection is totally ordered by (w, src, dst), so the forest is
    unique; the DuckDB oracle replays the identical unrolled rounds
    (six — components at least halve per round, 25 nations need five)
    with a recursive-CTE relabel after each.  Borůvka is the MST
    formulation that distributes: O(log n) bulk rounds of
    join + windowed argmin, no union-find on the driver."""
    forest = graph_algos.boruvka_msf(
        _nation_flows(spark, sf_dir), max_rounds=8)
    return forest.select("src", "dst", F.col("w").alias("w_cents"))


def _mst_oracle_sql(rounds: int = 6, negate: bool = False,
                    tail: str | None = None) -> str:
    """Unrolled-Borůvka DuckDB replay of q_mst_trade: per round, a
    recursive-CTE relabel over the forest so far, then the same
    (w, src, dst)-ordered argmin per component.  ``negate`` flips the
    weight sign (maximum-similarity spanning tree); ``tail`` overrides
    the final SELECT (it sees flows/nodes/forest{rounds})."""
    # every multi-referenced CTE is MATERIALIZED: without it DuckDB
    # inlines the chain and forest{r} expands to ~9 copies of
    # forest{r-1} — 9^rounds parquet scans (observed as fd exhaustion)
    sign = "-" if negate else ""
    parts = [f"""
WITH RECURSIVE
flows AS MATERIALIZED (
  SELECT least(ns.n_name, nc.n_name) AS src,
         greatest(ns.n_name, nc.n_name) AS dst,
         {sign}CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  WHERE ns.n_name <> nc.n_name
  GROUP BY 1, 2),
nodes AS MATERIALIZED (
  SELECT src AS uid FROM flows UNION SELECT dst FROM flows),
forest0(src, dst, w) AS MATERIALIZED (
  SELECT src, dst, w FROM flows WHERE 1 = 0)"""]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(f""",
fsym{p} AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM forest{p}
  UNION ALL SELECT dst, src FROM forest{p}),
reach{r}(s, d) AS (
  SELECT uid, uid FROM nodes
  UNION
  SELECT t.s, f.b FROM reach{r} t JOIN fsym{p} f ON f.a = t.d),
comp{r} AS MATERIALIZED (
  SELECT s AS uid, MIN(d) AS c FROM reach{r} GROUP BY 1),
er{r} AS MATERIALIZED (
  SELECT e.src, e.dst, e.w, ka.c AS ca, kb.c AS cb
  FROM flows e JOIN comp{r} ka ON e.src = ka.uid
               JOIN comp{r} kb ON e.dst = kb.uid
  WHERE ka.c <> kb.c),
sym{r} AS (SELECT ca AS c, w, src, dst FROM er{r}
           UNION ALL SELECT cb, w, src, dst FROM er{r}),
sel{r} AS (
  SELECT DISTINCT src, dst, w FROM (
    SELECT src, dst, w,
           ROW_NUMBER() OVER (PARTITION BY c
                              ORDER BY w, src, dst) AS rn
    FROM sym{r}) WHERE rn = 1),
forest{r}(src, dst, w) AS MATERIALIZED (
  SELECT src, dst, w FROM forest{p}
  UNION SELECT src, dst, w FROM sel{r})""")
    parts.append(tail if tail is not None else f"""
SELECT src, dst, w AS w_cents FROM forest{rounds}""")
    return "".join(parts)
query("mst_trade", q_mst_trade, _mst_oracle_sql())


def _nation_flows(spark, sf_dir, negate=False):
    """Undirected inter-nation trade edges (src < dst by name, exact
    revenue cents; ``negate`` for maximum-similarity spanning trees)."""
    t = load_tables(spark, sf_dir)
    rev = F.sum((F.col("l_extendedprice").cast("decimal(18,2)")
                 * 100).cast("long")).cast("long")
    return (t["lineitem"]
            .join(t["orders"].select("o_orderkey", "o_custkey"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(t["customer"]
                              .select("c_custkey", "c_nationkey")),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(t["supplier"]
                              .select("s_suppkey",
                                      F.col("s_nationkey")
                                      .alias("supp_nk"))),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(t["nation"].select(
                F.col("n_nationkey").alias("supp_nk"),
                F.col("n_name").alias("sn"))), "supp_nk")
            .join(F.broadcast(t["nation"].select(
                F.col("n_nationkey").alias("c_nationkey"),
                F.col("n_name").alias("cn"))), "c_nationkey")
            .where(F.col("sn") != F.col("cn"))
            .groupBy(F.least("sn", "cn").alias("src"),
                     F.greatest("sn", "cn").alias("dst"))
            .agg((-rev if negate else rev).alias("w")))


def q_single_linkage_nations(spark, sf_dir):
    """Single-linkage clustering of nations by trade similarity — the
    classic MST formulation: the maximum-similarity spanning tree
    (Borůvka on negated revenue) IS the single-linkage dendrogram;
    cutting its below-average links yields the clusters.  Cut rule is
    scale-free (edge revenue >= the forest's own mean, exact integer
    sum / count), so the same query is meaningful at every SF.  Labels
    are min-name connected components over the kept backbone edges.
    At 100 TB this is the standard route to single-linkage over
    similarity graphs: MST via O(log n) Borůvka rounds, then one CC —
    never the O(n^2) dendrogram."""
    forest = graph_algos.boruvka_msf(
        _nation_flows(spark, sf_dir, negate=True), max_rounds=8)
    rev = (-F.col("w")).alias("rev")
    mu = forest.agg((F.sum(-F.col("w")).cast("double")
                     / F.count("*")).alias("mu"))
    kept = (forest.crossJoin(F.broadcast(mu))
            .where((-F.col("w")).cast("double") >= F.col("mu"))
            .select(F.col("src").alias("startuid"),
                    F.col("dst").alias("enduid")))
    nodes = (forest.select(F.col("src").alias("uid"))
             .unionByName(forest.select(F.col("dst").alias("uid")))
             .distinct())
    cc = graph_algos.connected_components(nodes, kept)
    return cc.select(F.col("uid").alias("nation"),
                     F.col("component").alias("cluster"))


_SINGLE_LINKAGE_TAIL = """,
kept AS MATERIALIZED (
  SELECT src, dst FROM forest{r}, (
    SELECT CAST(SUM(-w) AS DOUBLE) / COUNT(*) AS mu FROM forest{r})
  WHERE CAST(-w AS DOUBLE) >= mu),
ksym AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM kept
  UNION ALL SELECT dst, src FROM kept),
reachk(s, d) AS (
  SELECT uid, uid FROM nodes
  UNION
  SELECT t.s, f.b FROM reachk t JOIN ksym f ON f.a = t.d)
SELECT s AS nation, MIN(d) AS cluster FROM reachk GROUP BY 1"""
query("single_linkage_nations", q_single_linkage_nations,
      _mst_oracle_sql(
          negate=True, tail=_SINGLE_LINKAGE_TAIL.format(r=6)))


def q_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility audit by language: BPE tokens per word and
    characters per BPE token under the corpus-trained merge table —
    the standard multilingual-tokenizer health metric (high fertility
    = the tokenizer fragments that language, inflating its training
    cost per byte).  Shares the trained merges with q:bpe_tokenize;
    all sums are exact integers, the two ratios divide once at the
    end (round 6)."""
    from ..operators.text import bpe_apply, bpe_train
    docs = _docs(spark, sf_dir)
    merges = [(r["lhs"], r["rhs"])
              for r in bpe_train(docs, rounds=6).collect()]
    bpe = bpe_apply(docs, merges)
    ws = text.tokens(F.col("text"))
    stats = (docs.select("doc_id", "lang", ws.alias("ws"))
             .select("doc_id", "lang",
                     F.size("ws").cast("long").alias("n_words"),
                     F.aggregate(F.col("ws"), F.lit(0),
                                 lambda a, v: a + F.length(v))
                     .cast("long").alias("n_chars")))
    return (stats.join(bpe, "doc_id")
            .groupBy("lang")
            .agg(F.sum("n_words").alias("words"),
                 F.sum("n_chars").alias("chars"),
                 F.sum("n_bpe_tokens").alias("bpe_tokens"))
            .select("lang",
                    F.col("words").cast("long").alias("words"),
                    F.col("chars").cast("long").alias("chars"),
                    F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
                    F.round(F.col("bpe_tokens") / F.col("words"), 6)
                    .alias("fertility"),
                    F.round(F.col("chars") / F.col("bpe_tokens"), 6)
                    .alias("chars_per_token")))


def _tokenizer_fertility_oracle_sql(rounds: int = 6) -> str:
    """Shared BPE training CTEs + the per-language fertility rollup."""
    mrg = ", ".join(f"(SELECT pair FROM b{r}) AS p{r}"
                    for r in range(1, rounds + 1))
    seq = "' ' || array_to_string(string_split(w, ''), ' ') || ' '"
    for r in range(1, rounds + 1):
        pat = f"' ' || p{r} || ' '"
        rep = f"' ' || replace(p{r}, ' ', '') || ' '"
        seq = f"replace(replace({seq}, {pat}, {rep}), {pat}, {rep})"
    return "WITH " + _bpe_ctes(rounds) + f""",
mrg AS (SELECT {mrg}),
per AS (
  SELECT doc_id, lang, list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents),
st AS (
  SELECT lang,
         CAST(SUM(len(ws)) AS BIGINT) AS words,
         CAST(SUM(COALESCE(list_sum(list_transform(ws,
              w -> len(w))), 0)) AS BIGINT) AS chars,
         CAST(SUM(COALESCE(list_sum(list_transform(ws,
              w -> len(string_split(trim({seq}), ' ')))), 0)) AS BIGINT)
           AS bpe_tokens
  FROM per, mrg GROUP BY 1)
SELECT lang, words, chars, bpe_tokens,
       round(bpe_tokens / words, 6) AS fertility,
       round(chars / bpe_tokens, 6) AS chars_per_token
FROM st"""
query("tokenizer_fertility", q_tokenizer_fertility,
      _tokenizer_fertility_oracle_sql())


def q_hll_distinct(spark, sf_dir):
    """Portable HyperLogLog, register math in the open (upgrades
    q:approx_distinct_users' bracketing check to a FULL hash-match):
    md5-derived 60-bit hashes split into a register index and a tail
    whose leading-zero rank updates the register (max per bucket —
    one map-side-combinable aggregate; the fixed register table is
    the mergeable sketch a 100 TB rollup ships between executors;
    m=16 here so the fixture's 15-1500 users sit in the raw
    estimate's valid regime, 2^14 in production).  The raw estimate alpha*m^2 / sum(2^-reg) is
    libm-free — powers of two are exact in binary floating point, so
    the harmonic sum and the estimate replay bit-for-bit in any
    engine (the small-range ln() correction is deliberately NOT
    applied: cross-engine libm is the one thing that can't be made
    exact — cf. the croston pow lesson).  Emits exact count alongside
    for the audit."""
    m = 16  # registers; production uses 2^14 — the fixture has only
    # 15-1500 distinct users, and the RAW estimate (no ln() small-range
    # correction — cross-engine libm is unfixable, cf. croston) is only
    # meaningful for n >~ m
    ev = _events(spark, sf_dir)
    h = text.hash60(F.col("user_id").cast("string"))
    bucket = (h % m)
    # shiftright, NOT h/m: double division mangles a 60-bit long
    # beyond 2^53 (the DuckDB twin's // is exact integer division)
    tail = F.shiftright(h, 4)
    blen = F.when(F.col("tail") == 0, F.lit(0)) \
        .otherwise(F.length(F.expr("bin(tail)")))
    rho = (F.lit(56) - blen + 1)
    regs = (ev.select(bucket.alias("b"), tail.alias("tail"))
            .select("b", rho.alias("rho"))
            .groupBy("b").agg(F.max("rho").alias("reg")))
    alpha = 0.673  # Flajolet's m=16 constant
    hsum = (F.sum(F.expr("power(2.0d, -CAST(reg AS DOUBLE))"))
            + (m - F.count("*")))
    sk = regs.agg(
        F.count("*").alias("nonzero_regs"),
        F.round(hsum, 9).alias("harmonic_sum"),
        F.round(F.lit(alpha * m * m) / hsum, 6).alias("raw_estimate"))
    exact = ev.agg(F.count_distinct("user_id").alias("n_exact"))
    return sk.crossJoin(F.broadcast(exact)).select(
        F.lit(m).alias("m"), "nonzero_regs", "harmonic_sum",
        "raw_estimate", "n_exact")


_HLL_ORACLE = """
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM events),
hb AS (
  SELECT h % 16 AS b, h // 16 AS tail FROM h),
regs AS (
  SELECT b, MAX(56 - (CASE WHEN tail = 0 THEN 0
                           ELSE length(bin(tail)) END) + 1) AS reg
  FROM hb GROUP BY 1),
sk AS (
  SELECT COUNT(*) AS nonzero_regs,
         SUM(power(2.0, -CAST(reg AS DOUBLE)))
           + (16 - COUNT(*)) AS hsum
  FROM regs)
SELECT CAST(16 AS INT) AS m, nonzero_regs,
       round(hsum, 9) AS harmonic_sum,
       round(0.673 * 16 * 16 / hsum, 6) AS raw_estimate,
       (SELECT COUNT(DISTINCT user_id) FROM events) AS n_exact
FROM sk
"""
query("hll_distinct", q_hll_distinct, _HLL_ORACLE)


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch heavy hitters, depth 4 x width 256 with
    md5-derived row hashes: per row j the key's bucket is 8 bits of
    md5(j || key); the sketch is the (j, bucket) count table (one
    map-side-combinable aggregate, fixed 1024 cells at any corpus
    size); a key's estimate is the MIN over its four cells — always
    >= the true count, equal for true heavy hitters.  Emits every
    user whose CMS estimate >= 0.2% of total events with the exact
    count beside it (estimate >= exact always; integer-exact both
    engines)."""
    d, wdt = 4, 256
    ev = _events(spark, sf_dir)
    key = F.col("user_id").cast("string")
    cells = F.array(*[
        F.struct(F.lit(j).alias("j"),
                 (text.hash60(F.concat(F.lit(f"{j}:"), key)) % wdt)
                 .alias("c"))
        for j in range(d)])
    sketch = (ev.select(F.explode(cells).alias("jc"))
              .groupBy("jc.j", "jc.c")
              .agg(F.count("*").alias("n"))
              .localCheckpoint(eager=True))
    total = ev.count()
    thresh = max(1, int(total * 0.002))
    keys = ev.groupBy("user_id").agg(F.count("*").alias("n_exact"))
    kc = keys.select(
        "user_id", "n_exact",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("j"),
                     (text.hash60(F.concat(
                         F.lit(f"{j}:"),
                         F.col("user_id").cast("string"))) % wdt)
                     .alias("c"))
            for j in range(d)])).alias("jc"))
    est = (kc.join(sketch, (F.col("jc.j") == F.col("j"))
                   & (F.col("jc.c") == F.col("c")))
           .groupBy("user_id", "n_exact")
           .agg(F.min("n").alias("cms_estimate"))
           .where(F.col("cms_estimate") >= thresh))
    return est.select("user_id", "cms_estimate", "n_exact")


_CMS_ORACLE = """
WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k, user_id FROM events),
cells AS (
  SELECT j, ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || k), 1, 15))
              ::BIGINT % 256 AS c,
         user_id
  FROM ev, UNNEST(range(0, 4)) t(j)),
sketch AS (SELECT j, c, COUNT(*) AS n FROM cells GROUP BY 1, 2),
keys AS (SELECT user_id, COUNT(*) AS n_exact FROM ev GROUP BY 1),
kc AS (
  SELECT k2.user_id, k2.n_exact, t.j,
         ('0x' || substr(md5(CAST(t.j AS VARCHAR) || ':'
                             || CAST(k2.user_id AS VARCHAR)), 1, 15))
           ::BIGINT % 256 AS c
  FROM keys k2, UNNEST(range(0, 4)) t(j)),
est AS (
  SELECT kc.user_id, kc.n_exact, MIN(s.n) AS cms_estimate
  FROM kc JOIN sketch s ON kc.j = s.j AND kc.c = s.c
  GROUP BY 1, 2)
SELECT user_id, cms_estimate, n_exact
FROM est
WHERE cms_estimate >= GREATEST(1, CAST(
  (SELECT COUNT(*) FROM events) * 0.002 AS BIGINT))
"""
query("cms_heavy_hitters", q_cms_heavy_hitters, _CMS_ORACLE)


_MRE_ITERS = 16


def q_markov_removal_effects(spark, sf_dir):
    """Markov removal-effect attribution (Anderl et al.): per-user
    journeys truncated at the first purchase become an absorbing
    chain START -> channels -> {CONV, NULL}; a channel's credit is
    how much the START->CONV absorption probability drops when every
    transition through it is deleted (mass lost, NOT renormalized —
    the standard removal semantics).  Absorption runs as 16 fixed
    synchronous iterations re-rounded to the 9 dp DECIMAL grid
    (q:markov_steady_state's ladder), i.e. 'converts within 16
    steps' — defined, engine-exact semantics with no convergence
    check to diverge on.  All five variants (base + 4 removals) ride
    ONE variant-keyed transition frame, so each iteration is a single
    tiny join + groupBy regardless of channel count."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("long").alias("t"),
        "event_id", "event_type")
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    rn = ev.withColumn("rn", F.row_number().over(w))
    firstp = (rn.where(F.col("event_type") == "purchase")
              .groupBy("user_id").agg(F.min("rn").alias("fp")))
    j = rn.join(firstp, "user_id", "left")
    kept = j.where((F.col("fp").isNull()) | (F.col("rn") < F.col("fp")))
    states = (kept.select("user_id", F.col("rn").cast("long").alias("pos"),
                          F.col("event_type").alias("state"))
              .unionByName(
                  j.select("user_id").distinct()
                  .select("user_id", F.lit(0).cast("long").alias("pos"),
                          F.lit("START").alias("state")))
              .unionByName(
                  j.select("user_id", "fp").distinct()
                  .select("user_id",
                          F.lit(1 << 40).cast("long").alias("pos"),
                          F.when(F.col("fp").isNotNull(), "CONV")
                          .otherwise("NULL").alias("state"))))
    w2 = W.partitionBy("user_id").orderBy("pos")
    tr = (states.withColumn("d", F.lead("state").over(w2))
          .where(F.col("d").isNotNull())
          .groupBy(F.col("state").alias("s"), "d")
          .agg(F.count("*").alias("c")))
    tot = tr.groupBy("s").agg(F.sum("c").alias("n"))
    p = (tr.join(tot, "s")
         .select("s", "d", F.round(F.col("c") / F.col("n"), 9)
                 .cast("decimal(18,9)").alias("p")))
    channels = ["click", "error", "signup", "view"]
    variants = (spark.createDataFrame(
        [("base",)] + [(c,) for c in channels], "removed string"))
    pv = (p.crossJoin(F.broadcast(variants))
          .where((F.col("removed") == "base")
                 | ((F.col("s") != F.col("removed"))
                    & (F.col("d") != F.col("removed"))))
          .localCheckpoint(eager=True))
    direct = (pv.where(F.col("d") == "CONV")
              .select("removed", "s", F.col("p").alias("dp")))
    ptrans = pv.where(~F.col("d").isin("CONV", "NULL")) \
        .localCheckpoint(eager=True)
    sts = pv.select("removed", "s").distinct().localCheckpoint(eager=True)
    v = sts.join(direct, ["removed", "s"], "left").select(
        "removed", "s",
        F.coalesce(F.col("dp"), F.lit(0).cast("decimal(18,9)"))
        .alias("v"))
    for _ in range(_MRE_ITERS - 1):
        nb = (ptrans.join(v.select(F.col("removed"),
                                   F.col("s").alias("d"),
                                   F.col("v")), ["removed", "d"])
              .groupBy("removed", "s")
              .agg(F.sum(F.col("p") * F.col("v")).alias("acc")))
        v = (sts.join(direct, ["removed", "s"], "left")
             .join(nb, ["removed", "s"], "left")
             .select("removed", "s",
                     F.round(F.coalesce(F.col("dp").cast("double"),
                                        F.lit(0.0))
                             + F.coalesce(F.col("acc").cast("double"),
                                          F.lit(0.0)), 9)
                     .cast("decimal(18,9)").alias("v"))
             .localCheckpoint(eager=True))
    vstart = v.where(F.col("s") == "START").select(
        "removed", F.col("v").cast("double").alias("p_conv"))
    base = vstart.where(F.col("removed") == "base") \
        .select(F.col("p_conv").alias("p_base"))
    return (vstart.where(F.col("removed") != "base")
            .crossJoin(F.broadcast(base))
            .select(F.col("removed").alias("channel"),
                    F.round("p_conv", 9).alias("p_conv_without"),
                    F.round("p_base", 9).alias("p_conv_base"),
                    F.round(1 - F.col("p_conv") / F.col("p_base"), 6)
                    .alias("removal_effect")))


def _markov_removal_oracle_sql(iters: int = _MRE_ITERS) -> str:
    """Unrolled DuckDB replay of q_markov_removal_effects: same
    variant-keyed transitions, same 9 dp re-rounding per round."""
    head = """
WITH
rn AS MATERIALIZED (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                     event_id) AS rn
  FROM events),
firstp AS MATERIALIZED (
  SELECT user_id, MIN(rn) AS fp FROM rn
  WHERE event_type = 'purchase' GROUP BY 1),
jx AS MATERIALIZED (
  SELECT rn.user_id, rn.event_type, rn.rn, firstp.fp
  FROM rn LEFT JOIN firstp USING (user_id)),
states AS MATERIALIZED (
  SELECT user_id, CAST(rn AS BIGINT) AS pos, event_type AS state
  FROM jx WHERE fp IS NULL OR rn < fp
  UNION ALL
  SELECT DISTINCT user_id, 0, 'START' FROM jx
  UNION ALL
  SELECT user_id, CAST(1099511627776 AS BIGINT),
         CASE WHEN fp IS NOT NULL THEN 'CONV' ELSE 'NULL' END
  FROM (SELECT DISTINCT user_id, fp FROM jx)),
tr AS MATERIALIZED (
  SELECT s, d, COUNT(*) AS c FROM (
    SELECT state AS s,
           LEAD(state) OVER (PARTITION BY user_id ORDER BY pos) AS d
    FROM states)
  WHERE d IS NOT NULL GROUP BY 1, 2),
p AS MATERIALIZED (
  SELECT s, d, CAST(round(CAST(c AS DOUBLE) / n, 9) AS DECIMAL(18,9))
           AS p
  FROM tr JOIN (SELECT s, SUM(c) AS n FROM tr GROUP BY 1) USING (s)),
variants(removed) AS (VALUES ('base'), ('click'), ('error'),
                             ('signup'), ('view')),
pv AS MATERIALIZED (
  SELECT removed, s, d, p FROM p, variants
  WHERE removed = 'base' OR (s <> removed AND d <> removed)),
direct AS MATERIALIZED (
  SELECT removed, s, p AS dp FROM pv WHERE d = 'CONV'),
ptrans AS MATERIALIZED (
  SELECT removed, s, d, p FROM pv WHERE d NOT IN ('CONV', 'NULL')),
sts AS MATERIALIZED (SELECT DISTINCT removed, s FROM pv),
v1 AS MATERIALIZED (
  SELECT sts.removed, sts.s,
         CAST(COALESCE(dp, 0) AS DECIMAL(18,9)) AS v
  FROM sts LEFT JOIN direct
    ON sts.removed = direct.removed AND sts.s = direct.s)"""
    rounds = []
    for k in range(2, iters + 1):
        rounds.append(f""",
v{k} AS MATERIALIZED (
  SELECT sts.removed, sts.s,
         CAST(round(COALESCE(CAST(dp AS DOUBLE), 0)
                    + COALESCE(acc, 0), 9) AS DECIMAL(18,9)) AS v
  FROM sts
  LEFT JOIN direct
    ON sts.removed = direct.removed AND sts.s = direct.s
  LEFT JOIN (
    SELECT pt.removed, pt.s, CAST(SUM(pt.p * pv2.v) AS DOUBLE) AS acc
    FROM ptrans pt JOIN v{k-1} pv2
      ON pt.removed = pv2.removed AND pt.d = pv2.s
    GROUP BY 1, 2) nb
    ON sts.removed = nb.removed AND sts.s = nb.s)""")
    tail = f"""
SELECT x.removed AS channel,
       round(CAST(x.v AS DOUBLE), 9) AS p_conv_without,
       round(CAST(b.v AS DOUBLE), 9) AS p_conv_base,
       round(1 - CAST(x.v AS DOUBLE) / CAST(b.v AS DOUBLE), 6)
         AS removal_effect
FROM (SELECT removed, v FROM v{iters}
      WHERE s = 'START' AND removed <> 'base') x,
     (SELECT v FROM v{iters}
      WHERE s = 'START' AND removed = 'base') b"""
    return head + "".join(rounds) + tail
query("markov_removal_effects", q_markov_removal_effects,
      _markov_removal_oracle_sql())


def q_edit_distance_pairs(spark, sf_dir):
    """Character-level edit-distance verification for LSH candidate
    pairs — the precision stage after MinHash recall: exact
    Levenshtein (integer DP, engine-portable) plus the normalized
    similarity 1 - d/max_len.  Runs ONLY on the pruned candidate
    list (the corpus never pairs); the DP is O(len_a * len_b) per
    pair, which is why it must sit behind a candidate generator at
    scale — exactly where fuzzy-dedup pipelines place it."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    cand = q_minhash_pairs(spark, sf_dir)
    j = (cand
         .join(docs.select(F.col("doc_id").alias("id_a"),
                           F.col("text").alias("ta")), "id_a")
         .join(docs.select(F.col("doc_id").alias("id_b"),
                           F.col("text").alias("tb")), "id_b"))
    d = F.levenshtein("ta", "tb")
    mx = F.greatest(F.length("ta"), F.length("tb"))
    return j.select(
        "id_a", "id_b", d.cast("long").alias("edit_distance"),
        F.round(1 - d / F.greatest(mx, F.lit(1)), 6).alias("similarity"))


_EDIT_DISTANCE_ORACLE = """
WITH toks AS (
  SELECT doc_id, text, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id, list_min(list_transform(range(1, len(ws)-1),
        i -> md5('0:' || ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
        AS mh
  FROM toks WHERE len(ws) >= 3
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.mh = b.mh AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(levenshtein(x.text, y.text) AS BIGINT) AS edit_distance,
       round(1 - CAST(levenshtein(x.text, y.text) AS DOUBLE)
               / GREATEST(GREATEST(length(x.text), length(y.text)), 1),
             6) AS similarity
FROM cand JOIN documents x ON x.doc_id = id_a
          JOIN documents y ON y.doc_id = id_b
"""
query("edit_distance_pairs", q_edit_distance_pairs, _EDIT_DISTANCE_ORACLE)


def q_tfidf_cosine_pairs(spark, sf_dir):
    """TF-IDF cosine similarity for LSH candidate pairs — the sparse
    lexical twin of the embedding verify: vectors never materialize;
    the dot product is a sum over SHARED terms only (join the two
    per-doc term frames on the term), normalized by per-doc norms.
    idf uses the libm-free (N/df) weight squared into exact rationals
    before one final double division (ln-free, so the replay is
    bit-exact).  Scale: term frames shuffle once on term; only
    candidate pairs ever meet."""
    docs = _docs(spark, sf_dir)
    cand = q_minhash_pairs(spark, sf_dir).localCheckpoint(eager=True)
    toks = (docs.select("doc_id",
                        F.explode(text.tokens(F.col("text")))
                        .alias("term")))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = docs.count()
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # weight = tf * (N/df): exact rational scaled to integers —
    # w_num = tf * N, w_den = df  (cosine is scale-invariant per doc,
    # but N is shared so it cancels; keep tf/df exact rationals via
    # tf * (N // gcd…) — simplest exact form: w = tf / df as the pair
    # (tf, df), dot = sum tf_a*tf_b/(df^2), norms likewise; all sums
    # of exact rationals with denominator df^2 — accumulate as DOUBLE
    # of exact integer ratios (each term's contribution rounds once)
    wt = (tf.join(dfreq, "term")
          .select("doc_id", "term", "tf", "df")
          .localCheckpoint(eager=True))
    # per-term contributions quantize onto the 9 dp DECIMAL grid
    # before summing (the textrank ladder): float-sum ORDER differs
    # between engines, decimal sums of identical per-term values
    # cannot
    contrib = lambda t1, t2, d: F.round(  # noqa: E731
        t1.cast("double") * t2 / (d.cast("double") * d), 9) \
        .cast("decimal(18,9)")
    norm = (wt.groupBy("doc_id")
            .agg(F.sum(contrib(F.col("tf"), F.col("tf"), F.col("df")))
                 .alias("nsq")))
    a = wt.select(F.col("doc_id").alias("id_a"), "term",
                  F.col("tf").alias("tfa"), F.col("df").alias("dfa"))
    b = wt.select(F.col("doc_id").alias("id_b"), "term",
                  F.col("tf").alias("tfb"))
    dots = (cand.join(a, "id_a").join(b, ["id_b", "term"])
            .groupBy("id_a", "id_b")
            .agg(F.sum(contrib(F.col("tfa"), F.col("tfb"),
                               F.col("dfa"))).alias("dot")))
    na = norm.select(F.col("doc_id").alias("id_a"),
                     F.col("nsq").cast("double").alias("na"))
    nb = norm.select(F.col("doc_id").alias("id_b"),
                     F.col("nsq").cast("double").alias("nb"))
    return (dots.join(na, "id_a").join(nb, "id_b")
            .select("id_a", "id_b",
                    F.round(F.col("dot").cast("double")
                            / (F.sqrt("na") * F.sqrt("nb")), 6)
                    .alias("tfidf_cosine")))


_TFIDF_COSINE_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id, list_min(list_transform(range(1, len(ws)-1),
        i -> md5('0:' || ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
        AS mh
  FROM toks WHERE len(ws) >= 3
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.mh = b.mh AND a.doc_id < b.doc_id
), tf AS (
  SELECT doc_id, t.term, COUNT(*) AS tf
  FROM toks, UNNEST(ws) AS t(term) GROUP BY 1, 2
), dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
wt AS (
  SELECT doc_id, term, tf, df FROM tf JOIN dfreq USING (term)),
nrm AS (
  SELECT doc_id,
         SUM(CAST(round(CAST(tf AS DOUBLE) * tf
                        / (CAST(df AS DOUBLE) * df), 9)
                  AS DECIMAL(18,9))) AS nsq
  FROM wt GROUP BY 1),
dots AS (
  SELECT c.id_a, c.id_b,
         SUM(CAST(round(CAST(a.tf AS DOUBLE) * b.tf
                        / (CAST(a.df AS DOUBLE) * a.df), 9)
                  AS DECIMAL(18,9))) AS dot
  FROM cand c
  JOIN wt a ON a.doc_id = c.id_a
  JOIN wt b ON b.doc_id = c.id_b AND b.term = a.term
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(CAST(dot AS DOUBLE)
             / (sqrt(CAST(x.nsq AS DOUBLE))
                * sqrt(CAST(y.nsq AS DOUBLE))), 6) AS tfidf_cosine
FROM dots JOIN nrm x ON x.doc_id = id_a
          JOIN nrm y ON y.doc_id = id_b
"""
query("tfidf_cosine_pairs", q_tfidf_cosine_pairs, _TFIDF_COSINE_ORACLE)


def q_corpus_pipeline_v3(spark, sf_dir):
    """Capstone composition of THIS session's operators in one DAG:
    (1) exact verbatim-overlap dedup — drop the higher doc of any
    pair sharing a >= 20-token substring span (Lee et al. exact
    substring, q:substring_spans); (2) near-dup dedup — MinHash
    candidates verified by character edit similarity >= 0.6
    (q:edit_distance_pairs), clustered by connected components, keep
    the min id; (3) BPE-budget shard packing — merges trained on the
    SURVIVORS (not the raw corpus), documents packed into
    4000-BPE-token shards per language (q:tokenizer_fertility's
    counts feeding q:pack_shards' cumsum layout).  Per-shard stats
    out.  Every stage is an already-oracled operator; the whole
    pipeline replays as one CTE chain."""
    from ..operators.pipeline import pack_shards
    from ..operators.text import bpe_apply, bpe_train
    docs = _docs(spark, sf_dir)
    spans = dedup.shared_substring_spans(docs, k=8, min_span=20)
    drop1 = spans.select(F.col("id_b").alias("doc_id")).distinct()
    s1 = docs.join(drop1, "doc_id", "left_anti") \
        .localCheckpoint(eager=True)
    sig = dedup.minhash_signature(s1, num_hashes=1)
    a = sig.select(F.col("doc_id").alias("id_a"), "sig0")
    b = sig.select(F.col("doc_id").alias("id_b"),
                   F.col("sig0").alias("s2"))
    cand = (a.join(b, (F.col("sig0") == F.col("s2"))
                   & (F.col("id_a") < F.col("id_b")))
            .select("id_a", "id_b"))
    tx = s1.select("doc_id", "text")
    ver = (cand
           .join(tx.select(F.col("doc_id").alias("id_a"),
                           F.col("text").alias("ta")), "id_a")
           .join(tx.select(F.col("doc_id").alias("id_b"),
                           F.col("text").alias("tb")), "id_b")
           .where((1 - F.levenshtein("ta", "tb")
                   / F.greatest(F.greatest(F.length("ta"),
                                           F.length("tb")), F.lit(1)))
                  >= 0.6)
           .select("id_a", "id_b"))
    clusters = dedup.dedup_clusters(ver)
    drop2 = (clusters.where(F.col("doc_id") != F.col("cluster"))
             .select("doc_id"))
    s2f = s1.join(drop2, "doc_id", "left_anti") \
        .localCheckpoint(eager=True)
    merges = [(r["lhs"], r["rhs"])
              for r in bpe_train(s2f, rounds=6).collect()]
    bpe = bpe_apply(s2f, merges)
    packed = pack_shards(
        s2f.select("doc_id", "lang").join(bpe, "doc_id"),
        "doc_id", "n_bpe_tokens", budget=4000, partition_col="lang")
    return (packed.groupBy("lang", "shard_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_bpe_tokens").cast("long")
                 .alias("shard_tokens")))


def _pipeline_v3_oracle_sql(rounds: int = 6) -> str:
    """One CTE chain replaying all three v3 stages; BPE trains on the
    surviving corpus (s2 CTE) via the shared generator."""
    mrg = ", ".join(f"(SELECT pair FROM b{r}) AS p{r}"
                    for r in range(1, rounds + 1))
    seq = "' ' || array_to_string(string_split(w, ''), ' ') || ' '"
    for r in range(1, rounds + 1):
        pat = f"' ' || p{r} || ' '"
        rep = f"' ' || replace(p{r}, ' ', '') || ' '"
        seq = f"replace(replace({seq}, {pat}, {rep}), {pat}, {rep})"
    head = """
WITH RECURSIVE
toks0 AS MATERIALIZED (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents),
gr AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS g
  FROM toks0, UNNEST(range(1, len(ws) - 6)) t(i)
  WHERE len(ws) >= 8),
keep AS (
  SELECT g FROM gr GROUP BY g
  HAVING COUNT(DISTINCT doc_id) >= 2 AND COUNT(*) <= 16),
gk AS MATERIALIZED (
  SELECT gr.doc_id, gr.pos, gr.g FROM gr JOIN keep USING (g)),
gpairs AS (
  SELECT a.doc_id AS id_a, a.pos AS pa, b.doc_id AS id_b, b.pos AS pb
  FROM gk a JOIN gk b ON a.g = b.g AND a.doc_id < b.doc_id),
isl AS (
  SELECT id_a, id_b, pa,
         pa - ROW_NUMBER() OVER (
           PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS isl,
         pa - pb AS diag
  FROM gpairs),
spandrop AS MATERIALIZED (
  SELECT DISTINCT id_b AS doc_id FROM isl
  GROUP BY id_a, id_b, diag, isl HAVING COUNT(*) + 7 >= 20),
s1 AS MATERIALIZED (
  SELECT d.* FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM spandrop)),
toks1 AS MATERIALIZED (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS ws
  FROM s1),
sh AS MATERIALIZED (
  SELECT doc_id, list_min(list_transform(range(1, len(ws)-1),
        i -> md5('0:' || ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
        AS mh
  FROM toks1 WHERE len(ws) >= 3),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.mh = b.mh AND a.doc_id < b.doc_id),
ver AS MATERIALIZED (
  SELECT id_a, id_b
  FROM cand JOIN s1 x ON x.doc_id = id_a
            JOIN s1 y ON y.doc_id = id_b
  WHERE 1 - CAST(levenshtein(x.text, y.text) AS DOUBLE)
            / GREATEST(GREATEST(length(x.text), length(y.text)), 1)
        >= 0.6),
vsym AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM ver
  UNION SELECT id_b, id_a FROM ver),
vreach(a, b) AS (
  SELECT a, b FROM vsym
  UNION
  SELECT r.a, s.b FROM vreach r JOIN vsym s ON s.a = r.b),
vclust AS MATERIALIZED (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster
  FROM vreach GROUP BY 1),
s2 AS MATERIALIZED (
  SELECT s1.* FROM s1
  WHERE s1.doc_id NOT IN (
    SELECT doc_id FROM vclust WHERE doc_id <> cluster)),
"""
    tail = f""",
mrg AS (SELECT {mrg}),
bpec AS MATERIALIZED (
  SELECT doc_id, lang,
         CAST(COALESCE(list_sum(list_transform(ws,
           w -> len(string_split(trim({seq}), ' ')))), 0) AS BIGINT)
           AS nb
  FROM (SELECT doc_id, lang, list_filter(
          string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')
          AS ws FROM s2), mrg),
pk AS (
  SELECT lang, doc_id, nb,
         SUM(nb) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM bpec)
SELECT lang, CAST(floor((cum - nb) / 4000.0) AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs, CAST(SUM(nb) AS BIGINT) AS shard_tokens
FROM pk GROUP BY 1, 2"""
    return head + _bpe_ctes(rounds, source="s2") + tail
query("corpus_pipeline_v3", q_corpus_pipeline_v3, _pipeline_v3_oracle_sql())


def q_rec_precision_at_k(spark, sf_dir):
    """Leakage-safe offline evaluation of the item-CF recommender:
    train the co-occurrence neighbors ONLY on pre-1997 baskets,
    recommend top-3 per customer, score against what each customer
    actually first bought in 1997+ (parts not owned before the
    cutoff).  Emits the corpus-level precision@3 and hit-rate —
    the recsys audit loop q:item_recommendations feeds.  Temporal
    split = the grouped_split/ split_leakage_check discipline applied
    to recommendations; identical caps and 9 dp DECIMAL scores keep
    the replay exact."""
    from pyspark.sql import Window as W
    t = load_tables(spark, sf_dir)
    ol = (t["orders"].select("o_orderkey", "o_custkey", "o_orderdate")
          .join(t["lineitem"].select("l_orderkey", "l_partkey"),
                F.col("o_orderkey") == F.col("l_orderkey")))
    train = (ol.where(F.col("o_orderdate") < "1997-01-01")
             .select(F.col("o_custkey").alias("c"),
                     F.col("l_partkey").alias("p")).distinct()
             .localCheckpoint(eager=True))
    test = (ol.where(F.col("o_orderdate") >= "1997-01-01")
            .select(F.col("o_custkey").alias("c"),
                    F.col("l_partkey").alias("p")).distinct()
            .join(train, ["c", "p"], "left_anti"))
    sz = train.groupBy("c").agg(F.count("*").alias("nb"))
    capped = train.join(sz.where(F.col("nb") <= 100).select("c"), "c")
    pop = train.groupBy("p").agg(F.count("*").alias("pop"))
    a, b = capped.alias("a"), capped.alias("b")
    cooc = (a.join(b, (F.col("a.c") == F.col("b.c"))
                   & (F.col("a.p") < F.col("b.p")))
            .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
            .agg(F.count("*").alias("cooc"))
            .where(F.col("cooc") >= 2))
    jac = (cooc
           .join(F.broadcast(pop.select(F.col("p").alias("pa"),
                                        F.col("pop").alias("na"))), "pa")
           .join(F.broadcast(pop.select(F.col("p").alias("pb"),
                                        F.col("pop").alias("nb"))), "pb")
           .select("pa", "pb",
                   F.round(F.col("cooc")
                           / (F.col("na") + F.col("nb") - F.col("cooc")),
                           9).cast("decimal(18,9)").alias("jac")))
    nbrs_all = (jac.select(F.col("pa").alias("p"),
                           F.col("pb").alias("q"), "jac")
                .unionByName(jac.select(F.col("pb").alias("p"),
                                        F.col("pa").alias("q"), "jac")))
    wn = W.partitionBy("p").orderBy(F.col("jac").desc(), F.col("q"))
    nbrs = (nbrs_all.withColumn("_nr", F.row_number().over(wn))
            .where(F.col("_nr") <= 20).drop("_nr"))
    scored = (capped.join(nbrs, capped["p"] == nbrs["p"])
              .groupBy("c", "q")
              .agg(F.sum("jac").cast("decimal(28,9)").alias("s"))
              .join(train.select("c", F.col("p").alias("q")),
                    ["c", "q"], "left_anti"))
    w = W.partitionBy("c").orderBy(F.col("s").desc(), F.col("q"))
    recs = (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3).select("c", "q"))
    eligible = (recs.select("c").distinct()
                .join(test.select("c").distinct(), "c"))
    hits = (recs.join(test.select("c", F.col("p").alias("q")),
                      ["c", "q"])
            .groupBy("c").agg(F.count("*").alias("h")))
    per_user = (eligible.join(hits, "c", "left")
                .select("c", F.coalesce("h", F.lit(0)).alias("h")))
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum("h").cast("long").alias("sum_hits"),
        F.round(F.sum("h") / (3 * F.count("*")), 6)
        .alias("precision_at_3"),
        F.round(F.sum(F.when(F.col("h") > 0, 1).otherwise(0))
                / F.count("*"), 6).alias("hit_rate"))


_REC_PRECISION_ORACLE = """
WITH ol AS (
  SELECT o_custkey AS c, l_partkey AS p, o_orderdate
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
train AS (
  SELECT DISTINCT c, p FROM ol
  WHERE o_orderdate < '1997-01-01'),
test AS (
  SELECT DISTINCT t.c, t.p FROM ol t
  LEFT JOIN train tr ON tr.c = t.c AND tr.p = t.p
  WHERE t.o_orderdate >= '1997-01-01' AND tr.p IS NULL),
capped AS (
  SELECT b.* FROM train b
  JOIN (SELECT c FROM train GROUP BY c HAVING COUNT(*) <= 100) k
    USING (c)),
pop AS (SELECT p, COUNT(*) AS pop FROM train GROUP BY p),
cooc AS (
  SELECT a.p AS pa, b.p AS pb, COUNT(*) AS cooc
  FROM capped a JOIN capped b ON a.c = b.c AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
jac AS (
  SELECT pa, pb,
         CAST(round(cooc * 1.0 / (na.pop + nb.pop - cooc), 9)
              AS DECIMAL(18,9)) AS jac
  FROM cooc JOIN pop na ON na.p = pa JOIN pop nb ON nb.p = pb),
nbrs_all AS (
  SELECT pa AS p, pb AS q, jac FROM jac
  UNION ALL SELECT pb, pa, jac FROM jac),
nbrs AS (
  SELECT p, q, jac FROM (
    SELECT p, q, jac,
           row_number() OVER (PARTITION BY p
                              ORDER BY jac DESC, q) AS nr
    FROM nbrs_all) WHERE nr <= 20),
scored AS (
  SELECT cp.c, n.q, SUM(n.jac) AS s
  FROM capped cp JOIN nbrs n ON n.p = cp.p GROUP BY 1, 2),
fresh AS (
  SELECT s.* FROM scored s
  LEFT JOIN train o ON o.c = s.c AND o.p = s.q
  WHERE o.p IS NULL),
recs AS (
  SELECT c, q FROM (
    SELECT c, q,
           row_number() OVER (PARTITION BY c ORDER BY s DESC, q) AS rn
    FROM fresh) WHERE rn <= 3),
eligible AS (
  SELECT DISTINCT r.c FROM recs r
  JOIN (SELECT DISTINCT c FROM test) t ON t.c = r.c),
hits AS (
  SELECT r.c, COUNT(*) AS h
  FROM recs r JOIN test t ON t.c = r.c AND t.p = r.q
  GROUP BY 1),
per_user AS (
  SELECT e.c, COALESCE(h.h, 0) AS h
  FROM eligible e LEFT JOIN hits h ON h.c = e.c)
SELECT COUNT(*) AS n_users,
       CAST(SUM(h) AS BIGINT) AS sum_hits,
       round(SUM(h) * 1.0 / (3 * COUNT(*)), 6) AS precision_at_3,
       round(SUM(CASE WHEN h > 0 THEN 1 ELSE 0 END) * 1.0 / COUNT(*),
             6) AS hit_rate
FROM per_user
"""
query("rec_precision_at_k", q_rec_precision_at_k, _REC_PRECISION_ORACLE)


def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier tuple (nation,
    market segment, account-balance band): how many customers sit in
    equivalence classes smaller than k — the re-identification risk
    screen a training corpus with user-derived fields needs before
    release.  One groupBy for class sizes, one tiny rollup per k.
    Exact integers; the QI banding is width-based (floor to $1000),
    so no rank nondeterminism."""
    t = load_tables(spark, sf_dir)
    qi = (t["customer"]
          .join(F.broadcast(t["nation"].select(
              F.col("n_nationkey").alias("c_nationkey"),
              "n_name")), "c_nationkey")
          .select("n_name", "c_mktsegment",
                  F.floor(F.col("c_acctbal").cast("decimal(18,2)")
                          / 1000).cast("long").alias("bal_band")))
    sizes = (qi.groupBy("n_name", "c_mktsegment", "bal_band")
             .agg(F.count("*").alias("cls")))
    total = qi.count()
    ks = spark.createDataFrame([(2,), (5,), (10,)], "k int")
    return (sizes.crossJoin(F.broadcast(ks))
            .groupBy("k")
            .agg(F.sum(F.when(F.col("cls") < F.col("k"), F.col("cls"))
                       .otherwise(0)).cast("long").alias("n_at_risk"),
                 F.count(F.when(F.col("cls") < F.col("k"), 1))
                 .cast("long").alias("classes_below_k"))
            .select("k", "n_at_risk", "classes_below_k",
                    F.round(F.col("n_at_risk") / F.lit(total), 6)
                    .alias("risk_share")))


_K_ANON_ORACLE = """
WITH qi AS (
  SELECT n_name, c_mktsegment,
         CAST(floor(CAST(c_acctbal AS DECIMAL(18,2)) / 1000)
              AS BIGINT) AS bal_band
  FROM customer JOIN nation ON c_nationkey = n_nationkey),
sizes AS (
  SELECT n_name, c_mktsegment, bal_band, COUNT(*) AS cls
  FROM qi GROUP BY 1, 2, 3),
ks(k) AS (VALUES (2), (5), (10))
SELECT k,
       CAST(SUM(CASE WHEN cls < k THEN cls ELSE 0 END) AS BIGINT)
         AS n_at_risk,
       CAST(COUNT(CASE WHEN cls < k THEN 1 END) AS BIGINT)
         AS classes_below_k,
       round(SUM(CASE WHEN cls < k THEN cls ELSE 0 END) * 1.0
             / (SELECT COUNT(*) FROM qi), 6) AS risk_share
FROM sizes, ks GROUP BY k
"""
query("k_anonymity", q_k_anonymity, _K_ANON_ORACLE)


def q_posting_lists(spark, sf_dir):
    """The inverted index AS DATA: per-term posting statistics over
    the documents corpus — document frequency, collection frequency,
    and the posting span (min/max doc id) for the 30 highest-cf
    terms.  This is fts.build_tf_index's shape surfaced as a
    queryable artifact (what a search/RAG pipeline ships to its
    serving tier); one explode + one map-side-combinable aggregate,
    the corpus shuffles once on the term."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id",
                       F.explode(text.tokens(F.col("text")))
                       .alias("term"))
    return (toks.groupBy("term")
            .agg(F.count_distinct("doc_id").alias("df"),
                 F.count("*").alias("cf"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc"))
            .orderBy(F.col("cf").desc(), "term").limit(30))


_POSTING_LISTS_ORACLE = """
WITH toks AS (
  SELECT doc_id, t.term
  FROM (SELECT doc_id, list_filter(
          string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')
          AS ws FROM documents),
       UNNEST(ws) AS t(term))
SELECT term, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS cf,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM toks GROUP BY 1
ORDER BY cf DESC, term LIMIT 30
"""
query("posting_lists", q_posting_lists, _POSTING_LISTS_ORACLE)


def q_wasserstein_drift(spark, sf_dir):
    """1-D Wasserstein-1 (earth-mover) distance between the 1996 and
    1997+ order-value distributions, per market segment — the drift
    metric that, unlike PSI (q:psi_drift) and JSD (q:jsd_daily_mix),
    weighs HOW FAR mass moved, not just that bins changed; unlike KS
    (q:ks_statistic) it integrates the whole CDF gap instead of taking
    its sup.  On a $5k bucket grid, W1 = width · Σ_b |F_ref(b) −
    F_cur(b)|, computed EXACTLY: the summand is the BIGINT
    |cum_ref·N_cur − cum_cur·N_ref| (order-free sum), and only the
    final width/(N_ref·N_cur) scaling is IEEE.  Shapes: one
    aggregation on (segment, bucket, window), cumulative sums over the
    per-segment bucket grid (bounded: ≤ ~120 buckets), broadcast
    totals — scales as a pure groupBy."""
    o = load_tables(spark, sf_dir)["orders"]
    c = load_tables(spark, sf_dir)["customer"]
    width = 5000
    rows = (o.join(F.broadcast(c.select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment")),
                "o_custkey")
            .select("c_mktsegment",
                    F.floor(F.col("o_totalprice").cast("double")
                            / width).cast("long").alias("b"),
                    (F.col("o_orderdate") < F.lit("1997-01-01"))
                    .alias("is_ref")))
    cnt = (rows.groupBy("c_mktsegment", "b")
           .agg(F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
                .alias("n_ref"),
                F.sum(F.when(~F.col("is_ref"), 1).otherwise(0))
                .alias("n_cur")))
    from pyspark.sql.window import Window
    w = (Window.partitionBy("c_mktsegment").orderBy("b")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = cnt.select(
        "c_mktsegment", "b",
        F.sum("n_ref").over(w).alias("cum_ref"),
        F.sum("n_cur").over(w).alias("cum_cur"))
    tot = (rows.groupBy("c_mktsegment")
           .agg(F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
                .alias("t_ref"),
                F.sum(F.when(~F.col("is_ref"), 1).otherwise(0))
                .alias("t_cur")))
    return (cum.join(F.broadcast(tot), "c_mktsegment")
            .groupBy("c_mktsegment")
            .agg(F.sum(F.abs(F.col("cum_ref") * F.col("t_cur")
                             - F.col("cum_cur") * F.col("t_ref")))
                 .alias("num"),
                 F.min("t_ref").alias("t_ref"),
                 F.min("t_cur").alias("t_cur"))
            .select(F.col("c_mktsegment").alias("segment"),
                    F.col("t_ref").cast("long").alias("n_ref"),
                    F.col("t_cur").cast("long").alias("n_cur"),
                    F.round(F.lit(width) * F.col("num")
                            / (F.col("t_ref").cast("double")
                               * F.col("t_cur").cast("double")), 6)
                    .alias("w1_dollars")))


_WASSERSTEIN_ORACLE = """
WITH rows_ AS (
  SELECT c_mktsegment,
         CAST(FLOOR(CAST(o_totalprice AS DOUBLE) / 5000) AS BIGINT) AS b,
         o_orderdate < DATE '1997-01-01' AS is_ref
  FROM orders JOIN customer ON o_custkey = c_custkey),
cnt AS (
  SELECT c_mktsegment, b,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
         SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS n_cur
  FROM rows_ GROUP BY 1, 2),
cum AS (
  SELECT c_mktsegment, b,
         SUM(n_ref) OVER (PARTITION BY c_mktsegment ORDER BY b
                          ROWS UNBOUNDED PRECEDING) AS cum_ref,
         SUM(n_cur) OVER (PARTITION BY c_mktsegment ORDER BY b
                          ROWS UNBOUNDED PRECEDING) AS cum_cur
  FROM cnt),
tot AS (
  SELECT c_mktsegment,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS t_ref,
         SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS t_cur
  FROM rows_ GROUP BY 1)
SELECT cum.c_mktsegment AS segment,
       CAST(MIN(tot.t_ref) AS BIGINT) AS n_ref,
       CAST(MIN(tot.t_cur) AS BIGINT) AS n_cur,
       ROUND(5000 * SUM(ABS(cum.cum_ref * tot.t_cur
                            - cum.cum_cur * tot.t_ref))
             / (CAST(MIN(tot.t_ref) AS DOUBLE)
                * CAST(MIN(tot.t_cur) AS DOUBLE)), 6) AS w1_dollars
FROM cum JOIN tot USING (c_mktsegment)
GROUP BY 1
"""


def q_weighted_reservoir(spark, sf_dir):
    """Exact-size weighted sampling WITHOUT replacement per group —
    Efraimidis–Spirakis A-Res, the distributed answer when "sample
    exactly k docs per source, probability ∝ length" must be one pass
    (hash-gated Bernoulli — q:weighted_sample — only controls the
    EXPECTED size): each row draws key = -ln(u)/w and the k smallest
    keys win, which provably equals sequential weighted sampling.
    Deterministic + libm-proof: u = (h+1)/2^60 from a 60-bit md5, so
    -ln(u) = ln(2^60) − ln(h+1) computes on the 9 dp integer-ln ladder
    (exact DECIMAL subtraction), and the final key is one IEEE divide
    of that decimal by the weight.  Scale shape: one hash + one
    per-group top-k window (map-side partial TakeOrdered at 100 TB via
    groupBy-min_by alternatives; the window here is per-source)."""
    k = 10
    docs = _docs(spark, sf_dir).select("source", "doc_id", "n_chars")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
               16, 10).cast("long")
    ln_u = (F.lit("41.588830834").cast("decimal(18,9)")
            - F.round(F.log((h + 1).cast("double")), 9)
            .cast("decimal(18,9)"))
    key = ln_u.cast("double") / (F.col("n_chars") + 1).cast("double")
    from pyspark.sql.window import Window
    w = Window.partitionBy("source").orderBy(
        F.asc("key"), F.asc("doc_id"))
    return (docs.withColumn("key", key)
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("source", "rk", "doc_id",
                    F.col("n_chars").cast("long").alias("n_chars")))


_WEIGHTED_RESERVOIR_ORACLE = """
WITH d AS (
  SELECT source, doc_id, n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM documents),
keyed AS (
  SELECT source, doc_id, n_chars,
         CAST(CAST('41.588830834' AS DECIMAL(18,9))
              - CAST(round(ln(CAST(h + 1 AS DOUBLE)), 9)
                     AS DECIMAL(18,9)) AS DOUBLE)
         / CAST(n_chars + 1 AS DOUBLE) AS key
  FROM d)
SELECT source, rk, doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY key ASC, doc_id ASC) AS rk
  FROM keyed)
WHERE rk <= 10
"""
query("weighted_reservoir", q_weighted_reservoir, _WEIGHTED_RESERVOIR_ORACLE)


def q_kmv_setops(spark, sf_dir):
    """KMV (bottom-k / theta) sketch set operations — the mergeable
    distinct-count sketch family (Beyer et al. 2007) alongside
    q:hll_distinct and q:cms_heavy_hitters: sets are the click / the
    purchase active (user, day) pairs; each sketch keeps the k=64
    smallest 60-bit md5 hashes; D̂ = (k-1)·2^60 / h_(k) (exact size
    when |S| < k), union = bottom-k of the merged sketch, intersection
    via the Jaccard share of combined-sketch members present in both —
    every number derives from md5 integers + one final IEEE op, so the
    DuckDB oracle replays it bit-for-bit.  Scale shape: the per-set
    bottom-k is a TakeOrdered (partial per partition, k-merge at the
    driver), the element frames are distinct-aggregations — no
    all-pairs anything; a 100 TB set costs one pass."""
    k = 64
    m = F.lit(1152921504606846976)  # 2^60
    ev = load_tables(spark, sf_dir)["events"]

    def hashes(etype):
        e = (ev.where(F.col("event_type") == etype)
             .select(F.concat_ws("|", F.col("user_id"),
                                 F.to_date("ts")).alias("e"))
             .distinct())
        return e.select(F.conv(F.substring(F.md5("e"), 1, 15), 16, 10)
                        .cast("long").alias("h")).distinct()

    def sketch(h, name):
        bot = h.orderBy("h").limit(k)
        return bot.agg(
            F.count("*").alias(f"n_{name}"),
            F.max("h").alias(f"kth_{name}"))

    def est(n, kth):
        # (k-1)*2^60 overflows BIGINT: lift to double FIRST (63*2^60
        # is exactly representable — 6-bit mantissa), one IEEE divide
        return F.when(n < k, n.cast("double")) \
                .otherwise((k - 1) * m.cast("double") / kth)

    ha, hb = hashes("click"), hashes("purchase")
    hu = ha.unionByName(hb).distinct()
    ku = hu.orderBy("h").limit(k)
    shared = (ku.join(ha, "h", "left_semi")
              .join(hb, "h", "left_semi")
              .agg(F.count("*").alias("n_shared")))
    row = (sketch(ha, "a").crossJoin(sketch(hb, "b"))
           .crossJoin(sketch(hu, "u")).crossJoin(shared)
           .crossJoin(ha.agg(F.count("*").alias("exact_a")))
           .crossJoin(hb.agg(F.count("*").alias("exact_b"))))
    eu = est(F.col("n_u"), F.col("kth_u"))
    return row.select(
        F.lit(k).alias("k"),
        F.col("exact_a").cast("long").alias("exact_a"),
        F.col("exact_b").cast("long").alias("exact_b"),
        F.round(est(F.col("n_a"), F.col("kth_a")), 6).alias("est_a"),
        F.round(est(F.col("n_b"), F.col("kth_b")), 6).alias("est_b"),
        F.round(eu, 6).alias("est_union"),
        F.round(F.col("n_shared") / F.col("n_u") * eu, 6)
        .alias("est_inter"))


_KMV_SETOPS_ORACLE = """
WITH ha AS (
  SELECT DISTINCT ('0x' || substr(md5(e), 1, 15))::BIGINT AS h
  FROM (SELECT DISTINCT CAST(user_id AS VARCHAR) || '|'
               || strftime(CAST(ts AS DATE), '%Y-%m-%d') AS e
        FROM events WHERE event_type = 'click')),
hb AS (
  SELECT DISTINCT ('0x' || substr(md5(e), 1, 15))::BIGINT AS h
  FROM (SELECT DISTINCT CAST(user_id AS VARCHAR) || '|'
               || strftime(CAST(ts AS DATE), '%Y-%m-%d') AS e
        FROM events WHERE event_type = 'purchase')),
hu AS (SELECT h FROM ha UNION SELECT h FROM hb),
ka AS (SELECT COUNT(*) AS n_a, MAX(h) AS kth_a
       FROM (SELECT h FROM ha ORDER BY h LIMIT 64)),
kb AS (SELECT COUNT(*) AS n_b, MAX(h) AS kth_b
       FROM (SELECT h FROM hb ORDER BY h LIMIT 64)),
kub AS (SELECT h FROM hu ORDER BY h LIMIT 64),
ku AS (SELECT COUNT(*) AS n_u, MAX(h) AS kth_u FROM kub),
sh AS (SELECT COUNT(*) AS n_shared FROM kub
       WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb)),
ex AS (SELECT (SELECT COUNT(*) FROM ha) AS exact_a,
              (SELECT COUNT(*) FROM hb) AS exact_b)
SELECT 64 AS k,
       CAST(exact_a AS BIGINT) AS exact_a,
       CAST(exact_b AS BIGINT) AS exact_b,
       ROUND(CASE WHEN n_a < 64 THEN CAST(n_a AS DOUBLE)
                  ELSE 63 * CAST(1152921504606846976 AS DOUBLE) / kth_a END, 6) AS est_a,
       ROUND(CASE WHEN n_b < 64 THEN CAST(n_b AS DOUBLE)
                  ELSE 63 * CAST(1152921504606846976 AS DOUBLE) / kth_b END, 6) AS est_b,
       ROUND(CASE WHEN n_u < 64 THEN CAST(n_u AS DOUBLE)
                  ELSE 63 * CAST(1152921504606846976 AS DOUBLE) / kth_u END, 6)
         AS est_union,
       ROUND(n_shared / CAST(n_u AS DOUBLE)
             * (CASE WHEN n_u < 64 THEN CAST(n_u AS DOUBLE)
                     ELSE 63 * CAST(1152921504606846976 AS DOUBLE) / kth_u END), 6)
         AS est_inter
FROM ka, kb, ku, sh, ex
"""
query("kmv_setops", q_kmv_setops, _KMV_SETOPS_ORACLE)


def q_l_diversity(spark, sf_dir):
    """l-diversity audit (Machanavajjhala et al. 2007), the step after
    k-anonymity (q:k_anonymity): a QI class whose SENSITIVE attribute
    is homogeneous leaks the attribute even when the class is large.
    QI = (nation, $1000 balance band), sensitive = market segment;
    for l in {2,3,5}: classes with < l distinct sensitive values, the
    records inside them, and their share.  Exact integers end-to-end
    (distinct counts + one final 6 dp division); two map-side-combined
    aggregations, broadcast dim join — scales as a pure groupBy."""
    t = load_tables(spark, sf_dir)
    qi = (t["customer"]
          .join(F.broadcast(t["nation"].select(
              F.col("n_nationkey").alias("c_nationkey"), "n_name")),
              "c_nationkey")
          .select("n_name",
                  F.floor(F.col("c_acctbal").cast("decimal(18,2)")
                          / 1000).cast("long").alias("bal_band"),
                  "c_mktsegment"))
    cls = (qi.groupBy("n_name", "bal_band")
           .agg(F.countDistinct("c_mktsegment").alias("div"),
                F.count("*").alias("n")))
    total = qi.count()
    ls = spark.createDataFrame([(2,), (3,), (5,)], "l int")
    return (cls.crossJoin(F.broadcast(ls))
            .groupBy("l")
            .agg(F.count(F.when(F.col("div") < F.col("l"), 1))
                 .cast("long").alias("classes_below_l"),
                 F.sum(F.when(F.col("div") < F.col("l"), F.col("n"))
                       .otherwise(0)).cast("long").alias("n_at_risk"))
            .select("l", "classes_below_l", "n_at_risk",
                    F.round(F.col("n_at_risk") / F.lit(total), 6)
                    .alias("risk_share")))


_L_DIVERSITY_ORACLE = """
WITH qi AS (
  SELECT n_name,
         CAST(FLOOR(CAST(c_acctbal AS DECIMAL(18,2)) / 1000) AS BIGINT)
           AS bal_band,
         c_mktsegment
  FROM customer JOIN nation ON c_nationkey = n_nationkey),
cls AS (
  SELECT n_name, bal_band,
         COUNT(DISTINCT c_mktsegment) AS div, COUNT(*) AS n
  FROM qi GROUP BY 1, 2),
tot AS (SELECT COUNT(*) AS total FROM qi)
SELECT l.l,
       CAST(COUNT(CASE WHEN div < l.l THEN 1 END) AS BIGINT)
         AS classes_below_l,
       CAST(SUM(CASE WHEN div < l.l THEN n ELSE 0 END) AS BIGINT)
         AS n_at_risk,
       ROUND(SUM(CASE WHEN div < l.l THEN n ELSE 0 END)
             / CAST(MIN(tot.total) AS DOUBLE), 6) AS risk_share
FROM cls CROSS JOIN (SELECT UNNEST([2, 3, 5]) AS l) l CROSS JOIN tot
GROUP BY l.l
"""
query("l_diversity", q_l_diversity, _L_DIVERSITY_ORACLE)


def q_t_closeness(spark, sf_dir):
    """t-closeness audit (Li et al. 2007): even an l-diverse class
    leaks when its sensitive-value DISTRIBUTION sits far from the
    corpus-wide one.  Per QI class (nation, $1000 balance band): total
    variation distance between the class's market-segment mix and the
    global mix, computed EXACTLY — TVD = Σ|cnt_cs·N − cnt_s·n_c| /
    (2·n_c·N), whose numerator is an order-free BIGINT sum over the
    dense class × segment grid (absent segments contribute cnt_cs=0),
    and only the final division is IEEE.  Top 10 most-skewed classes
    of size ≥ 5.  Shapes: two groupBys + one broadcast of the 5-row
    segment table — scales as a pure aggregation."""
    t = load_tables(spark, sf_dir)
    qi = (t["customer"]
          .join(F.broadcast(t["nation"].select(
              F.col("n_nationkey").alias("c_nationkey"), "n_name")),
              "c_nationkey")
          .select("n_name",
                  F.floor(F.col("c_acctbal").cast("decimal(18,2)")
                          / 1000).cast("long").alias("bal_band"),
                  "c_mktsegment"))
    seg = qi.groupBy("c_mktsegment").agg(F.count("*").alias("cnt_s"))
    n_total = qi.count()
    cs = (qi.groupBy("n_name", "bal_band", "c_mktsegment")
          .agg(F.count("*").alias("cnt_cs")))
    cls = (qi.groupBy("n_name", "bal_band")
           .agg(F.count("*").alias("n_c")))
    dense = (cls.crossJoin(F.broadcast(seg))
             .join(cs, ["n_name", "bal_band", "c_mktsegment"], "left")
             .withColumn("cnt_cs", F.coalesce("cnt_cs", F.lit(0))))
    return (dense.groupBy("n_name", "bal_band")
            .agg(F.min("n_c").alias("n_c"),
                 F.sum(F.abs(F.col("cnt_cs") * n_total
                             - F.col("cnt_s") * F.col("n_c")))
                 .alias("num"))
            .where(F.col("n_c") >= 5)
            .select("n_name", "bal_band",
                    F.col("n_c").cast("long").alias("n"),
                    F.round(F.col("num")
                            / (2.0 * F.col("n_c") * n_total), 6)
                    .alias("tvd"))
            .orderBy(F.desc("tvd"), "n_name", "bal_band").limit(10))


_T_CLOSENESS_ORACLE = """
WITH qi AS (
  SELECT n_name,
         CAST(FLOOR(CAST(c_acctbal AS DECIMAL(18,2)) / 1000) AS BIGINT)
           AS bal_band,
         c_mktsegment
  FROM customer JOIN nation ON c_nationkey = n_nationkey),
seg AS (SELECT c_mktsegment, COUNT(*) AS cnt_s FROM qi GROUP BY 1),
tot AS (SELECT COUNT(*) AS n FROM qi),
cs AS (SELECT n_name, bal_band, c_mktsegment, COUNT(*) AS cnt_cs
       FROM qi GROUP BY 1, 2, 3),
cls AS (SELECT n_name, bal_band, COUNT(*) AS n_c FROM qi GROUP BY 1, 2),
dense AS (
  SELECT cls.n_name, cls.bal_band, cls.n_c, seg.cnt_s,
         COALESCE(cs.cnt_cs, 0) AS cnt_cs
  FROM cls CROSS JOIN seg
  LEFT JOIN cs ON cs.n_name = cls.n_name
             AND cs.bal_band = cls.bal_band
             AND cs.c_mktsegment = seg.c_mktsegment)
SELECT n_name, bal_band, n, tvd FROM (
  SELECT dense.n_name, dense.bal_band,
         CAST(MIN(dense.n_c) AS BIGINT) AS n,
         ROUND(SUM(ABS(dense.cnt_cs * tot.n - dense.cnt_s * dense.n_c))
               / (2.0 * MIN(dense.n_c) * MIN(tot.n)), 6) AS tvd
  FROM dense CROSS JOIN tot
  GROUP BY dense.n_name, dense.bal_band
  HAVING MIN(dense.n_c) >= 5
  ORDER BY tvd DESC, dense.n_name, dense.bal_band LIMIT 10)
"""
query("t_closeness", q_t_closeness, _T_CLOSENESS_ORACLE)


def q_video_features(spark, sf_dir):
    """REAL video-container path: synthesized ISO-BMFF/MP4 payloads
    (multimodal.make_mp4 — public MPEG-4 Part 12 box structure) decoded
    back by pure box-walking: mvhd timescale/duration, tkhd 16.16
    dimensions, stts sample-run frame count, all from the actual bytes.
    The oracle recomputes each field from the construction formula — a
    mismatch means the box walker misread the container.  Narrow
    Arrow-batched map, no shuffle — scales as a pure scan."""
    from ..operators.multimodal import documents_as_video, video_features
    return video_features(documents_as_video(_docs(spark, sf_dir)))


_VIDEO_FEATURES_ORACLE = """
SELECT doc_id AS media_id, 'mp4' AS fmt,
       CAST(16 + n_chars % 120 AS INT) AS width,
       CAST(16 + (n_chars // 7) % 120 AS INT) AS height,
       CAST(1 + doc_id % 24 AS INT) AS n_frames,
       CAST((1 + doc_id % 24) * 100 AS BIGINT) AS duration_ms
FROM documents
"""
query("video_features", q_video_features, _VIDEO_FEATURES_ORACLE)
