"""analytics catalog: audits, attribution, ranking metrics, stats tests."""
from __future__ import annotations

import math

from pyspark.sql import functions as F

from ..operators import dedup, graph_algos, text
from ..sources.tpch_graph import load_tables
from ._registry import query
from ._shared import _docs, _events
from ._pipeline import (_ANN_LSH_TOPK_ORACLE, _KNN_COSINE_ORACLE,
                        _LANGUAGE_ID_ORACLE, q_ann_lsh_topk, q_knn_cosine)


def q_rebalance_audit(spark, sf_dir):
    """Shard-rebalancing audit: fraction of documents that MOVE when a
    17th shard joins, under (a) mod-hashing (expect ~16/17 moved — the
    resharding catastrophe) vs (b) rendezvous/HRW hashing (expect
    ~1/17 — only keys won by the new shard move).  HRW assignment =
    argmax over md5(key, shard) per key, computed as one max(struct)
    aggregate over a 16/17-way generated column — no shuffle of the
    corpus at all (narrow map + final 2-row aggregate).  The property
    that decides whether growing a 100 TB cluster re-reads 94%% or 6%%
    of it."""
    docs = _docs(spark, sf_dir).select("doc_id")

    def hrw(n):
        arr = F.array(*[
            F.struct(
                F.conv(F.substring(F.md5(F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(f"|s{i}"))), 1, 15), 16, 10).cast("long")
                .alias("h"),
                F.lit(i).alias("shard"))
            for i in range(n)])
        return F.array_max(arr)["shard"]

    h = text.hash60(F.col("doc_id").cast("string"))
    scored = docs.select(
        ((h % 16 + 16) % 16).alias("mod16"),
        ((h % 17 + 17) % 17).alias("mod17"),
        hrw(16).alias("hrw16"),
        hrw(17).alias("hrw17"))
    agg = scored.agg(
        F.count("*").alias("total"),
        F.sum((F.col("mod16") != F.col("mod17")).cast("int"))
        .alias("mod_moved"),
        F.sum((F.col("hrw16") != F.col("hrw17")).cast("int"))
        .alias("hrw_moved"))
    return (agg.select(
        "total", "mod_moved", "hrw_moved",
        F.round(F.col("mod_moved") / F.col("total"), 6)
        .alias("mod_moved_frac"),
        F.round(F.col("hrw_moved") / F.col("total"), 6)
        .alias("hrw_moved_frac")))


def _rebalance_oracle_sql() -> str:
    def hrw(n):
        cells = ", ".join(
            "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || "
            f"'|s{i}'), 1, 15)) AS BIGINT), {i})" for i in range(n))
        return (f"(SELECT shard FROM (VALUES {cells}) AS t(h, shard) "
                "ORDER BY h DESC, shard DESC LIMIT 1)")
    return f"""
WITH h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM documents),
scored AS (
  SELECT ((hv % 16) + 16) % 16 AS mod16,
         ((hv % 17) + 17) % 17 AS mod17,
         {hrw(16)} AS hrw16,
         {hrw(17)} AS hrw17
  FROM h)
SELECT COUNT(*) AS total,
       SUM(CASE WHEN mod16 <> mod17 THEN 1 ELSE 0 END) AS mod_moved,
       SUM(CASE WHEN hrw16 <> hrw17 THEN 1 ELSE 0 END) AS hrw_moved,
       round(SUM(CASE WHEN mod16 <> mod17 THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS mod_moved_frac,
       round(SUM(CASE WHEN hrw16 <> hrw17 THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS hrw_moved_frac
FROM scored
"""
query("rebalance_audit", q_rebalance_audit, _rebalance_oracle_sql())


def q_percolation_curve(spark, sf_dir):
    """Bond-percolation curve of the part co-purchase graph: keep each
    edge with hash-gated probability p in {0.002, 0.01, 0.05}, run
    connected components, report component count + giant-component
    size per p — the robustness/phase-transition probe (how much edge
    loss fragments the graph).  Hash gating makes each subgraph a pure
    function of the edge ids, so the recursive-CTE oracle replays the
    exact same draw."""
    li = load_tables(spark, sf_dir)["lineitem"] \
        .select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    co = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                 & (F.col("a.l_partkey") < F.col("b.l_partkey")))
          .select(F.col("a.l_partkey").cast("string").alias("u"),
                  F.col("b.l_partkey").cast("string").alias("v"))
          .distinct().localCheckpoint(eager=True))
    gate = text.hash60(F.concat(F.lit("perc:"), F.col("u"),
                                F.lit("|"), F.col("v"))) % 10000
    out = None
    for p in (0.002, 0.01, 0.05):
        kept = co.where(gate < int(p * 10000))
        nodes = (kept.select(F.col("u").alias("uid"))
                 .unionByName(kept.select(F.col("v").alias("uid")))
                 .distinct())
        # near the percolation threshold components are long chains:
        # diameter (and so the label-propagation round count) exceeds
        # the default cap; the changed==0 early exit keeps converged
        # runs cheap
        cc = graph_algos.connected_components(
            nodes, kept.select(F.col("u").alias("startuid"),
                               F.col("v").alias("enduid")),
            max_iter=80)
        stats = (cc.groupBy("component").agg(F.count("*").alias("sz"))
                 .agg(F.count("*").alias("n_components"),
                      F.max("sz").cast("long").alias("giant_size"),
                      F.sum("sz").cast("long").alias("n_nodes"))
                 .select(F.lit(p).alias("p"), "n_components",
                         "giant_size", "n_nodes"))
        out = stats if out is None else out.unionByName(stats)
    return out


def _percolation_oracle_sql() -> str:
    parts = []
    for p in (0.002, 0.01, 0.05):
        t = int(p * 10000)
        parts.append(f"""
SELECT CAST({p} AS DOUBLE) AS p, COUNT(*) AS n_components,
       CAST(MAX(sz) AS BIGINT) AS giant_size,
       CAST(SUM(sz) AS BIGINT) AS n_nodes
FROM (
  WITH RECURSIVE
  kept AS (
    SELECT u, v FROM (
      SELECT DISTINCT CAST(a.l_partkey AS VARCHAR) AS u,
             CAST(b.l_partkey AS VARCHAR) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
    WHERE CAST(('0x' || substr(md5('perc:' || u || '|' || v), 1, 15))
               AS BIGINT) % 10000 < {t}),
  sym AS (SELECT u AS a, v AS b FROM kept
          UNION SELECT v, u FROM kept),
  reach(a, b) AS (
    SELECT a, b FROM sym
    UNION
    SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b),
  comp AS (
    SELECT a AS uid, LEAST(a, MIN(b)) AS component
    FROM reach GROUP BY a)
  SELECT component, COUNT(*) AS sz FROM comp GROUP BY component)""")
    return " UNION ALL ".join(parts)
query("percolation_curve", q_percolation_curve, _percolation_oracle_sql())


def q_simrank_parts(spark, sf_dir):
    """SimRank (Jeh & Widom 2002) between parts on the directed
    Customer -> Order -> Part graph, C = 0.8, two exact iterations.
    Because orders have exactly one in-neighbor (their customer), the
    recursion collapses to closed joins:

      s1(o1,o2) = C                 iff o1 != o2, same customer
      s2(a,b)   = C/(na*nb) * ( |Ia ∩ Ib|
                  + C * #{(o1,o2): o1 != o2, same cust,
                           a ∈ o1, b ∈ o2} )

    (I = containing orders, n = |I|).  Both terms are exact integer
    counts from keyed joins — the scale shape is two co-occurrence
    joins, never a node-pair dense matrix.  Top 50 pairs by s2."""
    li = (load_tables(spark, sf_dir)["lineitem"]
          .select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p")).distinct()
          .localCheckpoint(eager=True))
    oc = (load_tables(spark, sf_dir)["orders"]
          .select(F.col("o_orderkey").alias("o"),
                  F.col("o_custkey").alias("c")))
    n = li.groupBy("p").agg(F.count("*").alias("n"))
    a, b = li.alias("a"), li.alias("b")
    common = (a.join(b, (F.col("a.o") == F.col("b.o"))
                     & (F.col("a.p") < F.col("b.p")))
              .groupBy(F.col("a.p").alias("pa"),
                       F.col("b.p").alias("pb"))
              .agg(F.count("*").alias("shared")))
    # same-customer distinct-order pairs containing (a, b)
    la = li.join(oc, "o").select(F.col("p").alias("pa"),
                                 F.col("o").alias("oa"), "c")
    lb = li.join(oc, "o").select(F.col("p").alias("pb"),
                                 F.col("o").alias("ob"), "c")
    cross = (la.join(lb, "c")
             .where((F.col("oa") != F.col("ob"))
                    & (F.col("pa") < F.col("pb")))
             .groupBy("pa", "pb").agg(F.count("*").alias("xc")))
    pairs = (common.join(cross, ["pa", "pb"], "full")
             .select("pa", "pb",
                     F.coalesce("shared", F.lit(0)).alias("shared"),
                     F.coalesce("xc", F.lit(0)).alias("xc")))
    s2 = (0.8 / (F.col("na") * F.col("nb"))
          * (F.col("shared") + 0.8 * F.col("xc")))
    return (pairs
            .join(F.broadcast(n.select(F.col("p").alias("pa"),
                                       F.col("n").alias("na"))), "pa")
            .join(F.broadcast(n.select(F.col("p").alias("pb"),
                                       F.col("n").alias("nb"))), "pb")
            .select("pa", "pb", "shared", "xc",
                    F.round(s2, 9).alias("simrank2"))
            .orderBy(F.col("simrank2").desc(), "pa", "pb")
            .limit(50))


_SIMRANK_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem),
oc AS (SELECT o_orderkey AS o, o_custkey AS c FROM orders),
n AS (SELECT p, COUNT(*) AS n FROM li GROUP BY p),
common AS (
  SELECT a.p AS pa, b.p AS pb, COUNT(*) AS shared
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
cross_ AS (
  SELECT la.p AS pa, lb.p AS pb, COUNT(*) AS xc
  FROM (SELECT li.p, li.o, oc.c FROM li JOIN oc USING (o)) la
  JOIN (SELECT li.p, li.o, oc.c FROM li JOIN oc USING (o)) lb
    ON la.c = lb.c AND la.o <> lb.o AND la.p < lb.p
  GROUP BY 1, 2),
pairs AS (
  SELECT COALESCE(common.pa, cross_.pa) AS pa,
         COALESCE(common.pb, cross_.pb) AS pb,
         COALESCE(shared, 0) AS shared, COALESCE(xc, 0) AS xc
  FROM common FULL JOIN cross_
    ON common.pa = cross_.pa AND common.pb = cross_.pb)
SELECT pairs.pa, pairs.pb, pairs.shared, pairs.xc,
       round(0.8 / (na.n * nb.n) * (shared + 0.8 * xc), 9)
         AS simrank2
FROM pairs
JOIN n na ON na.p = pairs.pa
JOIN n nb ON nb.p = pairs.pb
ORDER BY simrank2 DESC, pairs.pa, pairs.pb LIMIT 50
"""
query("simrank_parts", q_simrank_parts, _SIMRANK_ORACLE)


def q_corpus_pipeline_v2(spark, sf_dir):
    """Capstone composition of this session's operators in ONE lazy
    DAG: EXACT near-dup removal (prefix-filtered ssjoin -> connected
    components -> keep min id) -> DSIR top-200 domain tilt (models
    trained on the SURVIVORS, not the raw corpus) -> priority sample
    100 weighted by length -> token-budget shard packing -> per-shard
    stats.  Every stage is an already-oracled operator; the whole
    pipeline replays as one CTE chain."""
    from ..operators.pipeline import (dsir_select, pack_shards,
                                     priority_sample)
    docs = _docs(spark, sf_dir)
    pairs = dedup.ssjoin_jaccard(docs, threshold=0.5) \
        .select("id_a", "id_b")
    clusters = dedup.dedup_clusters(pairs)
    drop = (clusters.where(F.col("doc_id") != F.col("cluster"))
            .select("doc_id"))
    surv = docs.join(drop, "doc_id", "left_anti")
    chosen = dsir_select(surv, F.col("lang") == "en", n=200) \
        .select("doc_id")
    sel = surv.select("doc_id", "lang", "n_chars") \
        .join(chosen, "doc_id")
    samp = priority_sample(sel, "n_chars", 100).drop("priority")
    packed = pack_shards(samp, "doc_id", "n_chars", budget=2000,
                         partition_col="lang")
    return (packed.groupBy("lang", "shard_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("shard_chars")))


_PIPELINE_V2_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents),
sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
        i -> CAST(('0x' || substr(md5(
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))
             AS BIGINT))) AS s
  FROM toks WHERE len(ws) >= 3),
tt AS (SELECT doc_id, len(s) AS n, unnest(s) AS tok FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         count(*) AS i
  FROM tt a JOIN tt b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4),
pairs AS (
  SELECT id_a, id_b FROM inter
  WHERE CAST(i AS DOUBLE)/(na+nb-i) >= 0.5),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT a, b FROM sym
    UNION
    SELECT r.a, s.b FROM r JOIN sym s ON s.a = r.b)
  SELECT * FROM r),
drop_ AS (
  SELECT a AS doc_id FROM reach GROUP BY a
  HAVING a <> LEAST(a, MIN(b))),
surv AS (
  SELECT d.* FROM documents d
  LEFT JOIN drop_ x ON x.doc_id = d.doc_id WHERE x.doc_id IS NULL),
stoks AS (
  SELECT doc_id, lang = 'en' AS tgt,
         unnest(list_filter(string_split_regex(lower(text),
                '[^a-z0-9]+'), x -> x != '')) AS tok
  FROM surv),
freq AS (
  SELECT tok, COUNT(*) AS tf_all,
         SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tf_tgt
  FROM stoks GROUP BY tok),
sden AS (SELECT SUM(tf_all) + COUNT(*) AS denom_all,
                SUM(tf_tgt) + COUNT(*) AS denom_tgt FROM freq),
scored AS (
  SELECT t.doc_id,
         SUM(CAST(round(log10((f.tf_tgt + 1) * 1.0 / sden.denom_tgt),
                        6) AS DECIMAL(18,6))
             - CAST(round(log10((f.tf_all + 1) * 1.0
                                / sden.denom_all), 6)
                    AS DECIMAL(18,6))) AS r
  FROM stoks t JOIN freq f USING (tok), sden
  GROUP BY t.doc_id),
chosen AS (
  SELECT doc_id FROM scored
  ORDER BY round(CAST(r AS DOUBLE), 6) + 0.0 DESC, doc_id LIMIT 200),
sel AS (
  SELECT s.doc_id, s.lang, s.n_chars FROM surv s
  JOIN chosen USING (doc_id)),
samp AS (
  SELECT doc_id, lang, n_chars FROM sel
  ORDER BY CAST(n_chars AS DOUBLE) * 1152921504606846976.0
           / CAST(CAST(('0x' || substr(md5('ps:' ||
               CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1
             AS DOUBLE) DESC, doc_id
  LIMIT 100),
c AS (
  SELECT lang, doc_id, n_chars,
         SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM samp)
SELECT lang,
       CAST(floor((cum - n_chars) / 2000) AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS shard_chars
FROM c GROUP BY lang, shard_id
"""
query("corpus_pipeline_v2", q_corpus_pipeline_v2, _PIPELINE_V2_ORACLE)


_SHAPLEY_CHANNELS = ("click", "error", "signup", "view")


def _shapley_lattice():
    """(channel, subset_without, subset_with, num, den) rows for the
    exact Shapley value over the fixed 4-channel lattice: weight =
    |S|! (k-|S|-1)! / k!.  Data-independent — generated once in Python
    and shared as literals with the SQL oracle (subsets encoded as
    comma-joined sorted channel strings; '' = empty set)."""
    import itertools
    from math import factorial
    k = len(_SHAPLEY_CHANNELS)
    rows = []
    for c in _SHAPLEY_CHANNELS:
        rest = [x for x in _SHAPLEY_CHANNELS if x != c]
        for r in range(len(rest) + 1):
            for s in itertools.combinations(rest, r):
                num = factorial(len(s)) * factorial(k - len(s) - 1)
                rows.append((c, ",".join(sorted(s)),
                             ",".join(sorted(s + (c,))),
                             num, factorial(k)))
    return rows


def q_shapley_attribution(spark, sf_dir):
    """EXACT Shapley data-driven attribution (the game-theoretic
    alternative to last-touch): the coalition value v(S) is the
    empirical conversion rate of users whose touched pre-purchase
    channel set is exactly S; each channel's Shapley value sums
    |S|!(k-|S|-1)!/k! [v(S+c) - v(S)] over the 4-channel lattice.
    The lattice and factorial weights are data-independent literals
    shared with the oracle; v terms are 9 dp DECIMAL ratios; unseen
    coalitions contribute v = 0.  One aggregation over users + a
    16-row broadcast join."""
    ev = _events(spark, sf_dir)
    touched = (ev.where(F.col("event_type")
                        .isin(*_SHAPLEY_CHANNELS))
               .groupBy("user_id")
               .agg(F.concat_ws(",", F.array_sort(
                   F.collect_set("event_type"))).alias("sset")))
    conv = (ev.where(F.col("event_type") == "purchase")
            .select("user_id").distinct()
            .withColumn("conv", F.lit(1)))
    v = (touched.join(conv, "user_id", "left")
         .groupBy("sset")
         .agg(F.count("*").alias("n"),
              F.sum(F.coalesce("conv", F.lit(0))).alias("x"))
         .select("sset", F.round(F.col("x") / F.col("n"), 9)
                 .cast("decimal(18,9)").alias("v")))
    lat = spark.createDataFrame(
        _shapley_lattice(),
        "channel string, s_without string, s_with string, "
        "num long, den long")
    j = (lat
         .join(v.withColumnRenamed("sset", "s_with")
               .withColumnRenamed("v", "v_with"), "s_with", "left")
         .join(v.withColumnRenamed("sset", "s_without")
               .withColumnRenamed("v", "v_without"), "s_without",
               "left"))
    term = ((F.coalesce(F.col("v_with"),
                        F.lit(0).cast("decimal(18,9)"))
             - F.coalesce(F.col("v_without"),
                          F.lit(0).cast("decimal(18,9)")))
            * F.col("num"))
    # den is the constant k! = 24; divide as ONE double op after the
    # exact decimal sum (engine decimal-division scale rules differ)
    return (j.groupBy("channel")
            .agg(F.sum(term).cast("double").alias("_s"))
            .select("channel",
                    (F.round(F.col("_s") / 24.0, 9) + F.lit(0.0))
                    .alias("shapley")))


def _shapley_oracle_sql() -> str:
    vals = ", ".join(
        f"('{c}', '{sw}', '{swc}', {num}, {den})"
        for c, sw, swc, num, den in _shapley_lattice())
    chans = ", ".join(f"'{c}'" for c in _SHAPLEY_CHANNELS)
    return f"""
WITH touched AS (
  SELECT user_id,
         array_to_string(list_sort(list_distinct(
             list(event_type))), ',') AS sset
  FROM events WHERE event_type IN ({chans})
  GROUP BY user_id),
conv AS (SELECT DISTINCT user_id FROM events
         WHERE event_type = 'purchase'),
v AS (
  SELECT sset,
         CAST(round(SUM(CASE WHEN c.user_id IS NOT NULL
                             THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 9)
              AS DECIMAL(18,9)) AS v
  FROM touched t LEFT JOIN conv c ON c.user_id = t.user_id
  GROUP BY sset),
lat(channel, s_without, s_with, num, den) AS (VALUES {vals}),
j AS (
  SELECT lat.channel, lat.num, lat.den,
         COALESCE(vw.v, CAST(0 AS DECIMAL(18,9))) AS v_with,
         COALESCE(vo.v, CAST(0 AS DECIMAL(18,9))) AS v_without
  FROM lat
  LEFT JOIN v vw ON vw.sset = lat.s_with
  LEFT JOIN v vo ON vo.sset = lat.s_without)
SELECT channel,
       round(CAST(SUM((v_with - v_without) * num) AS DOUBLE) / 24.0,
             9) + 0.0 AS shapley
FROM j GROUP BY channel
"""
query("shapley_attribution", q_shapley_attribution, _shapley_oracle_sql())


def q_attack_robustness(spark, sf_dir):
    """Scale-free fragility probe (Albert-Barabasi): remove 100 parts
    from the co-purchase graph either TARGETED (highest degree, ties
    by key) or RANDOM (hash-selected), and compare the surviving
    component structure — targeted removal shatters hub-dominated
    graphs while random removal barely dents them.  Two CC runs over
    hash-deterministic subgraphs."""
    li = load_tables(spark, sf_dir)["lineitem"] \
        .select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    co = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                 & (F.col("a.l_partkey") < F.col("b.l_partkey")))
          .select(F.col("a.l_partkey").cast("string").alias("u"),
                  F.col("b.l_partkey").cast("string").alias("v"))
          .distinct().localCheckpoint(eager=True))
    deg = (co.select(F.col("u").alias("n"))
           .unionByName(co.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count("*").alias("d")))
    from pyspark.sql import Window as W
    targeted = (deg.withColumn("r", F.row_number().over(
        W.orderBy(F.col("d").desc(), F.col("n"))))
        .where(F.col("r") <= 100).select("n"))
    rnd = (deg.withColumn("h", text.hash60(
        F.concat(F.lit("atk:"), F.col("n"))))
        .withColumn("r", F.row_number().over(
            W.orderBy(F.col("h"), F.col("n"))))
        .where(F.col("r") <= 100).select("n"))
    out = None
    for name, rm in (("targeted", targeted), ("random", rnd)):
        kept = (co.join(rm.withColumnRenamed("n", "u"), "u",
                        "left_anti")
                .join(rm.withColumnRenamed("n", "v"), "v",
                      "left_anti"))
        nodes = (kept.select(F.col("u").alias("uid"))
                 .unionByName(kept.select(F.col("v").alias("uid")))
                 .distinct())
        cc = graph_algos.connected_components(
            nodes, kept.select(F.col("u").alias("startuid"),
                               F.col("v").alias("enduid")),
            max_iter=80)
        st = (cc.groupBy("component").agg(F.count("*").alias("sz"))
              .agg(F.count("*").alias("n_components"),
                   F.max("sz").cast("long").alias("giant_size"),
                   F.sum("sz").cast("long").alias("n_nodes"))
              .select(F.lit(name).alias("scenario"), "n_components",
                      "giant_size", "n_nodes"))
        out = st if out is None else out.unionByName(st)
    return out


def _attack_oracle_sql() -> str:
    parts = []
    for name, rmcte in (
        ("targeted", """
  SELECT n FROM (
    SELECT n, row_number() OVER (ORDER BY d DESC, n) AS r FROM deg)
  WHERE r <= 100"""),
        ("random", """
  SELECT n FROM (
    SELECT n, row_number() OVER (ORDER BY
      CAST(('0x' || substr(md5('atk:' || n), 1, 15)) AS BIGINT), n)
      AS r FROM deg)
  WHERE r <= 100""")):
        parts.append(f"""
SELECT '{name}' AS scenario, COUNT(*) AS n_components,
       CAST(MAX(sz) AS BIGINT) AS giant_size,
       CAST(SUM(sz) AS BIGINT) AS n_nodes
FROM (
  WITH RECURSIVE
  co AS (
    SELECT DISTINCT CAST(a.l_partkey AS VARCHAR) AS u,
           CAST(b.l_partkey AS VARCHAR) AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
  deg AS (
    SELECT n, COUNT(*) AS d FROM (
      SELECT u AS n FROM co UNION ALL SELECT v FROM co) GROUP BY n),
  rm AS ({rmcte}),
  kept AS (
    SELECT co.u, co.v FROM co
    LEFT JOIN rm x ON x.n = co.u
    LEFT JOIN rm y ON y.n = co.v
    WHERE x.n IS NULL AND y.n IS NULL),
  sym AS (SELECT u AS a, v AS b FROM kept
          UNION SELECT v, u FROM kept),
  reach(a, b) AS (
    SELECT a, b FROM sym
    UNION
    SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b),
  comp AS (
    SELECT a AS uid, LEAST(a, MIN(b)) AS component
    FROM reach GROUP BY a)
  SELECT component, COUNT(*) AS sz FROM comp GROUP BY component)""")
    return " UNION ALL ".join(parts)
query("attack_robustness", q_attack_robustness, _attack_oracle_sql())


def q_kappa_langid(spark, sf_dir):
    """Cohen's kappa between the engine's own stopword-vote language
    identifier (q:language_id) and the corpus ground-truth ``lang``
    column — chance-corrected agreement, the honest way to score a
    classifier against labels (accuracy flatters under class
    imbalance).  po/pe from exact integer confusion counts; kappa =
    (po - pe)/(1 - pe) in doubles."""
    guessed = text.language_id(_docs(spark, sf_dir)) \
        .select("doc_id", "lang_guess", "lang")
    conf = guessed.groupBy("lang", "lang_guess") \
        .agg(F.count("*").alias("c"))
    n = F.sum("c")
    agree = F.sum(F.when(F.col("lang") == F.col("lang_guess"),
                         F.col("c")).otherwise(0))
    row = conf.groupBy("lang").agg(F.sum("c").alias("rc"))
    colt = conf.groupBy("lang_guess").agg(F.sum("c").alias("cc"))
    pe_num = (row.join(colt, row["lang"] == colt["lang_guess"])
              .agg(F.sum(F.col("rc") * F.col("cc")).alias("pn")))
    tot = conf.agg(n.alias("n"), agree.alias("agree"))
    return (tot.crossJoin(F.broadcast(pe_num))
            .select("n", "agree",
                    F.round(F.col("agree") / F.col("n"), 9).alias("po"),
                    F.round(F.col("pn") / (F.col("n") * F.col("n")), 9)
                    .alias("pe"),
                    F.round((F.col("agree") / F.col("n")
                             - F.col("pn") / (F.col("n") * F.col("n")))
                            / (1 - F.col("pn")
                               / (F.col("n") * F.col("n"))), 6)
                    .alias("kappa")))


def _kappa_oracle_sql() -> str:
    # the committed language_id oracle is the guess source
    return f"""
WITH guesses AS ({_LANGUAGE_ID_ORACLE}),
conf AS (
  SELECT d.lang, g.lang_guess, COUNT(*) AS c
  FROM guesses g JOIN documents d USING (doc_id)
  GROUP BY 1, 2),
tot AS (
  SELECT SUM(c) AS n,
         SUM(CASE WHEN lang = lang_guess THEN c ELSE 0 END) AS agree
  FROM conf),
r AS (SELECT lang, SUM(c) AS rc FROM conf GROUP BY lang),
co AS (SELECT lang_guess, SUM(c) AS cc FROM conf GROUP BY lang_guess),
pe AS (
  SELECT SUM(r.rc * co.cc) AS pn
  FROM r JOIN co ON co.lang_guess = r.lang)
SELECT n, agree,
       round(agree * 1.0 / n, 9) AS po,
       round(pn * 1.0 / (n * n), 9) AS pe,
       round((agree * 1.0 / n - pn * 1.0 / (n * n))
             / (1 - pn * 1.0 / (n * n)), 6) AS kappa
FROM tot, pe
"""
query("kappa_langid", q_kappa_langid, _kappa_oracle_sql())


def q_boilerplate_lines(spark, sf_dir):
    """Boilerplate detection: verbatim 8-token grams appearing in >= 3
    DISTINCT documents (the C4/RefinedWeb 'repeated span' signal that
    flags headers, footers and templates for removal before
    training).  One explode + per-doc distinct + count — the scan
    shape that works at crawl scale because grams hash-group and
    documents never pair."""
    docs = _docs(spark, sf_dir)
    ws = text.tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_ws") - 7),
        lambda i: F.array_join(F.slice(F.col("_ws"), i, 8), " "))
    g = (docs.select("doc_id", ws.alias("_ws"))
         .where(F.size("_ws") >= 8)
         .select("doc_id", F.explode(grams).alias("gram"))
         .distinct())
    return (g.groupBy("gram")
            .agg(F.count("*").alias("n_docs"))
            .where(F.col("n_docs") >= 3))


_BOILERPLATE_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text),
         '[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         array_to_string(ws[CAST(t.i AS INT):CAST(t.i AS INT) + 7],
                         ' ') AS gram
  FROM toks, UNNEST(range(1, len(ws) - 6)) AS t(i)
  WHERE len(ws) >= 8)
SELECT gram, COUNT(*) AS n_docs
FROM g GROUP BY gram HAVING COUNT(*) >= 3
"""
query("boilerplate_lines", q_boilerplate_lines, _BOILERPLATE_ORACLE)


def q_heaps_law(spark, sf_dir):
    """Heaps' law fit: distinct-vocabulary growth V(n) ~ K n^beta over
    cumulative document prefixes (by doc_id).  Sample points every 25
    documents; beta from the closed-form regression of ln V on ln n
    with each ln taken on an INTEGER and rounded to 9 dp DECIMAL (the
    zipf_slope ladder) — libm-proof.  The sub-linearity check that a
    natural corpus passes and template spam fails."""
    docs = _docs(spark, sf_dir)
    toks = (docs.select("doc_id",
                        F.explode(text.tokens(F.col("text")))
                        .alias("tok"))
            .groupBy("tok").agg(F.min("doc_id").alias("first_doc")))
    # V(n) = tokens first seen at doc <= n; n from the doc-id grid
    grid = (docs.select("doc_id")
            .where(F.col("doc_id") % 25 == 0))
    vn = (grid.join(toks,
                    toks["first_doc"] <= grid["doc_id"], "left")
          .groupBy(grid["doc_id"].alias("n"))
          .agg(F.count("tok").alias("v"))
          .where(F.col("v") > 0))
    x = F.round(F.log(F.col("n").cast("double") + 1), 9) \
        .cast("decimal(18,9)")
    y = F.round(F.log(F.col("v").cast("double")), 9) \
        .cast("decimal(18,9)")
    t = vn.select(x.alias("x"), y.alias("y"),
                  (x * y).cast("decimal(38,18)").alias("xy"),
                  (x * x).cast("decimal(38,18)").alias("xx"))
    agg = t.agg(F.count("*").cast("double").alias("k"),
                F.sum("x").cast("double").alias("sx"),
                F.sum("y").cast("double").alias("sy"),
                F.sum("xy").cast("double").alias("sxy"),
                F.sum("xx").cast("double").alias("sxx"))
    beta = ((F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("k") * F.col("sxx")
               - F.col("sx") * F.col("sx")))
    return agg.select(F.col("k").cast("long").alias("n_points"),
                      F.round(beta, 6).alias("heaps_beta"))


_HEAPS_ORACLE = """
WITH toks AS (
  SELECT tok, MIN(doc_id) AS first_doc FROM (
    SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
           '[^a-z0-9]+'), x -> x != '')) AS tok
    FROM documents)
  GROUP BY tok),
grid AS (SELECT doc_id AS n FROM documents WHERE doc_id % 25 = 0),
vn AS (
  SELECT g.n, COUNT(t.tok) AS v
  FROM grid g LEFT JOIN toks t ON t.first_doc <= g.n
  GROUP BY g.n HAVING COUNT(t.tok) > 0),
t AS (
  SELECT CAST(round(ln(n + 1.0), 9) AS DECIMAL(18,9)) AS x,
         CAST(round(ln(v * 1.0), 9) AS DECIMAL(18,9)) AS y
  FROM vn),
a AS (
  SELECT COUNT(*) AS k,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx
  FROM t)
SELECT CAST(k AS BIGINT) AS n_points,
       round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
         AS heaps_beta
FROM a
"""
query("heaps_law", q_heaps_law, _HEAPS_ORACLE)


def q_burstiness_users(spark, sf_dir):
    """Goh-Barabasi burstiness B = (sigma - mu)/(sigma + mu) of each
    user's inter-event gaps: B -> -1 periodic, 0 Poisson, +1 bursty —
    the behavioral fingerprint separating schedulers/bots from humans.
    Integer-second gaps; mu and sigma from exact integer moment sums;
    sqrt is the only irrational (IEEE-exact)."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("long").alias("t"), "event_id")
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    gaps = (ev.withColumn("g", F.col("t") - F.lag("t").over(w))
            .where(F.col("g").isNotNull()))
    agg = gaps.groupBy("user_id").agg(
        F.count("*").alias("k"),
        F.sum("g").cast("decimal(38,0)").alias("s"),
        F.sum((F.col("g").cast("decimal(19,0)") * F.col("g")))
        .cast("decimal(38,0)").alias("q"))
    mu = F.col("s").cast("double") / F.col("k")
    var = (F.col("q").cast("double") / F.col("k")) - mu * mu
    sd = F.sqrt(var)
    return (agg.where(F.col("k") >= 10)
            .select("user_id", F.col("k").alias("n_gaps"),
                    F.round((sd - mu) / (sd + mu), 6)
                    .alias("burstiness")))


_BURSTINESS_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id
  FROM events),
gaps AS (
  SELECT user_id,
         t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
           AS g
  FROM ev),
agg AS (
  SELECT user_id, COUNT(*) AS k,
         CAST(SUM(g) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(g AS DECIMAL(19,0)) * g) AS DECIMAL(38,0)) AS q
  FROM gaps WHERE g IS NOT NULL GROUP BY user_id)
SELECT user_id, k AS n_gaps,
       round((sqrt(CAST(q AS DOUBLE) / k
                   - (CAST(s AS DOUBLE) / k) * (CAST(s AS DOUBLE) / k))
              - CAST(s AS DOUBLE) / k)
             / (sqrt(CAST(q AS DOUBLE) / k
                     - (CAST(s AS DOUBLE) / k)
                       * (CAST(s AS DOUBLE) / k))
                + CAST(s AS DOUBLE) / k), 6) AS burstiness
FROM agg WHERE k >= 10
"""
query("burstiness_users", q_burstiness_users, _BURSTINESS_ORACLE)


_DCG_DISCOUNTS = [1.0 / math.log2(i + 1) for i in range(1, 6)]
_IDCG5 = sum((6 - i) * _DCG_DISCOUNTS[i - 1] for i in range(1, 6))


def q_ndcg_ann(spark, sf_dir):
    """Retrieval-quality audit of the engine's OWN ANN: recall@5 and
    nDCG@5 of the LSH-bucketed probe (q:ann_lsh_topk) against the
    brute-force exact ranking (q:knn_cosine) for the probe query.
    Graded relevance = 6 - exact_rank; position discounts are
    Python-computed log2 literals shared with the oracle (no runtime
    log anywhere).  The measurement that tells you whether the
    approximate index is good enough to replace the exact scan."""
    gt = q_knn_cosine(spark, sf_dir)
    ann = q_ann_lsh_topk(spark, sf_dir)
    from pyspark.sql import Window as W
    rgt = gt.withColumn("rank_gt", F.row_number().over(
        W.orderBy(F.col("cosine").desc(), "vec_id"))).drop("cosine")
    rann = ann.withColumn("pos", F.row_number().over(
        W.orderBy(F.col("cosine").desc(), "vec_id"))).drop("cosine")
    disc = F.array(*[F.lit(d) for d in _DCG_DISCOUNTS])
    j = (rann.join(rgt, "vec_id", "left")
         .select("pos",
                 F.coalesce(6 - F.col("rank_gt"), F.lit(0))
                 .alias("rel"))
         .select((F.col("rel")
                  * F.element_at(disc, F.col("pos"))).alias("g"),
                 (F.col("rel") > 0).cast("int").alias("hit")))
    return (j.agg(F.sum("hit").alias("n_hits"),
                  F.round(F.sum("hit") / 5.0, 6).alias("recall5"),
                  F.round(F.sum("g") / F.lit(_IDCG5), 6)
                  .alias("ndcg5")))


def _ndcg_oracle_sql() -> str:
    discounts = ", ".join(f"({i + 1}, {d!r})"
                          for i, d in enumerate(_DCG_DISCOUNTS))
    return f"""
WITH gt AS ({_KNN_COSINE_ORACLE}),
ann AS ({_ANN_LSH_TOPK_ORACLE}),
rgt AS (
  SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id)
    AS rank_gt FROM gt),
rann AS (
  SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id)
    AS pos FROM ann),
disc(pos, d) AS (VALUES {discounts}),
j AS (
  SELECT COALESCE(6 - rgt.rank_gt, 0) AS rel, disc.d
  FROM rann
  LEFT JOIN rgt ON rgt.vec_id = rann.vec_id
  JOIN disc ON disc.pos = rann.pos)
SELECT SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_hits,
       round(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) / 5.0, 6)
         AS recall5,
       round(SUM(rel * d) / {_IDCG5!r}, 6) AS ndcg5
FROM j
"""
query("ndcg_ann", q_ndcg_ann, _ndcg_oracle_sql())


def q_kfold_groups(spark, sf_dir):
    """Leakage-safe GROUPED 5-fold assignment: every customer's orders
    land in exactly one fold (fold = md5 of the GROUP key), so
    cross-validation never trains on a customer it tests on.  Output:
    per-fold order/customer counts — the distinct-customer total must
    partition (the oracle recomputes it independently)."""
    o = load_tables(spark, sf_dir)["orders"]
    fold = text.hash60(F.concat(F.lit("cv:"),
                                F.col("o_custkey").cast("string"))) % 5
    return (o.select(fold.alias("fold"), "o_orderkey", "o_custkey")
            .groupBy("fold")
            .agg(F.count("*").alias("n_orders"),
                 F.countDistinct("o_custkey").alias("n_customers")))


_KFOLD_ORACLE = """
SELECT CAST(('0x' || substr(md5('cv:' || CAST(o_custkey AS VARCHAR)),
            1, 15)) AS BIGINT) % 5 AS fold,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders GROUP BY 1
"""
query("kfold_groups", q_kfold_groups, _KFOLD_ORACLE)


def q_timeseries_cv(spark, sf_dir):
    """Expanding-window temporal cross-validation folds — the CV that
    is SOUND for forecasting (random k-fold leaks the future): three
    cutoffs, train = everything before, test = the following year.
    Output per fold: train/test row counts + revenue, all exact."""
    o = load_tables(spark, sf_dir)["orders"].select(
        "o_orderdate",
        (F.col("o_totalprice").cast("decimal(18,2)")).alias("p"))
    out = None
    for i, cut in enumerate(("1997-01-01", "1998-01-01", "1999-01-01")):
        test_end = f"{int(cut[:4]) + 1}-01-01"
        f = (o.select(
            F.lit(i + 1).alias("fold"),
            (F.col("o_orderdate") < F.lit(cut)).cast("int")
            .alias("is_train"),
            F.when((F.col("o_orderdate") >= F.lit(cut))
                   & (F.col("o_orderdate") < F.lit(test_end)), 1)
            .otherwise(0).alias("is_test"), "p")
            .agg(F.first(F.lit(i + 1)).alias("fold"),
                 F.sum("is_train").alias("n_train"),
                 F.sum("is_test").alias("n_test"),
                 F.sum(F.when(F.col("is_test") == 1, F.col("p"))
                       .otherwise(0)).cast("decimal(28,2)")
                 .alias("test_revenue")))
        out = f if out is None else out.unionByName(f)
    return out


_TSCV_ORACLE = """
SELECT fold,
       SUM(CASE WHEN o_orderdate < cut THEN 1 ELSE 0 END) AS n_train,
       SUM(CASE WHEN o_orderdate >= cut AND o_orderdate < te
                THEN 1 ELSE 0 END) AS n_test,
       CAST(SUM(CASE WHEN o_orderdate >= cut AND o_orderdate < te
                     THEN CAST(o_totalprice AS DECIMAL(18,2))
                     ELSE 0 END) AS DECIMAL(28,2)) AS test_revenue
FROM orders, (VALUES
  (1, DATE '1997-01-01', DATE '1998-01-01'),
  (2, DATE '1998-01-01', DATE '1999-01-01'),
  (3, DATE '1999-01-01', DATE '2000-01-01')) AS f(fold, cut, te)
GROUP BY fold
"""
query("timeseries_cv", q_timeseries_cv, _TSCV_ORACLE)


def q_dispersion_index(spark, sf_dir):
    """Dispersion index (variance-to-mean ratio) of daily counts per
    event type: 1 = Poisson, > 1 overdispersed (burst clusters), < 1
    underdispersed (rate-limited) — the first question about any
    event stream.  Exact integer moment sums; two IEEE divisions."""
    ev = _events(spark, sf_dir)
    daily = (ev.groupBy("event_type",
                        F.col("ts").cast("date").alias("day"))
             .agg(F.count("*").alias("c")))
    agg = daily.groupBy("event_type").agg(
        F.count("*").alias("k"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("q"))
    mu = F.col("s").cast("double") / F.col("k")
    var = (F.col("q").cast("double") / F.col("k")) - mu * mu
    return agg.select("event_type", F.col("k").alias("n_days"),
                      F.round(mu, 6).alias("mean_daily"),
                      F.round(var / mu, 6).alias("dispersion"))


_DISPERSION_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2),
agg AS (
  SELECT event_type, COUNT(*) AS k, SUM(c) AS s, SUM(c * c) AS q
  FROM daily GROUP BY event_type)
SELECT event_type, k AS n_days,
       round(CAST(s AS DOUBLE) / k, 6) AS mean_daily,
       round((CAST(q AS DOUBLE) / k
              - (CAST(s AS DOUBLE) / k) * (CAST(s AS DOUBLE) / k))
             / (CAST(s AS DOUBLE) / k), 6) AS dispersion
FROM agg
"""
query("dispersion_index", q_dispersion_index, _DISPERSION_ORACLE)


def q_did_estimator(spark, sf_dir):
    """Difference-in-differences: change in mean order value for the
    BUILDING segment vs all other segments, before vs after 1998 —
    the workhorse causal estimator when randomization isn't available
    (parallel-trends caveat applies).  Four exact DECIMAL cell means;
    DiD = (T_post - T_pre) - (C_post - C_pre) in doubles."""
    t = load_tables(spark, sf_dir)
    j = (t["orders"].join(t["customer"],
                          F.col("o_custkey") == F.col("c_custkey"))
         .select((F.col("c_mktsegment") == "BUILDING").alias("treat"),
                 (F.col("o_orderdate") >= F.lit("1998-01-01"))
                 .alias("post"),
                 F.col("o_totalprice").cast("decimal(18,2)")
                 .alias("p")))
    cell = (j.groupBy("treat", "post")
            .agg(F.count("*").alias("n"),
                 F.sum("p").cast("decimal(28,2)").alias("s"))
            .select("treat", "post",
                    (F.col("s").cast("double") / F.col("n"))
                    .alias("m")))
    agg = cell.agg(
        F.sum(F.when(F.col("treat") & F.col("post"),
                     F.col("m"))).alias("tp"),
        F.sum(F.when(F.col("treat") & ~F.col("post"),
                     F.col("m"))).alias("tb"),
        F.sum(F.when(~F.col("treat") & F.col("post"),
                     F.col("m"))).alias("cp"),
        F.sum(F.when(~F.col("treat") & ~F.col("post"),
                     F.col("m"))).alias("cb"))
    return agg.select(
        F.round("tp", 6).alias("treat_post"),
        F.round("tb", 6).alias("treat_pre"),
        F.round("cp", 6).alias("ctrl_post"),
        F.round("cb", 6).alias("ctrl_pre"),
        F.round((F.col("tp") - F.col("tb"))
                - (F.col("cp") - F.col("cb")), 6).alias("did"))


_DID_ORACLE = """
WITH cell AS (
  SELECT c_mktsegment = 'BUILDING' AS treat,
         o_orderdate >= DATE '1998-01-01' AS post,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(28,2)) AS s,
         COUNT(*) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
m AS (SELECT treat, post, CAST(s AS DOUBLE) / n AS m FROM cell),
agg AS (
  SELECT SUM(CASE WHEN treat AND post THEN m END) AS tp,
         SUM(CASE WHEN treat AND NOT post THEN m END) AS tb,
         SUM(CASE WHEN NOT treat AND post THEN m END) AS cp,
         SUM(CASE WHEN NOT treat AND NOT post THEN m END) AS cb
  FROM m)
SELECT round(tp, 6) AS treat_post, round(tb, 6) AS treat_pre,
       round(cp, 6) AS ctrl_post, round(cb, 6) AS ctrl_pre,
       round((tp - tb) - (cp - cb), 6) AS did
FROM agg
"""
query("did_estimator", q_did_estimator, _DID_ORACLE)


def q_littles_law(spark, sf_dir):
    """Little's law audit (L = lambda * W) over user activity spans:
    measured time-average concurrency L (total covered user-seconds /
    horizon) must equal arrival rate (spans / horizon) times mean span
    W — an identity here by construction, so the ratio is exactly 1;
    the value of the query is the operational L, lambda, W
    decomposition every capacity plan starts from.  Integer seconds
    everywhere; three IEEE divisions."""
    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("long").alias("s"),
        (F.col("ts").cast("long")
         + F.col("value").cast("long")).alias("e"))
    horizon = ev.agg((F.max("e") - F.min("s")).alias("h"),
                     F.count("*").alias("n"),
                     F.sum(F.col("e") - F.col("s")).cast("long")
                     .alias("busy"))
    return horizon.select(
        "n", F.col("h").alias("horizon_sec"),
        F.round(F.col("busy") / F.col("h"), 6).alias("avg_concurrency"),
        F.round(F.col("n") / F.col("h").cast("double"), 9)
        .alias("arrival_rate"),
        F.round(F.col("busy") / F.col("n").cast("double"), 6)
        .alias("mean_span_sec"))


_LITTLES_ORACLE = """
WITH ev AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT)
           + CAST(floor(value) AS BIGINT) AS e
  FROM events),
a AS (
  SELECT MAX(e) - MIN(s) AS h, COUNT(*) AS n,
         CAST(SUM(e - s) AS BIGINT) AS busy
  FROM ev)
SELECT n, h AS horizon_sec,
       round(busy * 1.0 / h, 6) AS avg_concurrency,
       round(n * 1.0 / h, 9) AS arrival_rate,
       round(busy * 1.0 / n, 6) AS mean_span_sec
FROM a
"""
query("littles_law", q_littles_law, _LITTLES_ORACLE)


def q_aa_test(spark, sf_dir):
    """A/A experiment sanity check: hash-split customers into two null
    arms and z-test the revenue-per-order difference — a healthy
    randomizer must NOT find an effect (|z| small); a skewed hash or
    leaky split shows up here before any real A/B runs.  Exact DECIMAL
    moment sums per arm; sqrt-only irrationals."""
    o = load_tables(spark, sf_dir)["orders"]
    arm = (text.hash60(F.concat(F.lit("aa:"),
                                F.col("o_custkey").cast("string")))
           % 2).alias("arm")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100) \
        .cast("long")
    g = (o.select(arm, cents.alias("y"))
         .groupBy("arm")
         .agg(F.count("*").alias("n"),
              F.sum("y").cast("decimal(38,0)").alias("s"),
              F.sum((F.col("y").cast("decimal(19,0)") * F.col("y")))
              .cast("decimal(38,0)").alias("q")))
    mu = F.col("s").cast("double") / F.col("n")
    var = (F.col("q").cast("double") / F.col("n")) - mu * mu
    stats = g.select("arm", "n", mu.alias("m"),
                     (var / F.col("n")).alias("vn"))
    a = stats.where(F.col("arm") == 0).select(
        F.col("n").alias("n0"), F.col("m").alias("m0"),
        F.col("vn").alias("v0"))
    b = stats.where(F.col("arm") == 1).select(
        F.col("n").alias("n1"), F.col("m").alias("m1"),
        F.col("vn").alias("v1"))
    return (a.crossJoin(F.broadcast(b))
            .select("n0", "n1",
                    F.round((F.col("m0") - F.col("m1"))
                            / F.sqrt(F.col("v0") + F.col("v1")), 6)
                    .alias("z"),
                    (F.abs((F.col("m0") - F.col("m1"))
                           / F.sqrt(F.col("v0") + F.col("v1"))) < 3)
                    .alias("healthy")))


_AA_ORACLE = """
WITH g AS (
  SELECT CAST(('0x' || substr(md5('aa:' || CAST(o_custkey AS VARCHAR)),
              1, 15)) AS BIGINT) % 2 AS arm,
         COUNT(*) AS n,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                            AS BIGINT) AS DECIMAL(19,0))
                  * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS DECIMAL(38,0)) AS q
  FROM orders GROUP BY 1),
st AS (
  SELECT arm, n, CAST(s AS DOUBLE) / n AS m,
         (CAST(q AS DOUBLE) / n
          - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) / n
           AS vn
  FROM g)
SELECT a.n AS n0, b.n AS n1,
       round((a.m - b.m) / sqrt(a.vn + b.vn), 6) AS z,
       abs((a.m - b.m) / sqrt(a.vn + b.vn)) < 3 AS healthy
FROM st a JOIN st b ON a.arm = 0 AND b.arm = 1
"""
query("aa_test", q_aa_test, _AA_ORACLE)


def q_price_elasticity(spark, sf_dir):
    """Log-log price elasticity of demand: OLS slope of ln(quantity)
    on ln(unit price cents) over lineitem — both logs taken on exact
    INTEGERS and rounded to the 9 dp DECIMAL ladder (libm-proof), the
    closed-form slope in doubles.  The one-number summary every
    pricing team asks for first."""
    li = load_tables(spark, sf_dir)["lineitem"].select(
        F.col("l_quantity").cast("long").alias("qty"),
        ((F.col("l_extendedprice").cast("decimal(18,2)")
          / F.col("l_quantity")).cast("decimal(18,2)") * 100)
        .cast("long").alias("unit_cents"))
    x = F.round(F.log(F.col("unit_cents").cast("double")), 9) \
        .cast("decimal(18,9)")
    y = F.round(F.log(F.col("qty").cast("double")), 9) \
        .cast("decimal(18,9)")
    t = li.where((F.col("qty") > 0) & (F.col("unit_cents") > 0)) \
        .select(x.alias("x"), y.alias("y"),
                (x * y).cast("decimal(38,18)").alias("xy"),
                (x * x).cast("decimal(38,18)").alias("xx"))
    agg = t.agg(F.count("*").cast("double").alias("k"),
                F.sum("x").cast("double").alias("sx"),
                F.sum("y").cast("double").alias("sy"),
                F.sum("xy").cast("double").alias("sxy"),
                F.sum("xx").cast("double").alias("sxx"))
    slope = ((F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")))
    return agg.select(F.col("k").cast("long").alias("n"),
                      F.round(slope, 6).alias("elasticity"))


_ELASTICITY_ORACLE = """
WITH li AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) / l_quantity
                   AS DECIMAL(18,2)) * 100 AS BIGINT) AS unit_cents
  FROM lineitem),
t AS (
  SELECT CAST(round(ln(unit_cents * 1.0), 9) AS DECIMAL(18,9)) AS x,
         CAST(round(ln(qty * 1.0), 9) AS DECIMAL(18,9)) AS y
  FROM li WHERE qty > 0 AND unit_cents > 0),
a AS (
  SELECT COUNT(*) AS k,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx
  FROM t)
SELECT CAST(k AS BIGINT) AS n,
       round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
         AS elasticity
FROM a
"""
query("price_elasticity", q_price_elasticity, _ELASTICITY_ORACLE)


def q_repeat_purchase_fit(spark, sf_dir):
    """Repeat-purchase geometric fit: the distribution of orders per
    customer and the MLE of a geometric model p = 1/mean — the
    zeroth-order BG/NBD stand-in that answers 'how heavy is the
    repeat tail'.  Exact counts; one division."""
    o = load_tables(spark, sf_dir)["orders"]
    per = o.groupBy("o_custkey").agg(F.count("*").alias("k"))
    agg = per.agg(F.count("*").alias("n_customers"),
                  F.sum("k").cast("long").alias("n_orders"),
                  F.max("k").alias("max_orders"))
    return agg.select("n_customers", "n_orders", "max_orders",
                      F.round(F.col("n_customers")
                              / F.col("n_orders").cast("double"), 9)
                      .alias("geometric_p"))


_REPEAT_FIT_ORACLE = """
WITH per AS (
  SELECT o_custkey, COUNT(*) AS k FROM orders GROUP BY o_custkey)
SELECT COUNT(*) AS n_customers,
       CAST(SUM(k) AS BIGINT) AS n_orders,
       CAST(MAX(k) AS BIGINT) AS max_orders,
       round(COUNT(*) * 1.0 / SUM(k), 9) AS geometric_p
FROM per
"""
query("repeat_purchase_fit", q_repeat_purchase_fit, _REPEAT_FIT_ORACLE)


def q_abc_xyz(spark, sf_dir):
    """ABC/XYZ inventory matrix: parts cross-classified by revenue
    volume class (A/B/C = top 20/50/100 cumulative-share cut) and
    demand-variability class (X/Y/Z = weekly CV < 0.5 / < 1.0 / else).
    Output: matrix cell counts — the planner's 9-cell prioritization.
    CV uses exact integer moments + sqrt; cumulative shares are
    DECIMAL-exact."""
    from pyspark.sql import Window as W
    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_partkey",
        F.date_trunc("week", F.col("l_shipdate").cast("timestamp"))
        .alias("wk"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"))
    weekly = (li.groupBy("l_partkey", "wk")
              .agg(F.sum("cents").alias("y")))
    m = weekly.groupBy("l_partkey").agg(
        F.count("*").alias("k"),
        F.sum("y").cast("decimal(38,0)").alias("s"),
        F.sum((F.col("y").cast("decimal(19,0)") * F.col("y")))
        .cast("decimal(38,0)").alias("q"))
    mu = F.col("s").cast("double") / F.col("k")
    sd = F.sqrt((F.col("q").cast("double") / F.col("k")) - mu * mu)
    tot = m.agg(F.sum("s").cast("decimal(38,0)").alias("t"))
    w = W.orderBy(F.col("s").desc(), F.col("l_partkey"))
    ranked = (m.crossJoin(F.broadcast(tot))
              .withColumn("cum", F.sum("s").over(
                  w.rowsBetween(W.unboundedPreceding, W.currentRow)))
              .withColumn("share",
                          F.col("cum").cast("double")
                          / F.col("t").cast("double")))
    abc = (F.when(F.col("share") <= 0.2, "A")
           .when(F.col("share") <= 0.5, "B").otherwise("C"))
    cv = sd / mu
    xyz = (F.when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z"))
    return (ranked.select(abc.alias("abc"), xyz.alias("xyz"))
            .groupBy("abc", "xyz").agg(F.count("*").alias("n_parts")))


_ABC_XYZ_ORACLE = """
WITH li AS (
  SELECT l_partkey,
         date_trunc('week', CAST(l_shipdate AS TIMESTAMP)) AS wk,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM lineitem),
weekly AS (
  SELECT l_partkey, wk, SUM(cents) AS y FROM li GROUP BY 1, 2),
m AS (
  SELECT l_partkey, COUNT(*) AS k,
         CAST(SUM(y) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS q
  FROM weekly GROUP BY l_partkey),
tot AS (SELECT CAST(SUM(s) AS DECIMAL(38,0)) AS t FROM m),
ranked AS (
  SELECT m.*, tot.t,
         SUM(s) OVER (ORDER BY s DESC, l_partkey
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM m, tot),
cls AS (
  SELECT CASE WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.2
              THEN 'A'
              WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.5
              THEN 'B' ELSE 'C' END AS abc,
         CASE WHEN sqrt(CAST(q AS DOUBLE) / k
                        - (CAST(s AS DOUBLE) / k)
                          * (CAST(s AS DOUBLE) / k))
                   / (CAST(s AS DOUBLE) / k) < 0.5 THEN 'X'
              WHEN sqrt(CAST(q AS DOUBLE) / k
                        - (CAST(s AS DOUBLE) / k)
                          * (CAST(s AS DOUBLE) / k))
                   / (CAST(s AS DOUBLE) / k) < 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM ranked)
SELECT abc, xyz, COUNT(*) AS n_parts FROM cls GROUP BY 1, 2
"""
query("abc_xyz", q_abc_xyz, _ABC_XYZ_ORACLE)


def q_p_chart(spark, sf_dir):
    """Statistical process control p-chart: daily proportion of
    'error' events with 3-sigma control limits p_bar +-
    3*sqrt(p_bar(1-p_bar)/n_day) and a per-day out-of-control flag
    (all FALSE on the uniform fixture — the limits themselves are what
    the gate verifies).  The Shewhart chart on a stream — exact
    integer counts, sqrt-only irrationals."""
    ev = _events(spark, sf_dir)
    daily = (ev.groupBy(F.col("ts").cast("date").alias("day"))
             .agg(F.count("*").alias("n"),
                  F.sum(F.when(F.col("event_type") == "error", 1)
                        .otherwise(0)).alias("x")))
    tot = daily.agg(F.sum("n").alias("tn"), F.sum("x").alias("tx"))
    j = daily.crossJoin(F.broadcast(tot))
    pbar = F.col("tx") / F.col("tn")
    p = F.col("x") / F.col("n")
    half = 3 * F.sqrt(pbar * (1 - pbar) / F.col("n"))
    return (j.select("day", "n", "x",
                     F.round(p, 6).alias("p"),
                     F.round(pbar - half, 6).alias("lcl"),
                     F.round(pbar + half, 6).alias("ucl"),
                     ((p < pbar - half) | (p > pbar + half))
                     .alias("out_of_control")))


_P_CHART_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY 1),
tot AS (SELECT SUM(n) AS tn, SUM(x) AS tx FROM daily)
SELECT day, n, x,
       round(x * 1.0 / n, 6) AS p,
       round(tx * 1.0 / tn
             - 3 * sqrt((tx * 1.0 / tn) * (1 - tx * 1.0 / tn) / n),
             6) AS lcl,
       round(tx * 1.0 / tn
             + 3 * sqrt((tx * 1.0 / tn) * (1 - tx * 1.0 / tn) / n),
             6) AS ucl,
       (x * 1.0 / n < tx * 1.0 / tn
          - 3 * sqrt((tx * 1.0 / tn) * (1 - tx * 1.0 / tn) / n)
        OR x * 1.0 / n > tx * 1.0 / tn
          + 3 * sqrt((tx * 1.0 / tn) * (1 - tx * 1.0 / tn) / n))
         AS out_of_control
FROM daily, tot
"""
query("p_chart", q_p_chart, _P_CHART_ORACLE)


def q_topk_turnover(spark, sf_dir):
    """Week-over-week turnover of the top-20 revenue parts: Jaccard
    between consecutive weekly leaderboards — the assortment-stability
    metric (1 = frozen catalog, 0 = full churn).  Leaderboards by
    (revenue desc, part) rank; set overlap via one self-join on week+1;
    exact integer intersections."""
    from pyspark.sql import Window as W
    li = load_tables(spark, sf_dir)["lineitem"].select(
        F.date_trunc("week", F.col("l_shipdate").cast("timestamp"))
        .cast("date").alias("wk"),
        "l_partkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"))
    wkrev = li.groupBy("wk", "l_partkey").agg(
        F.sum("cents").alias("rev"))
    w = W.partitionBy("wk").orderBy(F.col("rev").desc(), "l_partkey")
    top = (wkrev.withColumn("r", F.row_number().over(w))
           .where(F.col("r") <= 20).select("wk", "l_partkey"))
    nxt = top.select(F.date_add(F.col("wk"), 7).alias("wk"),
                     F.col("l_partkey"))
    inter = (top.join(nxt, ["wk", "l_partkey"])
             .groupBy("wk").agg(F.count("*").alias("n_common")))
    weeks = top.groupBy("wk").agg(F.count("*").alias("n_top"))
    prev = weeks.select(F.date_add(F.col("wk"), 7).alias("wk"),
                        F.col("n_top").alias("n_prev"))
    return (weeks.join(prev, "wk")
            .join(inter, "wk", "left")
            .select("wk",
                    F.coalesce("n_common", F.lit(0)).alias("n_common"),
                    F.round(F.coalesce("n_common", F.lit(0))
                            / (F.col("n_top") + F.col("n_prev")
                               - F.coalesce("n_common", F.lit(0))
                               ).cast("double"), 6)
                    .alias("jaccard")))


_TOPK_TURNOVER_ORACLE = """
WITH li AS (
  SELECT CAST(date_trunc('week', CAST(l_shipdate AS TIMESTAMP))
              AS DATE) AS wk,
         l_partkey,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM lineitem),
wkrev AS (
  SELECT wk, l_partkey, SUM(cents) AS rev FROM li GROUP BY 1, 2),
top AS (
  SELECT wk, l_partkey FROM (
    SELECT wk, l_partkey,
           row_number() OVER (PARTITION BY wk
                              ORDER BY rev DESC, l_partkey) AS r
    FROM wkrev) WHERE r <= 20),
nxt AS (SELECT wk + 7 AS wk, l_partkey FROM top),
inter AS (
  SELECT t.wk, COUNT(*) AS n_common
  FROM top t JOIN nxt n ON n.wk = t.wk AND n.l_partkey = t.l_partkey
  GROUP BY t.wk),
weeks AS (SELECT wk, COUNT(*) AS n_top FROM top GROUP BY wk),
prev AS (SELECT wk + 7 AS wk, n_top AS n_prev FROM weeks)
SELECT w.wk, COALESCE(i.n_common, 0) AS n_common,
       round(COALESCE(i.n_common, 0) * 1.0
             / (w.n_top + p.n_prev - COALESCE(i.n_common, 0)), 6)
         AS jaccard
FROM weeks w JOIN prev p ON p.wk = w.wk
LEFT JOIN inter i ON i.wk = w.wk
"""
query("topk_turnover", q_topk_turnover, _TOPK_TURNOVER_ORACLE)


def q_logodds_terms(spark, sf_dir):
    """Distinctive-term analysis (Monroe-Colaresi-Quinn log-odds with
    add-one smoothing): which tokens distinguish source src0 from the
    rest of the corpus.  delta = ln((a+1)/(A-a+1)) - ln((b+1)/(B-b+1))
    — every ln runs on an INTEGER and rounds to the 9 dp ladder;
    top 15 per direction by |delta| with token tie-break."""
    docs = _docs(spark, sf_dir)
    toks = (docs.select((F.col("source") == "src0").alias("tgt"),
                        F.explode(text.tokens(F.col("text")))
                        .alias("tok")))
    cnt = (toks.groupBy("tok")
           .agg(F.sum(F.when(F.col("tgt"), 1).otherwise(0)).alias("a"),
                F.sum(F.when(~F.col("tgt"), 1).otherwise(0))
                .alias("b")))
    tot = cnt.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))

    def ln9(c):
        return F.round(F.log(c.cast("double")), 9) \
            .cast("decimal(18,9)")

    j = cnt.crossJoin(F.broadcast(tot))
    delta = (ln9(F.col("a") + 1)
             - ln9(F.col("ta") - F.col("a") + 1)
             - ln9(F.col("b") + 1)
             + ln9(F.col("tb") - F.col("b") + 1))
    scored = j.select("tok", "a", "b",
                      delta.cast("double").alias("delta"))
    from pyspark.sql import Window as W
    up = scored.withColumn("r", F.row_number().over(
        W.orderBy(F.col("delta").desc(), "tok"))).where(F.col("r") <= 15)
    dn = scored.withColumn("r", F.row_number().over(
        W.orderBy(F.col("delta").asc(), "tok"))).where(F.col("r") <= 15)
    return (up.select("tok", "a", "b",
                      F.round("delta", 6).alias("delta"))
            .unionByName(dn.select("tok", "a", "b",
                                   F.round("delta", 6).alias("delta"))))


_LOGODDS_ORACLE = """
WITH toks AS (
  SELECT source = 'src0' AS tgt,
         unnest(list_filter(string_split_regex(lower(text),
                '[^a-z0-9]+'), x -> x != '')) AS tok
  FROM documents),
cnt AS (
  SELECT tok,
         SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS b
  FROM toks GROUP BY tok),
tot AS (SELECT SUM(a) AS ta, SUM(b) AS tb FROM cnt),
scored AS (
  SELECT tok, a, b,
         CAST(CAST(round(ln(a + 1), 9) AS DECIMAL(18,9))
              - CAST(round(ln(ta - a + 1), 9) AS DECIMAL(18,9))
              - CAST(round(ln(b + 1), 9) AS DECIMAL(18,9))
              + CAST(round(ln(tb - b + 1), 9) AS DECIMAL(18,9))
              AS DOUBLE) AS delta
  FROM cnt, tot)
SELECT tok, a, b, round(delta, 6) AS delta FROM (
  SELECT *, row_number() OVER (ORDER BY delta DESC, tok) AS r
  FROM scored) WHERE r <= 15
UNION ALL
SELECT tok, a, b, round(delta, 6) AS delta FROM (
  SELECT *, row_number() OVER (ORDER BY delta ASC, tok) AS r
  FROM scored) WHERE r <= 15
"""
query("logodds_terms", q_logodds_terms, _LOGODDS_ORACLE)


def q_quota_violations(spark, sf_dir):
    """Rate-limit audit: users exceeding 8 events inside ANY sliding
    24-hour window — the abuse-detection shape, computed with a
    RANGE-frame window count (each event looks back 86400 s) instead
    of a quadratic self-join.  Output: per violating user, the worst
    burst."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("long").alias("t"))
    w = (W.partitionBy("user_id").orderBy("t")
         .rangeBetween(-86400, 0))
    r = ev.withColumn("in_hour", F.count("*").over(w))
    return (r.groupBy("user_id")
            .agg(F.max("in_hour").alias("max_burst"))
            .where(F.col("max_burst") > 8))


_QUOTA_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
r AS (
  SELECT user_id,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY t
                        RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
           AS in_hour
  FROM ev)
SELECT user_id, CAST(MAX(in_hour) AS BIGINT) AS max_burst
FROM r GROUP BY user_id HAVING MAX(in_hour) > 8
"""
query("quota_violations", q_quota_violations, _QUOTA_ORACLE)


def q_peak_concurrency(spark, sf_dir):
    """EXACT peak concurrency by sweep line: activity intervals
    (ts .. ts+value s) become +1/-1 endpoint events; the running sum
    over the (time, delta) order is the live concurrency and its max
    is the capacity answer — one sort instead of an interval
    self-join.  Ends sort before starts at the same instant
    (half-open intervals).  Output: the peak and the earliest time
    it is reached."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir).select(
        F.col("ts").cast("long").alias("s"),
        (F.col("ts").cast("long")
         + F.col("value").cast("long")).alias("e"))
    pts = (ev.select(F.col("s").alias("t"), F.lit(1).alias("d"))
           .unionByName(ev.select(F.col("e").alias("t"),
                                  F.lit(-1).alias("d"))))
    w = (W.orderBy("t", "d")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    run = pts.withColumn("c", F.sum("d").over(w))
    best = F.max(F.struct(F.col("c"), (-F.col("t")).alias("negt")))
    return (run.agg(best.alias("b"))
            .select(F.col("b.c").cast("long").alias("peak"),
                    (-F.col("b.negt")).cast("long")
                    .alias("at_epoch_sec")))


_PEAK_ORACLE = """
WITH ev AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT)
           + CAST(floor(value) AS BIGINT) AS e
  FROM events),
pts AS (
  SELECT s AS t, 1 AS d FROM ev
  UNION ALL SELECT e, -1 FROM ev),
run AS (
  SELECT t, SUM(d) OVER (ORDER BY t, d
                         ROWS UNBOUNDED PRECEDING) AS c
  FROM pts)
SELECT CAST(MAX(c) AS BIGINT) AS peak,
       CAST(MIN(CASE WHEN c = m THEN t END) AS BIGINT)
         AS at_epoch_sec
FROM run, (SELECT MAX(c) AS m FROM (
  SELECT SUM(d) OVER (ORDER BY t, d ROWS UNBOUNDED PRECEDING) AS c
  FROM pts))
"""
query("peak_concurrency", q_peak_concurrency, _PEAK_ORACLE)


def q_hill_tail(spark, sf_dir):
    """Hill estimator of the power-law tail index over order values:
    alpha = k / sum(ln(x_i / x_(k+1))) on the k = 100 largest orders —
    the standard heavy-tail exponent (is the spend distribution
    Pareto-like, and how extreme will the next whale be).  Each ln
    runs on an INTEGER cents value and rounds to the 9 dp ladder; the
    ratio becomes a ladder difference, so no float log of a quotient
    exists."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"].select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"), "o_orderkey")
    r = o.withColumn("rk", F.row_number().over(
        W.orderBy(F.col("cents").desc(), "o_orderkey")))
    topk = r.where(F.col("rk") <= 100)
    pivot = r.where(F.col("rk") == 101).select(
        F.col("cents").alias("xk"))

    def ln9(c):
        return F.round(F.log(c.cast("double")), 9) \
            .cast("decimal(18,9)")

    j = topk.crossJoin(F.broadcast(pivot))
    s = j.agg(F.sum(ln9(F.col("cents"))
                    - ln9(F.col("xk"))).alias("lsum"),
              F.count("*").alias("k"))
    return s.select(F.col("k").cast("long").alias("k"),
                    F.round(F.col("k")
                            / F.col("lsum").cast("double"), 6)
                    .alias("hill_alpha"))


_HILL_ORACLE = """
WITH o AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents, o_orderkey,
         row_number() OVER (ORDER BY
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           DESC, o_orderkey) AS rk
  FROM orders),
pv AS (SELECT cents AS xk FROM o WHERE rk = 101),
s AS (
  SELECT COUNT(*) AS k,
         SUM(CAST(round(ln(o.cents * 1.0), 9) AS DECIMAL(18,9))
             - CAST(round(ln(p.xk * 1.0), 9) AS DECIMAL(18,9)))
           AS lsum
  FROM o, pv p WHERE o.rk <= 100)
SELECT CAST(k AS BIGINT) AS k,
       round(k / CAST(lsum AS DOUBLE), 6) AS hill_alpha
FROM s
"""
query("hill_tail", q_hill_tail, _HILL_ORACLE)


def q_var_cvar(spark, sf_dir):
    """Historical 99% VaR and CVaR (expected shortfall) of daily
    revenue swings: the day-over-day change distribution's lower
    1% rank-selected quantile, and the exact mean of the tail beyond
    it — the risk pair regulators ask for, in integer cents with one
    rank selection and one tail mean."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                   * 100).cast("long").alias("cents")))
    w = W.orderBy("day")
    chg = (daily.withColumn("d", F.col("cents")
                            - F.lag("cents").over(w))
           .where(F.col("d").isNotNull()))
    n = chg.count()
    k = max(1, n // 100)
    ranked = chg.withColumn("rk", F.row_number().over(
        W.orderBy(F.col("d"), F.col("day"))))
    var = ranked.where(F.col("rk") == k).select(
        F.col("d").alias("var_cents"))
    tail = (ranked.where(F.col("rk") <= k)
            .agg(F.count("*").alias("nt"),
                 F.sum("d").cast("long").alias("st")))
    return (tail.crossJoin(F.broadcast(var))
            .select(F.lit(n).cast("long").alias("n_days"),
                    F.col("var_cents"),
                    F.round(F.col("st") / F.col("nt").cast("double"),
                            6).alias("cvar_cents")))


_VAR_CVAR_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
chg AS (
  SELECT day, cents - lag(cents) OVER (ORDER BY day) AS d FROM daily),
v AS (SELECT day, d FROM chg WHERE d IS NOT NULL),
n AS (SELECT COUNT(*) AS n, GREATEST(1, COUNT(*) // 100) AS k FROM v),
ranked AS (
  SELECT d, row_number() OVER (ORDER BY d, day) AS rk FROM v)
SELECT n.n AS n_days,
       (SELECT d FROM ranked, n WHERE rk = n.k) AS var_cents,
       round((SELECT SUM(d) * 1.0 / COUNT(*)
              FROM ranked, n WHERE rk <= n.k), 6) AS cvar_cents
FROM n
"""
query("var_cvar", q_var_cvar, _VAR_CVAR_ORACLE)


def q_jsd_daily_mix(spark, sf_dir):
    """Jensen-Shannon divergence of each day's event-type mix from the
    global mix — the bounded symmetric drift score ([0,1] in bits)
    monitoring pipelines prefer over raw KL (no infinities on missing
    classes).  Every p*log2 term rounds to the 9 dp DECIMAL grid (the
    transition_entropy ladder) before summation."""
    ev = _events(spark, sf_dir)
    d = (ev.groupBy(F.col("ts").cast("date").alias("day"),
                    "event_type")
         .agg(F.count("*").alias("c")))
    dn = d.groupBy("day").agg(F.sum("c").alias("nd"))
    g = d.groupBy("event_type").agg(F.sum("c").alias("cg"))
    gn = g.agg(F.sum("cg").alias("ng"))
    # dense (day x type) grid so classes absent on a day still
    # contribute their q-side mass (that's what keeps JSD finite)
    full = (dn.crossJoin(F.broadcast(g)).crossJoin(F.broadcast(gn))
            .join(d, ["day", "event_type"], "left")
            .select("day",
                    F.coalesce(F.col("c"), F.lit(0)).alias("c"),
                    "nd", "cg", "ng"))
    p2 = F.col("c") / F.col("nd")
    q2 = F.col("cg") / F.col("ng")
    m2 = (p2 + q2) / 2
    tp = F.when(F.col("c") > 0,
                F.round(p2 * F.log2(p2 / m2), 9)
                .cast("decimal(18,9)")) \
        .otherwise(F.lit(0).cast("decimal(18,9)"))
    tq = F.round(q2 * F.log2(q2 / m2), 9).cast("decimal(18,9)")
    return (full.groupBy("day")
            .agg(F.round((F.sum(tp).cast("double")
                          + F.sum(tq).cast("double")) / 2, 6)
                 .alias("jsd_bits"))
            .orderBy(F.col("jsd_bits").desc(), "day").limit(10))


_JSD_ORACLE = """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS c
  FROM events GROUP BY 1, 2),
dn AS (SELECT day, SUM(c) AS nd FROM d GROUP BY day),
g AS (SELECT event_type, SUM(c) AS cg FROM d GROUP BY event_type),
gn AS (SELECT SUM(cg) AS ng FROM g),
grid AS (
  SELECT dn.day, COALESCE(d.c, 0) AS c, dn.nd, g.cg, gn.ng
  FROM dn CROSS JOIN g CROSS JOIN gn
  LEFT JOIN d ON d.day = dn.day AND d.event_type = g.event_type),
t AS (
  SELECT day,
         CASE WHEN c > 0 THEN CAST(round(
           (c * 1.0 / nd)
           * log2((c * 1.0 / nd)
                  / (((c * 1.0 / nd) + (cg * 1.0 / ng)) / 2)), 9)
           AS DECIMAL(18,9))
         ELSE CAST(0 AS DECIMAL(18,9)) END AS tp,
         CAST(round(
           (cg * 1.0 / ng)
           * log2((cg * 1.0 / ng)
                  / (((c * 1.0 / nd) + (cg * 1.0 / ng)) / 2)), 9)
           AS DECIMAL(18,9)) AS tq
  FROM grid)
SELECT day,
       round((CAST(SUM(tp) AS DOUBLE) + CAST(SUM(tq) AS DOUBLE)) / 2,
             6) AS jsd_bits
FROM t GROUP BY day
ORDER BY jsd_bits DESC, day LIMIT 10
"""
query("jsd_daily_mix", q_jsd_daily_mix, _JSD_ORACLE)


def q_cuped_adjustment(spark, sf_dir):
    """CUPED variance reduction (Deng et al. 2013): per-customer
    post-period revenue Y adjusted by pre-period covariate X with
    theta = cov(X,Y)/var(X); reports the variance-reduction ratio
    var(Y_adj)/var(Y) = 1 - rho^2 — the standard lever that makes
    A/B tests 30-50%% cheaper.  All moments are exact DECIMAL sums of
    integer cents; theta and the ratio are a handful of IEEE ops."""
    o = load_tables(spark, sf_dir)["orders"].select(
        "o_custkey",
        (F.col("o_orderdate") >= F.lit("1998-01-01")).alias("post"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"))
    per = (o.groupBy("o_custkey")
           .agg(F.sum(F.when(~F.col("post"), F.col("cents"))
                      .otherwise(0)).cast("long").alias("x"),
                F.sum(F.when(F.col("post"), F.col("cents"))
                      .otherwise(0)).cast("long").alias("y")))
    agg = per.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x"))
        .cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)").alias("syy"))
    n = F.col("n").cast("double")
    cov = F.col("sxy").cast("double") / n \
        - (F.col("sx").cast("double") / n) \
        * (F.col("sy").cast("double") / n)
    vx = F.col("sxx").cast("double") / n \
        - (F.col("sx").cast("double") / n) ** 2
    vy = F.col("syy").cast("double") / n \
        - (F.col("sy").cast("double") / n) ** 2
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(cov / vx, 9).alias("theta"),
        F.round(1 - (cov * cov) / (vx * vy), 9)
        .alias("var_ratio_after_cuped"))


_CUPED_ORACLE = """
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN o_orderdate < DATE '1998-01-01'
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                            AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN o_orderdate >= DATE '1998-01-01'
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                            AS BIGINT) ELSE 0 END) AS BIGINT) AS y
  FROM orders GROUP BY o_custkey),
a AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0))
           AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0))
           AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0))
           AS syy
  FROM per)
SELECT CAST(n AS BIGINT) AS n_customers,
       round((CAST(sxy AS DOUBLE) / n
              - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
             / (CAST(sxx AS DOUBLE) / n
                - (CAST(sx AS DOUBLE) / n)
                  * (CAST(sx AS DOUBLE) / n)), 9) AS theta,
       round(1 - ((CAST(sxy AS DOUBLE) / n
                   - (CAST(sx AS DOUBLE) / n)
                     * (CAST(sy AS DOUBLE) / n))
                  * (CAST(sxy AS DOUBLE) / n
                     - (CAST(sx AS DOUBLE) / n)
                       * (CAST(sy AS DOUBLE) / n)))
                 / ((CAST(sxx AS DOUBLE) / n
                     - (CAST(sx AS DOUBLE) / n)
                       * (CAST(sx AS DOUBLE) / n))
                    * (CAST(syy AS DOUBLE) / n
                       - (CAST(sy AS DOUBLE) / n)
                         * (CAST(sy AS DOUBLE) / n))), 9)
         AS var_ratio_after_cuped
FROM a
"""
query("cuped_adjustment", q_cuped_adjustment, _CUPED_ORACLE)


def q_budget_allocation(spark, sf_dir):
    """Token-budget allocation by quality-per-token greedy: sources
    ranked by mean quality proxy (chars per doc as the stand-in),
    filled into a 200k-char budget in rank order — the knapsack-greedy
    that decides which crawl sources make the training mix.  One
    window cumsum over the SOURCE-level aggregate (dim-sized)."""
    from pyspark.sql import Window as W
    docs = _docs(spark, sf_dir)
    src = (docs.groupBy("source")
           .agg(F.count("*").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("chars")))
    score = (F.col("chars") / F.col("n_docs")).alias("chars_per_doc")
    w = W.orderBy(F.col("chars_per_doc").desc(), F.col("source"))
    ranked = (src.select("source", "n_docs", "chars", score)
              .withColumn("cum_before",
                          F.coalesce(F.sum("chars").over(
                              w.rowsBetween(W.unboundedPreceding, -1)),
                              F.lit(0))))
    taken = F.greatest(
        F.lit(0), F.least(F.col("chars"),
                          F.lit(200000) - F.col("cum_before")))
    return (ranked.select("source", "chars",
                          F.round("chars_per_doc", 6)
                          .alias("chars_per_doc"),
                          taken.cast("long").alias("chars_taken"))
            .where(F.col("chars_taken") > 0))


_BUDGET_ALLOC_ORACLE = """
WITH src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY source),
ranked AS (
  SELECT source, n_docs, chars,
         chars * 1.0 / n_docs AS chars_per_doc,
         COALESCE(SUM(chars) OVER (
           ORDER BY chars * 1.0 / n_docs DESC, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM src)
SELECT source, chars, round(chars_per_doc, 6) AS chars_per_doc,
       CAST(GREATEST(0, LEAST(chars, 200000 - cum_before)) AS BIGINT)
         AS chars_taken
FROM ranked
WHERE GREATEST(0, LEAST(chars, 200000 - cum_before)) > 0
"""
query("budget_allocation", q_budget_allocation, _BUDGET_ALLOC_ORACLE)


def q_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend test + Sen's slope on weekly revenue — the
    nonparametric monitoring standard (no linearity or normality
    assumed).  S = sum of pairwise signs and its tie-corrected
    variance are EXACT integers; z applies the +-1 continuity
    correction with sqrt as the only irrational; Sen's slope is the
    lower median of pairwise slopes (rank selection, one division
    each)."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    weekly = (o.groupBy(F.date_trunc("week", F.col("o_orderdate")
                                     .cast("timestamp")).alias("wk"))
              .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    * 100).cast("long").alias("y")))
    idx = weekly.withColumn("i", F.row_number().over(W.orderBy("wk"))) \
        .localCheckpoint(eager=True)
    a, b = idx.alias("a"), idx.alias("b")
    pairs = (a.join(b, F.col("a.i") < F.col("b.i"))
             .select(((F.col("b.y") > F.col("a.y")).cast("int")
                      - (F.col("b.y") < F.col("a.y")).cast("int"))
                     .alias("sgn"),
                     ((F.col("b.y") - F.col("a.y"))
                      / (F.col("b.i") - F.col("a.i"))).alias("slope")))
    n_row = idx.agg(F.count("*").alias("n"))
    # tie groups for the variance correction
    ties = (idx.groupBy("y").agg(F.count("*").alias("t"))
            .where(F.col("t") > 1)
            .agg(F.coalesce(F.sum(F.col("t") * (F.col("t") - 1)
                                  * (2 * F.col("t") + 5)), F.lit(0))
                 .alias("tie_term")))
    s_agg = pairs.agg(F.sum("sgn").cast("long").alias("s"),
                      F.count("*").alias("n_pairs"))
    med = (pairs.withColumn("rk", F.row_number().over(
        W.orderBy("slope")))
        .crossJoin(F.broadcast(s_agg.select("n_pairs")))
        .where(F.col("rk") == F.floor((F.col("n_pairs") + 1) / 2)
               .cast("int"))
        .select(F.round("slope", 6).alias("sens_slope")))
    j = (s_agg.crossJoin(F.broadcast(n_row))
         .crossJoin(F.broadcast(ties))
         .crossJoin(F.broadcast(med)))
    var = ((F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tie_term")) / 18.0)
    z = (F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var))
         .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var))
         .otherwise(F.lit(0.0)))
    return j.select(F.col("n").cast("long").alias("n_weeks"),
                    "s", F.round(z, 6).alias("mk_z"), "sens_slope")


_MANN_KENDALL_ORACLE = """
WITH weekly AS (
  SELECT date_trunc('week', CAST(o_orderdate AS TIMESTAMP)) AS wk,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS y
  FROM orders GROUP BY 1),
idx AS (
  SELECT y, row_number() OVER (ORDER BY wk) AS i FROM weekly),
pairs AS (
  SELECT (CASE WHEN b.y > a.y THEN 1
               WHEN b.y < a.y THEN -1 ELSE 0 END) AS sgn,
         (b.y - a.y) * 1.0 / (b.i - a.i) AS slope
  FROM idx a JOIN idx b ON a.i < b.i),
nn AS (SELECT COUNT(*) AS n FROM idx),
ties AS (
  SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
  FROM (SELECT COUNT(*) AS t FROM idx GROUP BY y HAVING COUNT(*) > 1)),
sa AS (SELECT CAST(SUM(sgn) AS BIGINT) AS s, COUNT(*) AS n_pairs
       FROM pairs),
med AS (
  SELECT round(slope, 6) AS sens_slope FROM (
    SELECT slope, row_number() OVER (ORDER BY slope) AS rk FROM pairs),
    sa
  WHERE rk = CAST(floor((sa.n_pairs + 1) / 2.0) AS INT))
SELECT CAST(nn.n AS BIGINT) AS n_weeks, sa.s,
       round(CASE WHEN sa.s > 0 THEN (sa.s - 1)
                    / sqrt((nn.n * (nn.n - 1) * (2 * nn.n + 5)
                            - ties.tie_term) / 18.0)
                  WHEN sa.s < 0 THEN (sa.s + 1)
                    / sqrt((nn.n * (nn.n - 1) * (2 * nn.n + 5)
                            - ties.tie_term) / 18.0)
                  ELSE 0.0 END, 6) AS mk_z,
       med.sens_slope
FROM sa, nn, ties, med
"""
query("mann_kendall", q_mann_kendall, _MANN_KENDALL_ORACLE)


def q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test on the sign of day-over-day revenue
    moves: is the up/down sequence random or sticky?  Runs, n+ and n-
    are exact integers; the expected-runs mean and variance are
    rational; z needs one sqrt.  Zero-change days drop (standard
    practice)."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                   * 100).cast("long").alias("cents")))
    w = W.orderBy("day")
    sgn = (daily.withColumn("d", F.col("cents")
                            - F.lag("cents").over(w))
           .where(F.col("d").isNotNull() & (F.col("d") != 0))
           .select("day", (F.col("d") > 0).cast("int").alias("up")))
    runs = (sgn.withColumn("chg",
                           F.when(F.lag("up").over(w).isNull()
                                  | (F.col("up")
                                     != F.lag("up").over(w)), 1)
                           .otherwise(0))
            .agg(F.sum("chg").cast("long").alias("r"),
                 F.sum("up").cast("long").alias("np"),
                 F.sum(1 - F.col("up")).cast("long").alias("nm")))
    n2 = 2 * F.col("np") * F.col("nm")
    n = F.col("np") + F.col("nm")
    mean = n2 / n + 1
    var = (n2 * (n2 - n)) / (n * n * (n - 1))
    return runs.select("r", "np", "nm",
                       F.round((F.col("r") - mean) / F.sqrt(var), 6)
                       .alias("z"))


_RUNS_TEST_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
sgn AS (
  SELECT day, (d > 0)::INT AS up FROM (
    SELECT day, cents - lag(cents) OVER (ORDER BY day) AS d FROM daily)
  WHERE d IS NOT NULL AND d <> 0),
runs AS (
  SELECT CAST(SUM(chg) AS BIGINT) AS r,
         CAST(SUM(up) AS BIGINT) AS np,
         CAST(SUM(1 - up) AS BIGINT) AS nm
  FROM (
    SELECT up, CASE WHEN lag(up) OVER (ORDER BY day) IS NULL
                      OR up <> lag(up) OVER (ORDER BY day)
               THEN 1 ELSE 0 END AS chg
    FROM sgn))
SELECT r, np, nm,
       round((r - (CAST(2 * np * nm AS DOUBLE) / (np + nm) + 1))
             / sqrt(CAST((2 * np * nm) * (2 * np * nm - (np + nm))
                         AS DOUBLE)
                    / ((np + nm) * (np + nm) * ((np + nm) - 1))),
             6) AS z
FROM runs
"""
query("runs_test", q_runs_test, _RUNS_TEST_ORACLE)


def q_durbin_watson(spark, sf_dir):
    """Durbin-Watson statistic of weekly revenue deviations from the
    mean (DW ~ 2 means no lag-1 autocorrelation; < 2 positive, > 2
    negative).  Numerator sum (y_t - y_{t-1})^2 is exact integer math;
    the denominator Q - S^2/n is exact DECIMAL; one final division."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    weekly = (o.groupBy(F.date_trunc("week", F.col("o_orderdate")
                                     .cast("timestamp")).alias("wk"))
              .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    * 100).cast("long").alias("y")))
    w = W.orderBy("wk")
    d = weekly.withColumn("dy", F.col("y") - F.lag("y").over(w))
    agg = d.agg(
        F.count("*").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)").alias("q"),
        F.sum(F.when(F.col("dy").isNotNull(),
                     F.col("dy").cast("decimal(19,0)") * F.col("dy"))
              .otherwise(0)).cast("decimal(38,0)").alias("num"))
    den = (F.col("q").cast("double")
           - F.col("s").cast("double") * F.col("s").cast("double")
           / F.col("n"))
    return agg.select(F.col("n").cast("long").alias("n_weeks"),
                      F.round(F.col("num").cast("double") / den, 6)
                      .alias("durbin_watson"))


_DW_ORACLE = """
WITH weekly AS (
  SELECT date_trunc('week', CAST(o_orderdate AS TIMESTAMP)) AS wk,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS y
  FROM orders GROUP BY 1),
d AS (SELECT y, y - lag(y) OVER (ORDER BY wk) AS dy FROM weekly),
a AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(y) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS q,
         CAST(SUM(CASE WHEN dy IS NOT NULL
                  THEN CAST(dy AS DECIMAL(19,0)) * dy ELSE 0 END)
              AS DECIMAL(38,0)) AS num
  FROM d)
SELECT CAST(n AS BIGINT) AS n_weeks,
       round(CAST(num AS DOUBLE)
             / (CAST(q AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n), 6)
         AS durbin_watson
FROM a
"""
query("durbin_watson", q_durbin_watson, _DW_ORACLE)


def q_friedman_test(spark, sf_dir):
    """Friedman test: do the 5 market segments keep the same revenue
    ORDER across monthly blocks?  Within-block ranks (ties impossible
    at cent grain in practice; deterministic (revenue, segment)
    tie-break regardless), chi2_F = 12/(n k (k+1)) * sum R_j^2 -
    3 n (k+1) — every term an exact integer until two final IEEE
    ops.  Only blocks containing all 5 segments count (complete
    blocks, the test's requirement)."""
    from pyspark.sql import Window as W
    t = load_tables(spark, sf_dir)
    j = (t["orders"].join(t["customer"],
                          F.col("o_custkey") == F.col("c_custkey"))
         .groupBy(F.date_trunc("month", F.col("o_orderdate")
                               .cast("timestamp")).alias("m"),
                  "c_mktsegment")
         .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
               * 100).cast("long").alias("rev")))
    full = (j.groupBy("m").agg(F.count("*").alias("k"))
            .where(F.col("k") == 5).select("m"))
    ranked = (j.join(full, "m")
              .withColumn("r", F.row_number().over(
                  W.partitionBy("m")
                  .orderBy("rev", "c_mktsegment"))))
    rj = ranked.groupBy("c_mktsegment").agg(
        F.sum("r").cast("long").alias("rsum"))
    n = full.count()
    k = 5
    chi = (F.lit(12.0) / (n * k * (k + 1))
           * F.sum(F.col("rsum") * F.col("rsum"))
           - F.lit(3.0) * n * (k + 1))
    return rj.agg(F.lit(n).cast("long").alias("n_blocks"),
                  F.round(chi, 6).alias("friedman_chi2"))


_FRIEDMAN_ORACLE = """
WITH j AS (
  SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS m,
         c_mktsegment,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
full_ AS (
  SELECT m FROM j GROUP BY m HAVING COUNT(*) = 5),
ranked AS (
  SELECT j.c_mktsegment,
         row_number() OVER (PARTITION BY j.m
                            ORDER BY j.rev, j.c_mktsegment) AS r
  FROM j JOIN full_ USING (m)),
rj AS (
  SELECT c_mktsegment, CAST(SUM(r) AS BIGINT) AS rsum
  FROM ranked GROUP BY c_mktsegment),
nn AS (SELECT COUNT(*) AS n FROM full_)
SELECT CAST(nn.n AS BIGINT) AS n_blocks,
       round(12.0 / (nn.n * 5 * 6) * SUM(rsum * rsum)
             - 3.0 * nn.n * 6, 6) AS friedman_chi2
FROM rj, nn GROUP BY nn.n
"""
query("friedman_test", q_friedman_test, _FRIEDMAN_ORACLE)


def q_segment_migration(spark, sf_dir):
    """Customer value-segment MIGRATION matrix: spend quartile in the
    1996-1997 window vs in 1998-1999 — who upgraded, who churned
    (quartiles by ntile with (spend, custkey) tie-break; customers
    absent from a window class as 'none').  The period-over-period
    movement table behind retention planning."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"].select(
        "o_custkey", "o_orderdate",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"))

    def quartile(lo, hi, alias):
        spend = (o.where((F.col("o_orderdate") >= F.lit(lo))
                         & (F.col("o_orderdate") < F.lit(hi)))
                 .groupBy("o_custkey")
                 .agg(F.sum("cents").cast("long").alias("s")))
        return spend.withColumn(
            alias, F.ntile(4).over(W.orderBy("s", "o_custkey"))) \
            .select("o_custkey", alias)

    q1 = quartile("1996-01-01", "1998-01-01", "q_before")
    q2 = quartile("1998-01-01", "2000-01-01", "q_after")
    j = q1.join(q2, "o_custkey", "full")
    return (j.groupBy(
        F.coalesce(F.col("q_before").cast("string"), F.lit("none"))
        .alias("q_before"),
        F.coalesce(F.col("q_after").cast("string"), F.lit("none"))
        .alias("q_after"))
        .agg(F.count("*").alias("n_customers")))


_MIGRATION_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderdate,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders),
q1 AS (
  SELECT o_custkey, ntile(4) OVER (ORDER BY s, o_custkey) AS q_before
  FROM (SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS s FROM o
        WHERE o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1998-01-01'
        GROUP BY o_custkey)),
q2 AS (
  SELECT o_custkey, ntile(4) OVER (ORDER BY s, o_custkey) AS q_after
  FROM (SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS s FROM o
        WHERE o_orderdate >= DATE '1998-01-01'
          AND o_orderdate < DATE '2000-01-01'
        GROUP BY o_custkey))
SELECT COALESCE(CAST(q_before AS VARCHAR), 'none') AS q_before,
       COALESCE(CAST(q_after AS VARCHAR), 'none') AS q_after,
       COUNT(*) AS n_customers
FROM q1 FULL JOIN q2 USING (o_custkey)
GROUP BY 1, 2
"""
query("segment_migration", q_segment_migration, _MIGRATION_ORACLE)


def q_theil_index(spark, sf_dir):
    """Theil T inequality index of customer spend, DECOMPOSED into
    between-nation and within-nation parts (the additivity Gini
    lacks — tells you whether inequality lives across markets or
    inside them).  ln terms expand to integer-ln ladder differences
    (ln x + ln n - ln S); products computed in doubles and rounded to
    9 dp DECIMAL before summation."""
    t = load_tables(spark, sf_dir)
    per = (t["orders"].join(t["customer"],
                            F.col("o_custkey") == F.col("c_custkey"))
           .groupBy("o_custkey", "c_nationkey")
           .agg(F.sum((F.col("o_totalprice").cast("decimal(18,2)")
                       * 100).cast("long")).cast("long").alias("x")))
    tot = per.agg(F.count("*").alias("n"),
                  F.sum("x").cast("decimal(38,0)").alias("s"))

    def ln9d(c):
        return F.round(F.log(c.cast("double")), 9)

    j = per.crossJoin(F.broadcast(tot))
    share = F.col("x") * F.col("n").cast("double") \
        / F.col("s").cast("double")
    term = F.round(share * (ln9d(F.col("x")) + ln9d(F.col("n"))
                            - ln9d(F.col("s"))), 9) \
        .cast("decimal(18,9)")
    total_t = (j.agg(F.sum(term).cast("double").alias("tt"),
                     F.first("n").alias("n"))
               .select(F.round(F.col("tt") / F.col("n"), 6)
                       .alias("theil_total")))
    # between-nation component: nations as synthetic individuals
    nat = per.groupBy("c_nationkey").agg(
        F.count("*").alias("nk"),
        F.sum("x").cast("decimal(38,0)").alias("sk"))
    jb = nat.crossJoin(F.broadcast(tot))
    shb = F.col("sk").cast("double") / F.col("s").cast("double")
    termb = F.round(shb * (ln9d(F.col("sk")) + ln9d(F.col("n"))
                           - ln9d(F.col("s")) - ln9d(F.col("nk"))),
                    9).cast("decimal(18,9)")
    between = jb.agg(F.round(F.sum(termb).cast("double"), 6)
                     .alias("theil_between"))
    return (total_t.crossJoin(F.broadcast(between))
            .select("theil_total", "theil_between",
                    F.round(F.col("theil_total")
                            - F.col("theil_between"), 6)
                    .alias("theil_within")))


_THEIL_ORACLE = """
WITH per AS (
  SELECT o_custkey, c_nationkey,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS x
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
tot AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS DECIMAL(38,0)) AS s
        FROM per),
tt AS (
  SELECT round(CAST(SUM(CAST(round(
           (x * CAST(n AS DOUBLE) / CAST(s AS DOUBLE))
           * (round(ln(x * 1.0), 9) + round(ln(n * 1.0), 9)
              - round(ln(CAST(s AS DOUBLE)), 9)), 9)
           AS DECIMAL(18,9))) AS DOUBLE) / MIN(n), 6) AS theil_total
  FROM per, tot),
nat AS (
  SELECT c_nationkey, COUNT(*) AS nk,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sk
  FROM per GROUP BY 1),
tb AS (
  SELECT round(CAST(SUM(CAST(round(
           (CAST(sk AS DOUBLE) / CAST(s AS DOUBLE))
           * (round(ln(CAST(sk AS DOUBLE)), 9)
              + round(ln(n * 1.0), 9)
              - round(ln(CAST(s AS DOUBLE)), 9)
              - round(ln(nk * 1.0), 9)), 9)
           AS DECIMAL(18,9))) AS DOUBLE), 6) AS theil_between
  FROM nat, tot)
SELECT theil_total, theil_between,
       round(theil_total - theil_between, 6) AS theil_within
FROM tt, tb
"""
query("theil_index", q_theil_index, _THEIL_ORACLE)


def q_growth_contribution(spark, sf_dir):
    """Growth accounting: each nation's exact contribution to total
    revenue growth 1997 -> 1998 (contributions sum to the total delta
    by construction — additivity is the point).  Pure DECIMAL cents;
    the share of growth is the single division per row."""
    t = load_tables(spark, sf_dir)
    j = (t["orders"].join(t["customer"],
                          F.col("o_custkey") == F.col("c_custkey"))
         .where(F.col("o_orderdate").between("1997-01-01",
                                             "1998-12-31"))
         .groupBy("c_nationkey",
                  F.year(F.col("o_orderdate")).alias("yr"))
         .agg(F.sum((F.col("o_totalprice").cast("decimal(18,2)")
                     * 100).cast("long")).cast("long").alias("rev")))
    p = (j.groupBy("c_nationkey")
         .agg(F.sum(F.when(F.col("yr") == 1997, F.col("rev"))
                    .otherwise(0)).cast("long").alias("r97"),
              F.sum(F.when(F.col("yr") == 1998, F.col("rev"))
                    .otherwise(0)).cast("long").alias("r98")))
    tot = p.agg(F.sum(F.col("r98") - F.col("r97")).cast("long")
                .alias("total_delta"))
    return (p.crossJoin(F.broadcast(tot))
            .select("c_nationkey",
                    (F.col("r98") - F.col("r97")).alias("delta_cents"),
                    F.round((F.col("r98") - F.col("r97"))
                            / F.col("total_delta").cast("double"), 6)
                    .alias("share_of_growth")))


_GROWTH_CONTRIB_ORACLE = """
WITH j AS (
  SELECT c_nationkey, EXTRACT(year FROM o_orderdate) AS yr,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1998-12-31'
  GROUP BY 1, 2),
p AS (
  SELECT c_nationkey,
         CAST(SUM(CASE WHEN yr = 1997 THEN rev ELSE 0 END) AS BIGINT)
           AS r97,
         CAST(SUM(CASE WHEN yr = 1998 THEN rev ELSE 0 END) AS BIGINT)
           AS r98
  FROM j GROUP BY 1),
tot AS (SELECT CAST(SUM(r98 - r97) AS BIGINT) AS total_delta FROM p)
SELECT c_nationkey, r98 - r97 AS delta_cents,
       round((r98 - r97) * 1.0 / total_delta, 6) AS share_of_growth
FROM p, tot
"""
query("growth_contribution", q_growth_contribution, _GROWTH_CONTRIB_ORACLE)


def q_price_index(spark, sf_dir):
    """Laspeyres and Paasche price indices 1997 -> 1998 over parts
    traded in BOTH years (avg unit price as p, total quantity as q) —
    the econ-textbook pair bracketing true price change.  All sums
    DECIMAL-exact; two final divisions."""
    li = (load_tables(spark, sf_dir)["lineitem"]
          .where(F.col("l_shipdate").between("1997-01-01",
                                             "1998-12-31"))
          .groupBy("l_partkey",
                   F.year(F.col("l_shipdate")).alias("yr"))
          .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"),
               F.sum((F.col("l_extendedprice")
                      .cast("decimal(18,2)") * 100).cast("long"))
               .cast("long").alias("spend")))
    a = li.where(F.col("yr") == 1997).select(
        "l_partkey", F.col("q").alias("q0"),
        F.col("spend").alias("s0"))
    b = li.where(F.col("yr") == 1998).select(
        "l_partkey", F.col("q").alias("q1"),
        F.col("spend").alias("s1"))
    j = a.join(b, "l_partkey")
    # p = spend/q (avg unit cents, rational); index sums use
    # p*q' = spend * q'/q — one division per term, rounded 6 dp
    # DECIMAL so the sums stay order-free
    lp_num = F.round(F.col("s0") / F.col("q0")
                     * F.col("q0"), 6).cast("decimal(28,6)")
    lp_cur = F.round(F.col("s1") / F.col("q1")
                     * F.col("q0"), 6).cast("decimal(28,6)")
    pa_num = F.round(F.col("s0") / F.col("q0")
                     * F.col("q1"), 6).cast("decimal(28,6)")
    pa_cur = F.round(F.col("s1") / F.col("q1")
                     * F.col("q1"), 6).cast("decimal(28,6)")
    agg = j.agg(F.count("*").alias("n_parts"),
                F.sum(lp_num).alias("l0"), F.sum(lp_cur).alias("l1"),
                F.sum(pa_num).alias("p0"), F.sum(pa_cur).alias("p1"))
    return agg.select(
        "n_parts",
        F.round(F.col("l1").cast("double")
                / F.col("l0").cast("double"), 6).alias("laspeyres"),
        F.round(F.col("p1").cast("double")
                / F.col("p0").cast("double"), 6).alias("paasche"))


_PRICE_INDEX_ORACLE = """
WITH li AS (
  SELECT l_partkey, EXTRACT(year FROM l_shipdate) AS yr,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS spend
  FROM lineitem
  WHERE l_shipdate BETWEEN DATE '1997-01-01' AND DATE '1998-12-31'
  GROUP BY 1, 2),
a AS (SELECT l_partkey, q AS q0, spend AS s0 FROM li WHERE yr = 1997),
b AS (SELECT l_partkey, q AS q1, spend AS s1 FROM li WHERE yr = 1998),
j AS (SELECT * FROM a JOIN b USING (l_partkey)),
agg AS (
  SELECT COUNT(*) AS n_parts,
         SUM(CAST(round(s0 * 1.0 / q0 * q0, 6) AS DECIMAL(28,6)))
           AS l0,
         SUM(CAST(round(s1 * 1.0 / q1 * q0, 6) AS DECIMAL(28,6)))
           AS l1,
         SUM(CAST(round(s0 * 1.0 / q0 * q1, 6) AS DECIMAL(28,6)))
           AS p0,
         SUM(CAST(round(s1 * 1.0 / q1 * q1, 6) AS DECIMAL(28,6)))
           AS p1
  FROM j)
SELECT n_parts,
       round(CAST(l1 AS DOUBLE) / CAST(l0 AS DOUBLE), 6) AS laspeyres,
       round(CAST(p1 AS DOUBLE) / CAST(p0 AS DOUBLE), 6) AS paasche
FROM agg
"""
query("price_index", q_price_index, _PRICE_INDEX_ORACLE)


def q_stickiness(spark, sf_dir):
    """DAU/MAU stickiness per day — daily active users over the
    distinct users of the whole fixture month; the engagement ratio
    product teams watch.  Exact distinct counts; one division."""
    ev = _events(spark, sf_dir)
    dau = (ev.groupBy(F.col("ts").cast("date").alias("day"))
           .agg(F.countDistinct("user_id").alias("dau")))
    mau = ev.agg(F.countDistinct("user_id").alias("mau"))
    return (dau.crossJoin(F.broadcast(mau))
            .select("day", "dau", "mau",
                    F.round(F.col("dau") / F.col("mau"), 6)
                    .alias("stickiness")))


_STICKINESS_ORACLE = """
WITH dau AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS dau
  FROM events GROUP BY 1),
mau AS (SELECT COUNT(DISTINCT user_id) AS mau FROM events)
SELECT day, dau, mau, round(dau * 1.0 / mau, 6) AS stickiness
FROM dau, mau
"""
query("stickiness", q_stickiness, _STICKINESS_ORACLE)


def q_data_contract(spark, sf_dir):
    """Data-contract check suite in ONE pass per table (the
    expectations pattern): domain bounds, non-negativity, referential
    integrity and date-range assertions, each reported as an exact
    violation COUNT (0 = contract holds) — the gate a 100 TB ingest
    runs before promoting a batch."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    o = t["orders"]
    checks = li.agg(
        F.sum((~F.col("l_quantity").between(1, 50)).cast("int"))
        .alias("qty_out_of_domain"),
        F.sum((F.col("l_extendedprice") <= 0).cast("int"))
        .alias("nonpositive_price"),
        F.sum((~F.col("l_discount").between(0.0, 0.11)).cast("int"))
        .alias("discount_out_of_domain"),
        F.sum((F.col("l_shipdate") < F.lit("1995-01-01")).cast("int"))
        .alias("shipdate_before_epoch"))
    orphans = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"),
                       "left_anti")
               .agg(F.count("*").alias("fk_orphan_lineitems")))
    dup = (o.groupBy("o_orderkey").agg(F.count("*").alias("c"))
           .where(F.col("c") > 1)
           .agg(F.count("*").alias("duplicate_orderkeys")))
    return (checks.crossJoin(F.broadcast(orphans))
            .crossJoin(F.broadcast(dup)))


_DATA_CONTRACT_ORACLE = """
SELECT
  (SELECT SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50
              THEN 1 ELSE 0 END) FROM lineitem)
    AS qty_out_of_domain,
  (SELECT SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
   FROM lineitem) AS nonpositive_price,
  (SELECT SUM(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.11
              THEN 1 ELSE 0 END) FROM lineitem)
    AS discount_out_of_domain,
  (SELECT SUM(CASE WHEN l_shipdate < DATE '1995-01-01'
              THEN 1 ELSE 0 END) FROM lineitem)
    AS shipdate_before_epoch,
  (SELECT COUNT(*) FROM lineitem l
   LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
   WHERE o.o_orderkey IS NULL) AS fk_orphan_lineitems,
  (SELECT COUNT(*) FROM (
     SELECT o_orderkey FROM orders GROUP BY o_orderkey
     HAVING COUNT(*) > 1)) AS duplicate_orderkeys
"""
query("data_contract", q_data_contract, _DATA_CONTRACT_ORACLE)


_HOUR_TRIG = [(h, math.cos(2 * math.pi * h / 24),
               math.sin(2 * math.pi * h / 24)) for h in range(24)]


def q_hour_concentration(spark, sf_dir):
    """Circular concentration of event times-of-day per event type:
    mean resultant length R in [0,1] (1 = all events at one hour,
    0 = uniform around the clock) — the correct statistic for cyclic
    data where a plain mean of hours is meaningless.  The 24 unit
    vectors are PYTHON-computed literals shared with the oracle (no
    runtime trig); R needs one sqrt."""
    ev = _events(spark, sf_dir)
    trig = F.array(*[F.struct(F.lit(c).alias("c"), F.lit(s).alias("s"))
                     for _, c, s in _HOUR_TRIG])
    h = F.hour(F.col("ts")) + 1
    e = ev.select("event_type",
                  F.element_at(trig, h).alias("t"))
    agg = (e.groupBy("event_type")
           .agg(F.count("*").alias("n"),
                F.round(F.sum(F.round(F.col("t.c"), 9)
                              .cast("decimal(18,9)"))
                        .cast("double"), 9).alias("sc"),
                F.round(F.sum(F.round(F.col("t.s"), 9)
                              .cast("decimal(18,9)"))
                        .cast("double"), 9).alias("ss")))
    r = F.sqrt(F.col("sc") * F.col("sc")
               + F.col("ss") * F.col("ss")) / F.col("n")
    return agg.select("event_type", "n",
                      F.round(r, 6).alias("concentration"))


def _hour_conc_oracle_sql() -> str:
    vals = ", ".join(f"({h}, {c!r}, {s!r})" for h, c, s in _HOUR_TRIG)
    return f"""
WITH trig(h, c, s) AS (VALUES {vals}),
e AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS h FROM events),
agg AS (
  SELECT event_type, COUNT(*) AS n,
         round(CAST(SUM(CAST(round(t.c, 9) AS DECIMAL(18,9)))
                    AS DOUBLE), 9) AS sc,
         round(CAST(SUM(CAST(round(t.s, 9) AS DECIMAL(18,9)))
                    AS DOUBLE), 9) AS ss
  FROM e JOIN trig t ON t.h = e.h
  GROUP BY event_type)
SELECT event_type, n,
       round(sqrt(sc * sc + ss * ss) / n, 6) AS concentration
FROM agg
"""
query("hour_concentration", q_hour_concentration, _hour_conc_oracle_sql())


def q_qte_segments(spark, sf_dir):
    """Quantile treatment effects: p25/p50/p75 order-value gaps
    between the BUILDING segment and the rest — where in the
    distribution the difference lives (means hide it).  Lower-rank
    selection per group; exact integer cents throughout."""
    from pyspark.sql import Window as W
    t = load_tables(spark, sf_dir)
    j = (t["orders"].join(t["customer"],
                          F.col("o_custkey") == F.col("c_custkey"))
         .select((F.col("c_mktsegment") == "BUILDING").alias("treat"),
                 (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                 .cast("long").alias("cents"), "o_orderkey"))
    w = W.partitionBy("treat").orderBy("cents", "o_orderkey")
    r = (j.withColumn("rk", F.row_number().over(w))
         .withColumn("n", F.count("*").over(W.partitionBy("treat"))))
    qs = None
    for p, name in ((25, "p25"), (50, "p50"), (75, "p75")):
        sel = (r.where(F.col("rk")
                       == F.floor((F.col("n") * p + 99) / 100)
                       .cast("int"))
               .groupBy("treat")
               .agg(F.min("cents").alias("v"))
               .withColumn("q", F.lit(name)))
        qs = sel if qs is None else qs.unionByName(sel)
    a = qs.where(F.col("treat")).select("q", F.col("v").alias("vt"))
    b = qs.where(~F.col("treat")).select("q", F.col("v").alias("vc"))
    return (a.join(b, "q")
            .select("q", F.col("vt").alias("treat_cents"),
                    F.col("vc").alias("ctrl_cents"),
                    (F.col("vt") - F.col("vc")).alias("qte_cents")))


_QTE_ORACLE = """
WITH j AS (
  SELECT c_mktsegment = 'BUILDING' AS treat,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents, o_orderkey
  FROM orders JOIN customer ON o_custkey = c_custkey),
r AS (
  SELECT treat, cents,
         row_number() OVER (PARTITION BY treat
                            ORDER BY cents, o_orderkey) AS rk,
         COUNT(*) OVER (PARTITION BY treat) AS n
  FROM j),
qs AS (
  SELECT treat, q, MIN(cents) AS v FROM (
    SELECT r.*, p.q, p.pp FROM r,
      (VALUES ('p25', 25), ('p50', 50), ('p75', 75)) AS p(q, pp)
    WHERE rk = CAST(floor((n * pp + 99) / 100.0) AS INT))
  GROUP BY treat, q)
SELECT a.q, a.v AS treat_cents, b.v AS ctrl_cents,
       a.v - b.v AS qte_cents
FROM qs a JOIN qs b ON a.q = b.q AND a.treat AND NOT b.treat
"""
query("qte_segments", q_qte_segments, _QTE_ORACLE)


def q_conformal_interval(spark, sf_dir):
    """Split-conformal prediction interval for the seasonal-naive
    forecaster (y_hat_d = y_{d-7}): the 90% quantile of absolute
    calibration residuals (first half of days, rank-selected at
    ceil(0.9*(n+1)) — the finite-sample-valid conformal rank) becomes
    the interval half-width; reported with the EMPIRICAL coverage on
    the held-out second half.  Distribution-free validity, all in
    exact integer cents + two divisions."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                   * 100).cast("long").alias("y")))
    w = W.orderBy("day")
    r = (daily.withColumn("pred", F.lag("y", 7).over(w))
         .where(F.col("pred").isNotNull())
         .withColumn("ae", F.abs(F.col("y") - F.col("pred")))
         .withColumn("i", F.row_number().over(w))
         .localCheckpoint(eager=True))
    n = r.count()
    half_n = n // 2
    cal = r.where(F.col("i") <= half_n)
    test = r.where(F.col("i") > half_n)
    k = math.ceil(0.9 * (half_n + 1))
    qhat = (cal.withColumn("rk", F.row_number().over(
        W.orderBy("ae", "day")))
        .where(F.col("rk") == k).select(F.col("ae").alias("qhat")))
    cov = (test.crossJoin(F.broadcast(qhat))
           .agg(F.count("*").alias("n_test"),
                F.sum((F.col("ae") <= F.col("qhat")).cast("int"))
                .alias("covered"),
                F.first("qhat").alias("qhat")))
    return cov.select(
        F.lit(half_n).cast("long").alias("n_cal"), "n_test",
        F.col("qhat").alias("interval_halfwidth_cents"),
        F.round(F.col("covered") / F.col("n_test").cast("double"), 6)
        .alias("empirical_coverage"))


def _conformal_oracle_sql() -> str:
    return """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS y
  FROM orders GROUP BY 1),
r AS (
  SELECT day, y, lag(y, 7) OVER (ORDER BY day) AS pred
  FROM daily),
rr AS (
  SELECT day, abs(y - pred) AS ae,
         row_number() OVER (ORDER BY day) AS i
  FROM r WHERE pred IS NOT NULL),
nn AS (SELECT COUNT(*) AS n, COUNT(*) // 2 AS hn FROM rr),
cal AS (SELECT rr.* FROM rr, nn WHERE i <= hn),
qh AS (
  SELECT ae AS qhat FROM (
    SELECT ae, row_number() OVER (ORDER BY ae, day) AS rk FROM cal),
    nn
  WHERE rk = CAST(ceil(0.9 * (hn + 1)) AS INT)),
test AS (SELECT rr.* FROM rr, nn WHERE i > hn)
SELECT (SELECT hn FROM nn) AS n_cal,
       COUNT(*) AS n_test,
       (SELECT qhat FROM qh) AS interval_halfwidth_cents,
       round(SUM(CASE WHEN ae <= (SELECT qhat FROM qh)
                 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS empirical_coverage
FROM test
"""
query("conformal_interval", q_conformal_interval, _conformal_oracle_sql())


_REPLAY_ARMS = ("click", "error", "purchase", "signup", "view")


def q_policy_replay(spark, sf_dir):
    """Offline policy evaluation by the REPLAY estimator (Li et al.
    2011): replay the logged event stream against a greedy policy
    (pick the arm with the best cumulative mean reward so far,
    optimistic for unseen arms, ties to arm order) and average the
    reward over the timesteps where the log happened to play the
    policy's arm — the unbiased off-policy estimate when logging is
    uniform.  Per-arm cumulative stats are conditional window sums
    over the global (ts, event_id) order; matched rewards round to
    9 dp DECIMAL before the mean."""
    from pyspark.sql import Window as W
    ev = (_events(spark, sf_dir)
          .select("event_id", F.col("ts").cast("long").alias("t"),
                  "event_type", F.col("value").alias("r")))
    w = (W.orderBy("t", "event_id")
         .rowsBetween(W.unboundedPreceding, -1))
    cols = []
    for i, a in enumerate(_REPLAY_ARMS):
        cnt = F.count(F.when(F.col("event_type") == a, 1)).over(w)
        sm = F.sum(F.when(F.col("event_type") == a,
                          F.round(F.col("r"), 9)
                          .cast("decimal(18,9)"))).over(w)
        cols.append(F.struct(
            (cnt == 0).cast("int").alias("unseen"),
            (sm.cast("double") / cnt).alias("mean"),
            F.lit(-i).alias("negidx"),
            F.lit(a).alias("arm")))
    policy = F.greatest(*cols)["arm"]
    scored = ev.withColumn("policy_arm", policy)
    matched = scored.where(F.col("event_type") == F.col("policy_arm"))
    return (matched.agg(
        F.count("*").alias("n_matched"),
        F.round(F.sum(F.round(F.col("r"), 9).cast("decimal(18,9)"))
                .cast("double") / F.count("*"), 6)
        .alias("replay_value"))
        .crossJoin(F.broadcast(ev.agg(F.count("*").alias("n_total"))))
        .select("n_total", "n_matched",
                F.round(F.col("n_matched")
                        / F.col("n_total").cast("double"), 6)
                .alias("match_rate"), "replay_value"))


def _policy_replay_oracle_sql() -> str:
    cum = []
    structs = []
    for i, a in enumerate(_REPLAY_ARMS):
        cum.append(
            f"COUNT(CASE WHEN event_type = '{a}' THEN 1 END) OVER wb "
            f"AS c{i},\n         "
            f"SUM(CASE WHEN event_type = '{a}' THEN "
            f"CAST(round(r, 9) AS DECIMAL(18,9)) END) OVER wb AS s{i}")
        structs.append(
            "{'unseen': (c%d = 0)::INT, "
            "'mean': CAST(s%d AS DOUBLE) / c%d, "
            "'negidx': %d, 'arm': '%s'}" % (i, i, i, -i, a))
    # DuckDB GREATEST rejects structs; list_sort orders struct lists
    # lexicographically, so the last element IS the argmax
    greatest = ("(list_sort(["
                + ", ".join(structs)
                + f"]))[{len(_REPLAY_ARMS)}]")
    return f"""
WITH ev AS (
  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         event_type, value AS r
  FROM events),
c AS (
  SELECT *,
         {", ".join(cum)}
  FROM ev
  WINDOW wb AS (ORDER BY t, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
p AS (
  SELECT *, {greatest} AS best
  FROM c),
m AS (
  SELECT * FROM p
  WHERE event_type = best.arm),
tot AS (SELECT COUNT(*) AS n_total FROM ev)
SELECT tot.n_total, COUNT(*) AS n_matched,
       round(COUNT(*) * 1.0 / tot.n_total, 6) AS match_rate,
       round(CAST(SUM(CAST(round(r, 9) AS DECIMAL(18,9))) AS DOUBLE)
             / COUNT(*), 6) AS replay_value
FROM m, tot GROUP BY tot.n_total
"""
query("policy_replay", q_policy_replay, _policy_replay_oracle_sql())


def q_anova_segments(spark, sf_dir):
    """One-way ANOVA of order value across the 5 market segments:
    F statistic + eta-squared effect size from exact DECIMAL moment
    sums (SSB/SSW computed as Q - S^2/n per group and pooled — no
    per-row mean subtraction, one pass).  The k-group generalization
    of q:welch_ttest."""
    t = load_tables(spark, sf_dir)
    j = (t["orders"].join(t["customer"],
                          F.col("o_custkey") == F.col("c_custkey"))
         .select("c_mktsegment",
                 (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                 .cast("long").alias("y")))
    g = j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)").alias("q"))
    tot = g.agg(F.sum("n").alias("nt"),
                F.sum("s").cast("decimal(38,0)").alias("st"),
                F.sum("q").cast("decimal(38,0)").alias("qt"),
                F.count("*").alias("k"),
                F.sum((F.col("s").cast("double")
                       * F.col("s").cast("double"))
                      / F.col("n")).alias("ssq_over_n"))
    sst = F.col("qt").cast("double") \
        - (F.col("st").cast("double") * F.col("st").cast("double")
           / F.col("nt"))
    ssb = F.col("ssq_over_n") \
        - (F.col("st").cast("double") * F.col("st").cast("double")
           / F.col("nt"))
    ssw = sst - ssb
    f_stat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("nt")
                                                - F.col("k")))
    return tot.select(F.col("nt").cast("long").alias("n"),
                      F.col("k").cast("long").alias("k"),
                      F.round(f_stat, 6).alias("f_stat"),
                      F.round(ssb / sst, 9).alias("eta_squared"))


_ANOVA_ORACLE = """
WITH j AS (
  SELECT c_mktsegment,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS y
  FROM orders JOIN customer ON o_custkey = c_custkey),
g AS (
  SELECT c_mktsegment, COUNT(*) AS n,
         CAST(SUM(y) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS q
  FROM j GROUP BY 1),
tot AS (
  SELECT SUM(n) AS nt, CAST(SUM(s) AS DECIMAL(38,0)) AS st,
         CAST(SUM(q) AS DECIMAL(38,0)) AS qt, COUNT(*) AS k,
         SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
           AS ssq_over_n
  FROM g)
SELECT CAST(nt AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       round(((ssq_over_n
               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt)
              / (k - 1))
             / (((CAST(qt AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt)
                 - (ssq_over_n
                    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt))
                / (nt - k)), 6) AS f_stat,
       round((ssq_over_n
              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt)
             / (CAST(qt AS DOUBLE)
                - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt), 9)
         AS eta_squared
FROM tot
"""
query("anova_segments", q_anova_segments, _ANOVA_ORACLE)


def q_degree_powerlaw(spark, sf_dir):
    """Power-law exponent of the co-purchase degree distribution:
    OLS slope of ln(count-of-degree) on ln(degree) — the scale-free
    check on the product graph; integer-ln 9 dp ladder (the zipf
    machinery on degrees)."""
    li = load_tables(spark, sf_dir)["lineitem"] \
        .select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    deg = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                  & (F.col("a.l_partkey") != F.col("b.l_partkey")))
           .select(F.col("a.l_partkey").alias("p"),
                   F.col("b.l_partkey").alias("q")).distinct()
           .groupBy("p").agg(F.count("*").alias("d")))
    hist = deg.groupBy("d").agg(F.count("*").alias("c"))
    x = F.round(F.log(F.col("d").cast("double")), 9) \
        .cast("decimal(18,9)")
    y = F.round(F.log(F.col("c").cast("double")), 9) \
        .cast("decimal(18,9)")
    t = hist.select(x.alias("x"), y.alias("y"),
                    (x * y).cast("decimal(38,18)").alias("xy"),
                    (x * x).cast("decimal(38,18)").alias("xx"))
    agg = t.agg(F.count("*").cast("double").alias("k"),
                F.sum("x").cast("double").alias("sx"),
                F.sum("y").cast("double").alias("sy"),
                F.sum("xy").cast("double").alias("sxy"),
                F.sum("xx").cast("double").alias("sxx"))
    slope = ((F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")))
    return agg.select(F.col("k").cast("long").alias("n_degrees"),
                      F.round(slope, 6).alias("powerlaw_slope"))


_DEGREE_PL_ORACLE = """
WITH deg AS (
  SELECT p, COUNT(*) AS d FROM (
    SELECT DISTINCT a.l_partkey AS p, b.l_partkey AS q
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey
     AND a.l_partkey <> b.l_partkey)
  GROUP BY p),
hist AS (SELECT d, COUNT(*) AS c FROM deg GROUP BY d),
t AS (
  SELECT CAST(round(ln(d * 1.0), 9) AS DECIMAL(18,9)) AS x,
         CAST(round(ln(c * 1.0), 9) AS DECIMAL(18,9)) AS y
  FROM hist),
a AS (
  SELECT COUNT(*) AS k,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx
  FROM t)
SELECT CAST(k AS BIGINT) AS n_degrees,
       round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
         AS powerlaw_slope
FROM a
"""
query("degree_powerlaw", q_degree_powerlaw, _DEGREE_PL_ORACLE)


def q_basket_entropy_nation(spark, sf_dir):
    """Basket-size diversity per nation: Shannon entropy (bits) of the
    order-size distribution — uniform basket sizes score high, a
    single dominant size low.  9 dp DECIMAL -p*log2(p) ladder terms
    (the category_entropy machinery grouped by nation)."""
    t = load_tables(spark, sf_dir)
    sz = (t["lineitem"].groupBy("l_orderkey")
          .agg(F.count("*").alias("k")))
    j = (t["orders"].join(sz, F.col("o_orderkey") == F.col("l_orderkey"))
         .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
         .groupBy("c_nationkey", "k").agg(F.count("*").alias("c")))
    tot = j.groupBy("c_nationkey").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    term = F.round(-p * F.log2(p), 9).cast("decimal(18,9)")
    return (j.join(tot, "c_nationkey")
            .groupBy("c_nationkey")
            .agg(F.round(F.sum(term).cast("double"), 6)
                 .alias("basket_entropy_bits")))


_BASKET_ENTROPY_ORACLE = """
WITH sz AS (
  SELECT l_orderkey, COUNT(*) AS k FROM lineitem GROUP BY 1),
j AS (
  SELECT c_nationkey, k, COUNT(*) AS c
  FROM orders
  JOIN sz ON o_orderkey = l_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
tot AS (SELECT c_nationkey, SUM(c) AS n FROM j GROUP BY 1)
SELECT j.c_nationkey,
       round(CAST(SUM(CAST(round(
         -(j.c * 1.0 / tot.n) * log2(j.c * 1.0 / tot.n), 9)
         AS DECIMAL(18,9))) AS DOUBLE), 6) AS basket_entropy_bits
FROM j JOIN tot USING (c_nationkey)
GROUP BY j.c_nationkey
"""
query("basket_entropy_nation", q_basket_entropy_nation, _BASKET_ENTROPY_ORACLE)


def q_whale_share(spark, sf_dir):
    """Customer concentration: revenue share of the top 1% of
    customers (the whale curve point every marketplace tracks).
    Rank selection for the cutoff, exact DECIMAL sums, one
    division."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    per = o.groupBy("o_custkey").agg(
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long")).cast("long").alias("s"))
    n = per.count()
    k = max(1, n // 100)
    r = per.withColumn("rk", F.row_number().over(
        W.orderBy(F.col("s").desc(), "o_custkey")))
    agg = r.agg(
        F.sum("s").cast("decimal(38,0)").alias("total"),
        F.sum(F.when(F.col("rk") <= k, F.col("s")).otherwise(0))
        .cast("decimal(38,0)").alias("whales"))
    return agg.select(
        F.lit(n).cast("long").alias("n_customers"),
        F.lit(k).cast("long").alias("n_whales"),
        F.round(F.col("whales").cast("double")
                / F.col("total").cast("double"), 6)
        .alias("whale_revenue_share"))


_WHALE_ORACLE = """
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS s
  FROM orders GROUP BY 1),
nn AS (SELECT COUNT(*) AS n, GREATEST(1, COUNT(*) // 100) AS k
       FROM per),
r AS (
  SELECT s, row_number() OVER (ORDER BY s DESC, o_custkey) AS rk
  FROM per)
SELECT nn.n AS n_customers, nn.k AS n_whales,
       round(CAST(SUM(CASE WHEN rk <= nn.k THEN s ELSE 0 END)
                  AS DOUBLE)
             / CAST(SUM(s) AS DOUBLE), 6) AS whale_revenue_share
FROM r, nn GROUP BY nn.n, nn.k
"""
query("whale_share", q_whale_share, _WHALE_ORACLE)


def q_trade_flows(spark, sf_dir):
    """Inter-nation trade-flow matrix: revenue from customer-nation i
    buying parts supplied by nation j (the full 25x25 generalization
    of TPC-H Q7's two-nation slice).  Star joins with broadcast dims;
    exact DECIMAL cents."""
    t = load_tables(spark, sf_dir)
    return (t["lineitem"]
            .join(t["orders"].select("o_orderkey", "o_custkey"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(t["customer"]
                              .select("c_custkey", "c_nationkey")),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(t["supplier"]
                              .select("s_suppkey",
                                      F.col("s_nationkey")
                                      .alias("supp_nation"))),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy(F.col("c_nationkey").alias("cust_nation"),
                     "supp_nation")
            .agg(F.sum((F.col("l_extendedprice")
                        .cast("decimal(18,2)") * 100).cast("long"))
                 .cast("long").alias("rev_cents"),
                 F.count("*").alias("n_lines")))


_TRADE_FLOWS_ORACLE = """
SELECT c_nationkey AS cust_nation, s_nationkey AS supp_nation,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                     AS BIGINT)) AS BIGINT) AS rev_cents,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY 1, 2
"""
query("trade_flows", q_trade_flows, _TRADE_FLOWS_ORACLE)


def q_supply_concentration(spark, sf_dir):
    """Supply-chain concentration risk: per part TYPE prefix, the HHI
    of supplier revenue shares — which categories depend on one
    supplier.  9 dp DECIMAL share-squared terms; top 10 most
    concentrated."""
    t = load_tables(spark, sf_dir)
    j = (t["lineitem"]
         .join(F.broadcast(t["part"].select(
             "p_partkey",
             F.split(F.col("p_type"), " ").getItem(0).alias("ptype"))),
             F.col("l_partkey") == F.col("p_partkey"))
         .groupBy("ptype", "l_suppkey")
         .agg(F.sum((F.col("l_extendedprice").cast("decimal(18,2)")
                     * 100).cast("long")).cast("long").alias("rev")))
    tot = j.groupBy("ptype").agg(
        F.sum("rev").cast("decimal(38,0)").alias("t"),
        F.count("*").alias("n_suppliers"))
    share = F.col("rev").cast("double") / F.col("t").cast("double")
    term = F.round(share * share, 9).cast("decimal(18,9)")
    return (j.join(tot, "ptype")
            .groupBy("ptype", "n_suppliers")
            .agg(F.round(F.sum(term).cast("double"), 6).alias("hhi"))
            .orderBy(F.col("hhi").desc(), "ptype").limit(10))


_SUPPLY_CONC_ORACLE = """
WITH j AS (
  SELECT string_split(p_type, ' ')[1] AS ptype, l_suppkey,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2),
tot AS (
  SELECT ptype, CAST(SUM(rev) AS DECIMAL(38,0)) AS t,
         COUNT(*) AS n_suppliers
  FROM j GROUP BY 1)
SELECT j.ptype, tot.n_suppliers,
       round(CAST(SUM(CAST(round(
         (CAST(rev AS DOUBLE) / CAST(t AS DOUBLE))
         * (CAST(rev AS DOUBLE) / CAST(t AS DOUBLE)), 9)
         AS DECIMAL(18,9))) AS DOUBLE), 6) AS hhi
FROM j JOIN tot USING (ptype)
GROUP BY j.ptype, tot.n_suppliers
ORDER BY hhi DESC, j.ptype LIMIT 10
"""
query("supply_concentration", q_supply_concentration, _SUPPLY_CONC_ORACLE)


def q_source_dup_matrix(spark, sf_dir):
    """Cross-source duplication matrix: which sources near-duplicate
    which (exact ssjoin pairs lifted to the source level) — the
    provenance view that catches mirror sites and scraped-content
    laundering in a crawl.  Unordered source pairs; exact counts."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    pairs = dedup.ssjoin_jaccard(_docs(spark, sf_dir), threshold=0.5) \
        .select("id_a", "id_b")
    j = (pairs
         .join(docs.select(F.col("doc_id").alias("id_a"),
                           F.col("source").alias("src_a")), "id_a")
         .join(docs.select(F.col("doc_id").alias("id_b"),
                           F.col("source").alias("src_b")), "id_b"))
    return (j.groupBy(F.least("src_a", "src_b").alias("source_lo"),
                      F.greatest("src_a", "src_b").alias("source_hi"))
            .agg(F.count("*").alias("n_dup_pairs")))


_SOURCE_DUP_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents),
sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
        i -> CAST(('0x' || substr(md5(
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))
             AS BIGINT))) AS s
  FROM toks WHERE len(ws) >= 3),
tt AS (SELECT doc_id, len(s) AS n, unnest(s) AS tok FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         count(*) AS i
  FROM tt a JOIN tt b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4),
pairs AS (
  SELECT id_a, id_b FROM inter
  WHERE CAST(i AS DOUBLE)/(na+nb-i) >= 0.5)
SELECT LEAST(da.source, db.source) AS source_lo,
       GREATEST(da.source, db.source) AS source_hi,
       COUNT(*) AS n_dup_pairs
FROM pairs
JOIN documents da ON da.doc_id = id_a
JOIN documents db ON db.doc_id = id_b
GROUP BY 1, 2
"""
query("source_dup_matrix", q_source_dup_matrix, _SOURCE_DUP_ORACLE)


def q_backlog_curve(spark, sf_dir):
    """Order-backlog curve: how many orders are OPEN (placed, last
    line not yet shipped) on each day — the operations WIP series, by
    the +1/-1 sweep (q:peak_concurrency generalized to emit the whole
    curve).  Top 15 backlog days; exact integers."""
    from pyspark.sql import Window as W
    t = load_tables(spark, sf_dir)
    iv = (t["lineitem"].groupBy("l_orderkey")
          .agg(F.max(F.col("l_shipdate").cast("date")).alias("close"))
          .join(t["orders"].select("o_orderkey",
                                   F.col("o_orderdate").cast("date")
                                   .alias("open")),
                F.col("l_orderkey") == F.col("o_orderkey")))
    pts = (iv.select(F.col("open").alias("d"), F.lit(1).alias("w"))
           .unionByName(iv.select(F.col("close").alias("d"),
                                  F.lit(-1).alias("w")))
           .groupBy("d").agg(F.sum("w").alias("delta")))
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    run = pts.withColumn("backlog", F.sum("delta").over(w))
    return (run.select("d", F.col("backlog").cast("long")
                       .alias("open_orders"))
            .orderBy(F.col("open_orders").desc(), "d").limit(15))


_BACKLOG_ORACLE = """
WITH iv AS (
  SELECT o_orderdate AS open_d, MAX(CAST(l_shipdate AS DATE)) AS close
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_orderkey, o_orderdate),
pts AS (
  SELECT d, SUM(w) AS delta FROM (
    SELECT CAST(open_d AS DATE) AS d, 1 AS w FROM iv
    UNION ALL SELECT close, -1 FROM iv)
  GROUP BY d),
run AS (
  SELECT d, SUM(delta) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
    AS backlog
  FROM pts)
SELECT d, CAST(backlog AS BIGINT) AS open_orders
FROM run ORDER BY open_orders DESC, d LIMIT 15
"""
query("backlog_curve", q_backlog_curve, _BACKLOG_ORACLE)


def q_ccdf_orders(spark, sf_dir):
    """Complementary CDF of order value at a fixed dollar grid
    (P(X > x) at 1k..256k doubling thresholds) — the log-log
    survival curve read alongside q:hill_tail's exponent.  Exact
    counts, one division per point."""
    o = load_tables(spark, sf_dir)["orders"].select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"))
    thresholds = [1000 * (2 ** i) for i in range(9)]
    grid = F.array(*[F.lit(float(x)) for x in thresholds])
    n = o.count()
    e = o.select(F.explode(grid).alias("x"), "p")
    return (e.groupBy("x")
            .agg(F.sum((F.col("p") > F.col("x")).cast("int"))
                 .alias("n_above"))
            .select(F.col("x").cast("long").alias("threshold"),
                    "n_above",
                    F.round(F.col("n_above") / F.lit(float(n)), 9)
                    .alias("ccdf")))


def _ccdf_oracle_sql() -> str:
    vals = ", ".join(f"({1000 * (2 ** i)})" for i in range(9))
    return f"""
WITH g(x) AS (VALUES {vals}),
n AS (SELECT COUNT(*) AS n FROM orders)
SELECT CAST(g.x AS BIGINT) AS threshold,
       SUM(CASE WHEN CAST(o_totalprice AS DECIMAL(18,2)) > g.x
           THEN 1 ELSE 0 END) AS n_above,
       round(SUM(CASE WHEN CAST(o_totalprice AS DECIMAL(18,2)) > g.x
                 THEN 1 ELSE 0 END) * 1.0 / MIN(n.n), 9) AS ccdf
FROM orders, g, n GROUP BY g.x
"""
query("ccdf_orders", q_ccdf_orders, _ccdf_oracle_sql())


def q_revenue_bridge(spark, sf_dir):
    """Price-volume-mix bridge 1997 -> 1998 (the FP&A decomposition):
    over parts traded both years, delta revenue = price effect
    (q0 * dp) + volume effect (p0 * dq) + cross/mix (dp * dq), which
    sum EXACTLY to the common-parts revenue delta — additivity is the
    audit.  Unit prices are the q:price_index rationals rounded to
    6 dp DECIMAL; all effects are DECIMAL sums."""
    li = (load_tables(spark, sf_dir)["lineitem"]
          .where(F.col("l_shipdate").between("1997-01-01",
                                             "1998-12-31"))
          .groupBy("l_partkey",
                   F.year(F.col("l_shipdate")).alias("yr"))
          .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"),
               F.sum((F.col("l_extendedprice")
                      .cast("decimal(18,2)") * 100).cast("long"))
               .cast("long").alias("spend")))
    a = li.where(F.col("yr") == 1997).select(
        "l_partkey", F.col("q").alias("q0"),
        F.col("spend").alias("s0"))
    b = li.where(F.col("yr") == 1998).select(
        "l_partkey", F.col("q").alias("q1"),
        F.col("spend").alias("s1"))
    j = a.join(b, "l_partkey")
    p0 = F.round(F.col("s0") / F.col("q0"), 6).cast("decimal(28,6)")
    p1 = F.round(F.col("s1") / F.col("q1"), 6).cast("decimal(28,6)")
    price_eff = (F.col("q0").cast("decimal(19,0)") * (p1 - p0)) \
        .cast("decimal(38,6)")
    vol_eff = (p0 * (F.col("q1") - F.col("q0")).cast("decimal(19,0)")) \
        .cast("decimal(38,6)")
    cross_eff = ((p1 - p0)
                 * (F.col("q1") - F.col("q0")).cast("decimal(19,0)")) \
        .cast("decimal(38,6)")
    agg = j.agg(F.count("*").alias("n_parts"),
                F.sum(price_eff).alias("pe"),
                F.sum(vol_eff).alias("ve"),
                F.sum(cross_eff).alias("ce"),
                F.sum(F.col("q1").cast("decimal(19,0)") * p1
                      - F.col("q0").cast("decimal(19,0)") * p0)
                .cast("decimal(38,6)").alias("delta"))
    return agg.select(
        "n_parts",
        F.round(F.col("pe").cast("double") / 100, 2)
        .alias("price_effect"),
        F.round(F.col("ve").cast("double") / 100, 2)
        .alias("volume_effect"),
        F.round(F.col("ce").cast("double") / 100, 2)
        .alias("mix_effect"),
        F.round(F.col("delta").cast("double") / 100, 2)
        .alias("total_delta"))


_REVENUE_BRIDGE_ORACLE = """
WITH li AS (
  SELECT l_partkey, EXTRACT(year FROM l_shipdate) AS yr,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS spend
  FROM lineitem
  WHERE l_shipdate BETWEEN DATE '1997-01-01' AND DATE '1998-12-31'
  GROUP BY 1, 2),
a AS (SELECT l_partkey, q AS q0, spend AS s0 FROM li WHERE yr = 1997),
b AS (SELECT l_partkey, q AS q1, spend AS s1 FROM li WHERE yr = 1998),
j AS (
  SELECT CAST(round(s0 * 1.0 / q0, 6) AS DECIMAL(28,6)) AS p0,
         CAST(round(s1 * 1.0 / q1, 6) AS DECIMAL(28,6)) AS p1,
         q0, q1
  FROM a JOIN b USING (l_partkey)),
agg AS (
  SELECT COUNT(*) AS n_parts,
         SUM(CAST(CAST(q0 AS DECIMAL(19,0)) * (p1 - p0)
                  AS DECIMAL(38,6))) AS pe,
         SUM(CAST(p0 * CAST(q1 - q0 AS DECIMAL(19,0))
                  AS DECIMAL(38,6))) AS ve,
         SUM(CAST((p1 - p0) * CAST(q1 - q0 AS DECIMAL(19,0))
                  AS DECIMAL(38,6))) AS ce,
         SUM(CAST(CAST(q1 AS DECIMAL(19,0)) * p1
                  - CAST(q0 AS DECIMAL(19,0)) * p0
                  AS DECIMAL(38,6))) AS delta
  FROM j)
SELECT n_parts,
       round(CAST(pe AS DOUBLE) / 100, 2) AS price_effect,
       round(CAST(ve AS DOUBLE) / 100, 2) AS volume_effect,
       round(CAST(ce AS DOUBLE) / 100, 2) AS mix_effect,
       round(CAST(delta AS DOUBLE) / 100, 2) AS total_delta
FROM agg
"""
query("revenue_bridge", q_revenue_bridge, _REVENUE_BRIDGE_ORACLE)


def q_dedup_roi(spark, sf_dir):
    """Dedup ROI: bytes the exact + near-dup passes remove from the
    corpus (exact dups keep min-id; ssjoin clusters keep min-id) —
    the headline number that justifies running dedup at all.  Exact
    char sums; one division."""
    docs = _docs(spark, sf_dir)
    exact_drop = (docs.groupBy(F.md5("text").alias("h"))
                  .agg(F.sum("n_chars").alias("s"),
                       F.min("n_chars").alias("keep1"),
                       F.count("*").alias("c"))
                  .agg(F.sum(F.when(F.col("c") > 1,
                                    F.col("s") - F.col("keep1"))
                             .otherwise(0)).cast("long")
                       .alias("exact_chars")))
    pairs = dedup.ssjoin_jaccard(docs, threshold=0.5) \
        .select("id_a", "id_b")
    clusters = dedup.dedup_clusters(pairs)
    near_drop = (clusters.where(F.col("doc_id") != F.col("cluster"))
                 .join(docs, "doc_id")
                 .agg(F.sum("n_chars").cast("long")
                      .alias("near_chars")))
    tot = docs.agg(F.sum("n_chars").cast("long").alias("total_chars"))
    return (tot.crossJoin(F.broadcast(exact_drop))
            .crossJoin(F.broadcast(near_drop))
            .select("total_chars", "exact_chars", "near_chars",
                    F.round((F.col("exact_chars")
                             + F.col("near_chars"))
                            / F.col("total_chars").cast("double"), 6)
                    .alias("savings_ratio")))


_DEDUP_ROI_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents),
sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
        i -> CAST(('0x' || substr(md5(
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))
             AS BIGINT))) AS s
  FROM toks WHERE len(ws) >= 3),
tt AS (SELECT doc_id, len(s) AS n, unnest(s) AS tok FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         count(*) AS i
  FROM tt a JOIN tt b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4),
pairs AS (
  SELECT id_a, id_b FROM inter
  WHERE CAST(i AS DOUBLE)/(na+nb-i) >= 0.5),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT a, b FROM sym
    UNION SELECT r.a, s.b FROM r JOIN sym s ON s.a = r.b)
  SELECT * FROM r),
drop_ AS (
  SELECT a AS doc_id FROM reach GROUP BY a
  HAVING a <> LEAST(a, MIN(b))),
exact_d AS (
  SELECT CAST(SUM(CASE WHEN c > 1 THEN s - keep1 ELSE 0 END)
              AS BIGINT) AS exact_chars
  FROM (SELECT md5(text) AS h, SUM(n_chars) AS s,
               MIN(n_chars) AS keep1, COUNT(*) AS c
        FROM documents GROUP BY md5(text))),
near_d AS (
  SELECT CAST(COALESCE(SUM(d.n_chars), 0) AS BIGINT) AS near_chars
  FROM drop_ JOIN documents d USING (doc_id)),
tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents)
SELECT total_chars, exact_chars, near_chars,
       round((exact_chars + near_chars) * 1.0 / total_chars, 6)
         AS savings_ratio
FROM tot, exact_d, near_d
"""
query("dedup_roi", q_dedup_roi, _DEDUP_ROI_ORACLE)


def q_seasonality_strength(spark, sf_dir):
    """Seasonality strength of daily revenue: eta^2 of month-of-year
    groups (share of variance explained by the seasonal factor) —
    one number answering 'does seasonality matter here'.  Exact
    DECIMAL moments, the q:anova_segments machinery on calendar
    groups."""
    o = load_tables(spark, sf_dir)["orders"]
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                   * 100).cast("long").alias("y")))
    g = (daily.groupBy(F.month("day").alias("m"))
         .agg(F.count("*").alias("n"),
              F.sum("y").cast("decimal(38,0)").alias("s"),
              F.sum(F.col("y").cast("decimal(19,0)") * F.col("y"))
              .cast("decimal(38,0)").alias("q")))
    tot = g.agg(F.sum("n").alias("nt"),
                F.sum("s").cast("decimal(38,0)").alias("st"),
                F.sum("q").cast("decimal(38,0)").alias("qt"),
                F.sum((F.col("s").cast("double")
                       * F.col("s").cast("double")) / F.col("n"))
                .alias("ssq_over_n"))
    sst = F.col("qt").cast("double") \
        - (F.col("st").cast("double") * F.col("st").cast("double")
           / F.col("nt"))
    ssb = F.col("ssq_over_n") \
        - (F.col("st").cast("double") * F.col("st").cast("double")
           / F.col("nt"))
    return tot.select(F.col("nt").cast("long").alias("n_days"),
                      F.round(ssb / sst, 9)
                      .alias("seasonality_strength"))


_SEASONALITY_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS y
  FROM orders GROUP BY 1),
g AS (
  SELECT EXTRACT(month FROM day) AS m, COUNT(*) AS n,
         CAST(SUM(y) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS q
  FROM daily GROUP BY 1),
tot AS (
  SELECT SUM(n) AS nt, CAST(SUM(s) AS DECIMAL(38,0)) AS st,
         CAST(SUM(q) AS DECIMAL(38,0)) AS qt,
         SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS ssq_over_n
  FROM g)
SELECT CAST(nt AS BIGINT) AS n_days,
       round((ssq_over_n
              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt)
             / (CAST(qt AS DOUBLE)
                - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt), 9)
         AS seasonality_strength
FROM tot
"""
query("seasonality_strength", q_seasonality_strength, _SEASONALITY_ORACLE)


def q_quartile_dispersion(spark, sf_dir):
    """Quartile coefficient of dispersion (q3-q1)/(q3+q1) of order
    value per nation — the robust spread measure immune to whales.
    Lower-rank quartile selection per group; exact integer cents."""
    from pyspark.sql import Window as W
    t = load_tables(spark, sf_dir)
    j = (t["orders"].join(t["customer"],
                          F.col("o_custkey") == F.col("c_custkey"))
         .select("c_nationkey",
                 (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                 .cast("long").alias("cents"), "o_orderkey"))
    w = W.partitionBy("c_nationkey").orderBy("cents", "o_orderkey")
    r = (j.withColumn("rk", F.row_number().over(w))
         .withColumn("n", F.count("*").over(
             W.partitionBy("c_nationkey"))))
    q1 = (r.where(F.col("rk") == F.floor((F.col("n") + 3) / 4)
                  .cast("int"))
          .groupBy("c_nationkey").agg(F.min("cents").alias("q1")))
    q3 = (r.where(F.col("rk") == F.floor((3 * F.col("n") + 3) / 4)
                  .cast("int"))
          .groupBy("c_nationkey").agg(F.min("cents").alias("q3")))
    return (q1.join(q3, "c_nationkey")
            .select("c_nationkey", "q1", "q3",
                    F.round((F.col("q3") - F.col("q1"))
                            / (F.col("q3") + F.col("q1"))
                            .cast("double"), 6).alias("qcd")))


_QCD_ORACLE = """
WITH j AS (
  SELECT c_nationkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents, o_orderkey
  FROM orders JOIN customer ON o_custkey = c_custkey),
r AS (
  SELECT c_nationkey, cents,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY cents, o_orderkey) AS rk,
         COUNT(*) OVER (PARTITION BY c_nationkey) AS n
  FROM j),
q1 AS (SELECT c_nationkey, MIN(cents) AS q1 FROM r
       WHERE rk = CAST(floor((n + 3) / 4.0) AS INT)
       GROUP BY c_nationkey),
q3 AS (SELECT c_nationkey, MIN(cents) AS q3 FROM r
       WHERE rk = CAST(floor((3 * n + 3) / 4.0) AS INT)
       GROUP BY c_nationkey)
SELECT c_nationkey, q1, q3,
       round((q3 - q1) * 1.0 / (q3 + q1), 6) AS qcd
FROM q1 JOIN q3 USING (c_nationkey)
"""
query("quartile_dispersion", q_quartile_dispersion, _QCD_ORACLE)


def q_lines_per_order_trend(spark, sf_dir):
    """Average lines per order by quarter — the basket-size trend as
    an exact rational (integer lines / integer orders) with a 9 dp
    ratio."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].groupBy("l_orderkey").agg(
        F.count("*").alias("k"))
    j = (t["orders"].join(li, F.col("o_orderkey") == F.col("l_orderkey"))
         .groupBy(F.year("o_orderdate").alias("yr"),
                  F.quarter("o_orderdate").alias("qt"))
         .agg(F.count("*").alias("n_orders"),
              F.sum("k").cast("long").alias("n_lines")))
    return j.select("yr", "qt", "n_orders", "n_lines",
                    F.round(F.col("n_lines")
                            / F.col("n_orders").cast("double"), 9)
                    .alias("lines_per_order"))


_LPO_ORACLE = """
WITH li AS (
  SELECT l_orderkey, COUNT(*) AS k FROM lineitem GROUP BY 1)
SELECT EXTRACT(year FROM o_orderdate) AS yr,
       EXTRACT(quarter FROM o_orderdate) AS qt,
       COUNT(*) AS n_orders,
       CAST(SUM(k) AS BIGINT) AS n_lines,
       round(SUM(k) * 1.0 / COUNT(*), 9) AS lines_per_order
FROM orders JOIN li ON o_orderkey = l_orderkey
GROUP BY 1, 2
"""
query("lines_per_order_trend", q_lines_per_order_trend, _LPO_ORACLE)


def q_tenure_spend_corr(spark, sf_dir):
    """Does tenure pay?  Pearson correlation between customer tenure
    (days from first order to the dataset horizon) and total spend —
    exact integer inputs, DECIMAL moment sums, sqrt-only
    irrationals."""
    o = load_tables(spark, sf_dir)["orders"]
    horizon = o.agg(F.max(F.col("o_orderdate").cast("date"))
                    .alias("h"))
    per = (o.groupBy("o_custkey")
           .agg(F.min(F.col("o_orderdate").cast("date")).alias("first"),
                F.sum((F.col("o_totalprice").cast("decimal(18,2)")
                       * 100).cast("long")).cast("long").alias("y")))
    j = per.crossJoin(F.broadcast(horizon)).select(
        F.datediff(F.col("h"), F.col("first")).cast("long").alias("x"),
        "y")
    agg = j.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x"))
        .cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)").alias("syy"))
    n = F.col("n").cast("decimal(38,0)")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.sqrt((n * F.col("sxx") - F.col("sx") * F.col("sx"))
                  .cast("double"))
           * F.sqrt((n * F.col("syy") - F.col("sy") * F.col("sy"))
                    .cast("double")))
    return agg.select(F.col("n").cast("long").alias("n_customers"),
                      F.round(num / den, 6).alias("tenure_spend_r"))


_TENURE_CORR_ORACLE = """
WITH h AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS h FROM orders),
per AS (
  SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS first,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1),
j AS (
  SELECT CAST(datediff('day', first, h.h) AS BIGINT) AS x, y
  FROM per, h),
a AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0))
           AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0))
           AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0))
           AS syy
  FROM j)
SELECT CAST(n AS BIGINT) AS n_customers,
       round(CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx
                          AS DOUBLE))
                * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy
                            AS DOUBLE))), 6) AS tenure_spend_r
FROM a
"""
query("tenure_spend_corr", q_tenure_spend_corr, _TENURE_CORR_ORACLE)


def q_acf_table(spark, sf_dir):
    """Autocorrelation function table of weekly revenue at lags 1..8
    — the ACF profile that motivates AR model order (one lag is a
    point, eight are a diagnosis).  Each lag is an exact-moment
    Pearson between the series and its shift; one join of the
    dim-sized weekly frame against the literal lag grid."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    weekly = (o.groupBy(F.date_trunc("week", F.col("o_orderdate")
                                     .cast("timestamp")).alias("wk"))
              .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    * 100).cast("long").alias("y")))
    idx = weekly.withColumn("i", F.row_number().over(W.orderBy("wk"))) \
        .select("i", "y").localCheckpoint(eager=True)
    lags = spark.createDataFrame([(l,) for l in range(1, 9)],
                                 "lag int")
    a = idx.select(F.col("i").alias("ia"), F.col("y").alias("ya"))
    b = idx.select(F.col("i").alias("ib"), F.col("y").alias("yb"))
    j = (lags.crossJoin(a)
         .join(b, F.col("ib") == F.col("ia") + F.col("lag")))
    agg = j.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("ya").cast("decimal(38,0)").alias("sx"),
        F.sum("yb").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("ya").cast("decimal(19,0)") * F.col("yb"))
        .cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("ya").cast("decimal(19,0)") * F.col("ya"))
        .cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("yb").cast("decimal(19,0)") * F.col("yb"))
        .cast("decimal(38,0)").alias("syy"))
    n = F.col("n").cast("decimal(38,0)")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.sqrt((n * F.col("sxx") - F.col("sx") * F.col("sx"))
                  .cast("double"))
           * F.sqrt((n * F.col("syy") - F.col("sy") * F.col("sy"))
                    .cast("double")))
    return agg.select("lag", F.col("n").cast("long").alias("n_pairs"),
                      F.round(num / den, 6).alias("acf"))


def _acf_oracle_sql() -> str:
    vals = ", ".join(f"({l})" for l in range(1, 9))
    return f"""
WITH weekly AS (
  SELECT date_trunc('week', CAST(o_orderdate AS TIMESTAMP)) AS wk,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS y
  FROM orders GROUP BY 1),
idx AS (SELECT row_number() OVER (ORDER BY wk) AS i, y FROM weekly),
lags(lag) AS (VALUES {vals}),
j AS (
  SELECT lags.lag, a.y AS ya, b.y AS yb
  FROM lags CROSS JOIN idx a
  JOIN idx b ON b.i = a.i + lags.lag),
agg AS (
  SELECT lag, COUNT(*) AS n,
         CAST(SUM(ya) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(yb) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(ya AS DECIMAL(19,0)) * yb) AS DECIMAL(38,0))
           AS sxy,
         CAST(SUM(CAST(ya AS DECIMAL(19,0)) * ya) AS DECIMAL(38,0))
           AS sxx,
         CAST(SUM(CAST(yb AS DECIMAL(19,0)) * yb) AS DECIMAL(38,0))
           AS syy
  FROM j GROUP BY lag)
SELECT lag, CAST(n AS BIGINT) AS n_pairs,
       round(CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx
                          AS DOUBLE))
                * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy
                            AS DOUBLE))), 6) AS acf
FROM agg
"""
query("acf_table", q_acf_table, _acf_oracle_sql())
