"""LLM-pipeline extensions (SURVEY §7.3): dedup, text quality, packing, sampling.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup, graph_algos, relational, similarity, text
from ..sources.tpch_graph import load_tables, tpch_graph
from ..streaming.windows import sessionize, tumbling_counts
from ._registry import query
from ._shared import (_CLUSTER_CTES, _TOKENIZE_DUCK, _docs, _emb, _events,
                      _ivf_blocked, _register_raw)
from ._relational import _Q3_SPARK_SQL, _Q3_SQL


# --------------------------------------------------------------------------
# LLM-pipeline extensions (SURVEY §7.3)

def q_dedup_exact(spark, sf_dir):
    """Exact dedup on content fingerprint (normalized token stream).

    Emits every fingerprint group (not just dups) so the oracle hash-checks
    the md5 fingerprints themselves — a far stronger parity signal than an
    empty dup list."""
    docs = text.fingerprint(_docs(spark, sf_dir))
    return docs.groupBy("fp").agg(F.count("*").alias("n_dups"),
                                  F.min("doc_id").alias("keep_id"))
query("dedup_exact", q_dedup_exact,
      "SELECT md5(array_to_string(list_filter("
      + _TOKENIZE_DUCK.format(col="text") + ", x -> x != ''), ' ')) AS fp, "
      "COUNT(*) AS n_dups, MIN(doc_id) AS keep_id "
      "FROM documents GROUP BY fp")


def q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup candidate pairs (single-hash band, md5).

    The signature frame is localCheckpointed before the self-join so the
    md5-over-shingles computation runs once, not once per join side."""
    docs = _docs(spark, sf_dir)
    sig = dedup.minhash_signature(docs, num_hashes=1).localCheckpoint()
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("sig0"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("sig0").alias("s2"))
    return (a.join(b, (F.col("sig0") == F.col("s2")) &
                   (F.col("id_a") < F.col("id_b")))
            .select("id_a", "id_b"))
_MINHASH_PAIRS_ORACLE = """
        WITH toks AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
          FROM documents
        ), sh AS (
          SELECT doc_id, list_min(list_transform(range(1, len(ws)-1),
                i -> md5('0:' || ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
                AS mh
          FROM toks WHERE len(ws) >= 3
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.mh = b.mh AND a.doc_id < b.doc_id
    """
query("minhash_pairs", q_minhash_pairs, _MINHASH_PAIRS_ORACLE)


def q_top_bigrams(spark, sf_dir):
    """Corpus collocations: top-20 bigrams by frequency (bigram tiebreak).
    One explode + one count — the canonical n-gram statistics shape."""
    docs = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.lower("text"), "[^a-z0-9]+"),
                    lambda t: t != "")
    bigrams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda t, i: F.concat_ws(" ", t, F.get(toks, i + 1)))
    return (docs.select(F.explode(bigrams).alias("bigram"))
            .groupBy("bigram").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), F.col("bigram").asc())
            .limit(20))
query("top_bigrams", q_top_bigrams, """
        WITH toks AS (
          SELECT list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
                             x -> x != '') AS ws
          FROM documents
        ),
        bg AS (
          SELECT unnest(list_transform(range(1, len(ws)),
                        i -> ws[i] || ' ' || ws[i+1])) AS bigram
          FROM toks
        )
        SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
        ORDER BY n DESC, bigram ASC LIMIT 20
    """)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING: transitive closure over the minhash candidate
    pairs — (doc_id, cluster) with cluster = min doc id in the component,
    i.e. the canonical keep decision of a dedup pipeline."""
    docs = _docs(spark, sf_dir)
    sig = dedup.minhash_signature(docs, num_hashes=1).localCheckpoint()
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("sig0"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("sig0").alias("s2"))
    pairs = (a.join(b, (F.col("sig0") == F.col("s2")) &
                    (F.col("id_a") < F.col("id_b")))
             .select("id_a", "id_b"))
    return dedup.dedup_clusters(pairs)
query("dedup_clusters", q_dedup_clusters,
      "WITH RECURSIVE " + _CLUSTER_CTES + """
        SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src
    """)


def q_dedup_resolve(spark, sf_dir):
    """Near-dup RESOLUTION: keep the best-scoring member of each
    minhash cluster (score = text length here; ties to lowest id) —
    the keep-best policy layered on q_dedup_clusters' closure."""
    docs = _docs(spark, sf_dir)
    sig = dedup.minhash_signature(docs, num_hashes=1).localCheckpoint()
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("sig0"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("sig0").alias("s2"))
    pairs = (a.join(b, (F.col("sig0") == F.col("s2")) &
                    (F.col("id_a") < F.col("id_b")))
             .select("id_a", "id_b"))
    clusters = dedup.dedup_clusters(pairs)
    return dedup.resolve_duplicates(docs, clusters, F.length("text"))
query("dedup_resolve", q_dedup_resolve,
      "WITH RECURSIVE " + _CLUSTER_CTES + """,
        cl AS (SELECT src AS doc_id, MIN(dst) AS cluster
               FROM reach GROUP BY src),
        scored AS (
          SELECT cl.cluster, cl.doc_id, CAST(length(d.text) AS BIGINT) AS s
          FROM cl JOIN documents d ON d.doc_id = cl.doc_id)
        SELECT cluster, doc_id AS keep_id, s AS best_score, n_members
        FROM (SELECT cluster, doc_id, s,
                     COUNT(*) OVER (PARTITION BY cluster) AS n_members,
                     row_number() OVER (PARTITION BY cluster
                                        ORDER BY s DESC, doc_id) AS rn
              FROM scored)
        WHERE rn = 1
    """)


def q_text_stats(spark, sf_dir):
    """Per-doc token/char stats (JVM-side tokenizer)."""
    return text.with_text_stats(_docs(spark, sf_dir)) \
        .select("doc_id", "n_tokens", "n_chars_obs")
query("text_stats", q_text_stats,
      "SELECT doc_id, CAST(len(list_filter("
      + _TOKENIZE_DUCK.format(col="text") + ", x -> x != '')) AS BIGINT) "
      "AS n_tokens, CAST(length(text) AS BIGINT) AS n_chars_obs "
      "FROM documents")


def q_token_count_by_lang(spark, sf_dir):
    return (text.token_counts(_docs(spark, sf_dir), group_col="lang")
            .select("lang", "total_tokens"))
query("token_count_by_lang", q_token_count_by_lang,
      "SELECT lang, CAST(SUM(len(list_filter("
      + _TOKENIZE_DUCK.format(col="text") + ", x -> x != ''))) AS BIGINT) "
      "AS total_tokens FROM documents GROUP BY lang")


def q_quality_score(spark, sf_dir):
    """Quality signal as exact integer counts (n_stopwords / n_tokens) —
    integer outputs avoid cross-engine float-rounding divergence; the
    ratio form lives in operators.text.quality_score."""
    from ..operators.text import STOPWORDS, tokens
    docs = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    swarr = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    return docs.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: F.array_contains(swarr, t)))
         .cast("long").alias("n_stopwords"),
        F.size(toks).cast("long").alias("n_tokens"))
query("quality_score", q_quality_score, """
        SELECT doc_id,
          CAST(len(list_filter(
            string_split_regex(lower(text),'[^a-z0-9]+'),
            x -> list_contains(['the','a','of','and','to','in','is','for',
                                'on','with'], x))) AS BIGINT) AS n_stopwords,
          CAST(len(list_filter(
            string_split_regex(lower(text),'[^a-z0-9]+'),
            x -> x != '')) AS BIGINT) AS n_tokens
        FROM documents
    """)


def q_knn_cosine(spark, sf_dir):
    """Brute-force cosine top-5 neighbors of vec_id=0 (deterministic
    sequential-fold arithmetic, rounded to 1e-6)."""
    emb = _emb(spark, sf_dir)
    qv = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    top = similarity.cosine_topk(emb, list(qv), k=5, exclude_ids=[0])
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))
_KNN_COSINE_ORACLE = """
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT e.vec_id,
            list_sum(list_transform(range(1, len(e.embedding)+1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
                 i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
                 i -> CAST(e.embedding[i] AS DOUBLE)
                    * CAST(e.embedding[i] AS DOUBLE)))))
            AS cos
          FROM embeddings e, q WHERE e.vec_id != 0
        )
        SELECT vec_id, round(cos, 6) AS cosine
        FROM scored ORDER BY cos DESC, vec_id LIMIT 5
    """
query("knn_cosine", q_knn_cosine, _KNN_COSINE_ORACLE)


def q_events_window(spark, sf_dir):
    """Event-time tumbling window (1 h) counts+sums per type.

    Window start emitted as epoch seconds (double) — timestamp objects
    round-trip differently across engines; epoch doubles don't."""
    out = tumbling_counts(_events(spark, sf_dir), "1 hour")
    return out.select(F.col("wstart").cast("double").alias("wstart"),
                      "event_type", "n", "total")
query("events_window", q_events_window, """
        SELECT CAST(epoch(date_trunc('hour', ts)) AS DOUBLE) AS wstart,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM events GROUP BY 1, 2
    """)


def q_sessionize(spark, sf_dir):
    """30-min-gap sessionization per user (lag + cumsum windows)."""
    return sessionize(_events(spark, sf_dir), gap_minutes=30)
query("sessionize", q_sessionize, """
        WITH g AS (
          SELECT user_id, ts,
            CASE WHEN (CAST(epoch_us(ts) AS DOUBLE)
                     - CAST(epoch_us(LAG(ts) OVER
                 (PARTITION BY user_id ORDER BY ts)) AS DOUBLE)) / 1e6 > 1800
                 THEN 1 ELSE 0 END AS brk
          FROM events
        ), s AS (
          SELECT user_id,
                 SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sess
          FROM g
        )
        SELECT user_id, CAST(MAX(sess) + 1 AS BIGINT) AS n_sessions,
               COUNT(*) AS n_events
        FROM s GROUP BY user_id
    """)


#: the wedge pivot is the part: a part in n orders yields n(n-1)/2
#: customer pairs, so one viral part would emit quadratically.  TPC-H
#: part degrees are ~30, far under the cap — never binds at test
#: scale; the oracle replays the same exclusion.
MAX_PART_DEGREE = 4096


def q_copurchase_pairs(spark, sf_dir):
    """Motif/wedge query: distinct customer pairs who ordered the same
    part — a 6-hop chain (c1→o1→part←o2←c2) compiled to ONE Spark SQL
    join tree with a cross-link theta (c1.uid < c2.uid).

    Skew guard: parts whose Contains-degree exceeds MAX_PART_DEGREE are
    excluded from the wedge BEFORE the self-join (one map-side-combined
    aggregation; the hot set is outliers by construction, normally
    empty, and the filter lands on the pt scan side of the join)."""
    g = tpch_graph(spark, sf_dir)
    hot = (g.edges_df.where(F.col("kind") == "Contains")
           .groupBy("enduid").agg(F.count("*").alias("d"))
           .where(F.col("d") > MAX_PART_DEGREE)
           .select("enduid").limit(1000).collect())
    where = ["c1.uid < c2.uid"]
    if hot:
        uids = ", ".join(f"'{r['enduid']}'" for r in hot)
        where.append(f"pt.uid NOT IN ({uids})")
    return g.fetch(
        "[c1:Customer,other] -(p1:Placed)> (o1:Order) -(ct1:Contains)> "
        "(pt:Part) <(ct2:Contains)- (o2:Order) <(p2:Placed)- (c2:Customer)",
        where,
        other="c2.uid",
        as_df=True).select("uid", "other").distinct()
query("copurchase_pairs", q_copurchase_pairs, """
        WITH hot AS (SELECT l_partkey FROM lineitem
                     GROUP BY l_partkey HAVING COUNT(*) > 4096)
        SELECT DISTINCT
               'Customer:' || CAST(o1.o_custkey AS VARCHAR) AS uid,
               'Customer:' || CAST(o2.o_custkey AS VARCHAR) AS other
        FROM lineitem l1
        JOIN lineitem l2 ON l1.l_partkey = l2.l_partkey
        JOIN orders o1 ON l1.l_orderkey = o1.o_orderkey
        JOIN orders o2 ON l2.l_orderkey = o2.o_orderkey
        WHERE 'Customer:' || CAST(o1.o_custkey AS VARCHAR)
            < 'Customer:' || CAST(o2.o_custkey AS VARCHAR)
          AND l1.l_partkey NOT IN (SELECT l_partkey FROM hot)
    """)


def q_asof_join(spark, sf_dir):
    """Backward as-of join: each click event enriched with the user's most
    recent view event at-or-before it (union-tag + last-ignore-nulls
    window — one shuffle, no range explosion)."""
    ev = _events(spark, sf_dir)
    clicks = (ev.where(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    views = (ev.where(F.col("event_type") == "view")
             .groupBy("user_id", "ts")
             .agg(F.max("event_id").alias("view_id")))
    out = relational.asof_join(clicks, views, on="user_id",
                               right_cols=("view_id",))
    return out.select("event_id", F.col("view_id_matched").alias("view_id"))
query("asof_join", q_asof_join, """
        WITH clicks AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ), views AS (
          SELECT user_id, ts, MAX(event_id) AS view_id
          FROM events WHERE event_type = 'view' GROUP BY user_id, ts
        )
        SELECT c.event_id, v.view_id
        FROM clicks c ASOF LEFT JOIN views v
          ON c.user_id = v.user_id AND c.ts >= v.ts
    """)


def q_asof_nearest(spark, sf_dir):
    """Nearest-direction as-of join (pandas merge_asof 'nearest'): each
    click picks the view with the smallest |Δt|, ties backward.  Two
    window passes on one key partitioning — no range explosion."""
    ev = _events(spark, sf_dir)
    clicks = (ev.where(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    views = (ev.where(F.col("event_type") == "view")
             .groupBy("user_id", "ts")
             .agg(F.max("event_id").alias("view_id")))
    out = relational.asof_join(clicks, views, on="user_id",
                               right_cols=("view_id",),
                               direction="nearest")
    return out.select("event_id", F.col("view_id_matched").alias("view_id"))
query("asof_nearest", q_asof_nearest, """
        WITH clicks AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ), views AS (
          SELECT user_id, ts, MAX(event_id) AS view_id
          FROM events WHERE event_type = 'view' GROUP BY user_id, ts
        ), cand AS (
          SELECT c.event_id, c.user_id, c.ts,
                 MAX(CASE WHEN v.ts <= c.ts THEN v.ts END) AS bts,
                 MIN(CASE WHEN v.ts >= c.ts THEN v.ts END) AS fts
          FROM clicks c LEFT JOIN views v ON c.user_id = v.user_id
          GROUP BY 1, 2, 3
        ), chosen AS (
          SELECT event_id, user_id,
                 CASE WHEN fts IS NULL THEN bts
                      WHEN bts IS NULL THEN fts
                      WHEN epoch(ts) - epoch(bts) <= epoch(fts) - epoch(ts)
                      THEN bts ELSE fts END AS cts
          FROM cand
        )
        SELECT ch.event_id, v.view_id
        FROM chosen ch LEFT JOIN views v
          ON v.user_id = ch.user_id AND v.ts = ch.cts
    """)


def q_topk_per_group(spark, sf_dir):
    """Top-3 orders per customer by totalprice (row_number window with a
    total-order tiebreak)."""
    orders = load_tables(spark, sf_dir)["orders"]
    out = relational.topk_per_group(
        orders, ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")], k=3)
    return out.select("o_custkey", "o_orderkey", "o_totalprice", "rn")
query("topk_per_group", q_topk_per_group, """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey)
                     AS rn
          FROM orders) WHERE rn <= 3
    """)


def q_rollup_revenue(spark, sf_dir):
    """ROLLUP aggregate (grand total + per-flag + per-flag-status rows) —
    multi-level aggregation in one pass."""
    _register_raw(spark, sf_dir)
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS rev,
               COUNT(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")
query("rollup_revenue", q_rollup_revenue, """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS rev,
               COUNT(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """)


def q_cube_revenue(spark, sf_dir):
    """CUBE aggregate — all 4 grouping-set combinations in one pass
    (partial aggregation handles the expansion map-side)."""
    _register_raw(spark, sf_dir)
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS rev,
               COUNT(*) AS n
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""")
query("cube_revenue", q_cube_revenue, """
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS rev,
               COUNT(*) AS n
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """)


def q_percentile_price(spark, sf_dir):
    """Exact interpolated percentiles (median, p90) per order priority —
    order-statistic aggregates the reference cannot express at all."""
    _register_raw(spark, sf_dir)
    return spark.sql("""
        SELECT o_orderpriority,
               ROUND(percentile(o_totalprice, 0.5), 6) AS p50,
               ROUND(percentile(o_totalprice, 0.9), 6) AS p90
        FROM orders GROUP BY o_orderpriority""")
query("percentile_price", q_percentile_price, """
        SELECT o_orderpriority,
               ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
               ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90
        FROM orders GROUP BY o_orderpriority
    """)


def q_moving_avg_daily(spark, sf_dir):
    """7-day moving average of daily revenue (window frame over an
    ordered date axis).  Daily sums in DECIMAL so the frame aggregation
    is exact and engine-portable; the final divide is one double op."""
    _register_raw(spark, sf_dir)
    return spark.sql("""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS d,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders GROUP BY CAST(o_orderdate AS DATE)
        )
        SELECT CAST(d AS STRING) AS d,
               CAST(CAST(SUM(rev) OVER w AS DOUBLE)
                    / (COUNT(*) OVER w) AS DOUBLE) AS avg7
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""")
query("moving_avg_daily", q_moving_avg_daily, """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS d,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders GROUP BY CAST(o_orderdate AS DATE)
        )
        SELECT CAST(d AS STRING) AS d,
               CAST(CAST(SUM(rev) OVER w AS DOUBLE)
                    / (COUNT(*) OVER w) AS DOUBLE) AS avg7
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """)


def q_range_join_events(spark, sf_dir):
    """Forward range join via bucketing: for each error event, the count
    of same-user clicks in the following 24 h.  Equi-join on
    (user, time-bucket) with bounded 2x fanout — no per-key cross
    product, unlike a naive inequality join."""
    ev = (_events(spark, sf_dir)
          .withColumn("tsd", F.col("ts").cast("double")))
    errors = (ev.where(F.col("event_type") == "error")
              .select("event_id", "user_id", F.col("tsd").alias("lts")))
    clicks = (ev.where(F.col("event_type") == "click")
              .select("user_id", F.col("tsd").alias("rts")))
    out = relational.range_join(errors, clicks, on="user_id",
                                window_s=86400.0)
    return (out.groupBy("event_id")
            .agg(F.count("*").alias("n_clicks")))
query("range_join_events", q_range_join_events, """
        SELECT a.event_id, COUNT(*) AS n_clicks
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'error' AND b.event_type = 'click'
         AND epoch(b.ts) > epoch(a.ts)
         AND epoch(b.ts) <= epoch(a.ts) + 86400.0
        GROUP BY a.event_id
    """)


def q_pivot_status(spark, sf_dir):
    """Pivot (wide aggregation): order counts per priority x status.
    DataFrame ``.pivot`` with an explicit value list, so the output schema
    is fixed at plan time (no extra distinct-values job, and the plan is
    a single partial+final aggregate — no shuffle per pivot column)."""
    orders = load_tables(spark, sf_dir)["orders"]
    out = (orders.groupBy("o_orderpriority")
           .pivot("o_orderstatus", ["F", "O", "P"])
           .agg(F.count(F.lit(1))))
    return out.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"))
query("pivot_status", q_pivot_status, """
        SELECT o_orderpriority,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
               COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
               COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        FROM orders GROUP BY o_orderpriority
    """)


def q_grouping_sets(spark, sf_dir):
    """GROUPING SETS — two independent group-bys in one scan+expand pass
    (the generalization of the reference's single GROUP clause)."""
    _register_raw(spark, sf_dir)
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS rev
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""")
query("grouping_sets", q_grouping_sets, """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS rev
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """)


def q_window_rank(spark, sf_dir):
    """Ranking + lag analytics: top-3 orders per priority with the gap to
    the previous order's price.  Window ORDER carries an o_orderkey
    tiebreak so rank/lag are deterministic across engines."""
    from pyspark.sql.window import Window
    orders = load_tables(spark, sf_dir)["orders"]
    w = (Window.partitionBy("o_orderpriority")
         .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")))
    return (orders
            .select("o_orderkey", "o_orderpriority", "o_totalprice")
            .withColumn("rnk", F.rank().over(w).cast("long"))
            .withColumn("prev_price", F.lag("o_totalprice").over(w))
            .where(F.col("rnk") <= 3))
query("window_rank", q_window_rank, """
        SELECT * FROM (
          SELECT o_orderkey, o_orderpriority, o_totalprice,
                 rank() OVER w AS rnk,
                 lag(o_totalprice) OVER w AS prev_price
          FROM orders
          WINDOW w AS (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey)
        ) WHERE rnk <= 3
    """)


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (shipping priority): 3-way join with per-side pushed
    filters, DECIMAL-exact revenue.  Aggregation is pushed below the
    fact join (see _Q3_SPARK_SQL) so the fact table is reduced to one
    row per order before any join; the only broadcast hint is the
    segment-filtered customer (dim-sized)."""
    _register_raw(spark, sf_dir)
    return spark.sql(_Q3_SPARK_SQL)
query("tpch_q3", q_tpch_q3, _Q3_SQL)


def q_anti_join_customers(spark, sf_dir):
    """Anti join: customers with no big-ticket order (left_anti against a
    filtered build side — the relational face of the graph set-difference
    in q:set_difference).  The filter lands on the anti-join's build side
    before the shuffle, so the probe never sees disqualified orders."""
    t = load_tables(spark, sf_dir)
    big = t["orders"].where(F.col("o_totalprice") > 400000)
    return (t["customer"]
            .join(big, t["customer"].c_custkey == big.o_custkey,
                  "left_anti")
            .select("c_custkey", "c_name"))
query("anti_join_customers", q_anti_join_customers, """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_totalprice > 400000)
    """)


def q_regex_extract(spark, sf_dir):
    """Regex extraction over document text (first engine keyword) —
    JVM-side regexp_extract, no Python in the loop."""
    docs = _docs(spark, sf_dir)
    pat = "(spark|stream|scan|sort)"
    return (docs
            .select("doc_id",
                    F.regexp_extract("text", pat, 1).alias("kw"))
            .where(F.col("kw") != ""))
query("regex_extract", q_regex_extract, """
        SELECT doc_id,
               regexp_extract(text, '(spark|stream|scan|sort)', 1) AS kw
        FROM documents
        WHERE regexp_extract(text, '(spark|stream|scan|sort)', 1) != ''
    """)


def q_hash_sample(spark, sf_dir):
    """Deterministic engine-portable sampling: keep rows whose md5(key)
    prefix falls under a threshold (~6.25%).  Unlike TABLESAMPLE this is
    reproducible across engines, partitionings, and reruns — the property
    a training-data pipeline needs for stable holdout splits."""
    orders = load_tables(spark, sf_dir)["orders"]
    return (orders
            .where(F.substring(F.md5(F.col("o_orderkey").cast("string")),
                               1, 2) < "10")
            .select("o_orderkey", "o_totalprice"))
query("hash_sample", q_hash_sample, """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '10'
    """)


def q_embedding_near_dup(spark, sf_dir):
    """Embedding near-duplicate pairs (cosine ≥ 0.35, rounded before
    thresholding so both engines cut on the same 6-dp value) over the
    IVF-BLOCKED candidate set: pairs are generated by a same-cell
    equi-join on the shared deterministic k-means assignment
    (_ivf_blocked — O(Σ n_c²), never the O(n²) cross join), then the
    exact cosine verifies.  The oracle replays the identical unrolled
    Lloyd chain, so the blocked pair set is engine-reproducible;
    lsh_near_dup is the sibling path with sign-hash candidates."""
    idx = _ivf_blocked(spark, sf_dir)
    a = idx.select("cluster", F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("ea"))
    b = idx.select("cluster", F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("eb"))
    pairs = a.join(b, "cluster").where(F.col("id_a") < F.col("id_b"))
    out = pairs.withColumn(
        "cosine", F.round(similarity.cosine_expr(F.col("ea"),
                                                 F.col("eb")), 6))
    return (out.where(F.col("cosine") >= 0.35)
            .select("id_a", "id_b", "cosine"))


def q_bm25_rank(spark, sf_dir):
    """BM25-ranked retrieval for ['data','query'] over Document.text —
    top 10 with deterministic tie-break (F5 as a first-class ranked
    operator; full SQL-replay oracle)."""
    from ..fts import bm25_scores, build_tf_index
    g = tpch_graph(spark, sf_dir)
    docs = g.nodes_df.where(F.col("kind") == "Document")
    idx = build_tf_index(docs, ["text"])
    return (bm25_scores(idx, ["data", "query"])
            .orderBy(F.col("score").desc(), F.col("uid"))
            .limit(10).select("uid"))
# full BM25 replay in SQL (k1=1.2, b=0.75, same tokenizer); the
# rank-10/11 score gap is ~5e-3, far beyond float noise, so the
# top-10 set is stable across engines
query("bm25_rank", q_bm25_rank, """
        WITH toks AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text),'[^a-z0-9]+'),
            x -> x != '') AS ws
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
        dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df
                  FROM tf GROUP BY term),
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
        SELECT 'Document:' || CAST(doc_id AS VARCHAR) AS uid
        FROM scored
        ORDER BY score DESC, uid ASC LIMIT 10
    """)


def q_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN probe for vec_id=0 — FULL hash oracle: the
    seeded k-means is reproducible by construction (k-lowest-id init,
    lowest-cluster tie-break, order-free quantized Lloyd mean — see
    similarity.ivf_index), so the oracle replays both Lloyd rounds as
    unrolled CTEs and walks the identical centroid trajectory."""
    emb = _emb(spark, sf_dir)
    qv = list(emb.where(F.col("vec_id") == 0)
              .select("embedding").collect()[0][0])
    indexed, cents = similarity.ivf_index(emb, k=8, iters=2)
    top = similarity.ivf_topk(indexed, cents, qv, k=6, nprobe=2)
    return (top.where(F.col("vec_id") != 0)
            .select("vec_id", F.round("cosine", 6).alias("cosine")))


def _ivf_oracle_sql(k: int = 8, iters: int = 2, nprobe: int = 2,
                    topk: int = 6) -> str:
    """DuckDB replay of q_ivf_topk — the engine's k-means unrolled round
    by round (same pattern as the pagerank/k_core unrolled-CTE oracles).

    Reproducibility rests on three shared-by-construction rules:
    seed = the k lowest vec_ids; argmin ties break to the lowest cluster
    id; the Lloyd re-average is the quantized integer mean
    (round(v*1e9) → exact BIGINT sum → one double divide), bit-identical
    at any parallelism in any engine.  Distances and cosines are the same
    sequential left-to-right folds the engine's F.aggregate emits
    (list_sum ≡ fold — already load-bearing for the knn_cosine oracle).
    """
    return _ivf_ctes(k, iters) + f""",
q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM e WHERE vec_id = 0),
probe AS (
  SELECT c FROM (
    SELECT c{iters}.c,
           list_sum(list_transform(range(1, len(q.qv)+1),
             i -> (c{iters}.cent[i] - q.qv[i])
                * (c{iters}.cent[i] - q.qv[i]))) AS d
    FROM c{iters}, q) ORDER BY d, c LIMIT {nprobe}),
scored AS (
  SELECT e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding)+1),
           i -> q.qv[i] * CAST(e.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, len(q.qv)+1),
              i -> q.qv[i] * q.qv[i])))
          * sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
              i -> CAST(e.embedding[i] AS DOUBLE)
                 * CAST(e.embedding[i] AS DOUBLE))))) AS cos
  FROM e JOIN fin USING (vec_id), q
  WHERE fin.c IN (SELECT c FROM probe))
SELECT vec_id, cosine FROM (
  SELECT vec_id, round(cos, 6) AS cosine
  FROM scored ORDER BY cos DESC, vec_id LIMIT {topk})
WHERE vec_id != 0"""


def _ivf_ctes(k: int, iters: int,
              source: str = "SELECT vec_id, embedding FROM embeddings",
              pfx: str = "", with_kw: bool = True) -> str:
    """The unrolled k-means CTE chain shared by the ivf_topk,
    cluster_balanced, semantic_dedup and pq_topk oracles: seeds →
    per-round (assign, quantized mean, centroid) → final assignment
    ``fin(vec_id, c)``.  ``source`` overrides the corpus CTE (e.g. to
    replay a planted-twin corpus); ``pfx`` namespaces every CTE so
    several chains (one per PQ subspace) compose in one query;
    ``with_kw=False`` drops the leading WITH for chained use."""
    e, fin = f"{pfx}e", f"{pfx}fin"

    def cn(r):
        return f"{pfx}c{r}"

    def dist(c):
        return (f"list_sum(list_transform(range(1, len({e}.embedding)+1), "
                f"i -> ({c}.cent[i] - CAST({e}.embedding[i] AS DOUBLE)) * "
                f"({c}.cent[i] - CAST({e}.embedding[i] AS DOUBLE))))")

    kw = "WITH " if with_kw else ""
    sql = [f"""
{kw}{e} AS ({source}),
{cn(0)} AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
  FROM (SELECT vec_id, embedding FROM {e} ORDER BY vec_id LIMIT {k}))"""]
    for r in range(1, iters + 1):
        p = cn(r - 1)
        a, m = f"{pfx}a{r}", f"{pfx}m{r}"
        sql.append(f""",
{a} AS MATERIALIZED (
  SELECT vec_id, c FROM (
    SELECT {e}.vec_id, {p}.c,
           row_number() OVER (PARTITION BY {e}.vec_id
                              ORDER BY {dist(p)}, {p}.c) AS rn
    FROM {e}, {p}) WHERE rn = 1),
{m} AS (
  SELECT {a}.c, t.i AS dim,
         CAST(SUM(CAST(ROUND(CAST({e}.embedding[t.i] AS DOUBLE) * 1e9)
                       AS BIGINT)) AS DOUBLE) / (1e9 * COUNT(*)) AS m
  FROM {a} JOIN {e} USING (vec_id),
       UNNEST(range(1, len({e}.embedding)+1)) AS t(i)
  GROUP BY {a}.c, t.i),
{cn(r)} AS MATERIALIZED (
  SELECT {p}.c, COALESCE(g.cent, {p}.cent) AS cent
  FROM {p} LEFT JOIN (SELECT c, list(m ORDER BY dim) AS cent
                      FROM {m} GROUP BY c) g USING (c))""")
    fc = cn(iters)
    sql.append(f""",
{fin} AS MATERIALIZED (
  SELECT vec_id, c FROM (
    SELECT {e}.vec_id, {fc}.c,
           row_number() OVER (PARTITION BY {e}.vec_id
                              ORDER BY {dist(fc)}, {fc}.c) AS rn
    FROM {e}, {fc}) WHERE rn = 1)""")
    return "".join(sql)
# same-cell candidate pairs via the shared unrolled-Lloyd chain
# (k=8, iters=2 — the _ivf_blocked assignment), then the exact
# cosine fold — the blocked pair set replays engine-identically
query("embedding_near_dup", q_embedding_near_dup, _ivf_ctes(8, 2) + """,
        p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            round(
              list_sum(list_transform(range(1, len(a.embedding)+1),
                i -> CAST(a.embedding[i] AS DOUBLE)
                   * CAST(b.embedding[i] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(range(1, len(a.embedding)+1),
                   i -> CAST(a.embedding[i] AS DOUBLE)
                      * CAST(a.embedding[i] AS DOUBLE))))
               * sqrt(list_sum(list_transform(range(1, len(b.embedding)+1),
                   i -> CAST(b.embedding[i] AS DOUBLE)
                      * CAST(b.embedding[i] AS DOUBLE))))), 6) AS cosine
          FROM e a JOIN e b ON a.vec_id < b.vec_id
               JOIN fin fa ON fa.vec_id = a.vec_id
               JOIN fin fb ON fb.vec_id = b.vec_id AND fb.c = fa.c
        )
        SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.35
    """)
query("ivf_topk", q_ivf_topk, _ivf_oracle_sql())


def _cluster_balanced_oracle_sql(k: int = 8, iters: int = 2,
                                 per_group: int = 40) -> str:
    """DuckDB replay of q_cluster_balanced: the shared IVF CTE chain
    delivers the engine-identical assignments; the per-cluster rate and
    the md5 hash gate replay pipeline.balanced_sample verbatim."""
    return _ivf_ctes(k, iters) + f""",
counts AS (SELECT c, COUNT(*) AS n FROM fin GROUP BY c),
rates AS (SELECT c, LEAST(1.0, CAST({per_group} AS DOUBLE) / n) AS rate
          FROM counts)
SELECT f.vec_id, f.c AS cluster
FROM fin f JOIN rates USING (c)
WHERE rate >= 1.0
   OR substr(md5(CAST(f.vec_id AS VARCHAR)), 1, 4)
      < printf('%04x', CAST(floor(rate * 65536) AS INT))"""


def q_bigram_logprob(spark, sf_dir):
    """Interpolated bigram LM quality score (Jelinek–Mercer λ=0.7) —
    the word-order-sensitive upgrade of unigram_logprob.  FULL oracle:
    exact ML bigram + add-one unigram tables replay in SQL; the 6 dp
    decimal per-position rounding makes the mean order-free."""
    from ..operators.pipeline import bigram_logprob
    from ..operators.text import spread_scan_by_bytes
    # gram expansion is an interpreted HOF walk below the bigram-table
    # aggregation — bytes-proportional spread (no-op at bench scale)
    return bigram_logprob(spread_scan_by_bytes(_docs(spark, sf_dir)),
                          lam=0.7)


def _bigram_logprob_oracle_sql(lam: float = 0.7) -> str:
    """The λ literals are rendered with repr() so DuckDB parses the
    SAME doubles the engine computes — in particular 1-λ is
    0.30000000000000004, not 0.3 (a 1-ulp difference that could flip
    the 6 dp rounding on a boundary-sitting position)."""
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents WHERE len(list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '')) >= 2),
uni AS (SELECT t.tok, COUNT(*) AS tf FROM toks, UNNEST(ws) AS t(tok)
        GROUP BY 1),
tot AS (SELECT SUM(tf) AS total, COUNT(*) AS vocab FROM uni),
grams AS (
  SELECT doc_id, ws[t.i] AS prev, ws[t.i + 1] AS cur
  FROM toks, UNNEST(range(1, len(ws))) AS t(i)),
bi AS (SELECT prev, cur, COUNT(*) AS bc FROM grams GROUP BY 1, 2),
ctx AS (SELECT prev, SUM(bc) AS cc FROM bi GROUP BY 1)
SELECT g.doc_id,
       ROUND(CAST(SUM(CAST(ROUND(log10(
           {float(lam)!r} * bc / cc
           + {1.0 - float(lam)!r} * (tf + 1) / (total + vocab)), 6)
         AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS bigram_logprob,
       COUNT(*)::BIGINT AS n_bigrams
FROM grams g
JOIN bi USING (prev, cur)
JOIN ctx USING (prev)
JOIN uni ON uni.tok = g.cur, tot
GROUP BY 1"""
query("bigram_logprob", q_bigram_logprob, _bigram_logprob_oracle_sql())


def q_source_reputation(spark, sf_dir):
    """Domain-level quality gate (C4/RefinedWeb URL-level stage): mean
    stopword ratio + doc count per source, kept = mean ≥ 0.06 ∧ n ≥ 5.
    FULL oracle — the quantized-integer mean reproduces bit-for-bit."""
    from ..operators.pipeline import source_reputation
    rep = source_reputation(_docs(spark, sf_dir), min_mean_ratio=0.06,
                            min_docs=5)
    return rep.select("source", "n_docs",
                      F.round("mean_ratio", 9).alias("mean_ratio"), "kept")


_SOURCE_REPUTATION_ORACLE = """
WITH toks AS (
  SELECT source, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents),
ratio AS (
  SELECT source,
    CAST(len(list_filter(ws, t -> list_contains(
      ['the','a','of','and','to','in','is','for','on','with'], t)))
      AS DOUBLE) / GREATEST(len(ws), 1) AS r
  FROM toks),
stats AS (
  SELECT source, COUNT(*)::BIGINT AS n_docs,
         CAST(SUM(CAST(ROUND(r * 1e9) AS BIGINT)) AS DOUBLE)
           / (1e9 * COUNT(*)) AS mean_ratio
  FROM ratio GROUP BY source)
SELECT source, n_docs, ROUND(mean_ratio, 9) AS mean_ratio,
       (mean_ratio >= 0.06 AND n_docs >= 5) AS kept
FROM stats"""
query("source_reputation", q_source_reputation, _SOURCE_REPUTATION_ORACLE)


def q_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES)
    over documents, weight = token count: top-50 by u^(1/w) with
    hash-derived u.  FULL oracle — the sample is deterministic, so
    DuckDB replays the identical selection."""
    from ..operators.pipeline import weighted_sample
    docs = _docs(spark, sf_dir)
    wt = F.size(text.tokens(F.col("text")))
    top = weighted_sample(docs, wt, "doc_id", n=50)
    return top.select("doc_id", "weight",
                      F.round("score", 6).alias("score"))


_WEIGHTED_SAMPLE_ORACLE = """
WITH wt AS (
  SELECT doc_id,
         CAST(len(list_filter(
           string_split_regex(lower(text),'[^a-z0-9]+'),
           x -> x != '')) AS DOUBLE) AS weight,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           / 1152921504606846976.0 AS u
  FROM documents)
SELECT doc_id, weight,
       ROUND(CASE WHEN weight > 0 THEN POW(u, 1.0/weight)
                  ELSE 0 END, 6) AS score
FROM wt
ORDER BY ROUND(CASE WHEN weight > 0 THEN POW(u, 1.0/weight)
               ELSE 0 END, 12) DESC,
         doc_id
LIMIT 50"""
query("weighted_sample", q_weighted_sample, _WEIGHTED_SAMPLE_ORACLE)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table with
    planted near-dup twins (every 50th vector gets a +0.1-on-dim-0 copy
    at id+100000, cosine ≈ 0.995 to its original — the fixture has no
    natural pairs above 0.48, so exactly the twins are dropped).  FULL
    hash oracle: the shared unrolled-k-means CTE chain runs on the same
    planted corpus, then the within-cluster dominance check replays
    pairwise (lower-id neighbor with cosine ≥ 0.95 ⇒ kept=false)."""
    emb = _emb(spark, sf_dir)
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", as_double.alias("embedding"))
    pert = (base.where(F.col("vec_id") % 50 == 0)
            .select((F.col("vec_id") + 100000).alias("vec_id"),
                    F.transform(
                        F.col("embedding"),
                        lambda x, i: F.when(i == 0, x + F.lit(0.1))
                                      .otherwise(x)).alias("embedding")))
    corpus = base.unionByName(pert)
    return similarity.semantic_dedup(corpus, k=8, iters=2, min_cosine=0.95)


_SEMDEDUP_SOURCE = """SELECT vec_id, embedding FROM (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(range(1, len(embedding)+1),
           i -> CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.1
                     ELSE CAST(embedding[i] AS DOUBLE) END)
  FROM embeddings WHERE vec_id % 50 = 0)"""


def _semantic_dedup_oracle_sql(k: int = 8, iters: int = 2,
                               thresh: float = 0.95) -> str:
    """DuckDB replay of q_semantic_dedup: planted corpus → shared
    unrolled k-means → within-cluster lower-id dominance."""
    cos = ("list_sum(list_transform(range(1, len(a.embedding)+1), "
           "i -> a.embedding[i] * b.embedding[i])) "
           "/ (sqrt(list_sum(list_transform(range(1, len(a.embedding)+1), "
           "i -> a.embedding[i] * a.embedding[i]))) "
           "* sqrt(list_sum(list_transform(range(1, len(b.embedding)+1), "
           "i -> b.embedding[i] * b.embedding[i]))))")
    return _ivf_ctes(k, iters, source=_SEMDEDUP_SOURCE) + f""",
dom AS (
  SELECT DISTINCT fb.vec_id AS vid
  FROM fin fa JOIN fin fb ON fa.c = fb.c AND fa.vec_id < fb.vec_id
  JOIN e a ON a.vec_id = fa.vec_id
  JOIN e b ON b.vec_id = fb.vec_id
  WHERE {cos} >= {thresh})
SELECT f.vec_id, f.c AS cluster, (d.vid IS NULL) AS kept
FROM fin f LEFT JOIN dom d ON f.vec_id = d.vid"""
query("semantic_dedup", q_semantic_dedup, _semantic_dedup_oracle_sql())


def q_cluster_balanced(spark, sf_dir):
    """Diversity sampling over embedding clusters: ~40 vectors kept per
    IVF k-means cluster (small clusters survive whole) — the
    cluster-balanced training-mix step.  FULL hash oracle: the shared
    unrolled-k-means CTE chain reproduces the assignments, then the
    rate + md5 gate replay balanced_sample verbatim."""
    from ..operators.pipeline import balanced_sample
    emb = _emb(spark, sf_dir)
    indexed, _ = similarity.ivf_index(emb, k=8, iters=2)
    return (balanced_sample(indexed, "cluster", "vec_id", per_group=40)
            .select("vec_id", "cluster"))
query("cluster_balanced", q_cluster_balanced, _cluster_balanced_oracle_sql())


def q_k_hop(spark, sf_dir):
    """Frontier expansion: everything within 2 out-hops of customers 0-9
    (customers → their orders → parts/suppliers on those orders)."""
    g = tpch_graph(spark, sf_dir)
    seeds = spark.createDataFrame(
        [(f"Customer:{i}",) for i in range(10)], "uid string")
    return graph_algos.k_hop(g.edges_df, seeds, k=2, direction="out")
query("k_hop", q_k_hop, """
        SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) AS uid
          FROM customer WHERE c_custkey < 10
        UNION
        SELECT 'Order:' || CAST(o_orderkey AS VARCHAR)
          FROM orders WHERE o_custkey < 10
        UNION
        SELECT 'Part:' || CAST(l_partkey AS VARCHAR)
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_custkey < 10
        UNION
        SELECT 'Supplier:' || CAST(l_suppkey AS VARCHAR)
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_custkey < 10
        UNION
        SELECT 'Nation:' || CAST(c_nationkey AS VARCHAR)
          FROM customer WHERE c_custkey < 10
        UNION
        SELECT 'Region:' || CAST(n_regionkey AS VARCHAR)
          FROM nation JOIN customer ON c_nationkey = n_nationkey
          WHERE c_custkey < 10
    """)


def q_language_id(spark, sf_dir):
    """Stopword-vote language heuristic per doc (SQL-replay oracle from
    the same stopword lists; argmax = max hits, ties to max code)."""
    return text.language_id(_docs(spark, sf_dir)) \
        .select("doc_id", "lang_guess")
# stopword-vote replay: hits per (doc, lang) from the same stopword
# lists, argmax = max hits then max code (the engine's array_max on
# (hits, code) structs).  The VALUES list is generated from
# text.STOPWORDS so the two sides can never drift.
_LANGUAGE_ID_ORACLE = """
        WITH toks AS (
          SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(text), '[^\\pL\\pN]+'),
            x -> x != '')) AS tok
          FROM documents
        ),
        sw(code, w) AS (VALUES {sw_values}),
        langs AS (SELECT DISTINCT code FROM sw),
        hits AS (
          SELECT d.doc_id, l.code, COUNT(s.w) AS h
          FROM documents d
          CROSS JOIN langs l
          LEFT JOIN toks t ON t.doc_id = d.doc_id
          LEFT JOIN sw s ON s.code = l.code AND s.w = t.tok
          GROUP BY d.doc_id, l.code
        )
        SELECT doc_id, code AS lang_guess
        FROM (SELECT doc_id, code, ROW_NUMBER() OVER
                (PARTITION BY doc_id ORDER BY h DESC, code DESC) AS rn
              FROM hits)
        WHERE rn = 1
    """.format(sw_values=", ".join(
        f"('{code}','{w}')"
        for code in text.STOPWORDS for w in text.STOPWORDS[code]))
query("language_id", q_language_id, _LANGUAGE_ID_ORACLE)


def q_connected_components(spark, sf_dir):
    """Iterative label propagation on the Nation/Region subgraph.
    FULL oracle: recursive-CTE transitive closure + min-label."""
    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes_df.where(F.col("kind").isin("Nation", "Region"))
    edges = g.edges_df.where(F.col("kind") == "InRegion")
    return graph_algos.connected_components(nodes, edges, max_iter=6)
# iterative label propagation in the engine; the oracle replays it as
# a recursive reachability closure (tiny subgraph: Nation/Region)
query("connected_components", q_connected_components, """
        WITH RECURSIVE
        nr_nodes(uid) AS (
          SELECT 'Nation:' || CAST(n_nationkey AS VARCHAR) FROM nation
          UNION ALL
          SELECT 'Region:' || CAST(r_regionkey AS VARCHAR) FROM region
        ),
        nr_edges(a, b) AS (
          SELECT 'Nation:' || CAST(n_nationkey AS VARCHAR),
                 'Region:' || CAST(n_regionkey AS VARCHAR) FROM nation
          UNION ALL
          SELECT 'Region:' || CAST(n_regionkey AS VARCHAR),
                 'Nation:' || CAST(n_nationkey AS VARCHAR) FROM nation
        ),
        reach(src, dst) AS (
          SELECT uid, uid FROM nr_nodes
          UNION
          SELECT r.src, e.b FROM reach r JOIN nr_edges e ON e.a = r.dst
        )
        SELECT src AS uid, MIN(dst) AS component FROM reach GROUP BY src
    """)


def q_triangles_copurchase(spark, sf_dir):
    """Global triangle count of the part co-purchase graph (parts linked
    when some order contains both).  Degree-ranked edge orientation
    bounds the wedge fanout by sqrt(m) per node — the property that
    keeps the self-join alive on power-law co-occurrence graphs."""
    # Explicit numPartitions on the self-join key: AQE would size this
    # stage by its input bytes (lineitem's 2 columns are ~10 MB) and
    # coalesce the join to ~3 tasks, but the join OUTPUT is the per-order
    # pair explosion — parallelize for the work.  One exchange serves
    # both sides of the self-join.
    n_part = spark.sparkContext.defaultParallelism * 2
    li = (load_tables(spark, sf_dir)["lineitem"]
          .select("l_orderkey", "l_partkey")
          .repartition(n_part, "l_orderkey"))
    a, b = li.alias("a"), li.alias("b")
    co = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                 & (F.col("a.l_partkey") < F.col("b.l_partkey")))
          .select(F.col("a.l_partkey").alias("pa"),
                  F.col("b.l_partkey").alias("pb")))
    # no .distinct() here: triangle_count canonicalizes+dedups anyway —
    # a second dedup would be one more full shuffle of the pair stream
    return graph_algos.triangle_count(co, "pa", "pb")
query("triangles_copurchase", q_triangles_copurchase, """
        WITH e AS (
          SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey)
        SELECT COUNT(*)::BIGINT AS n_triangles
        FROM e ab
        JOIN e bc ON ab.hi = bc.lo
        JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi
    """)


def q_bfs_distance(spark, sf_dir):
    """Minimum hop distance from the ASIA region node over the undirected
    Region-Nation-Customer-Order subgraph, depth ≤ 3 — frontier BFS
    where each round shuffles only the new frontier."""
    t = load_tables(spark, sf_dir)
    seed = (t["region"].where(F.col("r_name") == "ASIA")
            .select(F.concat(F.lit("Region:"),
                             F.col("r_regionkey")).alias("uid")))
    g = tpch_graph(spark, sf_dir)
    edges = g.edges_df.where(
        F.col("kind").isin("InRegion", "FromNation", "Placed"))
    return graph_algos.bfs_distances(edges, seed, max_depth=3,
                                     direction="both")
query("bfs_distance", q_bfs_distance, """
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
        walk(uid, d) AS (
          SELECT 'Region:' || CAST(r_regionkey AS VARCHAR), 0
          FROM region WHERE r_name = 'ASIA'
          UNION
          SELECT ed.b, w.d + 1 FROM walk w
          JOIN ed ON ed.a = w.uid WHERE w.d < 3
        )
        SELECT uid, CAST(MIN(d) AS INT) AS dist FROM walk GROUP BY uid
    """)


def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier per part): for EUROPE suppliers
    of size-15 parts, the supplier(s) hitting each part's minimum unit
    price (fixture has no partsupp; unit price = extendedprice/quantity
    from lineitem).  Decorrelated argmin: per-part min as a broadcast
    aggregate joined back — the same two-pass shape the spec's
    correlated subquery decorrelates to."""
    t = load_tables(spark, sf_dir)
    eur_supp = (t["supplier"]
                .join(F.broadcast(
                    t["nation"].join(F.broadcast(t["region"].where(
                        F.col("r_name") == "EUROPE")),
                        F.col("n_regionkey") == F.col("r_regionkey"))),
                    F.col("s_nationkey") == F.col("n_nationkey")))
    offers = (t["lineitem"]
              .join(F.broadcast(t["part"].where(F.col("p_size") == 15)),
                    F.col("l_partkey") == F.col("p_partkey"))
              .join(F.broadcast(eur_supp),
                    F.col("l_suppkey") == F.col("s_suppkey"))
              .select("p_partkey", "s_suppkey", "s_name", "n_name",
                      (F.col("l_extendedprice").cast("decimal(18,6)")
                       / F.col("l_quantity").cast("decimal(18,6)"))
                      .alias("unit_price")))
    mins = (offers.groupBy(F.col("p_partkey").alias("pk"))
            .agg(F.min("unit_price").alias("min_price")))
    return (offers.join(F.broadcast(mins),
                        (F.col("p_partkey") == F.col("pk"))
                        & (F.col("unit_price") == F.col("min_price")))
            .select("p_partkey", "s_suppkey", "s_name", "n_name",
                    F.col("unit_price").cast("double").alias("unit_price")))
query("tpch_q2", q_tpch_q2, """
        WITH offers AS (
          SELECT p_partkey, s_suppkey, s_name, n_name,
                 CAST(l_extendedprice AS DECIMAL(18,6))
                   / CAST(l_quantity AS DECIMAL(18,6)) AS unit_price
          FROM lineitem
          JOIN part ON l_partkey = p_partkey AND p_size = 15
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
                     AND r_name = 'EUROPE')
        SELECT p_partkey, s_suppkey, s_name, n_name,
               CAST(unit_price AS DOUBLE) AS unit_price
        FROM offers o
        JOIN (SELECT p_partkey AS pk, MIN(unit_price) AS min_price
              FROM offers GROUP BY p_partkey) m
          ON o.p_partkey = m.pk AND o.unit_price = m.min_price
    """)


def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 shape (value concentration): parts whose shipped value
    exceeds 0.05% of total shipped value (partsupp-free: value =
    extendedprice sums from lineitem).  Group, then HAVING against a
    broadcast scalar — two aggregations over one shuffle of the fact."""
    t = load_tables(spark, sf_dir)
    val = (t["lineitem"].groupBy("l_partkey")
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .alias("value")))
    total = val.agg((F.sum("value") * 0.0005).alias("threshold"))
    return (val.join(F.broadcast(total))
            .where(F.col("value") > F.col("threshold"))
            .select("l_partkey", F.col("value").cast("double")
                    .alias("value")))
query("tpch_q11", q_tpch_q11, """
        WITH val AS (
          SELECT l_partkey,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
          FROM lineitem GROUP BY l_partkey)
        SELECT l_partkey, CAST(value AS DOUBLE) AS value
        FROM val
        WHERE value > (SELECT SUM(value) * 0.0005 FROM val)
    """)


def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape (supplier concentration by part attribute):
    distinct suppliers per (brand, type, size) for three sizes,
    excluding one brand — COUNT(DISTINCT) after a broadcast-pruned
    fact join (supplier link via lineitem, no partsupp)."""
    t = load_tables(spark, sf_dir)
    pp = t["part"].where((F.col("p_brand") != "Brand#13")
                         & F.col("p_size").isin(1, 7, 15))
    return (t["lineitem"]
            .join(F.broadcast(pp),
                  F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.count_distinct(F.col("l_suppkey"))
                 .alias("supplier_cnt")))
query("tpch_q16", q_tpch_q16, """
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#13' AND p_size IN (1, 7, 15)
        GROUP BY p_brand, p_type, p_size
    """)


def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape (excess-stock suppliers): suppliers in one nation
    who shipped more than 50 units of some widget part in 1996
    (partsupp-free restatement keeping the nested-aggregate → semi-join
    topology: inner grouped HAVING feeds a left-semi on the outer)."""
    t = load_tables(spark, sf_dir)
    widget = t["part"].where(F.col("p_name").contains("widget"))
    big = (t["lineitem"]
           .where((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1997-01-01"))
           .join(F.broadcast(widget),
                 F.col("l_partkey") == F.col("p_partkey"))
           .groupBy("l_suppkey", "l_partkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .alias("qty"))
           .where(F.col("qty") > 50)
           .select("l_suppkey"))
    nat = t["nation"].where(F.col("n_name") == "NATION_1")
    return (t["supplier"]
            .join(F.broadcast(nat),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(big, F.col("s_suppkey") == F.col("l_suppkey"),
                  "left_semi")
            .select("s_suppkey", "s_name"))
query("tpch_q20", q_tpch_q20, """
        SELECT s_suppkey, s_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
                   AND n_name = 'NATION_1'
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM lineitem
          JOIN part ON l_partkey = p_partkey
                   AND p_name LIKE '%widget%'
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1997-01-01'
          GROUP BY l_suppkey, l_partkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50)
    """)


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape (sole late shipper): suppliers with a late line
    (shipped >60 days after order date) in a finished multi-supplier
    order where NO other supplier shipped late — EXISTS + NOT EXISTS as
    semi/anti joins on the order key (commitdate-free restatement).
    The order-level supplier sets aggregate once; both existence probes
    ride the same grouped frame instead of two fact self-joins."""
    t = load_tables(spark, sf_dir)
    li = (t["lineitem"]
          .join(t["orders"].where(
              F.col("o_orderstatus") == "F"),
              F.col("l_orderkey") == F.col("o_orderkey"))
          .select("l_orderkey", "l_suppkey",
                  (F.col("l_shipdate") > F.col("o_orderdate")
                   + F.expr("INTERVAL 60 DAYS")).alias("late")))
    per_order = (li.groupBy("l_orderkey")
                 .agg(F.count_distinct("l_suppkey").alias("n_supp"),
                      F.count_distinct(F.when(F.col("late"),
                                              F.col("l_suppkey")))
                      .alias("n_late_supp")))
    sole = per_order.where((F.col("n_supp") > 1)
                           & (F.col("n_late_supp") == 1))
    return (li.where(F.col("late"))
            .join(sole, "l_orderkey", "left_semi")
            .select("l_suppkey").distinct()
            .join(F.broadcast(t["supplier"]),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name"))
query("tpch_q21", q_tpch_q21, """
        WITH li AS (
          SELECT l_orderkey, l_suppkey,
                 l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderstatus = 'F'),
        sole AS (
          SELECT l_orderkey FROM li GROUP BY l_orderkey
          HAVING COUNT(DISTINCT l_suppkey) > 1
             AND COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) = 1)
        SELECT DISTINCT s_suppkey, s_name
        FROM li
        JOIN sole USING (l_orderkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE li.late
    """)


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: training docs (doc_id % 20 != 0)
    sharing any 8-gram with the held-out eval slice (doc_id % 20 == 0),
    with hit counts.  The eval fingerprint set broadcasts — the
    training side never shuffles before its per-doc count."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    train = docs.where(F.col("doc_id") % 20 != 0)
    return dedup.ngram_contamination(train, bench, n=8)
query("contamination", q_contamination, """
        WITH toks AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> x != '') AS ws
          FROM documents
        ), grams AS (
          SELECT doc_id, fp FROM (
            SELECT doc_id,
                   list_distinct(list_transform(
                     range(1, len(ws) - 6),
                     i -> ('0x' || substr(md5(
                            array_to_string(list_slice(ws, i, i + 7), ' ')
                          ), 1, 15))::BIGINT)) AS fps
            FROM toks), UNNEST(fps) AS t(fp)
        )
        SELECT g.doc_id, COUNT(*)::BIGINT AS n_hits
        FROM grams g
        JOIN (SELECT DISTINCT fp FROM grams WHERE doc_id % 20 = 0) b
          ON g.fp = b.fp
        WHERE g.doc_id % 20 <> 0
        GROUP BY g.doc_id
    """)


def q_decontaminate_spans(spark, sf_dir):
    """Span-level decontamination: the 8-gram eval overlaps found by
    q_contamination are cut out of the training docs (token-exact span
    union) instead of dropping whole documents.  Full oracle: the gram
    fingerprints, span union, and token filtering replay in SQL;
    clean_text is hash-compared."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    train = docs.where(F.col("doc_id") % 20 != 0)
    return dedup.mask_contaminated_spans(train, bench, n=8)
query("decontaminate_spans", q_decontaminate_spans, """
        WITH toks AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> x != '') AS ws
          FROM documents
        ), bench AS (
          SELECT DISTINCT fp FROM (
            SELECT list_distinct(list_transform(
                     range(1, len(ws) - 6),
                     i -> ('0x' || substr(md5(
                            array_to_string(list_slice(ws, i, i + 7), ' ')
                          ), 1, 15))::BIGINT)) AS fps
            FROM toks WHERE doc_id % 20 = 0), UNNEST(fps) AS t(fp)
        ), tr AS (SELECT doc_id, ws FROM toks WHERE doc_id % 20 <> 0),
        tg AS (
          SELECT doc_id, i - 1 AS pos,
                 ('0x' || substr(md5(
                    array_to_string(list_slice(ws, i, i + 7), ' ')
                  ), 1, 15))::BIGINT AS fp
          FROM tr, UNNEST(range(1, len(ws) - 6)) AS t(i)
        ), m AS (SELECT tg.doc_id, tg.pos FROM tg JOIN bench USING (fp)),
        cl AS (
          SELECT doc_id, list(DISTINCT ci) AS cov FROM (
            SELECT DISTINCT m.doc_id, u.ci
            FROM m, UNNEST(range(m.pos, m.pos + 8)) AS u(ci))
          GROUP BY doc_id
        ), kept AS (
          SELECT tr.doc_id, tr.ws,
                 list_filter(range(1, len(tr.ws)+1),
                   i -> NOT list_contains(COALESCE(cl.cov, []), i - 1))
                 AS ki
          FROM tr LEFT JOIN cl USING (doc_id))
        SELECT doc_id,
               COALESCE(array_to_string(list_transform(ki, i -> ws[i]),
                                        ' '), '') AS clean_text,
               CAST(len(ws) - len(ki) AS BIGINT) AS n_masked
        FROM kept
    """)


def q_chunk_docs(spark, sf_dir):
    """Context-window packing: 64-token chunks with 16-token overlap.
    Compared by md5 of chunk text (portable, keeps the diff payload
    small); one narrow map stage, no shuffle."""
    out = text.chunk_documents(_docs(spark, sf_dir),
                               chunk_tokens=64, overlap=16)
    return out.select("doc_id", "chunk_id",
                      F.md5("chunk_text").alias("chunk_hash"), "n_tokens")
query("chunk_docs", q_chunk_docs, """
        WITH toks AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> x != '') AS ws
          FROM documents
        ), meta AS (
          SELECT doc_id, ws,
                 CASE WHEN len(ws) <= 64 THEN 0
                      ELSE CAST(CEIL((len(ws) - 64)::DOUBLE / 48) AS INT)
                 END AS i_max
          FROM toks
        )
        SELECT doc_id, i.i AS chunk_id,
               md5(array_to_string(
                   list_slice(ws, i.i * 48 + 1, i.i * 48 + 64), ' '))
                   AS chunk_hash,
               len(list_slice(ws, i.i * 48 + 1, i.i * 48 + 64))::BIGINT
                   AS n_tokens
        FROM meta, UNNEST(range(0, i_max + 1)) AS i(i)
    """)


def q_pagerank_nations(spark, sf_dir):
    """PageRank with a full SQL oracle: the bidirectional Nation↔Region
    graph has no dangling nodes (every node has out-degree ≥ 1 by
    construction), so the dangling-mass term is identically zero and the
    power iteration is expressible as a recursive CTE.  Ranks rounded to
    6 dp on both sides — float-associativity drift is ~1e-12, far below
    the rounding grain, so the value hash is stable."""
    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes_df.where(F.col("kind").isin("Nation", "Region"))
    fwd = g.edges_df.where(F.col("kind") == "InRegion") \
        .select("startuid", "enduid")
    edges = fwd.unionByName(
        fwd.select(F.col("enduid").alias("startuid"),
                   F.col("startuid").alias("enduid")))
    pr = graph_algos.pagerank(nodes, edges, iters=5)
    return pr.select("uid", F.round("rank", 6).alias("rank"))
query("pagerank_nations", q_pagerank_nations, """
        WITH RECURSIVE
        ed(a, b) AS (
          SELECT 'Nation:' || CAST(n_nationkey AS VARCHAR),
                 'Region:' || CAST(n_regionkey AS VARCHAR) FROM nation
          UNION ALL
          SELECT 'Region:' || CAST(n_regionkey AS VARCHAR),
                 'Nation:' || CAST(n_nationkey AS VARCHAR) FROM nation
        ),
        nodes(uid) AS (SELECT DISTINCT a FROM ed),
        deg AS (SELECT a, COUNT(*) AS out_deg FROM ed GROUP BY a),
        pr(iter, uid, rank) AS (
          SELECT 0, uid, 1.0::DOUBLE FROM nodes
          UNION ALL
          SELECT p.iter + 1, n.uid,
                 0.15 + 0.85 * COALESCE(SUM(p.rank / dg.out_deg), 0)
          FROM pr p
          JOIN deg dg ON p.uid = dg.a
          JOIN ed ON p.uid = ed.a
          RIGHT JOIN nodes n ON ed.b = n.uid
          WHERE p.iter < 5
          GROUP BY p.iter + 1, n.uid
        )
        SELECT uid, ROUND(rank, 6) AS rank FROM pr WHERE iter = 5
    """)


def _pagerank_top10_sql(iters: int = 5, d: float = 0.85) -> str:
    """Unrolled power iteration replaying graph_algos.pagerank exactly:
    ranks init 1.0, per-round dangling-mass scalar, base = 1-d +
    d·dangling/N, contributions rank/outdeg over the raw (non-distinct)
    edge rows."""
    parts = [
        """nodes AS (
          SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) AS uid
          FROM customer
          UNION ALL
          SELECT 'Order:' || CAST(o_orderkey AS VARCHAR) FROM orders
          UNION ALL
          SELECT 'Part:' || CAST(p_partkey AS VARCHAR) FROM part)""",
        """edges AS (
          SELECT 'Customer:' || CAST(o_custkey AS VARCHAR) AS src,
                 'Order:' || CAST(o_orderkey AS VARCHAR) AS dst
          FROM orders
          UNION ALL
          SELECT 'Order:' || CAST(l_orderkey AS VARCHAR),
                 'Part:' || CAST(l_partkey AS VARCHAR)
          FROM lineitem)""",
        "odeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "r0 AS (SELECT uid, 1.0 AS rank FROM nodes)"]
    for i in range(iters):
        parts.append(f"""d{i} AS MATERIALIZED (
          SELECT COALESCE(SUM(r.rank), 0) AS dm FROM r{i} r
          LEFT JOIN odeg o ON o.src = r.uid WHERE o.src IS NULL)""")
        parts.append(f"""r{i + 1} AS MATERIALIZED (
          SELECT n.uid,
                 (1 - {d}) + {d} * (SELECT dm FROM d{i}) / (SELECT n FROM nn)
                 + {d} * COALESCE(inc.s, 0) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS uid, SUM(r.rank / o.deg) AS s
            FROM edges e
            JOIN r{i} r ON r.uid = e.src
            JOIN odeg o ON o.src = e.src
            GROUP BY e.dst) inc ON inc.uid = n.uid)""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT uid FROM r{iters} "
              "ORDER BY round(rank, 6) DESC, uid LIMIT 10")


def q_pagerank_top10(spark, sf_dir):
    """PageRank over the Placed/Contains graph, top-10 nodes.  The
    DuckDB oracle replays the SAME 5 unrolled power iterations
    (dangling-mass scalar per round, damping 0.85, ranks init 1.0);
    ordering is on round(rank, 6) + uid so engine-order float-summation
    noise (~1e-13) cannot flip the comparison."""
    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes_df.where(F.col("kind").isin("Customer", "Order", "Part"))
    edges = g.edges_df.where(F.col("kind").isin("Placed", "Contains"))
    pr = graph_algos.pagerank(nodes, edges, iters=5)
    return (pr.orderBy(F.round("rank", 6).desc(), F.col("uid")).limit(10)
            .select("uid"))
query("pagerank_top10", q_pagerank_top10, _pagerank_top10_sql())


def q_multimodal_features(spark, sf_dir):
    """Binary-column plumbing with a REAL header decoder: payloads are
    complete BMP/PNG/GIF containers synthesized from the documents
    fixture (dims a pure function of n_chars, format cycling by doc_id,
    GIF frame counts 1-4), and extract_features reads format, width,
    height and frame count back out of the actual bytes
    (struct-unpacked IHDR / logical screen descriptor /
    BITMAPINFOHEADER; GIF block walk).  The oracle predicts the same
    values from the construction arithmetic — a wrong parse fails the
    hash."""
    from ..operators.multimodal import documents_as_media, extract_features
    media = documents_as_media(_docs(spark, sf_dir))
    return extract_features(media).select(
        "media_id", "fmt", "width", "height", "n_frames")
query("multimodal_features", q_multimodal_features, """
        SELECT doc_id AS media_id,
               CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
                    ELSE 'gif' END AS fmt,
               CAST(4 + n_chars % 60 AS INT) AS width,
               CAST(4 + (n_chars // 7) % 60 AS INT) AS height,
               CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 4
                         ELSE 1 END AS INT) AS n_frames
        FROM documents
    """)


def q_multimodal_resize(spark, sf_dir):
    """Binary→binary resize stage: scaled dimensions computed from the
    REAL container headers; uncompressed 24-bit BMPs get a REAL
    nearest-neighbor pixel resample (multimodal.resize_bmp), compressed
    formats a byte-proportional stand-in (no codec libs here).  Scale
    math is pure IEEE-double (min(1, 32/max(w,h)), floor) so the SQL
    oracle reproduces the dims bit-exactly from the construction
    arithmetic."""
    from ..operators.multimodal import documents_as_media, resize
    media = documents_as_media(_docs(spark, sf_dir))
    return resize(media, max_side=32).select("media_id", "width", "height")
query("multimodal_resize", q_multimodal_resize, """
        WITH dims AS (
          SELECT doc_id AS media_id,
                 4 + n_chars % 60 AS w,
                 4 + (n_chars // 7) % 60 AS h
          FROM documents
        ), scaled AS (
          SELECT media_id, w, h,
                 LEAST(1.0, 32.0 / GREATEST(w, h)) AS scale
          FROM dims
        )
        SELECT media_id,
               CAST(GREATEST(1, FLOOR(w * scale)) AS INT) AS width,
               CAST(GREATEST(1, FLOOR(h * scale)) AS INT) AS height
        FROM scaled
    """)


def q_gif_frames(spark, sf_dir):
    """Real GIF frame demux over the media fixture: every 2nd frame of
    each multi-frame GIF becomes a standalone single-frame file.  The
    oracle replays the sampling plan (which media, which frame indices)
    and the emitted byte size (35 = 19-byte header + 15-byte frame
    segment + trailer by construction); byte-level correctness of the
    demux is pinned by the re-decode unit test."""
    from ..operators.multimodal import documents_as_media, extract_frames
    media = documents_as_media(_docs(spark, sf_dir))
    return (extract_frames(media, every_n=2)
            .select("media_id", "frame_idx",
                    F.length("frame_payload").cast("long")
                    .alias("frame_bytes")))
query("gif_frames", q_gif_frames, """
        WITH g AS (
          SELECT doc_id AS media_id, 1 + doc_id % 4 AS nf
          FROM documents WHERE doc_id % 3 = 2)
        SELECT media_id, CAST(t.i AS INT) AS frame_idx,
               CAST(35 AS BIGINT) AS frame_bytes
        FROM g, UNNEST(range(0, nf, 2)) AS t(i)
    """)


def q_audio_features(spark, sf_dir):
    """REAL audio path: synthesized RIFF/WAVE payloads decoded back by
    chunk-walking, energy and zero-crossing statistics computed from
    the actual PCM bytes as exact integers (no float accumulation).
    The oracle recomputes both from the construction formula — a
    mismatch would mean the decoder misread the container."""
    from ..operators.multimodal import audio_features, documents_as_audio
    media = documents_as_audio(_docs(spark, sf_dir))
    return audio_features(media)
query("audio_features", q_audio_features, """
        WITH m AS (
          SELECT doc_id AS media_id, 200 + n_chars % 600 AS n
          FROM documents
        ), s AS (
          SELECT media_id, n, t.i AS i,
                 (media_id * 31 + t.i * 7) % 256 - 128 AS a
          FROM m, UNNEST(range(0, n)) AS t(i)
        ), f AS (
          SELECT media_id, n, a,
                 LAG(a) OVER (PARTITION BY media_id ORDER BY i) AS pa
          FROM s)
        SELECT media_id, 'wav' AS fmt, 8000 AS sample_rate,
               CAST(n AS BIGINT) AS n_samples,
               CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
               CAST(SUM(a * a) AS BIGINT) AS sum_sq,
               CAST(SUM(CASE WHEN pa IS NOT NULL
                              AND ((a >= 0) <> (pa >= 0))
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS zero_crossings
        FROM f GROUP BY media_id, n
    """)


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs, portable md5-hash variant (60-bit
    signature, 4×15-bit LSH bands).  Oracle-checkable end to end: with
    hamming ≤ 3 < bands, pigeonhole guarantees every qualifying pair
    shares a band, so the banded result equals brute-force hamming —
    which is what the DuckDB twin computes."""
    return dedup.simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3,
                                    nbits=60, portable=True)
query("simhash_pairs", q_simhash_pairs, """
        WITH toks AS (
          SELECT doc_id, list_distinct(list_filter(
            string_split_regex(lower(text),'[^a-z0-9]+'),
            x -> x != '')) AS ws
          FROM documents
        ), hashes AS (
          SELECT doc_id,
                 ('0x' || substr(md5(t.tok), 1, 15))::BIGINT AS h
          FROM toks, UNNEST(ws) AS t(tok)
        ), votes AS (
          SELECT doc_id, i.i,
                 SUM(CASE WHEN (h >> i.i) & 1 = 1 THEN 1 ELSE -1 END)
                     AS vote
          FROM hashes CROSS JOIN (SELECT UNNEST(range(60)) AS i) i
          GROUP BY doc_id, i.i
        ), sig AS (
          SELECT doc_id,
                 SUM(CASE WHEN vote > 0 THEN (1::BIGINT << i)
                          ELSE 0 END)::BIGINT AS simhash
          FROM votes GROUP BY doc_id
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash))::INT AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """)


def q_winnow_pairs(spark, sf_dir):
    """Rolling-hash document fingerprinting (winnowing, Schleimer et al.
    SIGMOD'03): near-dup candidate pairs sharing ≥ 2 selected k-gram
    fingerprints.  The DuckDB twin replays the full algorithm — token
    5-grams, 60-bit md5 hashes, min-of-each-4-window selection — so the
    fingerprint sets match bit-for-bit."""
    return dedup.winnow_pairs(_docs(spark, sf_dir), k=5, window=4,
                              min_shared=2)
query("winnow_pairs", q_winnow_pairs, """
        WITH toks AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text),'[^a-z0-9]+'),
            x -> x != '') AS ws
          FROM documents
        ), grams AS (
          SELECT doc_id, list_transform(range(1, len(ws)-5+2),
            i -> ('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')),
                                 1, 15))::BIGINT) AS hs
          FROM toks WHERE len(ws) >= 8
        ), sel AS (
          SELECT doc_id, list_distinct(list_transform(
            range(1, len(hs)-4+2), s -> list_min(hs[s:s+3]))) AS sfps
          FROM grams
        ), fps AS (
          SELECT doc_id, f.fp FROM sel, UNNEST(sfps) AS f(fp)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               COUNT(*)::BIGINT AS n_shared
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """)


def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN probe for vec_id=0, full SQL oracle: the seeded
    hyperplanes are deterministic (random.Random(42).gauss), so the
    oracle inlines the same 6×64 plane literals and replays bucket
    assignment (sign bits), hamming≤1 probe-set selection, and the
    double-precision cosine re-rank.  Both sides fold dots in double, so
    6 dp rounding is far above any accumulation-order drift."""
    emb = _emb(spark, sf_dir)
    qv = list(emb.where(F.col("vec_id") == 0)
              .select("embedding").collect()[0][0])
    indexed, planes = similarity.ann_index(emb, dim=len(qv), bits=6)
    top = similarity.ann_topk(indexed, planes, qv, k=5)
    return (top.where(F.col("vec_id") != 0)
            .select("vec_id", F.round("cosine", 6).alias("cosine")))


def _ann_oracle_sql() -> str:
    """DuckDB twin of q_ann_lsh_topk with the seed-42 planes inlined."""
    planes = similarity._random_hyperplanes(dim=64, bits=6, seed=42)
    lits = ["[" + ", ".join(repr(v) for v in p) + "]::DOUBLE[]"
            for p in planes]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product({{v}}, {lit}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, lit in enumerate(lits))
    return f"""
        WITH q AS (
          SELECT embedding::DOUBLE[] AS qv FROM embeddings
          WHERE vec_id = 0
        ), base AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 {bucket.format(v='embedding::DOUBLE[]')} AS bucket
          FROM embeddings
        ), qb AS (
          SELECT {bucket.format(v='qv')} AS qbucket FROM q
        ), top AS (
          SELECT b.vec_id,
                 list_dot_product(b.v, q.qv)
                   / (sqrt(list_dot_product(b.v, b.v))
                      * sqrt(list_dot_product(q.qv, q.qv))) AS cos
          FROM base b, q, qb
          WHERE bit_count(xor(b.bucket::BIGINT, qb.qbucket::BIGINT)) <= 1
          ORDER BY cos DESC, b.vec_id ASC LIMIT 5
        )
        SELECT vec_id, ROUND(cos, 6) AS cosine FROM top
        WHERE vec_id <> 0
    """
_ANN_LSH_TOPK_ORACLE = _ann_oracle_sql()
query("ann_lsh_topk", q_ann_lsh_topk, _ANN_LSH_TOPK_ORACLE)


def q_lsh_near_dup(spark, sf_dir):
    """Embedding near-dup pairs via multi-table LSH (the scale path the
    O(n²) embedding_near_dup baseline documents).  The fixture has no
    natural near-dups (max pairwise cosine ≈ 0.48), so every 50th vector
    gets a deterministic perturbed twin (+0.1 on dim 0 → cosine ≈ 0.995)
    planted in-query; the oracle replays the perturbation, all four
    seeded hash tables, the candidate join, and the cosine verify."""
    emb = _emb(spark, sf_dir)
    as_double = F.transform(F.col("embedding"),
                            lambda x: x.cast("double"))
    base = emb.select("vec_id", as_double.alias("embedding"))
    pert = (base.where(F.col("vec_id") % 50 == 0)
            .select((F.col("vec_id") + 100000).alias("vec_id"),
                    F.transform(
                        F.col("embedding"),
                        lambda x, i: F.when(i == 0, x + F.lit(0.1))
                                      .otherwise(x)).alias("embedding")))
    corpus = base.unionByName(pert)
    return similarity.lsh_near_dup_pairs(corpus, dim=64, bits=6,
                                         tables=4, min_cosine=0.95)


def _lsh_near_dup_oracle_sql(dim: int = 64, bits: int = 6,
                             tables: int = 4, seed: int = 42,
                             thresh: float = 0.95) -> str:
    """DuckDB twin of q_lsh_near_dup with all four seeded plane sets
    inlined.  Bucket ids use LSB-first bit packing (vs the engine's
    MSB-first fold) — equality collisions are invariant under any
    consistent bit permutation, so the candidate sets are identical.
    The engine's max_bucket=10k cap is not replayed: fixture buckets
    hold ≤ hundreds of vectors, so the cap provably never fires."""
    def bucket(v: str, ps) -> str:
        lits = ["[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"
                for p in ps]
        return " + ".join(
            f"(CASE WHEN list_dot_product({v}, {lit}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, lit in enumerate(lits))

    plane_sets = [similarity._random_hyperplanes(dim, bits, seed + t)
                  for t in range(tables)]
    tag = "\n          UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, {bucket('v', ps)} AS b FROM corpus"
        for t, ps in enumerate(plane_sets))
    return f"""
        WITH base AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), pert AS (
          SELECT vec_id + 100000 AS vec_id,
                 list_transform(range(1, len(v)+1),
                   i -> CASE WHEN i = 1 THEN v[i] + 0.1 ELSE v[i] END) AS v
          FROM base WHERE vec_id % 50 = 0
        ), corpus AS (
          SELECT * FROM base UNION ALL SELECT * FROM pert
        ), tagged AS (
          {tag}
        ), cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM tagged a JOIN tagged b
            ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, ROUND(cos, 6) AS cosine FROM (
          SELECT c.id_a, c.id_b,
                 list_dot_product(x.v, y.v)
                   / (sqrt(list_dot_product(x.v, x.v))
                      * sqrt(list_dot_product(y.v, y.v))) AS cos
          FROM cand c
          JOIN corpus x ON x.vec_id = c.id_a
          JOIN corpus y ON y.vec_id = c.id_b)
        WHERE cos >= {thresh}
    """
query("lsh_near_dup", q_lsh_near_dup, _lsh_near_dup_oracle_sql())


def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join (the plan
    Catalyst picks for EXISTS; the probe side never duplicates rows)."""
    t = load_tables(spark, sf_dir)
    o, l = t["orders"], t["lineitem"]
    hit = o.join(
        l, (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi")
    return hit.groupBy("o_orderpriority") \
              .agg(F.count("*").alias("n_orders"))
query("tpch_q4", q_tpch_q4,
      "SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders o "
      "WHERE EXISTS (SELECT 1 FROM lineitem l "
      "WHERE l.l_orderkey = o.o_orderkey "
      "AND l.l_shipdate > o.o_orderdate) "
      "GROUP BY o_orderpriority")


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5: 6-table join, revenue by nation for one region where the
    supplier and customer share the nation.

    Scale shape: the ASIA-region filter is pushed THROUGH the supplier
    dimension onto the fact table first — lineitem joins the broadcast
    (supplier ⋈ asia-nations) sliver before it ever meets another fact,
    dropping ~4/5 of lineitem ahead of the fact-fact joins.  The orders
    and customer joins carry no hints: the planner sizes them from its
    own evidence (by-estimate broadcast at bench scale, shuffle join
    once the estimate crosses the threshold at cluster scale — the
    self-limiting path, unlike a forced hint).  Only true dimension
    slivers (region, nation, supplier) are broadcast-hinted."""
    t = load_tables(spark, sf_dir)
    dp = (F.col("l_extendedprice").cast("decimal(18,2)")
          * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
    asia_nations = (t["nation"]
                    .join(F.broadcast(t["region"].where(
                        F.col("r_name") == "ASIA")),
                        F.col("n_regionkey") == F.col("r_regionkey"))
                    .select("n_nationkey", "n_name"))
    sup_asia = (t["supplier"]
                .join(F.broadcast(asia_nations),
                      F.col("s_nationkey") == F.col("n_nationkey"))
                .select("s_suppkey", "s_nationkey", "n_name"))
    la = (t["lineitem"]
          .join(F.broadcast(sup_asia),
                F.col("l_suppkey") == F.col("s_suppkey"))
          .select("l_orderkey", "s_nationkey", "n_name", dp.alias("dp")))
    return (la
            .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
            .join(t["customer"], (F.col("o_custkey") == F.col("c_custkey"))
                  & (F.col("s_nationkey") == F.col("c_nationkey")))
            .groupBy("n_name")
            .agg(F.sum("dp").cast("double").alias("revenue")))
query("tpch_q5", q_tpch_q5, """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """)


def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue share — conditional aggregation over
    a fact-dimension join, one scalar out."""
    t = load_tables(spark, sf_dir)
    dp = (F.col("l_extendedprice").cast("decimal(18,2)")
          * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
    j = (t["lineitem"]
         .where((F.col("l_shipdate") >= "1996-01-01")
                & (F.col("l_shipdate") < "1997-01-01"))
         .join(F.broadcast(t["part"]),
               F.col("l_partkey") == F.col("p_partkey")))
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", dp)
              .otherwise(F.lit(0).cast("decimal(18,2)")))
         .alias("promo"),
        F.sum(dp).alias("total"))
    return agg.select(
        (F.col("promo").cast("double") * 100.0
         / F.col("total").cast("double")).alias("promo_pct"))
query("tpch_q14", q_tpch_q14, """
        SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
                         CAST(1 - l_discount AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100.0
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                          CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
               AS promo_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
    """)


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape: large-volume orders — HAVING on a grouped fact,
    then a semi-join back to orders/customer.  The heavy group-by happens
    before any join, so only qualifying keys reach the join."""
    t = load_tables(spark, sf_dir)
    big = (t["lineitem"].groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .alias("sum_qty"))
           .where(F.col("sum_qty") > 150))
    return (t["orders"]
            .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(t["customer"],
                  F.col("o_custkey") == F.col("c_custkey"))
            .select("c_custkey", "o_orderkey",
                    F.col("sum_qty").cast("double").alias("sum_qty")))
query("tpch_q18", q_tpch_q18, """
        SELECT c_custkey, o_orderkey, CAST(sum_qty AS DOUBLE) AS sum_qty
        FROM orders
        JOIN (SELECT l_orderkey,
                     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150) big
          ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
    """)


def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 shape: volume shipped between two specific nations
    (supplier nation → customer nation), grouped by year.  Both nation
    filters prune before the fact join; dims broadcast."""
    t = load_tables(spark, sf_dir)
    dp = (F.col("l_extendedprice").cast("decimal(18,2)")
          * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
    n1 = t["nation"].where(F.col("n_name") == "NATION_1") \
        .select(F.col("n_nationkey").alias("supp_nk"))
    n2 = t["nation"].where(F.col("n_name") == "NATION_2") \
        .select(F.col("n_nationkey").alias("cust_nk"))
    return (t["lineitem"]
            .join(F.broadcast(t["supplier"].join(
                F.broadcast(n1), F.col("s_nationkey") == F.col("supp_nk"))),
                F.col("l_suppkey") == F.col("s_suppkey"))
            .join(t["orders"],
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(t["customer"].join(
                F.broadcast(n2), F.col("c_nationkey") == F.col("cust_nk")),
                F.col("o_custkey") == F.col("c_custkey"))
            .groupBy(F.year("l_shipdate").alias("l_year"))
            .agg(F.sum(dp).cast("double").alias("revenue")))
query("tpch_q7", q_tpch_q7, """
        SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
                      AND n1.n_name = 'NATION_1'
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
                      AND n2.n_name = 'NATION_2'
        GROUP BY l_year
    """)


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns
    (l_returnflag = 'R'), with nation — group-heavy join + ordered
    limit with key tiebreak."""
    t = load_tables(spark, sf_dir)
    dp = (F.col("l_extendedprice").cast("decimal(18,2)")
          * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
    g = (t["lineitem"].where(F.col("l_returnflag") == "R")
         .join(t["orders"],
               F.col("l_orderkey") == F.col("o_orderkey"))
         .groupBy("o_custkey").agg(F.sum(dp).alias("rev")))
    return (g.join(t["customer"],
                   F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(t["nation"]),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select(F.col("c_custkey"), F.col("c_name"), F.col("n_name"),
                    F.col("rev").cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
            .limit(20))
query("tpch_q10", q_tpch_q10, """
        SELECT c_custkey, c_name, n_name,
               CAST(rev AS DOUBLE) AS revenue
        FROM (SELECT o_custkey,
                     SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         CAST(1 - l_discount AS DECIMAL(18,2))) AS rev
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_returnflag = 'R'
              GROUP BY o_custkey) g
        JOIN customer ON g.o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """)


def q_above_nation_avg(spark, sf_dir):
    """Correlated-subquery shape (customers above their nation's mean
    acctbal), decorrelated to a grouped join.  The comparison multiplies
    through by the count — decimal-exact, no float-division drift."""
    t = load_tables(spark, sf_dir)
    stats = (t["customer"].groupBy(F.col("c_nationkey").alias("nk"))
             .agg(F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                  .alias("bal_sum"),
                  F.count("*").alias("cnt")))
    return (t["customer"]
            .join(F.broadcast(stats), F.col("c_nationkey") == F.col("nk"))
            .where(F.col("c_acctbal").cast("decimal(18,2)")
                   * F.col("cnt") > F.col("bal_sum"))
            .select("c_custkey"))
query("above_nation_avg", q_above_nation_avg, """
        SELECT c_custkey
        FROM customer
        JOIN (SELECT c_nationkey AS nk,
                     SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum,
                     COUNT(*) AS cnt
              FROM customer GROUP BY c_nationkey) s
          ON c_nationkey = s.nk
        WHERE CAST(c_acctbal AS DECIMAL(18,2)) * cnt > bal_sum
    """)


def q_running_total(spark, sf_dir):
    """Cumulative window frame: per-customer running order total in
    order-date order (ROWS UNBOUNDED PRECEDING, orderkey tiebreak,
    decimal accumulation so partial-sum order cannot drift)."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql import Window as W
    w = (W.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (t["orders"]
            .where(F.col("o_custkey") < 100)
            .select("o_custkey", "o_orderkey",
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    .over(w).cast("double").alias("running_total")))
query("running_total", q_running_total, """
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                    PARTITION BY o_custkey
                    ORDER BY o_orderdate ASC, o_orderkey ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS running_total
        FROM orders WHERE o_custkey < 100
    """)


def q_ntile_quartiles(spark, sf_dir):
    """NTILE window: suppliers bucketed into acctbal quartiles
    (suppkey tiebreak keeps the bucketing deterministic)."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql import Window as W
    w = W.orderBy(F.col("s_acctbal").asc(), F.col("s_suppkey").asc())
    return t["supplier"].select(
        "s_suppkey", F.ntile(4).over(w).alias("quartile"))
query("ntile_quartiles", q_ntile_quartiles,
      "SELECT s_suppkey, NTILE(4) OVER "
      "(ORDER BY s_acctbal ASC, s_suppkey ASC) AS quartile "
      "FROM supplier")


def q_event_funnel(spark, sf_dir):
    """Funnel conversion: users whose first 'view' precedes their last
    'purchase'.  One conditional aggregation per user — no self-join,
    no window; shuffles exactly once on user_id."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts")))
         .alias("first_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts")))
         .alias("last_purchase"))
    return per_user.agg(
        F.count(F.col("first_view")).alias("n_viewers"),
        F.sum(F.when(F.col("first_view") < F.col("last_purchase"), 1)
              .otherwise(0)).cast("long").alias("n_converted"))
query("event_funnel", q_event_funnel, """
        SELECT COUNT(first_view) AS n_viewers,
               CAST(SUM(CASE WHEN first_view < last_purchase
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        FROM (SELECT user_id,
                     MIN(CASE WHEN event_type = 'view' THEN ts END)
                         AS first_view,
                     MAX(CASE WHEN event_type = 'purchase' THEN ts END)
                         AS last_purchase
              FROM events GROUP BY user_id)
    """)


def q_event_props_json(spark, sf_dir):
    """P4 over a RAW table (not the graph encoding): JSON-path extraction
    from the events.props varchar column, aggregated per event type."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"), F.count(k).alias("k_cnt"))
query("event_props_json", q_event_props_json,
      "SELECT event_type, "
      "CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) "
      "AS BIGINT) AS k_sum, "
      "COUNT(json_extract_string(props, '$.k')) AS k_cnt "
      "FROM events GROUP BY event_type")


def _dp():
    """Discounted-price term, decimal-exact (order-independent sums)."""
    return (F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))


def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 shape (national market share): NATION_3's share of STANDARD
    part revenue sold to AMERICA-region customers, per year.  Every
    dimension broadcasts; the conditional numerator folds into the same
    group-by as the denominator (one pass, no self-join)."""
    t = load_tables(spark, sf_dir)
    am_nations = (t["nation"]
                  .join(F.broadcast(t["region"].where(
                      F.col("r_name") == "AMERICA")),
                      F.col("n_regionkey") == F.col("r_regionkey"))
                  .select(F.col("n_nationkey").alias("cust_nk")))
    supp_n = (t["supplier"]
              .join(F.broadcast(t["nation"].select(
                  F.col("n_nationkey").alias("snk"),
                  F.col("n_name").alias("supp_nation"))),
                  F.col("s_nationkey") == F.col("snk")))
    j = (t["lineitem"]
         .join(F.broadcast(t["part"].where(F.col("p_type") == "STANDARD")),
               F.col("l_partkey") == F.col("p_partkey"))
         .join(t["orders"].where(
             (F.col("o_orderdate") >= "1995-01-01")
             & (F.col("o_orderdate") < "1997-01-01")),
             F.col("l_orderkey") == F.col("o_orderkey"))
         .join(t["customer"],
               F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(am_nations),
               F.col("c_nationkey") == F.col("cust_nk"))
         .join(F.broadcast(supp_n),
               F.col("l_suppkey") == F.col("s_suppkey")))
    return (j.groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(F.sum(F.when(F.col("supp_nation") == "NATION_3", _dp())
                       .otherwise(F.lit(0).cast("decimal(18,2)")))
                 .cast("double").alias("nation_rev"),
                 F.sum(_dp()).cast("double").alias("total_rev")))
query("tpch_q8", q_tpch_q8, """
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
               CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                             THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
                                  CAST(1 - l_discount AS DECIMAL(18,2))
                             ELSE CAST(0 AS DECIMAL(18,2)) END)
                    AS DOUBLE) AS nation_rev,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        CAST(1 - l_discount AS DECIMAL(18,2)))
                    AS DOUBLE) AS total_rev
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey AND p_type = 'STANDARD'
        JOIN orders   ON l_orderkey = o_orderkey
                     AND o_orderdate >= TIMESTAMP '1995-01-01'
                     AND o_orderdate <  TIMESTAMP '1997-01-01'
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
                     AND r_name = 'AMERICA'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        GROUP BY o_year
    """)


def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit): revenue by supplier nation ×
    order year for parts whose name contains 'widget' (fixture has no
    partsupp, so profit = discounted revenue; the join/agg topology — part
    filter pruning the fact, two broadcast dims, two-level group — is
    Q9's).  Ref: graphydb.py:952-1016 fetch compiles multi-table joins
    the same declarative way."""
    t = load_tables(spark, sf_dir)
    supp_n = (t["supplier"]
              .join(F.broadcast(t["nation"].select(
                  F.col("n_nationkey").alias("snk"),
                  F.col("n_name").alias("nation"))),
                  F.col("s_nationkey") == F.col("snk")))
    return (t["lineitem"]
            .join(F.broadcast(t["part"].where(
                F.col("p_name").contains("widget"))),
                F.col("l_partkey") == F.col("p_partkey"))
            .join(t["orders"],
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(supp_n),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy(F.col("nation"),
                     F.year("o_orderdate").alias("o_year"))
            .agg(F.sum(_dp()).cast("double").alias("sum_profit")))
query("tpch_q9", q_tpch_q9, """
        SELECT n_name AS nation,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        CAST(1 - l_discount AS DECIMAL(18,2)))
                    AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
                     AND p_name LIKE '%widget%'
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY n_name, o_year
    """)


def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape (late shipments by priority): lines shipped >30
    days after order date in 1996, split urgent/non-urgent per
    linestatus.  The date filter reaches the lineitem scan; orders
    broadcasts."""
    t = load_tables(spark, sf_dir)
    late = (t["lineitem"]
            .where((F.col("l_shipdate") >= "1996-01-01")
                   & (F.col("l_shipdate") < "1997-01-01"))
            .join(t["orders"],
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .where(F.col("l_shipdate")
                   > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")))
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (late.groupBy("l_linestatus")
            .agg(F.sum(F.when(urgent, 1).otherwise(0)).cast("long")
                 .alias("high_line_count"),
                 F.sum(F.when(urgent, 0).otherwise(1)).cast("long")
                 .alias("low_line_count")))
query("tpch_q12", q_tpch_q12, """
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT)
                   AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        GROUP BY l_linestatus
    """)


def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution): LEFT join so
    zero-order customers survive, two-level aggregation.  First group-by
    keys on the FK (pre-aggregates map-side); the histogram group-by is
    tiny."""
    t = load_tables(spark, sf_dir)
    per_cust = (t["customer"]
                .join(t["orders"],
                      F.col("c_custkey") == F.col("o_custkey"), "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist")))
query("tpch_q13", q_tpch_q13, """
        SELECT c_count, COUNT(*) AS custdist
        FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey)
        GROUP BY c_count
    """)


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): quarterly revenue per supplier, return
    the max-revenue supplier(s) via a broadcast join against the 1-row
    max — no rank/window over the whole aggregate."""
    t = load_tables(spark, sf_dir)
    rev = (t["lineitem"]
           .where((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1996-04-01"))
           .groupBy("l_suppkey")
           .agg(F.sum(_dp()).alias("total_rev")))
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    return (rev.join(F.broadcast(top),
                     F.col("total_rev") == F.col("max_rev"))
            .join(F.broadcast(t["supplier"]),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name",
                    F.col("total_rev").cast("double").alias("total_rev")))
query("tpch_q15", q_tpch_q15, """
        WITH rev AS (
            SELECT l_suppkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                       CAST(1 - l_discount AS DECIMAL(18,2))) AS total_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """)


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity revenue): revenue from lines under
    20% of their part's mean quantity, for one brand.  The per-part mean
    is a broadcast aggregate of the same filtered join — decorrelated,
    two passes over a brand-pruned sliver instead of a correlated
    subquery per row."""
    t = load_tables(spark, sf_dir)
    brand_lines = (t["lineitem"]
                   .join(F.broadcast(t["part"].where(
                       F.col("p_brand") == "Brand#13")),
                       F.col("l_partkey") == F.col("p_partkey")))
    avg_q = (brand_lines.groupBy(F.col("l_partkey").alias("pk"))
             .agg(F.avg("l_quantity").alias("avg_qty")))
    return (brand_lines
            .join(F.broadcast(avg_q), F.col("l_partkey") == F.col("pk"))
            .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
            .agg((F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                  .cast("double") / F.lit(7.0)).alias("avg_yearly")))
query("tpch_q17", q_tpch_q17, """
        WITH bl AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#13')
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DOUBLE) / 7.0 AS avg_yearly
        FROM bl
        JOIN (SELECT l_partkey AS pk, AVG(l_quantity) AS avg_qty
              FROM bl GROUP BY l_partkey) a
          ON l_partkey = a.pk
        WHERE l_quantity < 0.2 * avg_qty
    """)


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape (disjunctive predicate pushdown): three OR'd
    brand/size/quantity bands over a part-lineitem join.  Catalyst pushes
    the common conjuncts and the per-branch part predicates into the
    scans; the OR evaluates post-join."""
    t = load_tables(spark, sf_dir)
    j = t["lineitem"].join(F.broadcast(t["part"]),
                           F.col("l_partkey") == F.col("p_partkey"))
    band = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#13") & (F.col("p_size") <= 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 15)
           & F.col("l_quantity").between(20, 30)))
    return j.where(band).agg(
        F.sum(_dp()).cast("double").alias("revenue"))
query("tpch_q19", q_tpch_q19, """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        CAST(1 - l_discount AS DECIMAL(18,2)))
                    AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size <= 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#13' AND p_size <= 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#23' AND p_size <= 15
               AND l_quantity BETWEEN 20 AND 30)
    """)


def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): rich-but-inactive
    customers per nation — scalar subquery for the positive-balance mean,
    anti join against recent orders, small group-by.  The anti join's
    build side is date-filtered and projected to the key column before
    the shuffle.  ('Inactive' = no order since 2000; the fixture gives
    every customer at least one lifetime order, so the pure NOT-EXISTS
    of spec-Q22 would be the empty set.)"""
    t = load_tables(spark, sf_dir)
    avg_bal = (t["customer"].where(F.col("c_acctbal") > 0)
               .agg(F.avg("c_acctbal").alias("avg_bal")))
    rich = (t["customer"]
            .join(F.broadcast(avg_bal))
            .where(F.col("c_acctbal") > F.col("avg_bal")))
    recent = (t["orders"]
              .where(F.col("o_orderdate") >= "2000-01-01")
              .select("o_custkey"))
    inactive = rich.join(recent,
                         F.col("c_custkey") == F.col("o_custkey"),
                         "left_anti")
    return (inactive.groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg(F.count("*").alias("numcust"),
                 F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                 .cast("double").alias("totacctbal")))
query("tpch_q22", q_tpch_q22, """
        SELECT c_nationkey AS nationkey,
               COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                           WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_nationkey
    """)


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language sampling of the corpus (hash-gated
    rates: en 0.8, de 0.5, fr/es 0.25, default 0.1) — the reproducible
    alternative to TABLESAMPLE a training pipeline needs for stable
    splits.  Narrow filter, no shuffle."""
    from ..operators.pipeline import stratified_sample
    docs = _docs(spark, sf_dir)
    out = stratified_sample(
        docs, "lang",
        {"en": 0.8, "de": 0.5, "fr": 0.25, "es": 0.25},
        key_col="doc_id", default_rate=0.1)
    return out.select("doc_id", "lang")
# hash-gated sampling twins: keep ⇔ 16-bit md5 prefix < floor(rate·2^16)
# rendered as %04x (fixed-width hex orders like the integer; rate ≥ 1
# special-cased — its threshold would be 5 chars and mis-compare)
query("stratified_sample", q_stratified_sample, """
        WITH r AS (
          SELECT doc_id, lang,
                 CASE lang WHEN 'en' THEN 0.8 WHEN 'de' THEN 0.5
                           WHEN 'fr' THEN 0.25 WHEN 'es' THEN 0.25
                           ELSE 0.1 END AS rate
          FROM documents)
        SELECT doc_id, lang FROM r
        WHERE rate >= 1.0
           OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
              < printf('%04x', CAST(floor(rate * 65536) AS INT))
    """)


def q_mixture_sample(spark, sf_dir):
    """Training-mix construction: down-sample sources to target weights
    (src0:0.5 src1:0.3 src2:0.2), keeping the bottleneck source whole.
    One tiny count aggregate broadcast back; the corpus itself never
    shuffles."""
    from ..operators.pipeline import mixture_sample
    docs = _docs(spark, sf_dir)
    out = mixture_sample(docs, "source",
                         {"src0": 0.5, "src1": 0.3, "src2": 0.2},
                         key_col="doc_id")
    return out.select("doc_id", "source")
query("mixture_sample", q_mixture_sample, """
        WITH counts AS (
          SELECT source, COUNT(*) AS n,
                 CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
                             WHEN 'src2' THEN 0.2 END AS w
          FROM documents GROUP BY source
        ), kept AS (SELECT * FROM counts WHERE w IS NOT NULL),
        cap AS (SELECT MIN(n / w) AS c FROM kept),
        rates AS (SELECT source, (c * w / n) AS rate FROM kept, cap)
        SELECT d.doc_id, d.source
        FROM documents d JOIN rates USING (source)
        WHERE rate >= 1.0
           OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
              < printf('%04x', CAST(floor(rate * 65536) AS INT))
    """)


def q_pack_shards(spark, sf_dir):
    """Token-budget shard packing: lay documents out per language in
    doc_id order, close a shard every 2000 cumulative chars; returns
    per-shard stats.  One per-language sort + window cumsum."""
    from ..operators.pipeline import pack_shards
    docs = _docs(spark, sf_dir)
    packed = pack_shards(docs, "doc_id", "n_chars", budget=2000,
                         partition_col="lang")
    return (packed.groupBy("lang", "shard_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("shard_chars")))
query("pack_shards", q_pack_shards, """
        WITH c AS (
          SELECT lang, doc_id, n_chars,
                 SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM documents)
        SELECT lang,
               CAST(floor((cum - n_chars) / 2000) AS BIGINT) AS shard_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS shard_chars
        FROM c GROUP BY lang, shard_id
    """)


def q_pii_redact(spark, sf_dir):
    """PII masking (emails / phone numbers / IPv4) as chained JVM-side
    regexp_replace.  Synthetic PII derived from doc_id is appended first
    so every row actually exercises all three patterns; the DuckDB twin
    builds and redacts the identical string."""
    from ..operators.pipeline import pii_redact
    docs = _docs(spark, sf_dir)
    seeded = docs.withColumn(
        "text",
        F.concat(F.col("text"),
                 F.lit(" contact user"), F.col("doc_id").cast("string"),
                 F.lit("@example.com or 555-123-4567 at 10.0."),
                 (F.col("doc_id") % 256).cast("string"), F.lit(".7")))
    return pii_redact(seeded).select("doc_id", "redacted")
query("pii_redact", q_pii_redact, r"""
        SELECT doc_id,
          regexp_replace(
            regexp_replace(
              regexp_replace(
                text || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com or 555-123-4567 at 10.0.'
                     || CAST(doc_id % 256 AS VARCHAR) || '.7',
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                '<EMAIL>', 'g'),
              '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g'),
            '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS redacted
        FROM documents
    """)


def q_quality_filter(spark, sf_dir):
    """Gopher-style rule gate with per-rule attrition flags (token band,
    mean token length band, symbol ratio, stopword hits) — one codegen
    pass over the text column."""
    from ..operators.pipeline import quality_filter
    docs = _docs(spark, sf_dir)
    return quality_filter(docs).select(
        "doc_id", "ok_tokens", "ok_avg_len", "ok_symbols",
        "ok_stopwords", "keep")
query("quality_filter", q_quality_filter, """
        WITH t AS (
          SELECT doc_id, text,
            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                        x -> x != '') AS toks
          FROM documents),
        m AS (
          SELECT doc_id, text, len(toks) AS n,
            length(array_to_string(toks, ''))
              / greatest(len(toks), 1) AS avg_len,
            length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
              / greatest(length(text), 1) AS sym_ratio,
            len(list_filter(toks, x -> list_contains(
              ['the','a','of','and','to','in','is','for','on','with'], x)))
              AS sw_hits
          FROM t)
        SELECT doc_id,
               (n >= 20 AND n <= 100000) AS ok_tokens,
               (avg_len >= 2.0 AND avg_len <= 12.0) AS ok_avg_len,
               (sym_ratio <= 0.10) AS ok_symbols,
               (sw_hits >= 2) AS ok_stopwords,
               ((n >= 20 AND n <= 100000)
                AND (avg_len >= 2.0 AND avg_len <= 12.0)
                AND (sym_ratio <= 0.10)
                AND (sw_hits >= 2)) AS keep
        FROM m
    """)


def q_sssp_cost(spark, sf_dir):
    """Weighted single-source shortest paths (Bellman-Ford over
    DataFrames, ≤3 hops from Region:ASIA's node) on the bidirected
    Region–Nation–Customer graph with deterministic synthetic edge
    weights.  Iteration k holds the exact ≤k-hop minimum, which the
    hop-bounded recursive-CTE oracle replays."""
    from ..operators.graph_algos import sssp
    t = load_tables(spark, sf_dir)

    def _e(df, ak, acol, bk, bcol, w):
        fwd = df.select(
            F.concat(F.lit(ak + ":"), F.col(acol).cast("string"))
             .alias("src"),
            F.concat(F.lit(bk + ":"), F.col(bcol).cast("string"))
             .alias("dst"),
            w.cast("long").alias("w"))
        rev = df.select(
            F.concat(F.lit(bk + ":"), F.col(bcol).cast("string"))
             .alias("src"),
            F.concat(F.lit(ak + ":"), F.col(acol).cast("string"))
             .alias("dst"),
            w.cast("long").alias("w"))
        return fwd.unionByName(rev)

    edges = _e(t["nation"], "Nation", "n_nationkey", "Region", "n_regionkey",
               F.col("n_nationkey") % 5 + 1) \
        .unionByName(_e(t["customer"], "Customer", "c_custkey",
                        "Nation", "c_nationkey",
                        F.col("c_custkey") % 7 + 1))
    seeds = (t["region"].where(F.col("r_name") == "ASIA")
             .select(F.concat(F.lit("Region:"),
                              F.col("r_regionkey").cast("string"))
                     .alias("uid")))
    return sssp(edges, seeds, max_hops=3).select("uid", "dist")
query("sssp_cost", q_sssp_cost, """
        WITH RECURSIVE
        ed(a, b, w) AS (
          SELECT 'Nation:' || CAST(n_nationkey AS VARCHAR),
                 'Region:' || CAST(n_regionkey AS VARCHAR),
                 n_nationkey % 5 + 1 FROM nation
          UNION ALL
          SELECT 'Region:' || CAST(n_regionkey AS VARCHAR),
                 'Nation:' || CAST(n_nationkey AS VARCHAR),
                 n_nationkey % 5 + 1 FROM nation
          UNION ALL
          SELECT 'Customer:' || CAST(c_custkey AS VARCHAR),
                 'Nation:' || CAST(c_nationkey AS VARCHAR),
                 c_custkey % 7 + 1 FROM customer
          UNION ALL
          SELECT 'Nation:' || CAST(c_nationkey AS VARCHAR),
                 'Customer:' || CAST(c_custkey AS VARCHAR),
                 c_custkey % 7 + 1 FROM customer
        ),
        walk(uid, hops, d) AS (
          SELECT 'Region:' || CAST(r_regionkey AS VARCHAR), 0, 0
          FROM region WHERE r_name = 'ASIA'
          UNION ALL
          SELECT ed.b, w.hops + 1, w.d + ed.w FROM walk w
          JOIN ed ON ed.a = w.uid WHERE w.hops < 3
        )
        SELECT uid, CAST(MIN(d) AS BIGINT) AS dist FROM walk GROUP BY uid
    """)


# Session-lifetime co-bucketed layout for the recurring interval join —
# the standing-pipeline shape (like _retrieval_indexes): the µs
# conversion + bucket explode + (key, bucket) clustering are paid once
# per session, every probe joins bucket files pairwise with zero
# Exchange.  Memoized per (session, sf_dir); bench warm-ups absorb the
# build and the timed runs measure the steady-state probe.
_IJB_CACHE: dict = {}


def _interval_layout(spark, sf_dir):
    key = (id(spark), sf_dir)
    got = _IJB_CACHE.get(key)
    # the cached value is a pair of CATALOG table names, which die with
    # the session that registered them — unlike the path-valued caches
    # (_RIDX/_IVFPQ, whose snapshot files outlive any session).  If
    # CPython recycles id(spark) for a NEW session, or the tables were
    # dropped, the stale names must not be returned (ADVICE r6):
    # verify both exist in THIS session's catalog before trusting.
    if got and all(spark.catalog.tableExists(t) for t in got):
        return got
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile
    from ..streaming.windows import interval_join_layout
    # the table NAME carries the session id too: sessions sharing one
    # SparkContext share one catalog, so a (pid, sf)-only name would
    # let a second session's rebuild DROP the tables out from under
    # the first session's already-built DataFrames
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    sid = f"{os.getpid()}_{id(spark):x}_{tag}"
    lt, rt = f"gdb_ij_{sid}_l", f"gdb_ij_{sid}_r"
    ev = _events(spark, sf_dir)
    prefix = os.path.join(tempfile.gettempdir(),
                          f"graphydb_spark_ij_{sid}")
    # data-proportional bucket count (round 9, the tune_shuffle_for_input
    # formula): the fixed default of 32 buckets gave every probe 32+
    # task dispatches for ~3k rows each at sf0.1 — pure scheduling
    # overhead — while at corpus scale the same formula grows the
    # bucket count with the data (~50k rows / bucket).
    par = spark.sparkContext.defaultParallelism
    n_buckets = max(8, min(ev.count() // 50_000 + 1, par * 4))
    interval_join_layout(
        spark, ev, ev, lt, rt, key_col="user_id", ts_col="ts",
        lower_s=1, upper_s=120, n_buckets=n_buckets, path_prefix=prefix)
    atexit.register(shutil.rmtree, prefix, ignore_errors=True)
    _IJB_CACHE[key] = (lt, rt)
    return lt, rt


def q_interval_join_events(spark, sf_dir):
    """Event-pair interval join (batch twin of the watermarked
    stream-stream join): same-user event pairs where the right event
    follows the left by 1-120 s, SERVED from the session's co-bucketed
    layout (interval_join_layout — both sides pre-bucketed and sorted
    by (user, band-bucket), built once per session like the retrieval
    indexes): the probe is a bucket-pairwise equi-join with ZERO
    Exchange and a long-comparison band residual.  Result-identical to
    the per-run interval_join plan (same decomposition, layout moved
    to write time); the DuckDB anchor gets the same standing treatment
    in scripts/duck_bench.py --standing-index.  Measured ×1/×10/×100
    pairs in scripts/interval_bucketed_pair.py."""
    from ..streaming.windows import interval_join_bucketed
    lt, rt = _interval_layout(spark, sf_dir)
    return interval_join_bucketed(spark, lt, rt, key_col="user_id",
                                  lower_s=1, upper_s=120)
query("interval_join_events", q_interval_join_events, """
        SELECT a.user_id, a.event_id AS left_id, b.event_id AS right_id
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND b.ts >= a.ts + INTERVAL 1 SECOND
         AND b.ts <= a.ts + INTERVAL 120 SECOND
    """)


def q_corpus_pipeline(spark, sf_dir):
    """End-to-end corpus construction in ONE lazy DAG: quality gate →
    exact dedup (min doc_id per content fingerprint) → 50% hash-gated
    sample → token-budget shard packing → per-shard stats.  Each stage
    is the already-verified operator; composing them adds no extra
    shuffles beyond the stages' own (the whole pipeline is 2 shuffles:
    the dedup window and the packing sort — filters and fingerprints
    ride the same scan).  The DuckDB twin replays all four stages as a
    CTE chain."""
    from ..operators.pipeline import pack_shards, quality_filter
    from ..operators.text import fingerprint, spread_scan_by_bytes
    from pyspark.sql import Window as W

    # The quality-gate token walk + fingerprint run BELOW the dedup
    # window's exchange, i.e. in the scan stage — a single-row-group
    # corpus file serializes all of it onto one core.  Spread
    # bytes-proportionally (round 10): no-op at bench scale (the r9
    # fixed-width sweep measured every width a loss there), ~1 slot per
    # 2 MB of uncompressed text beyond it — the ×10 profile showed the
    # serialized walk as this query's whole wall.
    docs = spread_scan_by_bytes(_docs(spark, sf_dir))
    clean = quality_filter(docs).where(F.col("keep")) \
        .select("doc_id", "lang", "text", "n_chars")
    w = W.partitionBy("fp").orderBy("doc_id")
    deduped = (fingerprint(clean)
               .withColumn("_rn", F.row_number().over(w))
               .where(F.col("_rn") == 1).drop("_rn", "fp"))
    sampled = deduped.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < "8000")
    packed = pack_shards(sampled, "doc_id", "n_chars", budget=4000,
                         partition_col="lang")
    return (packed.groupBy("lang", "shard_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("shard_chars")))
query("corpus_pipeline", q_corpus_pipeline, r"""
        WITH q AS (
          SELECT doc_id, lang, text, n_chars,
            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                        x -> x != '') AS toks
          FROM documents),
        m AS (
          SELECT doc_id, lang, text, n_chars, toks FROM q
          WHERE len(toks) >= 20 AND len(toks) <= 100000
            AND length(array_to_string(toks, ''))
                / greatest(len(toks), 1) >= 2.0
            AND length(array_to_string(toks, ''))
                / greatest(len(toks), 1) <= 12.0
            AND length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                / greatest(length(text), 1) <= 0.10
            AND len(list_filter(toks, x -> list_contains(
              ['the','a','of','and','to','in','is','for','on','with'], x)))
                >= 2),
        f AS (SELECT doc_id, lang, n_chars,
                     md5(array_to_string(toks, ' ')) AS fp FROM m),
        d AS (SELECT doc_id, lang, n_chars FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY fp
                  ORDER BY doc_id) AS rn FROM f) WHERE rn = 1),
        s AS (SELECT * FROM d
              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'),
        c AS (SELECT lang, doc_id, n_chars,
                SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM s)
        SELECT lang,
               CAST(floor((cum - n_chars) / 4000) AS BIGINT) AS shard_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS shard_chars
        FROM c GROUP BY lang, shard_id
    """)


def q_optional_match(spark, sf_dir):
    """Beyond-reference OPTIONAL MATCH: orders per customer INCLUDING
    zero-order customers — ``-(pl?:Placed)>`` compiles to a LEFT JOIN
    suffix (kind predicate inside ON), which the reference's inner-only
    chain DSL cannot express (its group_count twin silently drops
    customers with no orders)."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch(
        "[c:Customer,ordercount] -(pl?:Placed)> (o)",
        GROUP="c.uid", ordercount="COUNT(pl.uid)",
        as_df=True).select("uid", "ordercount")
query("optional_match", q_optional_match, """
        SELECT 'Customer:' || CAST(c.c_custkey AS VARCHAR) AS uid,
               COUNT(o.o_orderkey) AS ordercount
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    """)


#: pair expansion is n(n-1)/2 per basket — one pathological 10k-item
#: basket would emit 5e7 pairs from a single key.  TPC-H baskets hold
#: ≤7 items so the cap never binds at test scale; the oracle SQL
#: replays the same HAVING guard so semantics agree by construction.
MAX_BASKET = 256


def q_basket_lift(spark, sf_dir):
    """Market-basket association metrics for the 20 most co-purchased
    part pairs: support count, confidence and lift from exact integer
    counts (ratios round to 6 dp).  Pair counts ride the order-keyed
    self-join; per-part support broadcasts back.  Baskets larger than
    MAX_BASKET are excluded from pair expansion (quadratic-blowup
    guard, see relational.cap_group_size); support counts and the
    order total stay global."""
    li = (load_tables(spark, sf_dir)["lineitem"]
          .select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p")).distinct())
    n_orders = li.select("o").distinct().count()
    li_cap = relational.cap_group_size(li, "o", MAX_BASKET)
    a, b = li_cap.alias("a"), li_cap.alias("b")
    pairs = (a.join(b, (F.col("a.o") == F.col("b.o"))
                    & (F.col("a.p") < F.col("b.p")))
             .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
             .agg(F.count("*").alias("n_ab")))
    supp = li.groupBy("p").agg(F.count("*").alias("n"))
    sa = supp.select(F.col("p").alias("pa"), F.col("n").alias("n_a"))
    sb = supp.select(F.col("p").alias("pb"), F.col("n").alias("n_b"))
    return (pairs.join(F.broadcast(sa), "pa").join(F.broadcast(sb), "pb")
            .select("pa", "pb", "n_ab",
                    F.round(F.col("n_ab").cast("double") / F.col("n_a"), 6)
                    .alias("confidence"),
                    F.round(F.col("n_ab").cast("double") * n_orders
                            / (F.col("n_a") * F.col("n_b")), 6)
                    .alias("lift"))
            .orderBy(F.col("n_ab").desc(), "pa", "pb").limit(20))
query("basket_lift", q_basket_lift, """
        WITH e AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                   FROM lineitem),
        small AS (SELECT o FROM e GROUP BY o HAVING COUNT(*) <= 256),
        ec AS (SELECT e.* FROM e JOIN small USING (o)),
        pairs AS (
          SELECT a.p AS pa, b.p AS pb, COUNT(*) AS n_ab
          FROM ec a JOIN ec b ON a.o = b.o AND a.p < b.p
          GROUP BY 1, 2),
        supp AS (SELECT p, COUNT(*) AS n FROM e GROUP BY p),
        tot AS (SELECT COUNT(DISTINCT o) AS n_orders FROM e)
        SELECT pa, pb, n_ab,
               round(CAST(n_ab AS DOUBLE) / sa.n, 6) AS confidence,
               round(CAST(n_ab AS DOUBLE) * n_orders / (sa.n * sb.n), 6)
                 AS lift
        FROM pairs
        JOIN supp sa ON sa.p = pa
        JOIN supp sb ON sb.p = pb, tot
        ORDER BY n_ab DESC, pa, pb LIMIT 20
    """)


def q_cumulative_users(spark, sf_dir):
    """Daily new + cumulative distinct users.  The scale-correct
    rewrite: a running COUNT(DISTINCT) recounts every prefix
    (quadratic); first-seen-date per user + a cumulative sum of daily
    news is two aggregations and one tiny ordered window."""
    ev = _events(spark, sf_dir)
    from pyspark.sql import Window as W
    firsts = (ev.groupBy("user_id")
              .agg(F.min(F.col("ts").cast("date")).alias("d")))
    daily = firsts.groupBy("d").agg(F.count("*").alias("new_users"))
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (daily.withColumn("cum_users",
                             F.sum("new_users").over(w).cast("long"))
            .select(F.col("d").cast("string").alias("d"),
                    F.col("new_users").cast("long").alias("new_users"),
                    "cum_users"))
query("cumulative_users", q_cumulative_users, """
        WITH firsts AS (
          SELECT user_id, MIN(CAST(ts AS DATE)) AS d
          FROM events GROUP BY user_id),
        daily AS (SELECT d, COUNT(*) AS new_users FROM firsts GROUP BY d)
        SELECT CAST(d AS VARCHAR) AS d,
               CAST(new_users AS BIGINT) AS new_users,
               CAST(SUM(new_users) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_users
        FROM daily
    """)


def q_assortativity(spark, sf_dir):
    """Degree assortativity (Newman's r) of the Order-Part bipartite
    graph: Pearson correlation of endpoint degrees over edge stubs.
    Every term (N, Σx, Σxy, Σx²) is an exact integer sum — the single
    final division happens in doubles and rounds to 6 dp, so the SQL
    twin reproduces r bit-exactly.  Two degree aggregations + one
    broadcast-joined pass over the edge list."""
    li = (load_tables(spark, sf_dir)["lineitem"]
          .select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p")).distinct())
    do = li.groupBy("o").agg(F.count("*").alias("do"))
    dp = li.groupBy("p").agg(F.count("*").alias("dp"))
    j = (li.join(F.broadcast(do), "o").join(F.broadcast(dp), "p"))
    s = j.agg(
        (F.count("*") * 2).cast("long").alias("n"),
        F.sum(F.col("do") + F.col("dp")).cast("long").alias("sx"),
        (F.sum(F.col("do") * F.col("dp")) * 2).cast("long").alias("sxy"),
        F.sum(F.col("do") * F.col("do")
              + F.col("dp") * F.col("dp")).cast("long").alias("sxx"))
    return s.select(
        "n",
        F.round((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx"))
                .cast("double")
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
                6).alias("assortativity"))
query("assortativity_orders", q_assortativity, """
        WITH e AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                   FROM lineitem),
        dd AS (
          SELECT e.o, e.p, d1.don AS dor, d2.dpn AS dpr
          FROM e
          JOIN (SELECT o, COUNT(*) AS don FROM e GROUP BY o) d1 USING (o)
          JOIN (SELECT p, COUNT(*) AS dpn FROM e GROUP BY p) d2 USING (p)),
        s AS (
          SELECT CAST(COUNT(*) * 2 AS BIGINT) AS n,
                 CAST(SUM(dor + dpr) AS BIGINT) AS sx,
                 CAST(SUM(dor * dpr) * 2 AS BIGINT) AS sxy,
                 CAST(SUM(dor * dor + dpr * dpr) AS BIGINT) AS sxx
          FROM dd)
        SELECT n,
               round(CAST(n * sxy - sx * sx AS DOUBLE)
                     / (n * sxx - sx * sx), 6) AS assortativity
        FROM s
    """)


def q_transitivity(spark, sf_dir):
    """Global clustering coefficient of the part co-purchase graph:
    3·triangles / wedges from exact integer counts (rounded 6 dp), so
    the SQL twin reproduces the ratio bit-exactly."""
    from ..operators.graph_algos import transitivity
    n_part = spark.sparkContext.defaultParallelism * 2
    li = (load_tables(spark, sf_dir)["lineitem"]
          .select("l_orderkey", "l_partkey")
          .repartition(n_part, "l_orderkey"))
    a, b = li.alias("a"), li.alias("b")
    co = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                 & (F.col("a.l_partkey") < F.col("b.l_partkey")))
          .select(F.col("a.l_partkey").alias("pa"),
                  F.col("b.l_partkey").alias("pb")))
    return transitivity(co, "pa", "pb")
query("transitivity_copurchase", q_transitivity, """
        WITH e AS (
          SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey),
        tri AS (
          SELECT COUNT(*)::BIGINT AS n_triangles
          FROM e ab
          JOIN e bc ON ab.hi = bc.lo
          JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi),
        deg AS (
          SELECT v, COUNT(*) AS d FROM (
            SELECT lo AS v FROM e UNION ALL SELECT hi FROM e)
          GROUP BY v),
        w AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
              FROM deg)
        SELECT n_triangles, n_wedges,
               round(3.0 * n_triangles / greatest(n_wedges, 1), 6)
                 AS transitivity
        FROM tri, w
    """)


def _k_core_sql(k: int = 6, rounds: int = 16) -> str:
    """Unrolled peel replaying graph_algos.k_core: round i keeps nodes
    with ≥ k distinct neighbors in the surviving subgraph.  Peeling is
    idempotent after its fixpoint, so unrolling more rounds than the
    actual peel depth is exact (the engine-side loop warns if 30 rounds
    ever stop short; this fixture peels in far fewer)."""
    parts = ["""e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
          SELECT 'Order:' || CAST(l_orderkey AS VARCHAR) AS src,
                 'Part:' || CAST(l_partkey AS VARCHAR) AS dst
          FROM lineitem
          UNION ALL
          SELECT 'Part:' || CAST(l_partkey AS VARCHAR),
                 'Order:' || CAST(l_orderkey AS VARCHAR)
          FROM lineitem))"""]
    for i in range(rounds):
        parts.append(f"""k{i} AS MATERIALIZED (
          SELECT src AS uid FROM e{i} GROUP BY src HAVING COUNT(*) >= {k})""")
        parts.append(f"""e{i + 1} AS MATERIALIZED (
          SELECT e.src, e.dst FROM e{i} e
          JOIN k{i} a ON a.uid = e.src
          JOIN k{i} b ON b.uid = e.dst)""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT DISTINCT src AS uid FROM e{rounds}")


def q_k_core(spark, sf_dir):
    """k-core of the Order–Part bipartite graph (k=6): orders with ≥6
    distinct parts that themselves appear in ≥6 surviving orders, to
    fixpoint.  The DuckDB oracle unrolls the peel (idempotent after
    the fixpoint, so over-unrolling is exact); semantics additionally
    pinned by the planted clique-plus-tail unit test."""
    from ..operators.graph_algos import k_core
    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes_df.where(F.col("kind").isin("Order", "Part"))
    edges = g.edges_df.where(F.col("kind") == "Contains")
    return k_core(nodes, edges, k=6)
query("k_core_orders", q_k_core, _k_core_sql())


def q_global_shuffle(spark, sf_dir):
    """Deterministic corpus-order randomization: shuffle_rank under
    seeded-hash ordering — terasort-shaped global sort, reproducible on
    any engine/partitioning.  Returns the first 100 positions."""
    from ..operators.pipeline import global_shuffle
    docs = _docs(spark, sf_dir)
    return (global_shuffle(docs, "doc_id", seed="42")
            .where(F.col("shuffle_rank") <= 100)
            .select("doc_id", "shuffle_rank"))
query("global_shuffle", q_global_shuffle, """
        WITH h AS (
          SELECT doc_id,
                 ROW_NUMBER() OVER (
                   ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
                 AS shuffle_rank
          FROM documents)
        SELECT doc_id, shuffle_rank FROM h WHERE shuffle_rank <= 100
    """)


def q_train_val_test(spark, sf_dir):
    """Hash-banded holdout split (5% val / 5% test): per-split counts.
    The band edges are hex literals both engines compare as strings."""
    from ..operators.pipeline import train_val_test_split
    docs = _docs(spark, sf_dir)
    return (train_val_test_split(docs, "doc_id")
            .groupBy("split").agg(F.count("*").alias("n")))
query("train_val_test", q_train_val_test, """
        SELECT CASE
                 WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                      < printf('%04x', CAST(ceil(0.05 * 65536) AS INT))
                   THEN 'val'
                 WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                      < printf('%04x', CAST(ceil(0.10 * 65536) AS INT))
                   THEN 'test'
                 ELSE 'train'
               END AS split,
               COUNT(*) AS n
        FROM documents GROUP BY 1
    """)


def q_line_dedup(spark, sf_dir):
    """C4-style line-level dedup over the corpus: documents are first
    line-ified deterministically (8-token lines — the fixture text is
    single-line), then every ≥16-char line that repeats anywhere in the
    corpus survives only at its first (doc_id, line_no) occurrence and
    documents are reassembled from the survivors.  The oracle replays
    the line-ification and the winner election verbatim; clean_text is
    hash-compared, so the gate covers reassembly order too."""
    from ..operators.pipeline import line_dedup
    from ..operators.text import spread_scan_by_bytes
    # line-ification is an interpreted transform/slice walk below the
    # first exchange — bytes-proportional spread (no-op at bench scale)
    docs = spread_scan_by_bytes(_docs(spark, sf_dir))
    toks = F.split(F.col("text"), " ")
    nlines = F.greatest(
        F.ceil(F.size(toks) / F.lit(8)).cast("int"), F.lit(1))
    lines = F.transform(
        F.sequence(F.lit(0), nlines - 1),
        lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "))
    reshaped = docs.select(
        "doc_id", F.array_join(lines, "\n").alias("text"))
    return line_dedup(reshaped)
query("line_dedup", q_line_dedup, """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents),
        resh AS (
          SELECT doc_id,
                 array_to_string(list_transform(
                   range(0, GREATEST(CAST(ceil(len(toks)/8.0) AS INT), 1)),
                   i -> array_to_string(toks[i*8+1 : i*8+8], ' ')),
                   chr(10)) AS text
          FROM t),
        l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM resh),
        lines AS (
          SELECT doc_id, i - 1 AS line_no, ls[i] AS line
          FROM l, UNNEST(range(1, len(ls)+1)) AS s(i)),
        win AS (
          SELECT h, wd, wp FROM (
            SELECT md5(line) AS h, doc_id AS wd, line_no AS wp,
                   row_number() OVER (PARTITION BY md5(line)
                                      ORDER BY doc_id, line_no) AS rn
            FROM lines WHERE length(line) >= 16) WHERE rn = 1),
        flagged AS (
          SELECT li.doc_id, li.line_no, li.line,
                 (length(li.line) < 16
                  OR (w.wd = li.doc_id AND w.wp = li.line_no)) AS keep
          FROM lines li LEFT JOIN win w
            ON length(li.line) >= 16 AND md5(li.line) = w.h)
        SELECT doc_id,
               COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
                                   ORDER BY line_no), '') AS clean_text,
               SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept,
               SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS n_dropped
        FROM flagged GROUP BY doc_id
    """)


def q_ppl_bucket_sample(spark, sf_dir):
    """Quality-bucketed sampling: unigram-LM score quartiles split the
    corpus into head/mid/tail bands kept at 1.0/0.5/0.1 — the CCNet
    perplexity-bucket policy on the engine's own LM scores.  Full
    oracle: the unigram CTE reproduces the (6-dp, order-free) scores,
    quantile_cont the cutpoints, and the md5 gate the kept set."""
    from ..operators.pipeline import quantile_sample, unigram_logprob
    docs = _docs(spark, sf_dir)
    scored = unigram_logprob(docs)
    return (quantile_sample(scored, "logprob", "doc_id")
            .select("doc_id", "bucket"))
query("ppl_bucket_sample", q_ppl_bucket_sample, """
        WITH tok AS (
          SELECT doc_id,
            unnest(list_filter(
              string_split_regex(lower(text), '[^a-z0-9]+'),
              x -> x != '')) AS tok
          FROM documents),
        freq AS (SELECT tok, COUNT(*) AS tf FROM tok GROUP BY tok),
        stats AS (SELECT SUM(tf) AS total, COUNT(*) AS vocab FROM freq),
        scored AS (
          SELECT doc_id,
            round(CAST(SUM(CAST(round(log10(
                    CAST(tf + 1 AS DOUBLE) / (total + vocab)), 6)
                  AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS logprob
          FROM tok JOIN freq USING (tok), stats
          GROUP BY doc_id),
        cs AS (SELECT quantile_cont(logprob, 0.25) AS c25,
                      quantile_cont(logprob, 0.75) AS c75 FROM scored),
        b AS (
          SELECT doc_id,
                 CASE WHEN logprob >= c75 THEN 'head'
                      WHEN logprob >= c25 THEN 'mid'
                      ELSE 'tail' END AS bucket
          FROM scored, cs),
        r AS (SELECT doc_id, bucket,
                     CASE bucket WHEN 'head' THEN 1.0 WHEN 'mid' THEN 0.5
                                 ELSE 0.1 END AS rate
              FROM b)
        SELECT doc_id, bucket FROM r
        WHERE rate >= 1.0
           OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
              < printf('%04x', CAST(floor(rate * 65536) AS INT))
    """)


def q_retention_cohorts(spark, sf_dir):
    """Weekly retention cohorts: users grouped by first-activity week,
    counted per week-offset of subsequent activity — two aggregations
    (first-touch per user broadcasts back over the distinct activity
    weeks).  Week arithmetic stays in whole days / 7 (date_trunc aligns
    Mondays in both engines) so the offsets are integer-exact."""
    ev = _events(spark, sf_dir)
    firsts = (ev.groupBy("user_id")
              .agg(F.date_trunc("week", F.min("ts")).alias("cohort")))
    activity = (ev.select("user_id",
                          F.date_trunc("week", F.col("ts")).alias("wk"))
                .distinct())
    return (activity.join(F.broadcast(firsts), "user_id")
            .select(F.col("cohort").cast("date").cast("string")
                    .alias("cohort"),
                    (F.datediff(F.col("wk"), F.col("cohort")) / 7)
                    .cast("int").alias("week_offset"))
            .groupBy("cohort", "week_offset")
            .agg(F.count("*").cast("long").alias("n_users")))
query("retention_cohorts", q_retention_cohorts, """
        WITH firsts AS (
          SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
          FROM events GROUP BY user_id),
        act AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
          FROM events)
        SELECT CAST(CAST(cohort AS DATE) AS VARCHAR) AS cohort,
               CAST(date_diff('day', cohort, wk) / 7 AS INT) AS week_offset,
               COUNT(*) AS n_users
        FROM act JOIN firsts USING (user_id)
        GROUP BY 1, 2
    """)


def q_unigram_logprob(spark, sf_dir):
    """LM-perplexity stand-in (CCNet-style quality signal): per-doc mean
    log10 unigram probability, self-trained with add-one smoothing.
    Vocabulary broadcasts back over the token stream; per-token logprobs
    round to 6 dp and sum as DECIMAL so the mean is order-independent —
    replayable exactly by the SQL twin."""
    from ..operators.pipeline import unigram_logprob
    from ..operators.text import spread_scan_by_bytes
    # tokenize+explode run below the vocab aggregation's exchange —
    # bytes-proportional spread (no-op at bench scale)
    return unigram_logprob(spread_scan_by_bytes(_docs(spark, sf_dir))) \
        .select("doc_id", "logprob", "n_tokens")
query("unigram_logprob", q_unigram_logprob, """
        WITH tok AS (
          SELECT doc_id,
            unnest(list_filter(
              string_split_regex(lower(text), '[^a-z0-9]+'),
              x -> x != '')) AS tok
          FROM documents),
        freq AS (SELECT tok, COUNT(*) AS tf FROM tok GROUP BY tok),
        stats AS (SELECT SUM(tf) AS total, COUNT(*) AS vocab FROM freq)
        SELECT doc_id,
          round(CAST(SUM(CAST(round(log10(
                  CAST(tf + 1 AS DOUBLE) / (total + vocab)), 6)
                AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS logprob,
          COUNT(*) AS n_tokens
        FROM tok JOIN freq USING (tok), stats
        GROUP BY doc_id
    """)


def _label_propagation_sql(iters: int = 4,
                           final: str | None = None) -> str:
    """Unrolled synchronous LPA replaying graph_algos.label_propagation:
    per round every node adopts its neighborhood's most frequent label,
    ties to the smallest label string; isolated nodes keep their uid."""
    parts = [
        """nodes AS (
          SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) AS uid
          FROM customer
          UNION ALL
          SELECT 'Nation:' || CAST(n_nationkey AS VARCHAR) FROM nation
          UNION ALL
          SELECT 'Region:' || CAST(r_regionkey AS VARCHAR) FROM region)""",
        """de AS (
          SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) AS src,
                 'Nation:' || CAST(c_nationkey AS VARCHAR) AS dst
          FROM customer
          UNION ALL
          SELECT 'Nation:' || CAST(n_nationkey AS VARCHAR),
                 'Region:' || CAST(n_regionkey AS VARCHAR)
          FROM nation)""",
        """sym AS (SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM de
          UNION ALL SELECT dst, src FROM de))""",
        "l0 AS (SELECT uid, uid AS label FROM nodes)"]
    for i in range(iters):
        parts.append(f"""l{i + 1} AS MATERIALIZED (
          SELECT n.uid, COALESCE(b.lab, n.uid) AS label
          FROM nodes n LEFT JOIN (
            SELECT uid, lab FROM (
              SELECT uid, lab,
                     ROW_NUMBER() OVER (PARTITION BY uid
                                        ORDER BY c DESC, lab) AS rn
              FROM (SELECT s.dst AS uid, l.label AS lab, COUNT(*) AS c
                    FROM sym s JOIN l{i} l ON l.uid = s.src
                    GROUP BY s.dst, l.label))
            WHERE rn = 1) b ON b.uid = n.uid)""")
    tail = final if final is not None else (
        f"SELECT label, COUNT(*) AS n_members "
        f"FROM l{iters} GROUP BY label")
    return "WITH " + ",\n".join(parts) + "\n" + tail


def q_label_propagation(spark, sf_dir):
    """Community detection by deterministic synchronous label
    propagation (majority label, ties to smallest) on the
    Customer-Nation-Region graph; returns community sizes.  The
    DuckDB oracle replays the same 4 synchronous rounds as unrolled
    CTEs (integer counts + the same argmax tie-break → bit-identical
    on any engine)."""
    from ..operators.graph_algos import label_propagation
    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes_df.where(
        F.col("kind").isin("Customer", "Nation", "Region"))
    edges = g.edges_df.where(F.col("kind").isin("FromNation", "InRegion"))
    lp = label_propagation(nodes, edges, iters=4)
    return (lp.groupBy("label").agg(F.count("*").alias("n_members")))
query("label_propagation", q_label_propagation, _label_propagation_sql())


def q_approx_distinct_users(spark, sf_dir):
    """Approximate distinct (HyperLogLog++): distinct users per event
    type at 1% target error.  Sketches merge associatively, so the
    partial aggregation is a fixed-size sketch per partition — the
    cardinality operator that stays cheap at 100 TB where exact
    COUNT(DISTINCT) must shuffle every key.

    Hash-match oracle via BRACKETING: the query emits the exact count
    plus a boolean asserting the HLL estimate lands within 5× the
    target error (the sketch value itself is implementation-specific,
    the bound is not); the oracle replays the exact count and TRUE."""
    ev = _events(spark, sf_dir)
    return (ev.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", rsd=0.01)
                 .alias("approx"),
                 F.countDistinct("user_id").alias("n_exact"))
            .select("event_type", "n_exact",
                    ((F.abs(F.col("approx") - F.col("n_exact"))
                      / F.col("n_exact")) <= 0.05).alias("approx_ok")))
query("approx_distinct_users", q_approx_distinct_users, """
        SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
               TRUE AS approx_ok
        FROM events GROUP BY event_type
    """)


def q_approx_percentiles(spark, sf_dir):
    """Approximate percentiles (Greenwald-Khanna sketch) of order value:
    p50/p95/p99 at accuracy 10000.  Same scale story as HLL — bounded
    sketch per partition instead of a global sort.

    Hash-match oracle via BRACKETING: GK at accuracy a guarantees rank
    error ≤ n/a (~15 ranks here); the query asserts each estimate falls
    inside the exact ±0.002-rank-fraction interval (±300 ranks — 20×
    headroom) and emits the booleans + row count; the oracle replays
    TRUE + the count."""
    t = load_tables(spark, sf_dir)
    a = t["orders"].agg(
        F.percentile_approx("o_totalprice", [0.5, 0.95, 0.99], 10000)
        .alias("p"),
        F.expr("percentile(o_totalprice, "
               "array(0.498, 0.502, 0.948, 0.952, 0.988, 0.992))")
        .alias("x"),
        F.count("*").alias("n_orders"))
    p, x = F.col("p"), F.col("x")
    return a.select(
        "n_orders",
        ((x[0] <= p[0]) & (p[0] <= x[1])).alias("p50_ok"),
        ((x[2] <= p[1]) & (p[1] <= x[3])).alias("p95_ok"),
        ((x[4] <= p[2]) & (p[2] <= x[5])).alias("p99_ok"))
query("approx_percentiles", q_approx_percentiles, """
        SELECT COUNT(*) AS n_orders, TRUE AS p50_ok, TRUE AS p95_ok,
               TRUE AS p99_ok
        FROM orders
    """)
