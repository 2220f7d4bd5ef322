"""analytics catalog: trends, percentiles, correlation, coverage."""
from __future__ import annotations

import math

from pyspark.sql import functions as F

from ..operators import dedup, graph_algos, text
from ..sources.tpch_graph import load_tables, tpch_graph
from ._registry import query
from ._shared import _docs, _emb, _events, _ivf_blocked
from ._pipeline import _ivf_ctes, _label_propagation_sql, q_minhash_pairs


def q_spend_percentile(spark, sf_dir):
    """Customer spend table with percent_rank and cume_dist — the
    window ranking functions not covered elsewhere.  FULL oracle:
    rank over (spend, custkey) is a total order, so both fractions
    are exact-integer ratios."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    per = (o.groupBy("o_custkey")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(18,2)").alias("spend")))
    w = W.orderBy("spend", "o_custkey")
    return per.select(
        "o_custkey", F.col("spend").cast("double").alias("spend"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"))


_SPEND_PERCENTILE_ORACLE = """
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS spend
  FROM orders GROUP BY 1)
SELECT o_custkey, CAST(spend AS DOUBLE) AS spend,
       round(percent_rank() OVER (ORDER BY spend, o_custkey), 9)
       AS pct_rank,
       round(cume_dist() OVER (ORDER BY spend, o_custkey), 9) AS cume
FROM per
"""
query("spend_percentile", q_spend_percentile, _SPEND_PERCENTILE_ORACLE)


def q_ahash_groups(spark, sf_dir):
    """Image near-dup groups by perceptual average-hash over REAL
    decoded PNG rasters (zlib inflate + scanline unfilter on the hot
    path, Arrow-batched).  FULL oracle: the synthetic rasters follow a
    closed pixel form, so SQL recomputes the identical 64-bit
    fingerprint the decoder must produce — decoder correctness is the
    thing under test.  Groups with >1 member are duplicate classes."""
    from ..operators.multimodal import ahash, documents_as_media
    pngs = _docs(spark, sf_dir).where(F.col("doc_id") % 3 == 1)
    media = documents_as_media(pngs)
    return (ahash(media)
            .groupBy("ahash")
            .agg(F.count("*").alias("n_images"),
                 F.min("media_id").alias("rep"))
            .where(F.col("n_images") > 1))


_AHASH_ORACLE = """
WITH dims AS (
  SELECT doc_id AS media_id,
         4 + n_chars % 60 AS w, 4 + (n_chars // 7) % 60 AS h
  FROM documents WHERE doc_id % 3 = 1),
cells AS (
  SELECT media_id,
         ty.y AS y, tx.x AS x,
         ((((tx.x * w) // 8) * 3 + ((ty.y * h) // 8)) % 256) AS px
  FROM dims, UNNEST(range(0, 8)) AS ty(y), UNNEST(range(0, 8)) AS tx(x))
SELECT ahash, COUNT(*) AS n_images, MIN(media_id) AS rep
FROM (SELECT media_id,
             string_agg(CASE WHEN px * 64 > tot THEN '1' ELSE '0' END,
                        '' ORDER BY y, x) AS ahash
      FROM (SELECT media_id, y, x, px,
                   SUM(px) OVER (PARTITION BY media_id) AS tot
            FROM cells)
      GROUP BY media_id)
GROUP BY ahash HAVING COUNT(*) > 1
"""
query("ahash_groups", q_ahash_groups, _AHASH_ORACLE)


def q_fk_orphans(spark, sf_dir):
    """Referential-integrity audit: orphan counts for every FK edge in
    the schema (lineitem→orders/part/supplier, orders→customer,
    customer/supplier→nation) — the anti-join data-quality sweep a
    warehouse runs before trusting joins.  FULL oracle: exact counts;
    each anti-join broadcasts the key side when dimension-sized."""
    t = load_tables(spark, sf_dir)

    def orphans(fact, fk, dim, pk, rel):
        return (fact.select(F.col(fk).alias("k"))
                .join(dim.select(F.col(pk).alias("k")), "k", "left_anti")
                .agg(F.lit(rel).alias("relation"),
                     F.count("*").alias("n_orphans")))
    checks = [
        orphans(t["lineitem"], "l_orderkey", t["orders"], "o_orderkey",
                "lineitem->orders"),
        orphans(t["lineitem"], "l_partkey", t["part"], "p_partkey",
                "lineitem->part"),
        orphans(t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey",
                "lineitem->supplier"),
        orphans(t["orders"], "o_custkey", t["customer"], "c_custkey",
                "orders->customer"),
        orphans(t["customer"], "c_nationkey", t["nation"], "n_nationkey",
                "customer->nation"),
        orphans(t["supplier"], "s_nationkey", t["nation"], "n_nationkey",
                "supplier->nation"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


_FK_ORPHANS_ORACLE = """
SELECT 'lineitem->orders' AS relation,
       (SELECT COUNT(*) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
       AS n_orphans
UNION ALL SELECT 'lineitem->part',
       (SELECT COUNT(*) FROM lineitem
        WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
UNION ALL SELECT 'lineitem->supplier',
       (SELECT COUNT(*) FROM lineitem
        WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
UNION ALL SELECT 'orders->customer',
       (SELECT COUNT(*) FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
UNION ALL SELECT 'customer->nation',
       (SELECT COUNT(*) FROM customer
        WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
UNION ALL SELECT 'supplier->nation',
       (SELECT COUNT(*) FROM supplier
        WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
"""
query("fk_orphans", q_fk_orphans, _FK_ORPHANS_ORACLE)


def q_calendar_gaps(spark, sf_dir):
    """Completeness audit: calendar days inside the event span with
    ZERO events (ingestion holes) — dense day spine minus observed
    days.  FULL oracle: pure date arithmetic (sequence vs
    generate_series)."""
    ev = _events(spark, sf_dir)
    span = ev.agg(F.min(F.col("ts").cast("date")).alias("lo"),
                  F.max(F.col("ts").cast("date")).alias("hi"))
    spine = span.select(
        F.explode(F.sequence("lo", "hi")).alias("day"))
    seen = (ev.groupBy(F.col("ts").cast("date").alias("day"))
            .agg(F.count("*").alias("n")))
    return (spine.join(seen, "day", "left")
            .select("day",
                    F.coalesce("n", F.lit(0)).alias("n_events"),
                    (F.coalesce("n", F.lit(0)) == 0).alias("is_gap")))


_CALENDAR_GAPS_ORACLE = """
WITH span AS (SELECT MIN(CAST(ts AS DATE)) AS lo,
                     MAX(CAST(ts AS DATE)) AS hi FROM events),
spine AS (SELECT CAST(unnest(generate_series(lo, hi,
                                             INTERVAL 1 DAY)) AS DATE)
          AS day FROM span),
seen AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
         FROM events GROUP BY 1)
SELECT spine.day, COALESCE(n, 0) AS n_events,
       COALESCE(n, 0) = 0 AS is_gap
FROM spine LEFT JOIN seen ON spine.day = seen.day
"""
query("calendar_gaps", q_calendar_gaps, _CALENDAR_GAPS_ORACLE)


def q_chisq_independence(spark, sf_dir):
    """χ² test of independence between market segment and order
    priority (are they associated?), plus Cramér's V effect size.
    FULL oracle: observed/expected derive from exact integer margins;
    each cell's (o−e)²/e term rounds to 9 dp DECIMAL before the sum
    (order-free), one closed-form double at the end."""
    from pyspark.sql import Window as W
    t = load_tables(spark, sf_dir)
    j = (t["orders"].join(t["customer"],
                          t["orders"].o_custkey == t["customer"].c_custkey)
         .select("c_mktsegment", "o_orderpriority"))
    cells = (j.groupBy("c_mktsegment", "o_orderpriority")
             .agg(F.count("*").alias("o")))
    rows = F.sum("o").over(W.partitionBy("c_mktsegment"))
    cols = F.sum("o").over(W.partitionBy("o_orderpriority"))
    tot = F.sum("o").over(W.partitionBy())
    e = rows.cast("double") * cols / tot
    term = F.round((F.col("o") - e) * (F.col("o") - e) / e, 9) \
        .cast("decimal(18,9)")
    agg = (cells.select(term.alias("t"),
                        F.col("c_mktsegment"), F.col("o_orderpriority"),
                        tot.alias("n"))
           .agg(F.sum("t").cast("double").alias("chi2"),
                F.countDistinct("c_mktsegment").alias("r"),
                F.countDistinct("o_orderpriority").alias("c"),
                F.max("n").alias("n")))
    return agg.select(
        F.round("chi2", 6).alias("chi2"),
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
        F.round(F.sqrt(F.col("chi2")
                       / (F.col("n")
                          * F.least(F.col("r") - 1, F.col("c") - 1))), 6)
        .alias("cramers_v"))


_CHISQ_ORACLE = """
WITH j AS (SELECT c_mktsegment, o_orderpriority
           FROM orders JOIN customer ON o_custkey = c_custkey),
cells AS (SELECT c_mktsegment, o_orderpriority, COUNT(*) AS o
          FROM j GROUP BY 1, 2),
g AS (SELECT c_mktsegment, o_orderpriority, o,
             SUM(o) OVER (PARTITION BY c_mktsegment) AS rows_m,
             SUM(o) OVER (PARTITION BY o_orderpriority) AS cols_m,
             SUM(o) OVER () AS tot
      FROM cells),
t AS (SELECT c_mktsegment, o_orderpriority, tot,
             CAST(round((o - CAST(rows_m AS DOUBLE) * cols_m / tot)
                        * (o - CAST(rows_m AS DOUBLE) * cols_m / tot)
                        / (CAST(rows_m AS DOUBLE) * cols_m / tot), 9)
                  AS DECIMAL(18,9)) AS term
      FROM g),
a AS (SELECT CAST(SUM(term) AS DOUBLE) AS chi2,
             COUNT(DISTINCT c_mktsegment) AS r,
             COUNT(DISTINCT o_orderpriority) AS c,
             MAX(tot) AS n
      FROM t)
SELECT round(chi2, 6) AS chi2,
       (r - 1) * (c - 1) AS dof,
       round(sqrt(chi2 / (n * LEAST(r - 1, c - 1))), 6) AS cramers_v
FROM a
"""
query("chisq_independence", q_chisq_independence, _CHISQ_ORACLE)


def q_category_entropy(spark, sf_dir):
    """Categorical-column profile: distinct count and Shannon entropy
    for each low-cardinality string column of the order pipeline — the
    profiling pass that flags constant or near-constant columns.  FULL
    oracle: 9 dp decimal-stable entropy terms (the transition_entropy
    discipline)."""
    from pyspark.sql import Window as W
    t = load_tables(spark, sf_dir)
    o, c, li = t["orders"], t["customer"], t["lineitem"]
    stacked = (o.select(F.lit("o_orderstatus").alias("col"),
                        F.col("o_orderstatus").alias("val"))
               .unionByName(o.select(F.lit("o_orderpriority").alias("col"),
                                     F.col("o_orderpriority").alias("val")))
               .unionByName(c.select(F.lit("c_mktsegment").alias("col"),
                                     F.col("c_mktsegment").alias("val")))
               .unionByName(li.select(F.lit("l_returnflag").alias("col"),
                                      F.col("l_returnflag").alias("val")))
               .unionByName(li.select(F.lit("l_linestatus").alias("col"),
                                      F.col("l_linestatus").alias("val"))))
    counts = stacked.groupBy("col", "val").agg(F.count("*").alias("n"))
    tot = F.sum("n").over(W.partitionBy("col"))
    p = F.col("n") / tot
    term = F.round(-p * F.log2(p), 9).cast("decimal(18,9)")
    return (counts.withColumn("t", term)
            .groupBy("col")
            .agg(F.count("*").alias("n_distinct"),
                 F.round(F.sum("t").cast("double"), 6)
                 .alias("entropy_bits")))


_CATEGORY_ENTROPY_ORACLE = """
WITH stacked AS (
  SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
  UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer
  UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem
  UNION ALL SELECT 'l_linestatus', l_linestatus FROM lineitem),
counts AS (SELECT col, val, COUNT(*) AS n FROM stacked GROUP BY 1, 2),
t AS (SELECT col,
             CAST(round(-(n / SUM(n) OVER (PARTITION BY col))
                        * log2(n / SUM(n) OVER (PARTITION BY col)), 9)
                  AS DECIMAL(18,9)) AS term
      FROM counts)
SELECT col, COUNT(*) AS n_distinct,
       round(CAST(SUM(term) AS DOUBLE), 6) AS entropy_bits
FROM t GROUP BY col
"""
query("category_entropy", q_category_entropy, _CATEGORY_ENTROPY_ORACLE)


def q_survival_curve(spark, sf_dir):
    """User survival curve: fraction of users whose observed lifespan
    (last − first event, days) reaches each day k — retention's
    survival-analysis view.  FULL oracle: lifespans and the
    at-risk/total counts are exact integers; one ratio double."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir)
    lif = (ev.groupBy("user_id")
           .agg(F.datediff(F.max(F.col("ts").cast("date")),
                           F.min(F.col("ts").cast("date")))
                .alias("lifespan")))
    n = F.sum("c").over(
        W.partitionBy().orderBy(F.col("lifespan").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow))
    tot = F.sum("c").over(W.partitionBy())
    per = (lif.groupBy("lifespan").agg(F.count("*").alias("c")))
    return (per.select(F.col("lifespan").alias("day"),
                       n.alias("n_surviving"),
                       F.round(n.cast("double") / tot, 6)
                       .alias("survival")))


_SURVIVAL_ORACLE = """
WITH lif AS (
  SELECT user_id,
         datediff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
         AS lifespan
  FROM events GROUP BY 1),
per AS (SELECT lifespan, COUNT(*) AS c FROM lif GROUP BY 1)
SELECT lifespan AS day,
       SUM(c) OVER (ORDER BY lifespan DESC
                    ROWS UNBOUNDED PRECEDING) AS n_surviving,
       round(CAST(SUM(c) OVER (ORDER BY lifespan DESC
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / SUM(c) OVER (), 6) AS survival
FROM per
"""
query("survival_curve", q_survival_curve, _SURVIVAL_ORACLE)


def q_ab_proportion_test(spark, sf_dir):
    """Two-proportion z-test on purchase conversion between user
    buckets (hash-split variants A/B) — the experimentation staple.
    FULL oracle: conversion counts are exact integers, the pooled-z
    closed form is one deterministic double chain."""
    ev = _events(spark, sf_dir)
    per = (ev.groupBy("user_id")
           .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                      .otherwise(0)).alias("converted"))
           .withColumn("variant",
                       F.when(F.pmod(F.col("user_id"), 2) == 0, "A")
                       .otherwise("B")))
    g = (per.groupBy("variant")
         .agg(F.count("*").alias("n"),
              F.sum("converted").alias("conv")))
    a = g.where(F.col("variant") == "A").select(
        F.col("n").alias("n1"), F.col("conv").alias("c1"))
    b = g.where(F.col("variant") == "B").select(
        F.col("n").alias("n2"), F.col("conv").alias("c2"))
    j = a.crossJoin(b)
    p1 = F.col("c1").cast("double") / F.col("n1")
    p2 = F.col("c2").cast("double") / F.col("n2")
    pp = (F.col("c1") + F.col("c2")).cast("double") \
        / (F.col("n1") + F.col("n2"))
    se = F.sqrt(pp * (1 - pp)
                * (1.0 / F.col("n1") + 1.0 / F.col("n2")))
    z = F.when(se > 0, F.round((p1 - p2) / se, 6))
    return j.select("n1", "c1", "n2", "c2",
                    F.round(p1, 6).alias("rate_a"),
                    F.round(p2, 6).alias("rate_b"),
                    z.alias("z"))


_AB_TEST_ORACLE = """
WITH per AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         AS converted,
         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant
  FROM events GROUP BY user_id),
g AS (SELECT variant, COUNT(*) AS n, SUM(converted) AS conv
      FROM per GROUP BY 1),
j AS (SELECT a.n AS n1, a.conv AS c1, b.n AS n2, b.conv AS c2
      FROM (SELECT * FROM g WHERE variant = 'A') a,
           (SELECT * FROM g WHERE variant = 'B') b)
SELECT n1, c1, n2, c2,
       round(CAST(c1 AS DOUBLE) / n1, 6) AS rate_a,
       round(CAST(c2 AS DOUBLE) / n2, 6) AS rate_b,
       CASE WHEN sqrt((CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                      * (1 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                      * (1.0 / n1 + 1.0 / n2)) > 0
            THEN round((CAST(c1 AS DOUBLE) / n1
                        - CAST(c2 AS DOUBLE) / n2)
                       / sqrt((CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                              * (1 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                              * (1.0 / n1 + 1.0 / n2)), 6)
            END AS z
FROM j
"""
query("ab_proportion_test", q_ab_proportion_test, _AB_TEST_ORACLE)


def q_user_trend_slope(spark, sf_dir):
    """Per-user engagement trend: least-squares slope of event value on
    event time (hours since the user's first event) — rising or
    falling usage, per user.  FULL oracle: the per-term x/y values
    round to 9 dp DECIMAL, sums are exact, slope is one closed-form
    double (the zipf_slope discipline, grouped)."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir)
    t0 = F.min("ts").over(W.partitionBy("user_id"))
    x = F.round((F.col("ts").cast("double") - t0.cast("double"))
                / 3600.0, 9).cast("decimal(18,9)")
    y = F.round(F.col("value"), 9).cast("decimal(18,9)")
    terms = ev.select(
        "user_id", x.alias("x"), y.alias("y"),
        (x * y).cast("decimal(38,18)").alias("xy"),
        (x * x).cast("decimal(38,18)").alias("xx"))
    agg = (terms.groupBy("user_id")
           .agg(F.count("*").cast("double").alias("n"),
                F.sum("x").cast("double").alias("sx"),
                F.sum("y").cast("double").alias("sy"),
                F.sum("xy").cast("double").alias("sxy"),
                F.sum("xx").cast("double").alias("sxx"))
           .where(F.col("n") >= 3))
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (agg.where(den != 0)
            .select("user_id", F.col("n").cast("bigint").alias("n_events"),
                    F.round((F.col("n") * F.col("sxy")
                             - F.col("sx") * F.col("sy")) / den, 6)
                    .alias("slope")))


_USER_TREND_ORACLE = """
WITH t AS (
  SELECT user_id,
         CAST(round((epoch(ts)
                     - epoch(MIN(ts) OVER (PARTITION BY user_id)))
                    / 3600.0, 9) AS DECIMAL(18,9)) AS x,
         CAST(round(value, 9) AS DECIMAL(18,9)) AS y
  FROM events),
a AS (SELECT user_id,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx
      FROM t GROUP BY user_id HAVING COUNT(*) >= 3)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope
FROM a WHERE (n * sxx - sx * sx) != 0
"""
query("user_trend_slope", q_user_trend_slope, _USER_TREND_ORACLE)


def q_readability_scores(spark, sf_dir):
    """Flesch-style readability per document: words/sentence and a
    vowel-group syllable proxy drive the standard 206.835 − 1.015·WPS
    − 84.6·SPW formula — a text-quality gate input.  FULL oracle: all
    three counts are exact integers from shared regexes; one double
    formula rounded at 4 dp."""
    docs = _docs(spark, sf_dir)
    sents = F.filter(F.split(F.col("text"), r"[.!?]+"),
                     lambda s: F.trim(s) != "")
    words = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                     lambda t: t != "")
    syll = F.size(F.filter(
        F.split(F.lower(F.col("text")), "[^aeiou]+"),
        lambda g: g != ""))
    out = docs.select(
        "doc_id",
        F.greatest(F.size(sents), F.lit(1)).cast("long").alias("n_sents"),
        F.greatest(F.size(words), F.lit(1)).cast("long").alias("n_words"),
        syll.cast("long").alias("n_syll"))
    wps = F.col("n_words").cast("double") / F.col("n_sents")
    spw = F.col("n_syll").cast("double") / F.col("n_words")
    return out.select(
        "doc_id", "n_sents", "n_words", "n_syll",
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 4).alias("flesch"))


_READABILITY_ORACLE = """
WITH c AS (
  SELECT doc_id,
         GREATEST(len(list_filter(string_split_regex(text, '[.!?]+'),
                                  x -> trim(x) != '')), 1) AS n_sents,
         GREATEST(len(list_filter(
           string_split_regex(lower(text), '[^a-z0-9]+'),
           x -> x != '')), 1) AS n_words,
         len(list_filter(string_split_regex(lower(text), '[^aeiou]+'),
                         x -> x != '')) AS n_syll
  FROM documents)
SELECT doc_id, n_sents, n_words, n_syll,
       round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
             - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4) AS flesch
FROM c
"""
query("readability_scores", q_readability_scores, _READABILITY_ORACLE)


def q_abc_classification(spark, sf_dir):
    """ABC inventory classification: parts ranked by revenue, bucketed
    A/B/C at 80%/95% cumulative share (the ops-analytics Pareto
    standard).  FULL oracle: cumulative DECIMAL sums under a
    (rev, partkey) total order; the class boundaries compare exact
    decimals scaled to integers (share·10⁶) so no double boundary
    flips."""
    from pyspark.sql import Window as W
    li = load_tables(spark, sf_dir)["lineitem"]
    per = (li.groupBy("l_partkey")
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                      * (1 - F.col("l_discount").cast("decimal(8,2)")))
                .cast("decimal(24,4)").alias("rev")))
    w = (W.orderBy(F.col("rev").desc(), "l_partkey")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    tot = F.sum("rev").over(W.partitionBy())
    cum = F.sum("rev").over(w)
    share = F.round(cum.cast("double") / tot.cast("double"), 9)
    cls = (F.when(share <= 0.8, "A")
           .when(share <= 0.95, "B").otherwise("C"))
    ranked = per.select("l_partkey", "rev", cls.alias("abc_class"))
    return (ranked.groupBy("abc_class")
            .agg(F.count("*").alias("n_parts"),
                 F.sum("rev").cast("double").alias("revenue")))


_ABC_ORACLE = """
WITH per AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(8,2))))
              AS DECIMAL(24,4)) AS rev
  FROM lineitem GROUP BY 1),
ranked AS (
  SELECT l_partkey, rev,
         round(CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               / CAST(SUM(rev) OVER () AS DOUBLE), 9) AS share
  FROM per)
SELECT CASE WHEN share <= 0.8 THEN 'A'
            WHEN share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class,
       COUNT(*) AS n_parts, CAST(SUM(rev) AS DOUBLE) AS revenue
FROM ranked GROUP BY 1
"""
query("abc_classification", q_abc_classification, _ABC_ORACLE)


def q_leadtime_percentiles(spark, sf_dir):
    """Fulfillment lead time (order date → ship date, days) p50/p90/p99
    per order priority — the SLA distribution table.  FULL oracle:
    integer day gaps, linearly-interpolated exact percentiles on both
    engines, 6 dp rounding."""
    t = load_tables(spark, sf_dir)
    j = (t["lineitem"].join(t["orders"],
                            F.col("l_orderkey") == F.col("o_orderkey"))
         .select("o_orderpriority",
                 F.datediff(F.col("l_shipdate").cast("date"),
                            F.col("o_orderdate").cast("date"))
                 .alias("lead")))
    return (j.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.round(F.expr("percentile(lead, 0.5)"), 6).alias("p50"),
                 F.round(F.expr("percentile(lead, 0.9)"), 6).alias("p90"),
                 F.round(F.expr("percentile(lead, 0.99)"), 6).alias("p99")))


_LEADTIME_ORACLE = """
WITH j AS (
  SELECT o_orderpriority,
         datediff('day', CAST(o_orderdate AS DATE),
                  CAST(l_shipdate AS DATE)) AS lead
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
SELECT o_orderpriority, COUNT(*) AS n,
       round(quantile_cont(lead, 0.5), 6) AS p50,
       round(quantile_cont(lead, 0.9), 6) AS p90,
       round(quantile_cont(lead, 0.99), 6) AS p99
FROM j GROUP BY 1
"""
query("leadtime_percentiles", q_leadtime_percentiles, _LEADTIME_ORACLE)


def q_discount_quantity_corr(spark, sf_dir):
    """Does discounting move volume?  Pearson correlation of discount
    vs quantity per return-flag segment — closed form from exact
    DECIMAL sums (discount/quantity are exact 2 dp decimals in the
    generator), doubles only at the end."""
    li = load_tables(spark, sf_dir)["lineitem"]
    x = F.col("l_discount").cast("decimal(8,2)")
    y = F.col("l_quantity").cast("decimal(8,2)")
    terms = li.select(
        "l_returnflag", x.alias("x"), y.alias("y"),
        (x * y).cast("decimal(18,4)").alias("xy"),
        (x * x).cast("decimal(18,4)").alias("xx"),
        (y * y).cast("decimal(18,4)").alias("yy"))
    agg = (terms.groupBy("l_returnflag")
           .agg(F.count("*").cast("double").alias("n"),
                F.sum("x").cast("double").alias("sx"),
                F.sum("y").cast("double").alias("sy"),
                F.sum("xy").cast("double").alias("sxy"),
                F.sum("xx").cast("double").alias("sxx"),
                F.sum("yy").cast("double").alias("syy")))
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        / F.sqrt((F.col("n") * F.col("sxx")
                  - F.col("sx") * F.col("sx"))
                 * (F.col("n") * F.col("syy")
                    - F.col("sy") * F.col("sy")))
    return agg.select("l_returnflag",
                      F.col("n").cast("bigint").alias("n_lines"),
                      F.round(r, 6).alias("corr"))


_DISCOUNT_QTY_ORACLE = """
WITH t AS (
  SELECT l_returnflag,
         CAST(l_discount AS DECIMAL(8,2)) AS x,
         CAST(l_quantity AS DECIMAL(8,2)) AS y
  FROM lineitem),
a AS (SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(18,4))) AS DOUBLE) AS syy
      FROM t GROUP BY 1)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_lines,
       round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
       AS corr
FROM a
"""
query("discount_quantity_corr", q_discount_quantity_corr, _DISCOUNT_QTY_ORACLE)


def q_weekday_seasonality(spark, sf_dir):
    """Day-of-week seasonality of order revenue: share per weekday and
    the seasonality index (share / uniform).  FULL oracle: DECIMAL
    daily sums; DOW from ISO dayofweek (identical numbering both
    engines via the same formula)."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    dow = F.dayofweek(F.col("o_orderdate").cast("date"))
    per = (o.groupBy(dow.alias("dow"))
           .agg(F.count("*").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(28,2)").alias("_rev")))
    tot = F.sum("_rev").over(W.partitionBy())
    share = F.col("_rev").cast("double") / tot.cast("double")
    return per.select("dow", "n_orders",
                      F.col("_rev").cast("double").alias("revenue"),
                      F.round(share, 6).alias("share"),
                      F.round(share * 7, 6).alias("seasonality_idx"))


_WEEKDAY_ORACLE = """
WITH per AS (
  SELECT dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(28,2)) AS rev
  FROM orders GROUP BY 1)
SELECT dow, n_orders, CAST(rev AS DOUBLE) AS revenue,
       round(CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE), 6)
       AS share,
       round(CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE)
             * 7, 6) AS seasonality_idx
FROM per
"""
query("weekday_seasonality", q_weekday_seasonality, _WEEKDAY_ORACLE)


def q_hhi_by_month(spark, sf_dir):
    """Market-concentration time series: Herfindahl–Hirschman index of
    nation revenue shares per month (is revenue concentrating?).
    FULL oracle: per-cell DECIMAL sums; each squared share rounds to
    9 dp DECIMAL before the sum."""
    from pyspark.sql import Window as W
    t = load_tables(spark, sf_dir)
    j = (t["orders"].join(t["customer"],
                          F.col("o_custkey") == F.col("c_custkey"))
         .select(F.date_trunc("month", F.col("o_orderdate"))
                 .cast("date").alias("month"),
                 "c_nationkey",
                 F.col("o_totalprice").cast("decimal(18,2)").alias("rev")))
    cells = (j.groupBy("month", "c_nationkey")
             .agg(F.sum("rev").cast("decimal(28,2)").alias("r")))
    tot = F.sum("r").over(W.partitionBy("month"))
    share = F.col("r").cast("double") / tot.cast("double")
    term = F.round(share * share, 9).cast("decimal(18,9)")
    return (cells.withColumn("t", term)
            .groupBy("month")
            .agg(F.count("*").alias("n_nations"),
                 F.round(F.sum("t").cast("double"), 6).alias("hhi")))


_HHI_ORACLE = """
WITH cells AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         c_nationkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(28,2)) AS r
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
s AS (SELECT month,
             CAST(r AS DOUBLE)
             / CAST(SUM(r) OVER (PARTITION BY month) AS DOUBLE)
             AS share
      FROM cells),
t AS (SELECT month,
             CAST(round(share * share, 9) AS DECIMAL(18,9)) AS term
      FROM s)
SELECT month, COUNT(*) AS n_nations,
       round(CAST(SUM(term) AS DOUBLE), 6) AS hhi
FROM t GROUP BY month
"""
query("hhi_by_month", q_hhi_by_month, _HHI_ORACLE)


def q_modularity_lpa(spark, sf_dir):
    """Partition-quality audit: Newman modularity contribution per LPA
    community — e_c/m − (d_c/2m)², the score community detectors
    optimize.  FULL oracle: the deterministic LPA labels replay as
    unrolled CTEs (the label_propagation oracle), and every
    modularity input (m, e_c, d_c) is an exact integer."""
    from ..operators.graph_algos import label_propagation
    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes_df.where(
        F.col("kind").isin("Customer", "Nation", "Region"))
    edges = g.edges_df.where(F.col("kind").isin("FromNation", "InRegion"))
    lab = label_propagation(nodes, edges, iters=4).select("uid", "label")
    de = edges.select(F.col("startuid").alias("src"),
                      F.col("enduid").alias("dst"))
    m = de.agg(F.count("*").alias("m"))
    ein = (de.join(lab.withColumnRenamed("uid", "src")
                   .withColumnRenamed("label", "ls"), "src")
           .join(lab.withColumnRenamed("uid", "dst")
                 .withColumnRenamed("label", "ld"), "dst")
           .where(F.col("ls") == F.col("ld"))
           .groupBy(F.col("ls").alias("label"))
           .agg(F.count("*").alias("e_in")))
    sym = (de.unionByName(de.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst")))
           .distinct())
    deg = sym.groupBy(F.col("src").alias("uid")) \
        .agg(F.count("*").alias("d"))
    dc = (lab.join(deg, "uid", "left")
          .groupBy("label")
          .agg(F.count("*").alias("n_members"),
               F.sum(F.coalesce("d", F.lit(0))).alias("d_sum")))
    j = (dc.join(ein, "label", "left").crossJoin(m))
    e = F.coalesce("e_in", F.lit(0))
    half = F.col("d_sum").cast("double") / (2 * F.col("m"))
    return j.select(
        "label", "n_members", e.alias("e_in"), "d_sum",
        F.round(e.cast("double") / F.col("m") - half * half, 9)
        .alias("contribution"))


_MODULARITY_FINAL = """
lab AS (SELECT uid, label FROM l4),
m AS (SELECT COUNT(*) AS m FROM de),
ein AS (SELECT l1.label, COUNT(*) AS e_in
        FROM de JOIN lab l1 ON l1.uid = de.src
                JOIN lab l2 ON l2.uid = de.dst
        WHERE l1.label = l2.label GROUP BY 1),
deg AS (SELECT src AS uid, COUNT(*) AS d FROM sym GROUP BY 1),
dc AS (SELECT label, COUNT(*) AS n_members,
               SUM(COALESCE(d, 0)) AS d_sum
        FROM lab LEFT JOIN deg USING (uid) GROUP BY label)
SELECT dc.label, n_members, COALESCE(e_in, 0) AS e_in, d_sum,
       round(CAST(COALESCE(e_in, 0) AS DOUBLE) / m.m
             - (CAST(d_sum AS DOUBLE) / (2 * m.m))
               * (CAST(d_sum AS DOUBLE) / (2 * m.m)), 9)
       AS contribution
FROM dc LEFT JOIN ein USING (label), m
"""
query("modularity_lpa", q_modularity_lpa,
      _label_propagation_sql(4, final="," + _MODULARITY_FINAL))


def q_node_jaccard(spark, sf_dir):
    """Neighborhood Jaccard similarity between parts in the order
    bipartite graph: J = |orders(u) ∩ orders(v)| / |orders(u) ∪
    orders(v)| for co-purchased pairs — top-20.  Intersections come
    from the wedge join (never all-pairs), degrees broadcast back.
    FULL oracle: exact integer set sizes, full key tiebreak."""
    li = (load_tables(spark, sf_dir)["lineitem"]
          .select("l_orderkey", "l_partkey").distinct())
    deg = li.groupBy("l_partkey").agg(F.count("*").alias("d"))
    a, b = li.alias("a"), li.alias("b")
    inter = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .groupBy(F.col("a.l_partkey").alias("u"),
                      F.col("b.l_partkey").alias("v"))
             .agg(F.count("*").alias("ix")))
    j = (inter
         .join(deg.select(F.col("l_partkey").alias("u"),
                          F.col("d").alias("du")), "u")
         .join(deg.select(F.col("l_partkey").alias("v"),
                          F.col("d").alias("dv")), "v")
         .select("u", "v", "ix",
                 F.round(F.col("ix").cast("double")
                         / (F.col("du") + F.col("dv") - F.col("ix")), 6)
                 .alias("jaccard")))
    return j.orderBy(F.col("jaccard").desc(), "u", "v").limit(20)


_NODE_JACCARD_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
deg AS (SELECT l_partkey, COUNT(*) AS d FROM li GROUP BY 1),
inter AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS ix
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2)
SELECT u, v, ix,
       round(CAST(ix AS DOUBLE) / (du.d + dv.d - ix), 6) AS jaccard
FROM inter JOIN deg du ON du.l_partkey = u
           JOIN deg dv ON dv.l_partkey = v
ORDER BY jaccard DESC, u, v LIMIT 20
"""
query("node_jaccard", q_node_jaccard, _NODE_JACCARD_ORACLE)


def q_revenue_drawdown(spark, sf_dir):
    """Daily revenue drawdown from the running peak — the
    volatility/health curve (finance's max-drawdown shape applied to
    a revenue series).  FULL oracle: DECIMAL daily sums, running max
    over exact decimals, one ratio double."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("decimal(18,2)").alias("rev")))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    peak = F.max("rev").over(w)
    return daily.select(
        "day", F.col("rev").cast("double").alias("rev"),
        peak.cast("double").alias("peak"),
        F.round((peak - F.col("rev")).cast("double")
                / peak.cast("double"), 6).alias("drawdown"))


_DRAWDOWN_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS rev
  FROM orders GROUP BY 1)
SELECT day, CAST(rev AS DOUBLE) AS rev,
       CAST(MAX(rev) OVER w AS DOUBLE) AS peak,
       round(CAST(MAX(rev) OVER w - rev AS DOUBLE)
             / CAST(MAX(rev) OVER w AS DOUBLE), 6) AS drawdown
FROM daily
WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
"""
query("revenue_drawdown", q_revenue_drawdown, _DRAWDOWN_ORACLE)


def q_bot_screen(spark, sf_dir):
    """Bot/abuse screen: per-user event rate (events per active hour)
    and event-type entropy — high-rate low-entropy users are the
    automation signature.  FULL oracle: exact integer counts, 9 dp
    decimal entropy terms, rate from exact second spans."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir)
    tc = (ev.groupBy("user_id", "event_type")
          .agg(F.count("*").alias("c")))
    totw = W.partitionBy("user_id")
    p = F.col("c") / F.sum("c").over(totw)
    term = F.round(-p * F.log2(p), 9).cast("decimal(18,9)")
    ent = (tc.withColumn("t", term)
           .groupBy("user_id")
           .agg(F.round(F.sum("t").cast("double"), 6).alias("entropy")))
    span = (ev.groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 (F.max(F.col("ts").cast("double"))
                  - F.min(F.col("ts").cast("double"))).alias("span_s")))
    rate = F.col("n_events").cast("double") \
        / F.greatest(F.col("span_s") / 3600.0, F.lit(1.0))
    return (span.join(ent, "user_id")
            .select("user_id", "n_events",
                    F.round(rate, 6).alias("events_per_hour"),
                    "entropy",
                    ((rate > 8) & (F.col("entropy") < 1.5))
                    .alias("flagged")))


_BOT_SCREEN_ORACLE = """
WITH tc AS (SELECT user_id, event_type, COUNT(*) AS c
            FROM events GROUP BY 1, 2),
ent AS (SELECT user_id,
               round(CAST(SUM(term) AS DOUBLE), 6) AS entropy
        FROM (SELECT user_id,
                     CAST(round(-(c / SUM(c) OVER (PARTITION BY user_id))
                                * log2(c / SUM(c) OVER
                                       (PARTITION BY user_id)), 9)
                          AS DECIMAL(18,9)) AS term
              FROM tc)
        GROUP BY user_id),
span AS (SELECT user_id, COUNT(*) AS n_events,
                MAX(epoch(ts)) - MIN(epoch(ts)) AS span_s
         FROM events GROUP BY 1)
SELECT span.user_id, n_events,
       round(CAST(n_events AS DOUBLE)
             / GREATEST(span_s / 3600.0, 1.0), 6) AS events_per_hour,
       entropy,
       (CAST(n_events AS DOUBLE)
        / GREATEST(span_s / 3600.0, 1.0) > 8 AND entropy < 1.5)
       AS flagged
FROM span JOIN ent ON span.user_id = ent.user_id
"""
query("bot_screen", q_bot_screen, _BOT_SCREEN_ORACLE)


def q_conversion_latency(spark, sf_dir):
    """Signup→first-purchase latency percentiles (hours) — the
    activation-speed SLA.  FULL oracle: first-event timestamps are
    exact mins, the interpolated percentiles follow the shared
    quantile_cont convention, 6 dp."""
    ev = _events(spark, sf_dir)
    s = (ev.where(F.col("event_type") == "signup")
         .groupBy("user_id")
         .agg(F.min(F.col("ts").cast("double")).alias("t_signup")))
    p = (ev.where(F.col("event_type") == "purchase")
         .groupBy("user_id")
         .agg(F.max(F.col("ts").cast("double")).alias("t_last_purchase"),
              F.min(F.col("ts").cast("double")).alias("t_first_purchase")))
    j = (s.join(p, "user_id")
         .where(F.col("t_first_purchase") >= F.col("t_signup"))
         .select(((F.col("t_first_purchase") - F.col("t_signup"))
                  / 3600.0).alias("lat_h")))
    return j.agg(
        F.count("*").alias("n_converted"),
        F.round(F.expr("percentile(lat_h, 0.5)"), 6).alias("p50_h"),
        F.round(F.expr("percentile(lat_h, 0.9)"), 6).alias("p90_h"))


_CONVERSION_LATENCY_ORACLE = """
WITH s AS (SELECT user_id, MIN(epoch(ts)) AS t_signup
           FROM events WHERE event_type = 'signup' GROUP BY 1),
p AS (SELECT user_id, MIN(epoch(ts)) AS t_first_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
j AS (SELECT (t_first_purchase - t_signup) / 3600.0 AS lat_h
      FROM s JOIN p USING (user_id)
      WHERE t_first_purchase >= t_signup)
SELECT COUNT(*) AS n_converted,
       round(quantile_cont(lat_h, 0.5), 6) AS p50_h,
       round(quantile_cont(lat_h, 0.9), 6) AS p90_h
FROM j
"""
query("conversion_latency", q_conversion_latency, _CONVERSION_LATENCY_ORACLE)


def q_seasonal_naive_backtest(spark, sf_dir):
    """Forecast backtest: the seasonal-naive model (ŷ_d = y_{d−7})
    scored with MAE and MAPE over the daily revenue series — the
    baseline every forecaster must beat.  FULL oracle: absolute
    errors are exact DECIMALs; per-day MAPE terms round to 9 dp
    DECIMAL before the mean."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("decimal(18,2)").alias("rev")))
    w = W.orderBy("day")
    pred = F.lag("rev", 7).over(w)
    scored = (daily.withColumn("pred", pred)
              .where(F.col("pred").isNotNull()))
    abs_err = F.abs(F.col("rev") - F.col("pred"))
    ape = F.round(abs_err.cast("double")
                  / F.col("rev").cast("double"), 9) \
        .cast("decimal(18,9)")
    return (scored.select(abs_err.alias("ae"), ape.alias("ape"))
            .agg(F.count("*").alias("n_days"),
                 F.round(F.sum("ae").cast("double") / F.count("*"), 6)
                 .alias("mae"),
                 F.round(F.sum("ape").cast("double") / F.count("*"), 6)
                 .alias("mape")))


_SEASONAL_NAIVE_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS rev
  FROM orders GROUP BY 1),
scored AS (
  SELECT rev, lag(rev, 7) OVER (ORDER BY day) AS pred FROM daily),
t AS (SELECT abs(rev - pred) AS ae,
             CAST(round(CAST(abs(rev - pred) AS DOUBLE)
                        / CAST(rev AS DOUBLE), 9)
                  AS DECIMAL(18,9)) AS ape
      FROM scored WHERE pred IS NOT NULL)
SELECT COUNT(*) AS n_days,
       round(CAST(SUM(ae) AS DOUBLE) / COUNT(*), 6) AS mae,
       round(CAST(SUM(ape) AS DOUBLE) / COUNT(*), 6) AS mape
FROM t
"""
query("seasonal_naive_backtest", q_seasonal_naive_backtest,
      _SEASONAL_NAIVE_ORACLE)


def q_basket_diversity(spark, sf_dir):
    """Basket-diversity histogram: distribution of distinct brands per
    order (how mixed are carts?).  FULL oracle: pure integer
    counting, two grouped aggregations."""
    t = load_tables(spark, sf_dir)
    per = (t["lineitem"].join(t["part"],
                              F.col("l_partkey") == F.col("p_partkey"))
           .groupBy("l_orderkey")
           .agg(F.countDistinct("p_brand").alias("n_brands")))
    return (per.groupBy("n_brands")
            .agg(F.count("*").alias("n_orders")))


_BASKET_DIVERSITY_ORACLE = """
WITH per AS (
  SELECT l_orderkey, COUNT(DISTINCT p_brand) AS n_brands
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1)
SELECT n_brands, COUNT(*) AS n_orders FROM per GROUP BY 1
"""
query("basket_diversity", q_basket_diversity, _BASKET_DIVERSITY_ORACLE)


def q_topk_share_by_nation(spark, sf_dir):
    """Revenue concentration per nation: share captured by each
    nation's top-3 customers — the grouped top-k + conditional-share
    shape.  FULL oracle: rank under a (rev, custkey) total order,
    DECIMAL sums, one ratio double."""
    from pyspark.sql import Window as W
    t = load_tables(spark, sf_dir)
    per = (t["orders"].join(t["customer"],
                            F.col("o_custkey") == F.col("c_custkey"))
           .groupBy("c_nationkey", "o_custkey")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(18,2)").alias("rev")))
    rnk = F.row_number().over(
        W.partitionBy("c_nationkey")
        .orderBy(F.col("rev").desc(), "o_custkey"))
    flagged = per.withColumn("topk", rnk <= 3)
    return (flagged.groupBy("c_nationkey")
            .agg(F.count("*").alias("n_customers"),
                 F.sum(F.when(F.col("topk"), F.col("rev"))
                       .otherwise(F.lit(0).cast("decimal(18,2)")))
                 .cast("double").alias("top3_rev"),
                 F.round(F.sum(F.when(F.col("topk"), F.col("rev"))
                               .otherwise(F.lit(0)
                                          .cast("decimal(18,2)")))
                         .cast("double")
                         / F.sum("rev").cast("double"), 6)
                 .alias("top3_share")))


_TOPK_SHARE_ORACLE = """
WITH per AS (
  SELECT c_nationkey, o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
flagged AS (
  SELECT c_nationkey, rev,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY rev DESC, o_custkey) <= 3 AS topk
  FROM per)
SELECT c_nationkey, COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN topk THEN rev
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       AS top3_rev,
       round(CAST(SUM(CASE WHEN topk THEN rev
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE), 6) AS top3_share
FROM flagged GROUP BY c_nationkey
"""
query("topk_share_by_nation", q_topk_share_by_nation, _TOPK_SHARE_ORACLE)


def q_return_rate_by_discount(spark, sf_dir):
    """Do discounted lines get returned more?  Return-flag rate per
    discount bucket with lift over the global rate.  FULL oracle:
    buckets from exact cent-scaled discounts, rates as exact-count
    ratios."""
    from pyspark.sql import Window as W
    li = load_tables(spark, sf_dir)["lineitem"]
    bucket = F.round(F.col("l_discount") * 100).cast("int")
    per = (li.groupBy(bucket.alias("disc_pct"))
           .agg(F.count("*").alias("n_lines"),
                F.sum(F.when(F.col("l_returnflag") == "R", 1)
                      .otherwise(0)).alias("n_returned")))
    gr = (F.sum("n_returned").over(W.partitionBy()).cast("double")
          / F.sum("n_lines").over(W.partitionBy()))
    rate = F.col("n_returned").cast("double") / F.col("n_lines")
    return per.select("disc_pct", "n_lines", "n_returned",
                      F.round(rate, 6).alias("return_rate"),
                      F.round(rate / gr, 6).alias("lift"))


_RETURN_RATE_ORACLE = """
WITH per AS (
  SELECT CAST(round(l_discount * 100) AS INTEGER) AS disc_pct,
         COUNT(*) AS n_lines,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
         AS n_returned
  FROM lineitem GROUP BY 1)
SELECT disc_pct, n_lines, n_returned,
       round(CAST(n_returned AS DOUBLE) / n_lines, 6) AS return_rate,
       round((CAST(n_returned AS DOUBLE) / n_lines)
             / (CAST(SUM(n_returned) OVER () AS DOUBLE)
                / SUM(n_lines) OVER ()), 6) AS lift
FROM per
"""
query("return_rate_by_discount", q_return_rate_by_discount,
      _RETURN_RATE_ORACLE)


def q_price_dispersion(spark, sf_dir):
    """Unit-price dispersion per brand: coefficient of variation of
    price-per-unit — pricing-consistency audit.  FULL oracle: unit
    prices round to 9 dp DECIMAL once, then mean/std come from exact
    decimal sums (closed form)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    t = load_tables(spark, sf_dir)["part"]
    up = F.round(F.col("l_extendedprice") / F.col("l_quantity"), 9) \
        .cast("decimal(18,9)")
    terms = (li.join(t, F.col("l_partkey") == F.col("p_partkey"))
             .select("p_brand", up.alias("x"),
                     (up * up).cast("decimal(38,18)").alias("xx")))
    agg = (terms.groupBy("p_brand")
           .agg(F.count("*").cast("double").alias("n"),
                F.sum("x").cast("double").alias("sx"),
                F.sum("xx").cast("double").alias("sxx")))
    mean = F.col("sx") / F.col("n")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) \
        / (F.col("n") - 1)
    return (agg.where(F.col("n") > 1)
            .select("p_brand", F.col("n").cast("bigint").alias("n_lines"),
                    F.round(mean, 6).alias("mean_unit_price"),
                    F.round(F.sqrt(var) / mean, 6).alias("cv")))


_PRICE_DISPERSION_ORACLE = """
WITH t AS (
  SELECT p_brand,
         CAST(round(l_extendedprice / l_quantity, 9)
              AS DECIMAL(18,9)) AS x
  FROM lineitem JOIN part ON l_partkey = p_partkey),
a AS (SELECT p_brand,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx
      FROM t GROUP BY 1 HAVING COUNT(*) > 1)
SELECT p_brand, CAST(n AS BIGINT) AS n_lines,
       round(sx / n, 6) AS mean_unit_price,
       round(sqrt((sxx - sx * sx / n) / (n - 1)) / (sx / n), 6) AS cv
FROM a
"""
query("price_dispersion", q_price_dispersion, _PRICE_DISPERSION_ORACLE)


def q_ks_statistic(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov statistic comparing account-
    balance distributions of the BUILDING vs MACHINERY segments —
    distribution-drift detection.  FULL oracle: the empirical CDFs are
    exact-count step functions (peer-inclusive RANGE frames handle
    ties identically), D = max |F₁−F₂| is an exact-rational compare."""
    from pyspark.sql import Window as W
    c = load_tables(spark, sf_dir)["customer"]
    pool = (c.where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
            .select(F.col("c_acctbal").alias("val"),
                    (F.col("c_mktsegment") == "BUILDING")
                    .cast("int").alias("is_a")))
    n1 = F.sum("is_a").over(W.partitionBy())
    n2 = F.sum(1 - F.col("is_a")).over(W.partitionBy())
    wr = (W.orderBy("val")
          .rangeBetween(W.unboundedPreceding, W.currentRow))
    ca = F.sum("is_a").over(wr)
    cb = F.sum(1 - F.col("is_a")).over(wr)
    d = F.abs(ca.cast("double") / n1 - cb.cast("double") / n2)
    return (pool.select(n1.alias("n1"), n2.alias("n2"), d.alias("d"))
            .agg(F.max("n1").alias("n1"), F.max("n2").alias("n2"),
                 F.round(F.max("d"), 6).alias("ks")))


_KS_ORACLE = """
WITH pool AS (
  SELECT c_acctbal AS val,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_a
  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
t AS (
  SELECT SUM(is_a) OVER () AS n1,
         SUM(1 - is_a) OVER () AS n2,
         abs(CAST(SUM(is_a) OVER w AS DOUBLE) / SUM(is_a) OVER ()
             - CAST(SUM(1 - is_a) OVER w AS DOUBLE)
               / SUM(1 - is_a) OVER ()) AS d
  FROM pool
  WINDOW w AS (ORDER BY val
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT MAX(n1) AS n1, MAX(n2) AS n2, round(MAX(d), 6) AS ks FROM t
"""
query("ks_statistic", q_ks_statistic, _KS_ORACLE)


def q_mann_whitney(spark, sf_dir):
    """Mann–Whitney U (rank-sum) test between the same two segments,
    with tie-corrected normal approximation — the nonparametric
    location test.  FULL oracle: average ranks are exact .5-step
    decimals, the tie-correction sums are exact integers, z is one
    closed-form double."""
    from pyspark.sql import Window as W
    c = load_tables(spark, sf_dir)["customer"]
    pool = (c.where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
            .select(F.col("c_acctbal").alias("val"),
                    (F.col("c_mktsegment") == "BUILDING")
                    .cast("int").alias("is_a")))
    # doubled average rank 2·ar = 2·rank + t − 1 stays an exact
    # INTEGER (no cross-engine decimal division); the tie-correction
    # Σ_groups(t³−t) accumulates row-wise as Σ_rows(t²−1)
    rk = F.rank().over(W.orderBy("val"))
    tie = F.count("*").over(W.partitionBy("val"))
    ranked = pool.select(
        "is_a", (2 * rk + tie - 1).alias("ar2"), tie.alias("t"))
    agg = ranked.agg(
        F.sum("is_a").cast("double").alias("n1"),
        F.sum(1 - F.col("is_a")).cast("double").alias("n2"),
        F.sum(F.when(F.col("is_a") == 1, F.col("ar2")).otherwise(0))
        .cast("double").alias("r1x2"),
        F.sum(F.col("t") * F.col("t") - 1).cast("double").alias("tcorr"),
        F.count("*").cast("double").alias("n"))
    u1 = (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)) / 2
    mu = F.col("n1") * F.col("n2") / 2
    var = (F.col("n1") * F.col("n2") / 12) \
        * ((F.col("n") + 1)
           - F.col("tcorr") / (F.col("n") * (F.col("n") - 1)))
    return agg.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        u1.alias("u"),
        F.round((u1 - mu) / F.sqrt(var), 6).alias("z"))


_MANN_WHITNEY_ORACLE = """
WITH pool AS (
  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_a,
         c_acctbal AS val
  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
ranked AS (
  SELECT is_a,
         2 * rank() OVER (ORDER BY val)
         + COUNT(*) OVER (PARTITION BY val) - 1 AS ar2,
         COUNT(*) OVER (PARTITION BY val) AS t
  FROM pool),
a AS (SELECT CAST(SUM(is_a) AS DOUBLE) AS n1,
             CAST(SUM(1 - is_a) AS DOUBLE) AS n2,
             CAST(SUM(CASE WHEN is_a = 1 THEN ar2 ELSE 0 END)
                  AS DOUBLE) AS r1x2,
             CAST(SUM(t * t - 1) AS DOUBLE) AS tcorr,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM ranked)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       (r1x2 - n1 * (n1 + 1)) / 2 AS u,
       round(((r1x2 - n1 * (n1 + 1)) / 2 - n1 * n2 / 2)
             / sqrt((n1 * n2 / 12)
                    * ((n + 1) - tcorr / (n * (n - 1)))), 6) AS z
FROM a
"""
query("mann_whitney", q_mann_whitney, _MANN_WHITNEY_ORACLE)


def q_welch_ttest(spark, sf_dir):
    """Welch's t-test + Cohen's d between the two segments' balances —
    the parametric counterpart.  FULL oracle: means/variances from
    exact DECIMAL sums, t/df/d in closed form."""
    c = load_tables(spark, sf_dir)["customer"]
    x = F.col("c_acctbal").cast("decimal(12,2)")
    pool = (c.where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
            .select((F.col("c_mktsegment") == "BUILDING")
                    .cast("int").alias("is_a"),
                    x.alias("x"),
                    (x * x).cast("decimal(28,4)").alias("xx")))
    g = (pool.groupBy("is_a")
         .agg(F.count("*").cast("double").alias("n"),
              F.sum("x").cast("double").alias("s"),
              F.sum("xx").cast("double").alias("ss")))
    a = g.where(F.col("is_a") == 1).select(
        F.col("n").alias("n1"), F.col("s").alias("s1"),
        F.col("ss").alias("ss1"))
    b = g.where(F.col("is_a") == 0).select(
        F.col("n").alias("n2"), F.col("s").alias("s2"),
        F.col("ss").alias("ss2"))
    j = a.crossJoin(b)
    m1 = F.col("s1") / F.col("n1")
    m2 = F.col("s2") / F.col("n2")
    v1 = (F.col("ss1") - F.col("s1") * F.col("s1") / F.col("n1")) \
        / (F.col("n1") - 1)
    v2 = (F.col("ss2") - F.col("s2") * F.col("s2") / F.col("n2")) \
        / (F.col("n2") - 1)
    se2 = v1 / F.col("n1") + v2 / F.col("n2")
    t = (m1 - m2) / F.sqrt(se2)
    df = se2 * se2 / ((v1 / F.col("n1")) * (v1 / F.col("n1"))
                      / (F.col("n1") - 1)
                      + (v2 / F.col("n2")) * (v2 / F.col("n2"))
                      / (F.col("n2") - 1))
    sp = F.sqrt(((F.col("n1") - 1) * v1 + (F.col("n2") - 1) * v2)
                / (F.col("n1") + F.col("n2") - 2))
    return j.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(m1 - m2, 6).alias("mean_diff"),
        F.round(t, 6).alias("t"),
        F.round(df, 6).alias("df"),
        F.round((m1 - m2) / sp, 6).alias("cohens_d"))


_WELCH_ORACLE = """
WITH pool AS (
  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_a,
         CAST(c_acctbal AS DECIMAL(12,2)) AS x
  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
g AS (SELECT is_a, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS s,
             CAST(SUM(CAST(x * x AS DECIMAL(28,4))) AS DOUBLE) AS ss
      FROM pool GROUP BY 1),
j AS (SELECT a.n AS n1, a.s AS s1, a.ss AS ss1,
             b.n AS n2, b.s AS s2, b.ss AS ss2
      FROM (SELECT * FROM g WHERE is_a = 1) a,
           (SELECT * FROM g WHERE is_a = 0) b),
c AS (SELECT n1, n2,
             s1 / n1 AS m1, s2 / n2 AS m2,
             (ss1 - s1 * s1 / n1) / (n1 - 1) AS v1,
             (ss2 - s2 * s2 / n2) / (n2 - 1) AS v2
      FROM j)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       round(m1 - m2, 6) AS mean_diff,
       round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t,
       round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
             / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6) AS df,
       round((m1 - m2)
             / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)),
             6) AS cohens_d
FROM c
"""
query("welch_ttest", q_welch_ttest, _WELCH_ORACLE)


def q_revenue_peaks(spark, sf_dir):
    """Local maxima in the daily revenue series with prominence over
    the centered 7-day mean — spike detection.  FULL oracle: strict
    lag/lead compares on exact DECIMALs; the centered mean divides an
    exact frame sum by its exact frame count."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("decimal(18,2)").alias("rev")))
    w = W.orderBy("day")
    wc = w.rowsBetween(-3, 3)
    prev, nxt = F.lag("rev").over(w), F.lead("rev").over(w)
    cmean = F.sum("rev").over(wc).cast("double") \
        / F.count("*").over(wc)
    return (daily
            .withColumn("prev", prev).withColumn("nxt", nxt)
            .withColumn("cmean", cmean)
            .where(F.col("prev").isNotNull() & F.col("nxt").isNotNull()
                   & (F.col("rev") > F.col("prev"))
                   & (F.col("rev") > F.col("nxt")))
            .select("day", F.col("rev").cast("double").alias("rev"),
                    F.round(F.col("rev").cast("double")
                            - F.col("cmean"), 6).alias("prominence")))


_REVENUE_PEAKS_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS rev
  FROM orders GROUP BY 1),
t AS (
  SELECT day, rev,
         lag(rev) OVER (ORDER BY day) AS prev,
         lead(rev) OVER (ORDER BY day) AS nxt,
         CAST(SUM(rev) OVER wc AS DOUBLE) / COUNT(*) OVER wc AS cmean
  FROM daily
  WINDOW wc AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
SELECT day, CAST(rev AS DOUBLE) AS rev,
       round(CAST(rev AS DOUBLE) - cmean, 6) AS prominence
FROM t
WHERE prev IS NOT NULL AND nxt IS NOT NULL
  AND rev > prev AND rev > nxt
"""
query("revenue_peaks", q_revenue_peaks, _REVENUE_PEAKS_ORACLE)


def q_level_shifts(spark, sf_dir):
    """Largest level shifts in daily revenue: |mean of next 7 days −
    mean of prior 7 days| per day, top-5 — the window-contrast
    changepoint heuristic.  FULL oracle: both means are exact frame
    sums over DECIMALs divided by exact counts; full-frame rows
    only."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("decimal(18,2)").alias("rev")))
    w = W.orderBy("day")
    wb = w.rowsBetween(-7, -1)
    wa = w.rowsBetween(0, 6)
    mb = F.sum("rev").over(wb).cast("double") / F.count("*").over(wb)
    ma = F.sum("rev").over(wa).cast("double") / F.count("*").over(wa)
    return (daily
            .withColumn("shift", F.round(F.abs(ma - mb), 6))
            .withColumn("cb", F.count("*").over(wb))
            .withColumn("ca", F.count("*").over(wa))
            .where((F.col("cb") == 7) & (F.col("ca") == 7))
            .select("day", "shift")
            .orderBy(F.col("shift").desc(), "day").limit(5))


_LEVEL_SHIFTS_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS rev
  FROM orders GROUP BY 1),
t AS (
  SELECT day,
         round(abs(CAST(SUM(rev) OVER wa AS DOUBLE)
                   / COUNT(*) OVER wa
                   - CAST(SUM(rev) OVER wb AS DOUBLE)
                     / COUNT(*) OVER wb), 6) AS shift,
         COUNT(*) OVER wb AS cb, COUNT(*) OVER wa AS ca
  FROM daily
  WINDOW wb AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
         wa AS (ORDER BY day ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING))
SELECT day, shift FROM t WHERE cb = 7 AND ca = 7
ORDER BY shift DESC, day LIMIT 5
"""
query("level_shifts", q_level_shifts, _LEVEL_SHIFTS_ORACLE)


def q_session_event_pairs(spark, sf_dir):
    """Within-session event-type co-occurrence lift: which action
    pairs happen in the same 30-min session more than independence
    predicts.  FULL oracle: session ids replay the gap-break cumsum,
    all probabilities are exact session-count ratios."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") \
        - F.lag(F.col("ts").cast("double")).over(w)
    brk = F.when(gap > 30 * 60, 1).otherwise(0)
    sess = F.sum(brk).over(w.rowsBetween(W.unboundedPreceding, 0))
    st = (ev.withColumn("sess", sess)
          .select("user_id", "sess", "event_type").distinct())
    nses = (st.select("user_id", "sess").distinct()
            .agg(F.count("*").alias("n_sessions")))
    per = st.groupBy("event_type").agg(F.count("*").alias("c"))
    a, b = st.alias("a"), st.alias("b")
    pairs = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.sess") == F.col("b.sess"))
                    & (F.col("a.event_type") < F.col("b.event_type")))
             .groupBy(F.col("a.event_type").alias("et_a"),
                      F.col("b.event_type").alias("et_b"))
             .agg(F.count("*").alias("cab")))
    j = (pairs
         .join(per.select(F.col("event_type").alias("et_a"),
                          F.col("c").alias("ca")), "et_a")
         .join(per.select(F.col("event_type").alias("et_b"),
                          F.col("c").alias("cb")), "et_b")
         .crossJoin(nses))
    lift = (F.col("cab").cast("double") * F.col("n_sessions")) \
        / (F.col("ca") * F.col("cb"))
    return j.select("et_a", "et_b", "cab",
                    F.round(lift, 6).alias("lift"))


_SESSION_PAIRS_ORACLE = """
WITH s AS (
  SELECT user_id, event_type,
         SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sess
  FROM (SELECT user_id, event_type, ts, event_id,
               epoch(ts) - lag(epoch(ts))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS gap
        FROM events)),
st AS (SELECT DISTINCT user_id, sess, event_type FROM s),
nses AS (SELECT COUNT(*) AS n_sessions
         FROM (SELECT DISTINCT user_id, sess FROM st)),
per AS (SELECT event_type, COUNT(*) AS c FROM st GROUP BY 1),
pairs AS (
  SELECT a.event_type AS et_a, b.event_type AS et_b, COUNT(*) AS cab
  FROM st a JOIN st b
    ON a.user_id = b.user_id AND a.sess = b.sess
   AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT et_a, et_b, cab,
       round(CAST(cab AS DOUBLE) * n_sessions / (ca.c * cb.c), 6)
       AS lift
FROM pairs
JOIN per ca ON ca.event_type = et_a
JOIN per cb ON cb.event_type = et_b, nses
"""
query("session_event_pairs", q_session_event_pairs, _SESSION_PAIRS_ORACLE)


def q_ssjoin_exact(spark, sf_dir):
    """EXACT set-similarity self-join (PPJoin-style prefix filtering):
    every document pair with 3-shingle Jaccard >= 0.5, no false
    negatives — the lossless counterpart to q:minhash_pairs (which
    trades recall for speed).  Candidate generation joins only the
    rarest ``n - ceil(t*n) + 1`` shingles of each document (global
    rarest-first order), so the join fan-out is bounded by
    rare-shingle document frequencies, never all-pairs.  The oracle
    is *independent* of the pruning strategy: it computes pair
    intersections with a plain shingle equi-join + count, so a prefix
    filter bug that dropped a true pair would hash-mismatch."""
    return dedup.ssjoin_jaccard(_docs(spark, sf_dir), threshold=0.5)


_SSJOIN_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
        i -> CAST(('0x' || substr(md5(
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))
             AS BIGINT))) AS s
  FROM toks WHERE len(ws) >= 3
), tt AS (SELECT doc_id, len(s) AS n, unnest(s) AS tok FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         count(*) AS i
  FROM tt a JOIN tt b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b, round(CAST(i AS DOUBLE)/(na+nb-i), 6) AS jaccard
FROM inter WHERE CAST(i AS DOUBLE)/(na+nb-i) >= 0.5
"""
query("ssjoin_exact", q_ssjoin_exact, _SSJOIN_ORACLE)


def q_closeness_nations(spark, sf_dir):
    """Closeness + harmonic centrality for all 25 Nation nodes over the
    undirected Region-Nation-Customer-Order subgraph, depth <= 3 —
    multi-source labeled BFS where k sources ride the frontier KEY
    (one frame keyed (source, uid)), so 25 sources cost the same
    number of Spark rounds as one.  Exact integer (reached, sum_dist)
    plus two engine-portable IEEE divisions; the harmonic sum is an
    integer ladder scaled by lcm(1..3)=6, so no float accumulation
    order exists anywhere."""
    t = load_tables(spark, sf_dir)
    g = tpch_graph(spark, sf_dir)
    seeds = t["nation"].select(
        F.concat(F.lit("Nation:"), F.col("n_nationkey")).alias("uid"))
    edges = g.edges_df.where(
        F.col("kind").isin("InRegion", "FromNation", "Placed"))
    return graph_algos.closeness_centrality(edges, seeds, max_depth=3,
                                            direction="both")


_CLOSENESS_ORACLE = """
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
walk(source, uid, d) AS (
  SELECT 'Nation:' || CAST(n_nationkey AS VARCHAR),
         'Nation:' || CAST(n_nationkey AS VARCHAR), 0 FROM nation
  UNION
  SELECT w.source, ed.b, w.d + 1 FROM walk w
  JOIN ed ON ed.a = w.uid WHERE w.d < 3
),
md AS (SELECT source, uid, MIN(d) AS d FROM walk GROUP BY 1, 2),
per AS (SELECT source, d, COUNT(*) AS c FROM md WHERE d > 0 GROUP BY 1, 2)
SELECT source, CAST(SUM(c) AS BIGINT) AS reached,
       CAST(SUM(c * d) AS BIGINT) AS sum_dist,
       round(CAST(SUM(c) AS DOUBLE) / SUM(c * d), 6) AS closeness,
       round(SUM(c * (6 // d)) / 6.0, 6) AS harmonic
FROM per GROUP BY source
"""
query("closeness_nations", q_closeness_nations, _CLOSENESS_ORACLE)


def _holt_coeffs(T: int = 12, horizons=(1, 2, 3, 4)):
    """Holt's linear trend method (double exponential smoothing,
    alpha=beta=1/2) UNROLLED to exact dyadic-rational coefficients over
    the last T observations: l_t and b_t are linear in y_1..y_t, so the
    h-step forecast l_T + h*b_T is one integer dot product.  Computing
    the coefficients once in ``fractions.Fraction`` and sharing the
    SAME integer ladder with the DuckDB oracle removes every source of
    cross-engine float drift — the recursion never executes at query
    time in either engine.

    Returns (D, {h: [num_1..num_T]}) with coefficient_i = num_i / D.
    """
    from fractions import Fraction
    half = Fraction(1, 2)
    # l/b as coefficient vectors over y_1..y_T (1-indexed at i-1)
    l = [Fraction(0)] * T
    b = [Fraction(0)] * T
    l[0] = Fraction(1)                       # l_1 = y_1
    b[0], b[1] = Fraction(-1), Fraction(1)   # b_1 = y_2 - y_1
    for t in range(1, T):                    # observations y_2..y_T
        prev_l = l[:]
        l = [half * lv + half * bv for lv, bv in zip(l, b)]
        l[t] += half
        b = [half * (lv - pv) + half * bv
             for lv, pv, bv in zip(l, prev_l, b)]
    out = {h: [l[i] + h * b[i] for i in range(T)] for h in horizons}
    denom = 1
    for cs in out.values():
        for c in cs:
            denom = denom * c.denominator // math.gcd(denom, c.denominator)
    return denom, {h: [int(c * denom) for c in cs]
                   for h, cs in out.items()}


_HOLT_T = 12
_HOLT_D, _HOLT_NUMS = _holt_coeffs(_HOLT_T)


def q_holt_forecast(spark, sf_dir):
    """1..4-week-ahead revenue forecast by Holt's linear trend method
    over the last 12 weeks of order revenue.  The smoothing recursion
    is unrolled to an exact integer coefficient ladder (see
    :func:`_holt_coeffs`), so the whole forecast is: weekly DECIMAL
    cents -> pick last 12 -> one broadcast join against 48 literal
    coefficients -> integer dot product -> two IEEE divisions.  Scale:
    the only full-data pass is the weekly aggregation (map-side
    partial); everything after operates on <= 12 rows."""
    o = load_tables(spark, sf_dir)["orders"]
    weekly = (o.groupBy(F.date_trunc("week", F.col("o_orderdate")
                                     .cast("timestamp")).alias("week"))
              .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    * 100).cast("decimal(38,0)").alias("cents")))
    from pyspark.sql import Window as W
    rn = F.row_number().over(W.orderBy(F.col("week").desc()))
    last = (weekly.withColumn("_rn", rn).where(F.col("_rn") <= _HOLT_T)
            .select((F.lit(_HOLT_T + 1) - F.col("_rn")).alias("i"),
                    "cents"))
    coef = spark.createDataFrame(
        [(h, i + 1, _HOLT_NUMS[h][i])
         for h in sorted(_HOLT_NUMS) for i in range(_HOLT_T)],
        "h int, i int, num long")
    return (last.join(F.broadcast(coef), "i")
            .groupBy("h")
            .agg(F.sum(F.col("num") * F.col("cents"))
                  .cast("decimal(38,0)").alias("_s"))
            .select(F.col("h").alias("horizon"),
                    F.round(F.col("_s").cast("double") / _HOLT_D / 100.0,
                            4).alias("forecast")))


def _holt_oracle_sql() -> str:
    vals = ", ".join(f"({h}, {i + 1}, {_HOLT_NUMS[h][i]})"
                     for h in sorted(_HOLT_NUMS) for i in range(_HOLT_T))
    return f"""
WITH weekly AS (
  SELECT date_trunc('week', CAST(o_orderdate AS TIMESTAMP)) AS week,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
              AS DECIMAL(38,0)) AS cents
  FROM orders GROUP BY 1
), last AS (
  SELECT {_HOLT_T} + 1 - row_number() OVER (ORDER BY week DESC) AS i,
         cents
  FROM weekly ORDER BY week DESC LIMIT {_HOLT_T}
), coef(h, i, num) AS (VALUES {vals})
SELECT h AS horizon,
       round(CAST(SUM(num * cents) AS DOUBLE) / {_HOLT_D} / 100.0, 4)
       AS forecast
FROM last JOIN coef USING (i) GROUP BY h
"""
query("holt_forecast", q_holt_forecast, _holt_oracle_sql())


def q_priority_sample(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (priority sampling,
    Duffield-Lund-Thorup): 64 orders drawn proportionally to revenue,
    as a pure function of (orderkey, salt) — reproducible across
    reruns, engines, partitionings and retries.  Plan: narrow map to
    integer cents + one md5-derived priority, then TakeOrdered top-64
    (no global sort shuffle)."""
    from ..operators import pipeline
    o = load_tables(spark, sf_dir)["orders"]
    w = o.select("o_orderkey",
                 (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                 .cast("long").alias("cents"))
    return pipeline.priority_sample(w, "cents", 64, key_col="o_orderkey")


_PRIORITY_SAMPLE_ORACLE = """
WITH w AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents,
         CAST(('0x' || substr(md5('ps:' || CAST(o_orderkey AS VARCHAR)),
                              1, 15)) AS BIGINT) AS h
  FROM orders)
SELECT o_orderkey, cents,
       CAST(cents AS DOUBLE) * 1152921504606846976.0
             / CAST(h + 1 AS DOUBLE) AS priority
FROM w ORDER BY priority DESC, o_orderkey LIMIT 64
"""
query("priority_sample", q_priority_sample, _PRIORITY_SAMPLE_ORACLE)


def q_local_clustering(spark, sf_dir):
    """Per-node local clustering coefficient of the part co-purchase
    graph — 2*tri/(deg*(deg-1)) for every part with degree >= 2.  Same
    degree-ranked orientation as q:triangles_copurchase (wedge work
    bounded O(m^1.5), shuffled data O(m) + true triangle stream).  The
    oracle counts each node's triangles independently via the plain
    three-way edge join, so an orientation/crediting bug cannot
    self-confirm."""
    n_part = spark.sparkContext.defaultParallelism * 2
    li = (load_tables(spark, sf_dir)["lineitem"]
          .select("l_orderkey", "l_partkey")
          .repartition(n_part, "l_orderkey"))
    a, b = li.alias("a"), li.alias("b")
    co = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                 & (F.col("a.l_partkey") < F.col("b.l_partkey")))
          .select(F.col("a.l_partkey").alias("pa"),
                  F.col("b.l_partkey").alias("pb")))
    out = graph_algos.local_clustering(co, "pa", "pb")
    return out.select(F.col("v").alias("l_partkey"), "deg", "tri", "lcc")


_LOCAL_CLUSTERING_ORACLE = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (
  SELECT v, COUNT(*) AS deg FROM (
    SELECT lo AS v FROM e UNION ALL SELECT hi FROM e) GROUP BY v),
tri3 AS (
  SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
  FROM e ab JOIN e bc ON ab.hi = bc.lo
  JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi),
pn AS (
  SELECT v, COUNT(*) AS tri FROM (
    SELECT a AS v FROM tri3 UNION ALL SELECT b FROM tri3
    UNION ALL SELECT c FROM tri3) GROUP BY v)
SELECT d.v AS l_partkey, CAST(d.deg AS BIGINT) AS deg,
       CAST(COALESCE(pn.tri, 0) AS BIGINT) AS tri,
       round(2.0 * COALESCE(pn.tri, 0) / (d.deg * (d.deg - 1)), 6)
         AS lcc
FROM deg d LEFT JOIN pn ON pn.v = d.v
WHERE d.deg >= 2
"""
query("local_clustering", q_local_clustering, _LOCAL_CLUSTERING_ORACLE)


def q_seq_triples(spark, sf_dir):
    """Sequential pattern mining, order-3: contiguous event-type
    trigrams along each user's timeline (ordered by ts, event_id — the
    deterministic total order) with support >= 10.  One shuffle: the
    per-user window; the trigram aggregation map-side combines.  The
    PrefixSpan-lite shape for 'what do users do next' funnels."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = (ev.select("user_id", "ts", "event_id", "event_type")
         .withColumn("e2", F.lead("event_type", 1).over(w))
         .withColumn("e3", F.lead("event_type", 2).over(w))
         .where(F.col("e3").isNotNull()))
    return (t.groupBy(F.col("event_type").alias("et1"),
                      F.col("e2").alias("et2"),
                      F.col("e3").alias("et3"))
            .agg(F.count("*").alias("support"))
            .where(F.col("support") >= 10))


_SEQ_TRIPLES_ORACLE = """
WITH t AS (
  SELECT event_type AS et1,
         lead(event_type, 1) OVER w AS et2,
         lead(event_type, 2) OVER w AS et3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT et1, et2, et3, COUNT(*) AS support
FROM t WHERE et3 IS NOT NULL
GROUP BY 1, 2, 3 HAVING COUNT(*) >= 10
"""
query("seq_triples", q_seq_triples, _SEQ_TRIPLES_ORACLE)


def q_embedding_covariance(spark, sf_dir):
    """Exact population covariance matrix of the embedding corpus
    (upper triangle, 64x65/2 = 2080 cells) — the X^T X building block
    behind PCA/whitening at corpus scale.  Embeddings quantize to a
    1e-6 integer grid, so every accumulation is EXACT integer math
    (no float summation order anywhere); cov = (n*S_ij - s_i*s_j)
    / n^2 / 1e12 with the numerator in DECIMAL(38,0) and two final
    IEEE divisions.

    Scale shape: the outer products are generated per row by a nested
    JVM ``transform`` over the array (narrow map — NO self-join) and
    collapse in one map-side-combined groupBy on (i, j); only 2080
    keys ever cross the wire.  The moment sums are a second narrow
    pass; dims and the row count broadcast back onto the cell frame."""
    emb = _emb(spark, sf_dir)
    q = emb.select(
        F.transform(F.col("embedding"),
                    lambda x: F.round(x.cast("double") * 1e6)
                    .cast("long")).alias("q"))
    arr = F.col("q")
    outer = F.flatten(F.transform(
        arr, lambda x, i: F.transform(
            F.slice(arr, i + 1, F.size(arr)),
            lambda y, j: F.struct(i.alias("i"),
                                  (i + j).alias("j"),
                                  (x * y).alias("p")))))
    cells = (q.select(F.explode(outer).alias("c"))
             .select("c.i", "c.j", "c.p")
             .groupBy("i", "j")
             .agg(F.sum("p").cast("decimal(38,0)").alias("s_ij")))
    mom = (q.select(F.posexplode("q").alias("i", "v"))
           .groupBy("i").agg(F.sum("v").cast("decimal(38,0)").alias("s")))
    n = emb.count()
    num = (F.lit(n).cast("decimal(38,0)") * F.col("s_ij")
           - F.col("s_i") * F.col("s_j"))
    return (cells
            .join(F.broadcast(mom.select(F.col("i"),
                                         F.col("s").alias("s_i"))), "i")
            .join(F.broadcast(mom.select(F.col("i").alias("j"),
                                         F.col("s").alias("s_j"))), "j")
            .select("i", "j",
                    # + 0.0 folds IEEE -0.0 to +0.0 (a tiny negative
                    # covariance rounds to -0.0 in DuckDB, +0.0 here)
                    (F.round(num.cast("double") / n / n / 1e12, 6)
                     + F.lit(0.0)).alias("cov")))


_EMB_COV_ORACLE = """
WITH q AS (
  SELECT vec_id, CAST(t.i AS INT) AS i,
         CAST(round(CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)
                    * 1e6) AS BIGINT) AS v
  FROM embeddings, UNNEST(range(len(embedding))) AS t(i)),
n AS (SELECT COUNT(DISTINCT vec_id) AS n FROM q),
cells AS (
  SELECT a.i AS i, b.i AS j, SUM(a.v * b.v) AS s_ij
  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2),
mom AS (SELECT i, SUM(v) AS s FROM q GROUP BY i)
SELECT c.i, c.j,
       round(CAST(n.n * c.s_ij - mi.s * mj.s AS DOUBLE)
             / n.n / n.n / 1e12, 6) + 0.0 AS cov
FROM cells c
JOIN mom mi ON mi.i = c.i
JOIN mom mj ON mj.i = c.j, n
"""
query("embedding_covariance", q_embedding_covariance, _EMB_COV_ORACLE)


def q_interval_coverage(spark, sf_dir):
    """Union length of overlapping per-user activity intervals
    (event ts .. ts + value seconds): gaps-and-islands with a running
    max-end — the interval-algebra shape (utilization, SLA coverage,
    dedup of overlapping spans).  Integer epoch seconds end to end;
    one window shuffle on user_id."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir)
    iv = ev.select(
        "user_id",
        F.col("ts").cast("long").alias("s"),
        (F.col("ts").cast("long")
         + F.col("value").cast("long")).alias("e"),
        "event_id")
    w = (W.partitionBy("user_id").orderBy("s", "e", "event_id")
         .rowsBetween(W.unboundedPreceding, -1))
    run = (iv.withColumn("prev_max_e", F.max("e").over(w))
           .withColumn("covered",
                       F.greatest(
                           F.col("e")
                           - F.greatest(F.col("s"),
                                        F.coalesce(F.col("prev_max_e"),
                                                   F.col("s"))),
                           F.lit(0))))
    return (run.groupBy("user_id")
            .agg(F.sum("covered").cast("long").alias("covered_sec"),
                 F.count("*").alias("n_intervals")))


_INTERVAL_COVERAGE_ORACLE = """
WITH iv AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT)
           + CAST(floor(value) AS BIGINT) AS e,
         event_id
  FROM events),
run AS (
  SELECT user_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_e
  FROM iv)
SELECT user_id,
       CAST(SUM(GREATEST(e - GREATEST(s, COALESCE(prev_max_e, s)), 0))
            AS BIGINT) AS covered_sec,
       COUNT(*) AS n_intervals
FROM run GROUP BY user_id
"""
query("interval_coverage", q_interval_coverage, _INTERVAL_COVERAGE_ORACLE)


def q_betweenness_customers(spark, sf_dir):
    """Source-sampled betweenness centrality (truncated Brandes) over
    the Customer-Order-Part purchase graph from 10 pinned customer
    sources, depth <= 3.  Exact integer shortest-path counts (sigma)
    ride the (source, uid) frontier key; the backward dependency sweep
    accumulates 9 dp DECIMAL terms so layer sums are associative and
    the unrolled-CTE oracle replays them bit-for-bit."""
    t = load_tables(spark, sf_dir)
    g = tpch_graph(spark, sf_dir)
    seeds = (t["customer"].where(F.col("c_custkey") <= 10)
             .select(F.concat(F.lit("Customer:"),
                              F.col("c_custkey")).alias("uid")))
    edges = g.edges_df.where(F.col("kind").isin("Placed", "Contains"))
    return graph_algos.betweenness_sampled(edges, seeds, max_depth=3)


_BETWEENNESS_ORACLE = """
WITH
edd AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT 'Customer:' || CAST(o_custkey AS VARCHAR) AS a,
           'Order:' || CAST(o_orderkey AS VARCHAR) AS b FROM orders
    UNION ALL
    SELECT 'Order:' || CAST(o_orderkey AS VARCHAR),
           'Customer:' || CAST(o_custkey AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'Order:' || CAST(l_orderkey AS VARCHAR),
           'Part:' || CAST(l_partkey AS VARCHAR) FROM lineitem
    UNION ALL
    SELECT 'Part:' || CAST(l_partkey AS VARCHAR),
           'Order:' || CAST(l_orderkey AS VARCHAR) FROM lineitem)),
f0 AS MATERIALIZED (
  SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) AS source,
         'Customer:' || CAST(c_custkey AS VARCHAR) AS uid,
         CAST(1 AS BIGINT) AS sigma
  FROM customer WHERE c_custkey <= 10),
f1 AS MATERIALIZED (
  SELECT f0.source, edd.b AS uid, CAST(SUM(f0.sigma) AS BIGINT) AS sigma
  FROM f0 JOIN edd ON edd.a = f0.uid
  LEFT JOIN f0 p ON p.source = f0.source AND p.uid = edd.b
  WHERE p.uid IS NULL GROUP BY 1, 2),
f2 AS MATERIALIZED (
  SELECT f1.source, edd.b AS uid, CAST(SUM(f1.sigma) AS BIGINT) AS sigma
  FROM f1 JOIN edd ON edd.a = f1.uid
  LEFT JOIN (SELECT source, uid FROM f0
             UNION SELECT source, uid FROM f1) v
    ON v.source = f1.source AND v.uid = edd.b
  WHERE v.uid IS NULL GROUP BY 1, 2),
f3 AS MATERIALIZED (
  SELECT f2.source, edd.b AS uid, CAST(SUM(f2.sigma) AS BIGINT) AS sigma
  FROM f2 JOIN edd ON edd.a = f2.uid
  LEFT JOIN (SELECT source, uid FROM f0
             UNION SELECT source, uid FROM f1
             UNION SELECT source, uid FROM f2) v
    ON v.source = f2.source AND v.uid = edd.b
  WHERE v.uid IS NULL GROUP BY 1, 2),
sp2 AS MATERIALIZED (
  SELECT f2.source, f2.uid AS v, f3.uid AS w, f2.sigma AS sv,
         f3.sigma AS sw
  FROM f2 JOIN edd ON edd.a = f2.uid
  JOIN f3 ON f3.source = f2.source AND f3.uid = edd.b),
sp1 AS MATERIALIZED (
  SELECT f1.source, f1.uid AS v, f2.uid AS w, f1.sigma AS sv,
         f2.sigma AS sw
  FROM f1 JOIN edd ON edd.a = f1.uid
  JOIN f2 ON f2.source = f1.source AND f2.uid = edd.b),
d2 AS MATERIALIZED (
  SELECT source, v AS uid,
         SUM(CAST(round(CAST(sv AS DOUBLE) / sw * 1.0, 9)
                  AS DECIMAL(18,9))) AS delta
  FROM sp2 GROUP BY 1, 2),
d1 AS MATERIALIZED (
  SELECT sp1.source, sp1.v AS uid,
         SUM(CAST(round(CAST(sp1.sv AS DOUBLE) / sp1.sw
                        * (1.0 + CAST(COALESCE(d2.delta, 0) AS DOUBLE)),
                        9) AS DECIMAL(18,9))) AS delta
  FROM sp1 LEFT JOIN d2 ON d2.source = sp1.source AND d2.uid = sp1.w
  GROUP BY 1, 2),
contrib AS (
  SELECT f1.source, f1.uid,
         COALESCE(d1.delta, CAST(0 AS DECIMAL(18,9))) AS delta
  FROM f1 LEFT JOIN d1 ON d1.source = f1.source AND d1.uid = f1.uid
  UNION ALL
  SELECT f2.source, f2.uid,
         COALESCE(d2.delta, CAST(0 AS DECIMAL(18,9)))
  FROM f2 LEFT JOIN d2 ON d2.source = f2.source AND d2.uid = f2.uid
  UNION ALL
  SELECT source, uid, CAST(0 AS DECIMAL(18,9)) FROM f3)
SELECT uid, round(CAST(SUM(delta) AS DOUBLE), 6) AS betweenness
FROM contrib GROUP BY uid
"""
query("betweenness_customers", q_betweenness_customers, _BETWEENNESS_ORACLE)


def q_minhash_recall(spark, sf_dir):
    """Dedup-pipeline QUALITY AUDIT: recall of the MinHash LSH
    candidate generator against the exact prefix-filtered set-
    similarity join at Jaccard >= 0.5 — the measurement that tells a
    100 TB pipeline owner whether the cheap approximate pass is
    missing real duplicates.  Three scalar aggregates broadcast-joined
    into one row; both operand pipelines are the already-oracled
    q:minhash_pairs and q:ssjoin_exact plans."""
    exact = (dedup.ssjoin_jaccard(_docs(spark, sf_dir), threshold=0.5)
             .select("id_a", "id_b"))
    cand = q_minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    hit = exact.join(cand, ["id_a", "id_b"], "left_semi")
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_cand = cand.agg(F.count("*").alias("n_cand"))
    n_hit = hit.agg(F.count("*").alias("n_hit"))
    return (n_exact.crossJoin(F.broadcast(n_cand))
            .crossJoin(F.broadcast(n_hit))
            .select("n_exact", "n_cand", "n_hit",
                    F.round(F.col("n_hit") * 1.0 / F.col("n_exact"), 6)
                     .alias("recall")))


_MINHASH_RECALL_ORACLE = """
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
exact AS (
  SELECT id_a, id_b FROM inter
  WHERE CAST(i AS DOUBLE)/(na+nb-i) >= 0.5),
mh AS (
  SELECT doc_id, list_min(list_transform(range(1, len(ws)-1),
        i -> md5('0:' || ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
        AS mh
  FROM toks WHERE len(ws) >= 3),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM mh a JOIN mh b ON a.mh = b.mh AND a.doc_id < b.doc_id),
hit AS (SELECT * FROM exact INTERSECT SELECT * FROM cand)
SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
       (SELECT COUNT(*) FROM cand) AS n_cand,
       (SELECT COUNT(*) FROM hit) AS n_hit,
       round((SELECT COUNT(*) FROM hit) * 1.0
             / (SELECT COUNT(*) FROM exact), 6) AS recall
"""
query("minhash_recall", q_minhash_recall, _MINHASH_RECALL_ORACLE)


def q_stratified_topn(spark, sf_dir):
    """EXACTLY-n-per-stratum deterministic sample (the fixed-quota
    complement to rate-based stratified_sample): 20 documents per
    language chosen by hash order — reproducible, partition-invariant,
    and stable under corpus growth *within* the kept set's hash
    prefix.  One window shuffle on the stratum key; at scale the
    row_number cutoff keeps per-task state at n."""
    from pyspark.sql import Window as W
    docs = _docs(spark, sf_dir)
    h = text.hash60(F.concat(F.lit("topn:"),
                             F.col("doc_id").cast("string")))
    w = W.partitionBy("lang").orderBy(F.col("_h"), F.col("doc_id"))
    return (docs.withColumn("_h", h)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= 20)
            .select("lang", "doc_id"))


_STRATIFIED_TOPN_ORACLE = """
WITH h AS (
  SELECT lang, doc_id,
         CAST(('0x' || substr(md5('topn:' || CAST(doc_id AS VARCHAR)),
                              1, 15)) AS BIGINT) AS hv
  FROM documents),
r AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id)
           AS rn
  FROM h)
SELECT lang, doc_id FROM r WHERE rn <= 20
"""
query("stratified_topn", q_stratified_topn, _STRATIFIED_TOPN_ORACLE)


def q_funnel_windowed(spark, sf_dir):
    """Time-boxed ordered funnel view -> click -> purchase: for each
    user, the earliest view, then the earliest click strictly after it
    within 72 h, then the earliest purchase strictly after that click
    within 72 h.  Per-step user counts + median step latencies —
    integer epoch seconds throughout.  Plan: three per-user min-
    aggregations over pre-filtered event slivers (each a map-side
    combine), chained with two broadcast-sized joins on user_id."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_type",
        F.col("ts").cast("long").alias("t"))
    lim = 72 * 3600
    v = (ev.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("t").alias("tv")))
    c = (ev.where(F.col("event_type") == "click")
         .join(v, "user_id")
         .where((F.col("t") > F.col("tv"))
                & (F.col("t") <= F.col("tv") + lim))
         .groupBy("user_id", "tv").agg(F.min("t").alias("tc")))
    p = (ev.where(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .where((F.col("t") > F.col("tc"))
                & (F.col("t") <= F.col("tc") + lim))
         .groupBy("user_id", "tv", "tc").agg(F.min("t").alias("tp")))
    n_view = v.agg(F.count("*").alias("n_view"))
    n_click = c.agg(F.count("*").alias("n_click"),
                    F.sum(F.col("tc") - F.col("tv")).cast("long")
                    .alias("sum_view_to_click"))
    n_buy = p.agg(F.count("*").alias("n_purchase"),
                  F.sum(F.col("tp") - F.col("tc")).cast("long")
                  .alias("sum_click_to_buy"))
    return (n_view.crossJoin(F.broadcast(n_click))
            .crossJoin(F.broadcast(n_buy))
            .select("n_view", "n_click", "n_purchase",
                    "sum_view_to_click", "sum_click_to_buy",
                    F.round(F.col("n_purchase") * 1.0
                            / F.col("n_view"), 6).alias("conversion")))


_FUNNEL_WINDOWED_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
v AS (
  SELECT user_id, MIN(t) AS tv FROM ev
  WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT ev.user_id, v.tv, MIN(ev.t) AS tc
  FROM ev JOIN v ON v.user_id = ev.user_id
  WHERE ev.event_type = 'click' AND ev.t > v.tv
    AND ev.t <= v.tv + 72*3600
  GROUP BY 1, 2),
p AS (
  SELECT ev.user_id, c.tv, c.tc, MIN(ev.t) AS tp
  FROM ev JOIN c ON c.user_id = ev.user_id
  WHERE ev.event_type = 'purchase' AND ev.t > c.tc
    AND ev.t <= c.tc + 72*3600
  GROUP BY 1, 2, 3)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click,
       (SELECT COUNT(*) FROM p) AS n_purchase,
       (SELECT CAST(SUM(tc - tv) AS BIGINT) FROM c)
         AS sum_view_to_click,
       (SELECT CAST(SUM(tp - tc) AS BIGINT) FROM p)
         AS sum_click_to_buy,
       round((SELECT COUNT(*) FROM p) * 1.0
             / (SELECT COUNT(*) FROM v), 6) AS conversion
"""
query("funnel_windowed", q_funnel_windowed, _FUNNEL_WINDOWED_ORACLE)


def q_psi_drift(spark, sf_dir):
    """Population Stability Index per price bucket — the ML-ops drift
    metric between a reference window (orders before 1998) and the
    current window: psi_b = (p_cur - p_b_ref) * ln(p_cur/p_ref).
    libm-proof: every ln runs on an INTEGER count (ln(p_cur/p_ref) =
    ln(n_cur) + ln(N_ref) - ln(n_ref) - ln(N_cur)), each rounded to
    9 dp DECIMAL before any arithmetic; proportions are 9 dp DECIMAL
    ratios; the product is exact.  Buckets present in only one window
    are excluded (standard PSI practice).  One aggregation shuffle on
    (bucket, window) + broadcast scalar totals."""
    o = load_tables(spark, sf_dir)["orders"]
    # explicit 50k-wide buckets (width_bucket is missing in DuckDB 1.0;
    # floor-division is the portable equivalent)
    b = F.least(F.lit(12),
                (F.floor(F.col("o_totalprice").cast("double") / 50000.0)
                 + 1).cast("int"))
    cnt = (o.select(b.alias("bucket"),
                    (F.col("o_orderdate") < F.lit("1998-01-01"))
                    .alias("is_ref"))
           .groupBy("bucket", "is_ref").agg(F.count("*").alias("n")))
    ref = cnt.where(F.col("is_ref")).select(
        "bucket", F.col("n").alias("n_ref"))
    cur = cnt.where(~F.col("is_ref")).select(
        "bucket", F.col("n").alias("n_cur"))
    tot = (cnt.groupBy("is_ref").agg(F.sum("n").alias("t"))
           .groupBy()
           .pivot("is_ref", [True, False]).agg(F.first("t"))
           .select(F.col("true").alias("t_ref"),
                   F.col("false").alias("t_cur")))

    def ln9(c):
        return F.round(F.log(c.cast("double")), 9).cast("decimal(18,9)")

    j = ref.join(cur, "bucket").crossJoin(F.broadcast(tot))
    p_ref = F.round(F.col("n_ref") / F.col("t_ref"), 9) \
        .cast("decimal(18,9)")
    p_cur = F.round(F.col("n_cur") / F.col("t_cur"), 9) \
        .cast("decimal(18,9)")
    lnr = (ln9(F.col("n_cur")) + ln9(F.col("t_ref"))
           - ln9(F.col("n_ref")) - ln9(F.col("t_cur")))
    return (j.select("bucket", "n_ref", "n_cur",
                     ((p_cur - p_ref) * lnr).cast("double").alias("_t"))
            .select("bucket", "n_ref", "n_cur",
                    (F.round(F.col("_t"), 9) + F.lit(0.0))
                    .alias("psi_term")))


_PSI_DRIFT_ORACLE = """
WITH cnt AS (
  SELECT LEAST(12, CAST(floor(CAST(o_totalprice AS DOUBLE) / 50000.0)
                        AS INT) + 1) AS bucket,
         o_orderdate < DATE '1998-01-01' AS is_ref,
         COUNT(*) AS n
  FROM orders GROUP BY 1, 2),
ref AS (SELECT bucket, n AS n_ref FROM cnt WHERE is_ref),
cur AS (SELECT bucket, n AS n_cur FROM cnt WHERE NOT is_ref),
tot AS (
  SELECT SUM(CASE WHEN is_ref THEN n END) AS t_ref,
         SUM(CASE WHEN NOT is_ref THEN n END) AS t_cur FROM cnt)
SELECT bucket, n_ref, n_cur,
       round(CAST(
         (CAST(round(n_cur * 1.0 / t_cur, 9) AS DECIMAL(18,9))
          - CAST(round(n_ref * 1.0 / t_ref, 9) AS DECIMAL(18,9)))
         * (CAST(round(ln(n_cur), 9) AS DECIMAL(18,9))
            + CAST(round(ln(t_ref), 9) AS DECIMAL(18,9))
            - CAST(round(ln(n_ref), 9) AS DECIMAL(18,9))
            - CAST(round(ln(t_cur), 9) AS DECIMAL(18,9)))
         AS DOUBLE), 9) + 0.0 AS psi_term
FROM ref JOIN cur USING (bucket), tot
"""
query("psi_drift", q_psi_drift, _PSI_DRIFT_ORACLE)


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (Xie et al. NeurIPS 2023): top-100
    documents by unigram log importance ratio between the English
    target slice and the whole corpus — the cheap domain-tilt selector
    for crawl-scale data.  One token pass builds BOTH add-one models
    (conditional counts in the same aggregation); 6 dp DECIMAL
    log-ratio terms keep the score order-independent."""
    from ..operators import pipeline
    return pipeline.dsir_select(_docs(spark, sf_dir),
                                F.col("lang") == "en", n=100)


_DSIR_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang = 'en' AS tgt,
         unnest(list_filter(string_split_regex(lower(text),
                '[^a-z0-9]+'), x -> x != '')) AS tok
  FROM documents),
freq AS (
  SELECT tok, COUNT(*) AS tf_all,
         SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tf_tgt
  FROM toks GROUP BY tok),
s AS (SELECT SUM(tf_all) + COUNT(*) AS denom_all,
             SUM(tf_tgt) + COUNT(*) AS denom_tgt FROM freq),
scored AS (
  SELECT t.doc_id,
         SUM(CAST(round(log10((f.tf_tgt + 1) * 1.0 / s.denom_tgt), 6)
                  AS DECIMAL(18,6))
             - CAST(round(log10((f.tf_all + 1) * 1.0 / s.denom_all), 6)
                    AS DECIMAL(18,6))) AS r,
         COUNT(*) AS n_tokens
  FROM toks t JOIN freq f USING (tok), s
  GROUP BY t.doc_id)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(r AS DOUBLE), 6) + 0.0 AS log_ratio
FROM scored ORDER BY log_ratio DESC, doc_id LIMIT 100
"""
query("dsir_select", q_dsir_select, _DSIR_ORACLE)


def q_hits_copurchase(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg) over the bipartite
    customer->part purchase graph, 2 unnormalized power iterations —
    every score an exact INTEGER (h = A a, a = A^T h from all-ones),
    ranking-equivalent to the normalized variant and bit-portable to
    the SQL replay.  Two join+sum shuffles per iteration over an
    edge frame partitioned once."""
    t = load_tables(spark, sf_dir)
    cp = (t["orders"].select("o_orderkey", "o_custkey")
          .join(load_tables(spark, sf_dir)["lineitem"]
                .select("l_orderkey", "l_partkey"),
                F.col("o_orderkey") == F.col("l_orderkey"))
          .select(F.concat(F.lit("Customer:"),
                           F.col("o_custkey")).alias("startuid"),
                  F.concat(F.lit("Part:"),
                           F.col("l_partkey")).alias("enduid")))
    return graph_algos.hits_integer(cp, iters=2)


_HITS_ORACLE = """
WITH e AS (
  SELECT DISTINCT 'Customer:' || CAST(o_custkey AS VARCHAR) AS s,
         'Part:' || CAST(l_partkey AS VARCHAR) AS d
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
h1 AS (SELECT s AS uid, COUNT(*) AS h FROM e GROUP BY s),
a1 AS (
  SELECT e.d AS uid, SUM(h1.h) AS a
  FROM e JOIN h1 ON h1.uid = e.s GROUP BY e.d),
h2 AS (
  SELECT e.s AS uid, SUM(a1.a) AS h
  FROM e JOIN a1 ON a1.uid = e.d GROUP BY e.s),
a2 AS (
  SELECT e.d AS uid, SUM(h2.h) AS a
  FROM e JOIN h2 ON h2.uid = e.s GROUP BY e.d)
SELECT COALESCE(h2.uid, a2.uid) AS uid,
       CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub,
       CAST(COALESCE(a2.a, 0) AS BIGINT) AS authority
FROM h2 FULL JOIN a2 ON h2.uid = a2.uid
"""
query("hits_copurchase", q_hits_copurchase, _HITS_ORACLE)


def q_katz_parts(spark, sf_dir):
    """Truncated Katz centrality (alpha = 1/8, walk lengths <= 3) over
    the directed Customer->Order->Part graph, scaled by 8^3 to an
    exact integer: katz_scaled(v) = sum_k 8^(3-k) * walks_k(v).
    Integer walk-count vectors w_k = A^T w_{k-1} — no float anywhere;
    one keyed join+sum per length."""
    g = tpch_graph(spark, sf_dir)
    edges = g.edges_df.where(F.col("kind").isin("Placed", "Contains"))
    return graph_algos.katz_walks(edges, iters=3, beta_inv=8)


_KATZ_ORACLE = """
WITH e AS (
  SELECT 'Customer:' || CAST(o_custkey AS VARCHAR) AS s,
         'Order:' || CAST(o_orderkey AS VARCHAR) AS d FROM orders
  UNION ALL
  SELECT 'Order:' || CAST(l_orderkey AS VARCHAR),
         'Part:' || CAST(l_partkey AS VARCHAR) FROM lineitem),
nodes AS (SELECT DISTINCT uid FROM
          (SELECT s AS uid FROM e UNION ALL SELECT d FROM e)),
w1 AS (SELECT d AS uid, COUNT(*) AS w FROM e GROUP BY d),
w2 AS (SELECT e.d AS uid, SUM(w1.w) AS w
       FROM e JOIN w1 ON w1.uid = e.s GROUP BY e.d),
w3 AS (SELECT e.d AS uid, SUM(w2.w) AS w
       FROM e JOIN w2 ON w2.uid = e.s GROUP BY e.d)
SELECT n.uid,
       CAST(64 * COALESCE(w1.w, 0) + 8 * COALESCE(w2.w, 0)
            + COALESCE(w3.w, 0) AS BIGINT) AS katz_scaled
FROM nodes n
LEFT JOIN w1 ON w1.uid = n.uid
LEFT JOIN w2 ON w2.uid = n.uid
LEFT JOIN w3 ON w3.uid = n.uid
"""
query("katz_parts", q_katz_parts, _KATZ_ORACLE)


def q_item_recommendations(spark, sf_dir):
    """Item-item collaborative filtering, end to end: per-customer
    top-3 part recommendations scored by summed item-item JACCARD
    similarity (rational — no sqrt, unlike cosine, so every term is
    engine-exact) over co-ownership, excluding parts already owned.
    Pipeline: distinct baskets -> capped per-customer pair explosion
    (the dedup.py max-bucket guard pattern) -> cooc >= 2 neighbor
    table -> owned x neighbors scoring join -> anti-join owned ->
    window top-3.  9 dp DECIMAL similarity terms keep the score sum
    order-independent; output restricted to custkey <= 300."""
    from pyspark.sql import Window as W
    t = load_tables(spark, sf_dir)
    basket = (t["orders"].select("o_orderkey", "o_custkey")
              .join(t["lineitem"].select("l_orderkey", "l_partkey"),
                    F.col("o_orderkey") == F.col("l_orderkey"))
              .select(F.col("o_custkey").alias("c"),
                      F.col("l_partkey").alias("p"))
              .distinct())
    sz = basket.groupBy("c").agg(F.count("*").alias("nb"))
    capped = basket.join(sz.where(F.col("nb") <= 100).select("c"), "c")
    pop = basket.groupBy("p").agg(F.count("*").alias("pop"))
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
    # k-NN item neighborhoods (top-20 per part): the standard item-CF
    # bound that keeps the scoring join fan-out at 20 x owned — without
    # it the owned x neighbors join is unbounded on dense co-purchase
    # graphs (GC-killed the sf0.1 run before this cap)
    wn = W.partitionBy("p").orderBy(F.col("jac").desc(), F.col("q"))
    nbrs = (nbrs_all.withColumn("_nr", F.row_number().over(wn))
            .where(F.col("_nr") <= 20).drop("_nr"))
    scored = (capped.join(nbrs, capped["p"] == nbrs["p"])
              .groupBy("c", "q")
              .agg(F.sum("jac").cast("decimal(28,9)").alias("s"))
              .join(basket.select("c", F.col("p").alias("q")),
                    ["c", "q"], "left_anti"))
    w = W.partitionBy("c").orderBy(F.col("s").desc(), F.col("q"))
    return (scored.where(F.col("c") <= 300)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select(F.col("c").alias("c_custkey"),
                    F.col("q").alias("rec_partkey"),
                    F.round(F.col("s").cast("double"), 6).alias("score")))


_ITEM_RECS_ORACLE = """
WITH basket AS (
  SELECT DISTINCT o_custkey AS c, l_partkey AS p
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
capped AS (
  SELECT b.* FROM basket b
  JOIN (SELECT c FROM basket GROUP BY c HAVING COUNT(*) <= 100) k
    USING (c)),
pop AS (SELECT p, COUNT(*) AS pop FROM basket GROUP BY p),
cooc AS (
  SELECT a.p AS pa, b.p AS pb, COUNT(*) AS cooc
  FROM capped a JOIN capped b ON a.c = b.c AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
jac AS (
  SELECT pa, pb,
         CAST(round(cooc * 1.0 / (na.pop + nb.pop - cooc), 9)
              AS DECIMAL(18,9)) AS jac
  FROM cooc
  JOIN pop na ON na.p = pa
  JOIN pop nb ON nb.p = pb),
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
  FROM capped cp JOIN nbrs n ON n.p = cp.p
  GROUP BY 1, 2),
fresh AS (
  SELECT s.* FROM scored s
  LEFT JOIN basket o ON o.c = s.c AND o.p = s.q
  WHERE o.p IS NULL),
r AS (
  SELECT c, q, s,
         row_number() OVER (PARTITION BY c ORDER BY s DESC, q) AS rn
  FROM fresh WHERE c <= 300)
SELECT c AS c_custkey, q AS rec_partkey,
       round(CAST(s AS DOUBLE), 6) AS score
FROM r WHERE rn <= 3
"""
query("item_recommendations", q_item_recommendations, _ITEM_RECS_ORACLE)


def q_mis_parts(spark, sf_dir):
    """Luby's maximal independent set over the part co-purchase graph
    with deterministic md5 priorities — the classic parallel
    symmetry-breaking primitive, 6 unrolled rounds (converges in ~4 on
    the fixtures; every node here is edge-incident, so no isolated-
    node special case).  The oracle replays the identical rounds via
    the equivalent NOT-EXISTS-smaller-neighbor formulation."""
    li = load_tables(spark, sf_dir)["lineitem"] \
        .select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    co = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                 & (F.col("a.l_partkey") < F.col("b.l_partkey")))
          .select(F.col("a.l_partkey").cast("string").alias("pa"),
                  F.col("b.l_partkey").cast("string").alias("pb")))
    out = graph_algos.maximal_independent_set(co, rounds=6,
                                              src_col="pa",
                                              dst_col="pb")
    return out.select(F.col("uid").cast("long").alias("l_partkey"))


def _mis_oracle_sql(rounds: int = 6) -> str:
    pri = lambda c: ("CAST(('0x' || substr(md5('mis:' || " + c +
                     "), 1, 15)) AS BIGINT)")
    ctes = ["""e0 AS MATERIALIZED (
  SELECT u, v FROM (
    SELECT CAST(a.l_partkey AS VARCHAR) AS u,
           CAST(b.l_partkey AS VARCHAR) AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey)
  GROUP BY u, v)""",
            "a0 AS MATERIALIZED (SELECT DISTINCT u AS uid FROM e0)"]
    for r in range(rounds):
        ctes.append(f"""c{r} AS MATERIALIZED (
  SELECT a.uid FROM a{r} a
  WHERE NOT EXISTS (
    SELECT 1 FROM e{r} e WHERE e.u = a.uid
      AND ({pri('e.v')}, e.v) < ({pri('a.uid')}, a.uid)))""")
        ctes.append(f"""rm{r} AS MATERIALIZED (
  SELECT uid FROM c{r}
  UNION SELECT e.v FROM e{r} e JOIN c{r} c ON c.uid = e.u)""")
        ctes.append(f"""a{r + 1} AS MATERIALIZED (
  SELECT uid FROM a{r} EXCEPT SELECT uid FROM rm{r})""")
        ctes.append(f"""e{r + 1} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r} e
  JOIN a{r + 1} x ON x.uid = e.u
  JOIN a{r + 1} y ON y.uid = e.v)""")
    sel = "\nUNION ALL ".join(f"SELECT uid FROM c{r}"
                              for r in range(rounds))
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT CAST(uid AS BIGINT) AS l_partkey FROM ({sel})")
query("mis_parts", q_mis_parts, _mis_oracle_sql())


def q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood record linkage (Hernandez-Stolfo 1995):
    sort parts by name, compare each record only to its w=5 following
    neighbors, keep levenshtein(p_name) <= 12 — the windowed
    alternative to hash blocking (catches near-misses that straddle a
    block boundary).  One global sort + a rank-band self-join whose
    fan-out is exactly w per record — never n^2."""
    from pyspark.sql import Window as W
    p = load_tables(spark, sf_dir)["part"].select("p_partkey", "p_name")
    r = p.withColumn("rn", F.row_number().over(
        W.orderBy("p_name", "p_partkey")))
    a, b = r.alias("a"), r.alias("b")
    return (a.join(b, (F.col("b.rn") > F.col("a.rn"))
                   & (F.col("b.rn") <= F.col("a.rn") + 5))
            .where(F.levenshtein("a.p_name", "b.p_name") <= 12)
            .select(F.col("a.p_partkey").alias("key_a"),
                    F.col("b.p_partkey").alias("key_b"),
                    F.levenshtein("a.p_name", "b.p_name").alias("dist")))


_SORTED_NBR_ORACLE = """
WITH r AS (
  SELECT p_partkey, p_name,
         row_number() OVER (ORDER BY p_name, p_partkey) AS rn
  FROM part)
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 5
WHERE levenshtein(a.p_name, b.p_name) <= 12
"""
query("sorted_neighborhood", q_sorted_neighborhood, _SORTED_NBR_ORACLE)


def q_theil_sen(spark, sf_dir):
    """Robust per-customer spend trend: Theil-Sen estimator (lower
    median of pairwise slopes) over each customer's order timeline —
    outlier-resistant where q:user_trend_slope's OLS is not.
    Customers with 3..40 orders; slopes are one IEEE division of
    integer cents by integer days; the lower-median pick is a pure
    rank selection, so no float accumulation exists."""
    from pyspark.sql import Window as W
    o = (load_tables(spark, sf_dir)["orders"]
         .select("o_custkey",
                 F.datediff(F.col("o_orderdate"),
                            F.lit("1995-01-01")).alias("d"),
                 (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                 .cast("long").alias("cents"),
                 "o_orderkey"))
    sz = o.groupBy("o_custkey").agg(F.count("*").alias("n"))
    keep = sz.where((F.col("n") >= 3) & (F.col("n") <= 40)) \
        .select("o_custkey")
    ok = o.join(keep, "o_custkey")
    a, b = ok.alias("a"), ok.alias("b")
    pairs = (a.join(b, (F.col("a.o_custkey") == F.col("b.o_custkey"))
                    & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
                    & (F.col("a.d") != F.col("b.d")))
             .select(F.col("a.o_custkey").alias("c"),
                     ((F.col("b.cents") - F.col("a.cents"))
                      / (F.col("b.d") - F.col("a.d"))).alias("slope")))
    w = W.partitionBy("c").orderBy("slope")
    ranked = (pairs.withColumn("rn", F.row_number().over(w))
              .withColumn("cnt", F.count("*").over(
                  W.partitionBy("c"))))
    return (ranked.where(F.col("rn")
                   == F.floor((F.col("cnt") + 1) / 2).cast("int"))
            .select(F.col("c").alias("o_custkey"),
                    (F.round(F.col("slope"), 6) + F.lit(0.0))
                    .alias("theil_sen_slope"),
                    F.col("cnt").alias("n_pairs")))


_THEIL_SEN_ORACLE = """
WITH o AS (
  SELECT o_custkey,
         datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           AS d,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents,
         o_orderkey
  FROM orders),
keep AS (
  SELECT o_custkey FROM o GROUP BY o_custkey
  HAVING COUNT(*) BETWEEN 3 AND 40),
ok AS (SELECT o.* FROM o JOIN keep USING (o_custkey)),
pairs AS (
  SELECT a.o_custkey AS c,
         (b.cents - a.cents) * 1.0 / (b.d - a.d) AS slope
  FROM ok a JOIN ok b
    ON a.o_custkey = b.o_custkey
   AND a.o_orderkey < b.o_orderkey AND a.d <> b.d),
ranked AS (
  SELECT c, slope,
         row_number() OVER (PARTITION BY c ORDER BY slope) AS rn,
         COUNT(*) OVER (PARTITION BY c) AS cnt
  FROM pairs)
SELECT c AS o_custkey, round(slope, 6) + 0.0 AS theil_sen_slope,
       cnt AS n_pairs
FROM ranked WHERE rn = CAST(floor((cnt + 1) / 2.0) AS INT)
"""
query("theil_sen", q_theil_sen, _THEIL_SEN_ORACLE)


def q_greedy_cover(spark, sf_dir):
    """Greedy maximum-coverage (the classic (1-1/e) set-cover greedy):
    pick 8 orders in sequence, each maximizing newly-covered parts
    (ties to the lowest orderkey).  Greedy cover is inherently
    sequential — 8 driver-coordinated rounds, each ONE distributed
    anti-join + count aggregation over the order->part frame
    (partitioned once); only the 1-row argmax crosses the driver
    boundary.  The data-selection primitive behind coverage-oriented
    corpus pruning."""
    om = (load_tables(spark, sf_dir)["lineitem"]
          .select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p"))
          .distinct().repartition("p").localCheckpoint(eager=True))
    covered = None
    rows = []
    total = 0
    for r in range(1, 9):
        fresh = om if covered is None else \
            om.join(covered, "p", "left_anti")
        top = (fresh.groupBy("o").agg(F.count("*").alias("gain"))
               .orderBy(F.col("gain").desc(), F.col("o"))
               .limit(1).collect())
        if not top:
            break
        o_key, gain = top[0]["o"], top[0]["gain"]
        total += gain
        rows.append((r, o_key, gain, total))
        new_parts = om.where(F.col("o") == o_key).select("p")
        covered = new_parts if covered is None else \
            covered.unionByName(new_parts).distinct()
        covered = covered.localCheckpoint(eager=True)
    return spark.createDataFrame(
        rows, "round int, o_orderkey long, gain long, covered_total long")


def _greedy_cover_oracle_sql(rounds: int = 8) -> str:
    ctes = ["""om AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)""",
            "c0(p) AS (SELECT CAST(NULL AS BIGINT) WHERE false)"]
    picks = []
    for r in range(1, rounds + 1):
        ctes.append(f"""g{r} AS MATERIALIZED (
  SELECT om.o, COUNT(*) AS gain
  FROM om LEFT JOIN c{r - 1} c ON c.p = om.p
  WHERE c.p IS NULL GROUP BY om.o)""")
        ctes.append(f"""pick{r} AS MATERIALIZED (
  SELECT {r} AS round, o, gain FROM g{r}
  ORDER BY gain DESC, o LIMIT 1)""")
        ctes.append(f"""c{r} AS MATERIALIZED (
  SELECT p FROM c{r - 1}
  UNION SELECT om.p FROM om JOIN pick{r} k ON k.o = om.o)""")
        picks.append(f"SELECT round, o, gain FROM pick{r}")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT CAST(round AS INT) AS round, o AS o_orderkey,
       CAST(gain AS BIGINT) AS gain,
       CAST(SUM(gain) OVER (ORDER BY round) AS BIGINT) AS covered_total
FROM ({" UNION ALL ".join(picks)})""")
query("greedy_cover", q_greedy_cover, _greedy_cover_oracle_sql())


def q_facility_location(spark, sf_dir):
    """Submodular data selection by the facility-location greedy (the
    coreset/diversity selector used for training-data curation):
    pick 5 embeddings maximizing sum_v max_{s in S} sim(v, s), where
    sim is the non-negative part of the dot product on a 1e-3 integer
    grid — every similarity, marginal gain and objective is an exact
    INTEGER, so the argmax sequence is engine-portable.

    Greedy is inherently sequential: 5 driver-coordinated rounds, each
    one join + sum over the materialized similarity frame and a 1-row
    argmax.  The sim matrix is IVF-BLOCKED (_ivf_blocked, same-cell
    equi-join — O(Σ n_c²), never the O(n²) cross join; out-of-cell
    sims are 0, so each pick covers its own cell): the standard
    blocked facility-location used for corpus-scale curation.  The
    oracle replays the identical unrolled-Lloyd assignment, so the
    blocked sim matrix — and hence the argmax sequence — is
    engine-reproducible."""
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
    sims = (a.join(b, "cluster")
            .select("va", "vb", F.greatest(dot, F.lit(0)).alias("s"))
            .repartition("vb").localCheckpoint(eager=True))
    best = q.select(F.col("vec_id").alias("va"),
                    F.lit(0).cast("long").alias("best"))
    rows, obj = [], 0
    for r in range(1, 6):
        top = (sims.join(best, "va")
               .groupBy("vb")
               .agg(F.sum(F.greatest(F.col("s") - F.col("best"),
                                     F.lit(0))).alias("gain"))
               .orderBy(F.col("gain").desc(), F.col("vb"))
               .limit(1).collect())
        pick, gain = top[0]["vb"], top[0]["gain"]
        obj += gain
        rows.append((r, pick, gain, obj))
        # LEFT join: with blocked sims a pick only covers its own
        # cell — vectors elsewhere keep their current best
        sp = sims.where(F.col("vb") == pick) \
            .select("va", F.col("s").alias("sp"))
        best = (best.join(sp, "va", "left")
                .select("va", F.greatest(
                    "best", F.coalesce("sp", F.lit(0))).alias("best"))
                .localCheckpoint(eager=True))
    return spark.createDataFrame(
        rows, "round int, vec_id long, gain long, objective long")


def _facility_location_oracle_sql(rounds: int = 5) -> str:
    # sims are IVF-blocked (same unrolled-Lloyd chain as the engine's
    # _ivf_blocked assignment) — out-of-cell sims are 0, so the best
    # update after each pick is a LEFT join with COALESCE
    ctes = ["""qd AS MATERIALIZED (
  SELECT vec_id, t.i AS i,
         CAST(round(CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)
                    * 1e3) AS BIGINT) AS v
  FROM embeddings, UNNEST(range(len(embedding))) AS t(i))""",
            """sims AS MATERIALIZED (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         GREATEST(SUM(a.v * b.v), 0) AS s
  FROM qd a JOIN qd b ON a.i = b.i
       JOIN fin fa ON fa.vec_id = a.vec_id
       JOIN fin fb ON fb.vec_id = b.vec_id AND fb.c = fa.c
  GROUP BY 1, 2)""",
            """b0 AS (SELECT DISTINCT va, CAST(0 AS BIGINT) AS best
  FROM sims)"""]
    picks = []
    for r in range(1, rounds + 1):
        ctes.append(f"""g{r} AS MATERIALIZED (
  SELECT s.vb, SUM(GREATEST(s.s - b.best, 0)) AS gain
  FROM sims s JOIN b{r - 1} b ON b.va = s.va GROUP BY s.vb)""")
        ctes.append(f"""p{r} AS MATERIALIZED (
  SELECT {r} AS round, vb, gain FROM g{r}
  ORDER BY gain DESC, vb LIMIT 1)""")
        ctes.append(f"""b{r} AS MATERIALIZED (
  SELECT b.va, GREATEST(b.best, COALESCE(s.s, 0)) AS best
  FROM b{r - 1} b LEFT JOIN (
    SELECT s.va, s.s FROM sims s JOIN p{r} p ON p.vb = s.vb) s
  ON s.va = b.va)""")
        picks.append(f"SELECT round, vb, gain FROM p{r}")
    return (_ivf_ctes(8, 2) + ",\n" + ",\n".join(ctes) + f"""
SELECT CAST(round AS INT) AS round, vb AS vec_id,
       CAST(gain AS BIGINT) AS gain,
       CAST(SUM(gain) OVER (ORDER BY round) AS BIGINT) AS objective
FROM ({" UNION ALL ".join(picks)})""")
query("facility_location", q_facility_location,
      _facility_location_oracle_sql())


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix — the classic BI triangle: users
    grouped by first-activity WEEK (the events fixture spans ~5
    weeks), retention = share of the cohort active again k weeks
    later.  Exact integer distinct counts; one 9 dp ratio per cell.
    Two shuffles: first-activity min-agg and the (cohort, age)
    distinct-count."""
    ev = _events(spark, sf_dir).select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("m"))
    first = ev.groupBy("user_id").agg(F.min("m").alias("cohort"))
    act = (ev.join(first, "user_id")
           .select("user_id", "cohort",
                   (F.datediff(F.col("m").cast("date"),
                               F.col("cohort").cast("date")) / 7)
                   .cast("int").alias("age"))
           .distinct())
    size = (act.where(F.col("age") == 0)
            .groupBy("cohort").agg(F.count("*").alias("n0")))
    cell = act.groupBy("cohort", "age").agg(F.count("*").alias("n"))
    return (cell.join(size, "cohort")
            .select(F.col("cohort").cast("date").alias("cohort"),
                    "age", "n",
                    F.round(F.col("n") / F.col("n0"), 9)
                    .alias("retention")))


_COHORT_RETENTION_ORACLE = """
WITH ev AS (
  SELECT user_id, date_trunc('week', ts) AS m FROM events),
first AS (
  SELECT user_id, MIN(m) AS cohort FROM ev GROUP BY user_id),
act AS (
  SELECT DISTINCT ev.user_id, f.cohort,
         CAST(datediff('day', CAST(f.cohort AS DATE),
                       CAST(ev.m AS DATE)) // 7 AS INT) AS age
  FROM ev JOIN first f USING (user_id)),
size_ AS (
  SELECT cohort, COUNT(*) AS n0 FROM act WHERE age = 0
  GROUP BY cohort),
cell AS (
  SELECT cohort, age, COUNT(*) AS n FROM act GROUP BY 1, 2)
SELECT CAST(c.cohort AS DATE) AS cohort, c.age, c.n,
       round(c.n * 1.0 / s.n0, 9) AS retention
FROM cell c JOIN size_ s USING (cohort)
"""
query("cohort_retention", q_cohort_retention, _COHORT_RETENTION_ORACLE)


def q_incremental_agg(spark, sf_dir):
    """Incremental aggregate maintenance — the materialized-view
    algebra: per-segment (count, sum, min, max) computed as BASE
    (orders < 1998) merged with a DELTA batch (orders >= 1998) using
    only the mergeable partial states, never rescanning the base.
    The ORACLE aggregates the full table directly, so the gate proves
    merge(base, delta) == full recompute — the property that makes
    incremental refresh sound at 100 TB."""
    o = load_tables(spark, sf_dir)["orders"].select(
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)")).alias("p"),
        F.col("o_orderdate"))

    def part(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("cnt"),
            F.sum("p").cast("decimal(28,2)").alias("s"),
            F.min("p").alias("mn"), F.max("p").alias("mx"))

    base = part(o.where(F.col("o_orderdate") < F.lit("1998-01-01")))
    delta = part(o.where(F.col("o_orderdate") >= F.lit("1998-01-01")))
    merged = (base.unionByName(delta)
              .groupBy("o_orderpriority")
              .agg(F.sum("cnt").cast("long").alias("n_orders"),
                   F.sum("s").cast("decimal(28,2)").alias("total"),
                   F.min("mn").alias("min_price"),
                   F.max("mx").alias("max_price")))
    return merged


_INCREMENTAL_AGG_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
         AS total,
       MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS min_price,
       MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS max_price
FROM orders GROUP BY o_orderpriority
"""
query("incremental_agg", q_incremental_agg, _INCREMENTAL_AGG_ORACLE)


def q_twap_users(spark, sf_dir):
    """Time-weighted average event value per user (the TWAP shape from
    finance/IoT): each observation holds until the user's next event;
    weights are integer seconds, per-term products round to 9 dp
    DECIMAL so the weighted sum is order-free.  One window shuffle."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("long").alias("t"),
        F.col("value").alias("v"), "event_id")
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    dt = (F.lead("t").over(w) - F.col("t"))
    seg = (ev.withColumn("dt", dt).where(F.col("dt").isNotNull())
           .select("user_id", "dt",
                   F.round(F.col("v") * F.col("dt"), 9)
                   .cast("decimal(28,9)").alias("vw")))
    return (seg.groupBy("user_id")
            .agg(F.sum("dt").cast("long").alias("span_sec"),
                 F.round(F.sum("vw").cast("double") / F.sum("dt"), 6)
                 .alias("twap")))


_TWAP_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, value AS v,
         event_id
  FROM events),
seg AS (
  SELECT user_id,
         lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t
           AS dt,
         v
  FROM ev)
SELECT user_id, CAST(SUM(dt) AS BIGINT) AS span_sec,
       round(CAST(SUM(CAST(round(v * dt, 9) AS DECIMAL(28,9)))
                  AS DOUBLE) / SUM(dt), 6) AS twap
FROM seg WHERE dt IS NOT NULL GROUP BY user_id
"""
query("twap_users", q_twap_users, _TWAP_ORACLE)


def q_segment_overlap(spark, sf_dir):
    """Audience-overlap matrix: Jaccard between the user sets of every
    event-type pair — the segment-intersection shape behind audience
    planning.  Exact distinct-user counts; intersections from one
    self-join on user_id (25 cells, map-side combined)."""
    m = _events(spark, sf_dir).select("event_type", "user_id").distinct()
    size = m.groupBy("event_type").agg(F.count("*").alias("n"))
    a, b = m.alias("a"), m.alias("b")
    inter = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.event_type") < F.col("b.event_type")))
             .groupBy(F.col("a.event_type").alias("et_a"),
                      F.col("b.event_type").alias("et_b"))
             .agg(F.count("*").alias("n_both")))
    return (inter
            .join(F.broadcast(size.select(
                F.col("event_type").alias("et_a"),
                F.col("n").alias("na"))), "et_a")
            .join(F.broadcast(size.select(
                F.col("event_type").alias("et_b"),
                F.col("n").alias("nb"))), "et_b")
            .select("et_a", "et_b", "n_both",
                    F.round(F.col("n_both")
                            / (F.col("na") + F.col("nb")
                               - F.col("n_both")), 6).alias("jaccard")))


_SEGMENT_OVERLAP_ORACLE = """
WITH m AS (SELECT DISTINCT event_type, user_id FROM events),
size_ AS (SELECT event_type, COUNT(*) AS n FROM m GROUP BY 1),
inter AS (
  SELECT a.event_type AS et_a, b.event_type AS et_b,
         COUNT(*) AS n_both
  FROM m a JOIN m b ON a.user_id = b.user_id
   AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT et_a, et_b, n_both,
       round(n_both * 1.0 / (sa.n + sb.n - n_both), 6) AS jaccard
FROM inter
JOIN size_ sa ON sa.event_type = et_a
JOIN size_ sb ON sb.event_type = et_b
"""
query("segment_overlap", q_segment_overlap, _SEGMENT_OVERLAP_ORACLE)


def q_session_labels(spark, sf_dir):
    """ML training-set construction: one labeled example per session
    (30-min gap sessionization) — features (n_events, distinct types,
    duration) and the binary label 'did the session contain a
    purchase'.  The dataset-building step between raw events and a
    conversion model; one window shuffle + one aggregation."""
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("long").alias("t"),
        "event_type", "event_id")
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    new_s = F.when(
        (F.col("t") - F.lag("t").over(w) > 1800)
        | F.lag("t").over(w).isNull(), 1).otherwise(0)
    sess = (ev.withColumn("ns", new_s)
            .withColumn("sid", F.sum("ns").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow))))
    return (sess.groupBy("user_id", "sid")
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct("event_type").alias("n_types"),
                 (F.max("t") - F.min("t")).alias("duration_sec"),
                 F.max(F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0)).alias("label")))


_SESSION_LABELS_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_type,
         event_id
  FROM events),
s AS (
  SELECT *, CASE WHEN t - lag(t) OVER w > 1800
                   OR lag(t) OVER w IS NULL THEN 1 ELSE 0 END AS ns
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
g AS (
  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM s)
SELECT user_id, CAST(sid AS BIGINT) AS sid, COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_types,
       CAST(MAX(t) - MIN(t) AS BIGINT) AS duration_sec,
       CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS INT) AS label
FROM g GROUP BY user_id, sid
"""
query("session_labels", q_session_labels, _SESSION_LABELS_ORACLE)


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each labeled
    embedding, the most-similar embedding with a DIFFERENT label
    (integer-grid dot product, ties to lowest id) — the pairs that
    matter for metric learning.  Argmax via one max(struct) aggregate
    over the label-filtered pair stream.  Candidates come from the
    shared IVF blocking (_ivf_blocked, same-cell equi-join — the
    mined negative is the hardest DIFFERENT-label vector in the same
    k-means cell, which is exactly where hard negatives live); the
    oracle replays the identical unrolled-Lloyd assignment, so the
    candidate set is engine-reproducible.  Vectors whose cell holds no
    other label produce no row (both engines agree)."""
    idx = _ivf_blocked(spark, sf_dir)
    q = idx.select("cluster", "vec_id", "label", F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1e3).cast("long"))
        .alias("q"))
    a = q.select("cluster", F.col("vec_id").alias("va"),
                 F.col("label").alias("la"), F.col("q").alias("qa"))
    b = q.select("cluster", F.col("vec_id").alias("vb"),
                 F.col("label").alias("lb"), F.col("q").alias("qb"))
    dot = F.aggregate(F.zip_with("qa", "qb", lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda acc, v: acc + v)
    best = F.max(F.struct(F.col("s").alias("s"),
                          (-F.col("vb")).alias("negid")))
    return (a.join(b, "cluster")
            .where(F.col("la") != F.col("lb"))
            .select("va", "vb", dot.alias("s"))
            .groupBy("va").agg(best.alias("m"))
            .select(F.col("va").alias("vec_id"),
                    (-F.col("m.negid")).cast("long")
                    .alias("hard_negative"),
                    F.col("m.s").alias("dot_scaled")))


_HARD_NEG_ORACLE = _ivf_ctes(8, 2) + """,
qd AS (
  SELECT vec_id, label, t.i AS i,
         CAST(round(CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)
                    * 1e3) AS BIGINT) AS v
  FROM embeddings, UNNEST(range(len(embedding))) AS t(i)),
dots AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, SUM(a.v * b.v) AS s
  FROM qd a JOIN qd b ON a.i = b.i AND a.label <> b.label
       JOIN fin fa ON fa.vec_id = a.vec_id
       JOIN fin fb ON fb.vec_id = b.vec_id AND fb.c = fa.c
  GROUP BY 1, 2),
r AS (
  SELECT va, vb, s,
         row_number() OVER (PARTITION BY va ORDER BY s DESC, vb) AS rn
  FROM dots)
SELECT va AS vec_id, vb AS hard_negative, s AS dot_scaled
FROM r WHERE rn = 1
"""
query("hard_negatives", q_hard_negatives, _HARD_NEG_ORACLE)


def q_spearman_corr(spark, sf_dir):
    """Spearman rank correlation between discount and quantity over
    lineitem — the robust complement to q:discount_quantity_corr's
    Pearson.  Tie-averaged ranks are carried DOUBLED (rank_avg*2 is an
    exact integer under ties, the q:mann_whitney trick), all moment
    sums are DECIMAL(38,0)-exact, and the only irrational op is sqrt —
    which IEEE 754 requires to be correctly rounded, so it is engine-
    portable where ln/exp are not."""
    li = load_tables(spark, sf_dir)["lineitem"].select(
        (F.col("l_discount").cast("decimal(12,2)") * 100)
        .cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"))

    def ranked2(col, alias):
        c = (li.groupBy(col).agg(F.count("*").alias("c")))
        from pyspark.sql import Window as W
        w = W.orderBy(col)
        # doubled average rank of a tie group: 2*min_rank + (c-1)
        return (c.withColumn(
            "_cum", F.sum("c").over(
                w.rowsBetween(W.unboundedPreceding, -1)))
            .select(col,
                    (2 * (F.coalesce(F.col("_cum"), F.lit(0)) + 1)
                     + (F.col("c") - 1)).alias(alias)))
    rx = ranked2("x", "rx2")
    ry = ranked2("y", "ry2")
    j = (li.join(F.broadcast(rx), "x").join(F.broadcast(ry), "y"))
    agg = j.agg(
        F.count("*").alias("n"),
        F.sum("rx2").cast("decimal(38,0)").alias("sx"),
        F.sum("ry2").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("decimal(38,0)")
        .alias("syy"))
    n = F.col("n").cast("decimal(38,0)")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.sqrt((n * F.col("sxx") - F.col("sx") * F.col("sx"))
                  .cast("double"))
           * F.sqrt((n * F.col("syy") - F.col("sy") * F.col("sy"))
                    .cast("double")))
    return agg.select(F.col("n").cast("long").alias("n"),
                      F.round(num / den, 6).alias("spearman_rho"))


_SPEARMAN_ORACLE = """
WITH li AS (
  SELECT CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
         CAST(l_quantity AS BIGINT) AS y
  FROM lineitem),
cx AS (SELECT x, COUNT(*) AS c FROM li GROUP BY x),
rx AS (
  SELECT x, 2 * (COALESCE(SUM(c) OVER (ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + 1) + (c - 1) AS rx2
  FROM cx),
cy AS (SELECT y, COUNT(*) AS c FROM li GROUP BY y),
ry AS (
  SELECT y, 2 * (COALESCE(SUM(c) OVER (ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + 1) + (c - 1) AS ry2
  FROM cy),
j AS (SELECT rx2, ry2 FROM li JOIN rx USING (x) JOIN ry USING (y)),
agg AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(rx2) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(ry2) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(rx2 * ry2) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(rx2 * rx2) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(ry2 * ry2) AS DECIMAL(38,0)) AS syy
  FROM j)
SELECT CAST(n AS BIGINT) AS n,
       round(CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx
                          AS DOUBLE))
                * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy
                            AS DOUBLE))), 6) AS spearman_rho
FROM agg
"""
query("spearman_corr", q_spearman_corr, _SPEARMAN_ORACLE)


def q_cusum_alarm(spark, sf_dir):
    """CUSUM change detection over daily revenue — the quality-control
    classic, made DECLARATIVE: the recursion S_t = max(0, S_{t-1} +
    x_t - k) equals P_t - min(0, min_{j<=t} P_j) for the drift-adjusted
    prefix sum P, so two window passes (running sum + running min)
    replace the sequential loop — the form that runs on a cluster.
    Integer cents throughout; k = floor(overall daily mean); alarm
    when S exceeds 5x k."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                   * 100).cast("long").alias("cents")))
    k = daily.agg(F.floor(F.avg("cents")).cast("long").alias("k"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    run = (daily.crossJoin(F.broadcast(k))
           .withColumn("p", F.sum(F.col("cents") - F.col("k")).over(w))
           .withColumn("pmin",
                       F.least(F.lit(0).cast("long"),
                               F.min("p").over(w))))
    s = F.col("p") - F.col("pmin")
    return (run.select("day", "cents", s.alias("cusum"),
                       (s > 5 * F.col("k")).alias("alarm"))
            .where(F.col("alarm")))


_CUSUM_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
k AS (SELECT CAST(floor(AVG(cents)) AS BIGINT) AS k FROM daily),
run AS (
  SELECT day, cents,
         SUM(cents - k.k) OVER (ORDER BY day
             ROWS UNBOUNDED PRECEDING) AS p,
         k.k
  FROM daily, k),
s AS (
  SELECT day, cents, k,
         p - LEAST(0, MIN(p) OVER (ORDER BY day
             ROWS UNBOUNDED PRECEDING)) AS cusum
  FROM run)
SELECT day, cents, CAST(cusum AS BIGINT) AS cusum,
       cusum > 5 * k AS alarm
FROM s WHERE cusum > 5 * k
"""
query("cusum_alarm", q_cusum_alarm, _CUSUM_ORACLE)


def q_wilson_intervals(spark, sf_dir):
    """Wilson score 95% confidence interval for the purchase rate per
    user cohort (users bucketed by id % 10) — the interval that stays
    sane at small n where the normal approximation fails.  The only
    irrational op is sqrt (IEEE-correctly-rounded -> engine-portable);
    z is the literal 1.96."""
    ev = _events(spark, sf_dir)
    g = (ev.groupBy((F.col("user_id") % 10).alias("cohort"))
         .agg(F.count("*").alias("n"),
              F.sum(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).alias("x")))
    z2 = 1.96 * 1.96
    p = F.col("x") / F.col("n")
    n = F.col("n")
    center = (p + z2 / (2 * n)) / (1 + z2 / n)
    half = (F.lit(1.96) * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
            / (1 + z2 / n))
    return g.select("cohort", "n", "x",
                    F.round(center - half, 6).alias("lo"),
                    F.round(center + half, 6).alias("hi"))


_WILSON_ORACLE = """
WITH g AS (
  SELECT user_id % 10 AS cohort, COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY 1)
SELECT cohort, n, x,
       round(((x * 1.0 / n) + 3.8416 / (2 * n)) / (1 + 3.8416 / n)
             - 1.96 * sqrt((x * 1.0 / n) * (1 - x * 1.0 / n) / n
                           + 3.8416 / (4 * n * n)) / (1 + 3.8416 / n),
             6) AS lo,
       round(((x * 1.0 / n) + 3.8416 / (2 * n)) / (1 + 3.8416 / n)
             + 1.96 * sqrt((x * 1.0 / n) * (1 - x * 1.0 / n) / n
                           + 3.8416 / (4 * n * n)) / (1 + 3.8416 / n),
             6) AS hi
FROM g
"""
query("wilson_intervals", q_wilson_intervals, _WILSON_ORACLE)


def q_kendall_nations(spark, sf_dir):
    """Kendall tau-a between two per-nation metrics — revenue rank vs
    customer-count rank: concordant/discordant PAIR COUNTS are exact
    integers over the 25-nation frame (300 pairs), tau = one IEEE
    division.  The rank-agreement check behind 'do our two KPIs order
    segments the same way'."""
    t = load_tables(spark, sf_dir)
    rev = (t["orders"].join(t["customer"],
                            F.col("o_custkey") == F.col("c_custkey"))
           .groupBy("c_nationkey")
           .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 * 100).cast("long").alias("rev"),
                F.countDistinct("c_custkey").alias("ncust")))
    a, b = rev.alias("a"), rev.alias("b")
    sgn = ((F.col("a.rev") < F.col("b.rev")).cast("int")
           - (F.col("a.rev") > F.col("b.rev")).cast("int")) * \
          ((F.col("a.ncust") < F.col("b.ncust")).cast("int")
           - (F.col("a.ncust") > F.col("b.ncust")).cast("int"))
    pairs = (a.join(b, F.col("a.c_nationkey") < F.col("b.c_nationkey"))
             .select(sgn.alias("s")))
    return (pairs.agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0)).alias("concordant"),
        F.sum(F.when(F.col("s") < 0, 1).otherwise(0)).alias("discordant"))
        .select("n_pairs", "concordant", "discordant",
                F.round((F.col("concordant") - F.col("discordant"))
                        / F.col("n_pairs"), 6).alias("kendall_tau")))


_KENDALL_ORACLE = """
WITH rev AS (
  SELECT c_nationkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS rev,
         COUNT(DISTINCT c_custkey) AS ncust
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey),
pairs AS (
  SELECT (CASE WHEN a.rev < b.rev THEN 1
               WHEN a.rev > b.rev THEN -1 ELSE 0 END)
         * (CASE WHEN a.ncust < b.ncust THEN 1
                 WHEN a.ncust > b.ncust THEN -1 ELSE 0 END) AS s
  FROM rev a JOIN rev b ON a.c_nationkey < b.c_nationkey)
SELECT COUNT(*) AS n_pairs,
       SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS concordant,
       SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS discordant,
       round((SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END)
              - SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END)) * 1.0
             / COUNT(*), 6) AS kendall_tau
FROM pairs
"""
query("kendall_nations", q_kendall_nations, _KENDALL_ORACLE)


def q_eb_shrinkage(spark, sf_dir):
    """Empirical-Bayes shrinkage of per-part return rates toward the
    Beta(20, 80) prior: shrunk = (x + 20)/(n + 100) — the rational
    form, so every estimate is one exact integer-fed division.  Fixes
    the small-n leaderboard problem (a part returned 1-of-1 must not
    outrank 40-of-100).  Output: top 25 shrunk rates."""
    li = load_tables(spark, sf_dir)["lineitem"]
    g = (li.groupBy("l_partkey")
         .agg(F.count("*").alias("n"),
              F.sum(F.when(F.col("l_returnflag") == "R", 1)
                    .otherwise(0)).alias("x")))
    shrunk = F.round((F.col("x") + 20) / (F.col("n") + 100), 9)
    raw = F.round(F.col("x") / F.col("n"), 9)
    return (g.select("l_partkey", "n", "x", raw.alias("raw_rate"),
                     shrunk.alias("shrunk_rate"))
            .orderBy(F.col("shrunk_rate").desc(), "l_partkey")
            .limit(25))


_EB_SHRINK_ORACLE = """
WITH g AS (
  SELECT l_partkey, COUNT(*) AS n,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS x
  FROM lineitem GROUP BY l_partkey)
SELECT l_partkey, n, x,
       round(x * 1.0 / n, 9) AS raw_rate,
       round((x + 20) * 1.0 / (n + 100), 9) AS shrunk_rate
FROM g ORDER BY shrunk_rate DESC, l_partkey LIMIT 25
"""
query("eb_shrinkage", q_eb_shrinkage, _EB_SHRINK_ORACLE)


def q_sax_symbols(spark, sf_dir):
    """SAX time-series symbolization (Lin et al. 2003): daily revenue
    -> 32 PAA segments (equal day-count buckets via ntile) -> z-score
    against the segment-mean distribution -> 4-symbol alphabet at the
    standard Gaussian breakpoints (-0.6745, 0, 0.6745).  The indexable
    motif/anomaly representation for massive series.  Determinism:
    exact integer cents everywhere before the z-score; mean/std from
    DECIMAL sums with sqrt (IEEE-exact) and one division; breakpoint
    compares are plain IEEE."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                   * 100).cast("long").alias("cents")))
    seg = daily.withColumn("seg", F.ntile(32).over(W.orderBy("day")))
    paa = (seg.groupBy("seg")
           .agg(F.min("day").alias("seg_start"),
                F.count("*").alias("n_days"),
                F.sum("cents").cast("decimal(38,0)").alias("s")))
    # segment means as exact rationals scaled by the common denominator
    # lcm(n_days) is overkill — compare means as s/n via cross-exact
    # double division (one op each)
    m = paa.select("seg", "seg_start",
                   (F.col("s").cast("double") / F.col("n_days"))
                   .alias("mean"))
    stats = m.agg(F.count("*").alias("k"),
                  F.sum(F.col("mean")
                        .cast("decimal(28,6)")).alias("sm"),
                  F.sum((F.col("mean") * F.col("mean"))
                        .cast("decimal(38,6)")).alias("sq"))
    mu = F.col("sm").cast("double") / F.col("k")
    var = (F.col("sq").cast("double") / F.col("k")) - mu * mu
    sd = F.sqrt(var)
    z = (F.col("mean") - mu) / sd
    sym = (F.when(z < -0.6745, "a").when(z < 0.0, "b")
           .when(z < 0.6745, "c").otherwise("d"))
    return (m.crossJoin(F.broadcast(stats))
            .select("seg", "seg_start", F.round(z, 6).alias("z"),
                    sym.alias("symbol")))


_SAX_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
seg AS (
  SELECT day, cents, ntile(32) OVER (ORDER BY day) AS seg FROM daily),
paa AS (
  SELECT seg, MIN(day) AS seg_start, COUNT(*) AS n_days,
         CAST(SUM(cents) AS DECIMAL(38,0)) AS s
  FROM seg GROUP BY seg),
m AS (
  SELECT seg, seg_start,
         CAST(s AS DOUBLE) / n_days AS mean
  FROM paa),
stats AS (
  SELECT COUNT(*) AS k,
         SUM(CAST(mean AS DECIMAL(28,6))) AS sm,
         SUM(CAST(mean * mean AS DECIMAL(38,6))) AS sq
  FROM m)
SELECT seg, seg_start,
       round((mean - CAST(sm AS DOUBLE) / k)
             / sqrt(CAST(sq AS DOUBLE) / k
                    - (CAST(sm AS DOUBLE) / k)
                      * (CAST(sm AS DOUBLE) / k)), 6) AS z,
       CASE WHEN (mean - CAST(sm AS DOUBLE) / k)
                 / sqrt(CAST(sq AS DOUBLE) / k
                        - (CAST(sm AS DOUBLE) / k)
                          * (CAST(sm AS DOUBLE) / k)) < -0.6745 THEN 'a'
            WHEN (mean - CAST(sm AS DOUBLE) / k)
                 / sqrt(CAST(sq AS DOUBLE) / k
                        - (CAST(sm AS DOUBLE) / k)
                          * (CAST(sm AS DOUBLE) / k)) < 0.0 THEN 'b'
            WHEN (mean - CAST(sm AS DOUBLE) / k)
                 / sqrt(CAST(sq AS DOUBLE) / k
                        - (CAST(sm AS DOUBLE) / k)
                          * (CAST(sm AS DOUBLE) / k)) < 0.6745 THEN 'c'
            ELSE 'd' END AS symbol
FROM m, stats
"""
query("sax_symbols", q_sax_symbols, _SAX_ORACLE)


def q_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the undirected adjacent-token co-occurrence graph (tokens of
    length >= 4), 4 synchronous iterations, top 30.  Every dependency
    term rounds to 9 dp DECIMAL before the neighbor sum and each rank
    update re-rounds to the same grid, so the float-summation order
    never matters and the unrolled-CTE oracle replays bit-for-bit."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(text.tokens(F.col("text")).alias("w"))
    pair = toks.select(F.explode(F.zip_with(
        F.slice(F.col("w"), 1, F.size("w") - 1),
        F.slice(F.col("w"), 2, F.size("w") - 1),
        lambda x, y: F.struct(F.least(x, y).alias("lo"),
                              F.greatest(x, y).alias("hi"))))
        .alias("p")).select("p.lo", "p.hi")
    edges = (pair.where((F.length("lo") >= 4) & (F.length("hi") >= 4)
                        & (F.col("lo") != F.col("hi")))
             .distinct())
    sym = (edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
           .unionByName(edges.select(F.col("hi").alias("u"),
                                     F.col("lo").alias("v")))
           .repartition("u").localCheckpoint(eager=True))
    deg = sym.groupBy("u").agg(F.count("*").alias("deg")) \
        .localCheckpoint(eager=True)
    rank = deg.select(F.col("u").alias("w"),
                      F.lit(1.0).cast("decimal(18,9)").alias("r"))
    for _ in range(4):
        contrib = (sym.join(rank.withColumnRenamed("w", "u"), "u")
                   .join(deg, "u")
                   .select(F.col("v").alias("w"),
                           F.round(F.col("r").cast("double")
                                   / F.col("deg"), 9)
                           .cast("decimal(18,9)").alias("c")))
        rank = (contrib.groupBy("w")
                .agg(F.round(0.15 + 0.85 * F.sum("c").cast("double"), 9)
                     .cast("decimal(18,9)").alias("r"))
                .localCheckpoint(eager=True))
    return (rank.select("w", F.col("r").cast("double").alias("rank"))
            .orderBy(F.col("rank").desc(), "w").limit(30))


def _textrank_oracle_sql(iters: int = 4) -> str:
    ctes = ["""toks AS MATERIALIZED (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS w
  FROM documents)""",
            """edges AS MATERIALIZED (
  SELECT DISTINCT LEAST(a, b) AS lo, GREATEST(a, b) AS hi FROM (
    SELECT w[CAST(t.i AS INT) + 1] AS a,
           w[CAST(t.i AS INT) + 2] AS b
    FROM toks, UNNEST(range(len(w) - 1)) AS t(i))
  WHERE length(a) >= 4 AND length(b) >= 4 AND a <> b)""",
            """sym AS MATERIALIZED (
  SELECT lo AS u, hi AS v FROM edges
  UNION ALL SELECT hi, lo FROM edges)""",
            """deg AS MATERIALIZED (
  SELECT u, COUNT(*) AS deg FROM sym GROUP BY u)""",
            """r0 AS MATERIALIZED (
  SELECT u AS w, CAST(1.0 AS DECIMAL(18,9)) AS r FROM deg)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""r{i} AS MATERIALIZED (
  SELECT s.v AS w,
         CAST(round(0.15 + 0.85 * CAST(SUM(
           CAST(round(CAST(p.r AS DOUBLE) / d.deg, 9)
                AS DECIMAL(18,9))) AS DOUBLE), 9) AS DECIMAL(18,9)) AS r
  FROM sym s JOIN r{i - 1} p ON p.w = s.u JOIN deg d ON d.u = s.u
  GROUP BY s.v)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT w, CAST(r AS DOUBLE) AS rank
FROM r{iters} ORDER BY rank DESC, w LIMIT 30""")
query("textrank_keywords", q_textrank_keywords, _textrank_oracle_sql())


def q_isotonic_trend(spark, sf_dir):
    """Isotonic (monotone nondecreasing) regression of weekly revenue
    on time WITHOUT the sequential PAVA loop: the minimax identity
    fit_i = min_{k>=i} max_{j<=i} avg(y_j..y_k) turns the fit into
    interval averages (prefix-sum differences) + a running max along
    j + a per-row min — O(n^2) cells over the DIM-SIZED weekly frame,
    every step a window/groupBy that runs distributed and replays in
    SQL.  Averages are exact integer-cent rationals with one IEEE
    division each; max/min are order-free."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    weekly = (o.groupBy(F.date_trunc("week", F.col("o_orderdate")
                                     .cast("timestamp")).alias("wk"))
              .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    * 100).cast("long").alias("cents")))
    idx = weekly.withColumn("i", F.row_number().over(W.orderBy("wk")))
    pre = idx.withColumn("p", F.sum("cents").over(
        W.orderBy("i").rowsBetween(W.unboundedPreceding, W.currentRow)))
    a = pre.select(F.col("i").alias("j"),
                   (F.col("p") - F.col("cents")).alias("pj1"))
    b = pre.select(F.col("i").alias("k"), F.col("p").alias("pk"))
    cells = (a.join(b, F.col("j") <= F.col("k"))
             .select("j", "k",
                     ((F.col("pk") - F.col("pj1"))
                      / (F.col("k") - F.col("j") + 1)).alias("avg")))
    runmax = F.max("avg").over(
        W.partitionBy("k").orderBy("j")
        .rowsBetween(W.unboundedPreceding, W.currentRow))
    fit = (cells.withColumn("m", runmax)
           .groupBy(F.col("j").alias("i"))
           .agg(F.min("m").alias("fit")))
    return (idx.join(fit, "i")
            .select("i", F.col("wk").cast("date").alias("week"),
                    "cents", F.round("fit", 6).alias("fit")))


_ISOTONIC_ORACLE = """
WITH weekly AS (
  SELECT date_trunc('week', CAST(o_orderdate AS TIMESTAMP)) AS wk,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
idx AS (
  SELECT wk, cents, row_number() OVER (ORDER BY wk) AS i FROM weekly),
pre AS (
  SELECT *, SUM(cents) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS p
  FROM idx),
cells AS (
  SELECT a.i AS j, b.i AS k,
         (b.p - (a.p - a.cents)) * 1.0 / (b.i - a.i + 1) AS avg
  FROM pre a JOIN pre b ON a.i <= b.i),
rm AS (
  SELECT j, k,
         MAX(avg) OVER (PARTITION BY k ORDER BY j
                        ROWS UNBOUNDED PRECEDING) AS m
  FROM cells),
fit AS (SELECT j AS i, MIN(m) AS fit FROM rm GROUP BY j)
SELECT idx.i, CAST(idx.wk AS DATE) AS week, idx.cents,
       round(fit.fit, 6) AS fit
FROM idx JOIN fit ON fit.i = idx.i
"""
query("isotonic_trend", q_isotonic_trend, _ISOTONIC_ORACLE)


def q_exact_median_terasort(spark, sf_dir):
    """EXACT global median (lower) of order value by terasort-shaped
    rank selection: range-partition on the value, per-partition sorted
    cumsum + partition offsets — the scale-correct way to take an
    exact order statistic (a partitionless row_number window funnels
    the table through one task; percentile() aggregates buffer per
    group).  Complements q:approx_percentiles (GK sketch) with the
    exact path."""
    from ..operators.pipeline import _global_cum_before
    o = load_tables(spark, sf_dir)["orders"].select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"))
    n = o.count()
    k = (n + 1) // 2
    ranked = _global_cum_before(o, "cents", F.lit(1))
    kth = (ranked.where((F.col("_cum_before") < k)
                        & (k <= F.col("_cum_before") + 1))
           .select("cents"))
    return (kth.agg(F.min("cents").alias("median_cents"))
            .select(F.lit(n).cast("long").alias("n"), "median_cents"))


_EXACT_MEDIAN_ORACLE = """
WITH o AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
    AS cents FROM orders),
n AS (SELECT COUNT(*) AS n FROM o)
SELECT n.n,
       (SELECT cents FROM o ORDER BY cents
        LIMIT 1 OFFSET (SELECT (n + 1) // 2 - 1 FROM n)) AS median_cents
FROM n
"""
query("exact_median_terasort", q_exact_median_terasort, _EXACT_MEDIAN_ORACLE)


def q_frequent_triples(spark, sf_dir):
    """Apriori frequent 3-itemsets over order baskets (support >= 2)
    WITH the Apriori candidate prune: triples are generated only by
    joining frequent PAIRS that share a leading item, then verified
    against the basket — the downward-closure principle that keeps
    candidate volume polynomial at scale (a naive 3-way basket
    self-join explodes cubically).  Exact integer supports."""
    li = (load_tables(spark, sf_dir)["lineitem"]
          .select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p")).distinct()
          .repartition("o").localCheckpoint(eager=True))
    a, b = li.alias("a"), li.alias("b")
    pairs = (a.join(b, (F.col("a.o") == F.col("b.o"))
                    & (F.col("a.p") < F.col("b.p")))
             .groupBy(F.col("a.p").alias("x"), F.col("b.p").alias("y"))
             .agg(F.count("*").alias("s"))
             .where(F.col("s") >= 2)
             .localCheckpoint(eager=True))
    # candidate triples: frequent pairs (x,y), (x,z) with y < z
    cand = (pairs.alias("p1")
            .join(pairs.alias("p2"),
                  (F.col("p1.x") == F.col("p2.x"))
                  & (F.col("p1.y") < F.col("p2.y")))
            .select(F.col("p1.x").alias("x"), F.col("p1.y").alias("y"),
                    F.col("p2.y").alias("z")))
    c = li.alias("c")
    verified = (cand
                .join(a, F.col("a.p") == F.col("x"))
                .join(b, (F.col("b.o") == F.col("a.o"))
                      & (F.col("b.p") == F.col("y")))
                .join(c, (F.col("c.o") == F.col("a.o"))
                      & (F.col("c.p") == F.col("z")))
                .groupBy("x", "y", "z")
                .agg(F.count("*").alias("support"))
                .where(F.col("support") >= 2))
    return verified.select(F.col("x").alias("item1"),
                           F.col("y").alias("item2"),
                           F.col("z").alias("item3"), "support")


_FREQ_TRIPLES_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem),
tri AS (
  SELECT a.p AS x, b.p AS y, c.p AS z, COUNT(*) AS support
  FROM li a
  JOIN li b ON b.o = a.o AND a.p < b.p
  JOIN li c ON c.o = a.o AND b.p < c.p
  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2),
fp AS (
  SELECT a.p AS x, b.p AS y, COUNT(*) AS s
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT t.x AS item1, t.y AS item2, t.z AS item3, t.support
FROM tri t
JOIN fp p1 ON p1.x = t.x AND p1.y = t.y
JOIN fp p2 ON p2.x = t.x AND p2.y = t.z
"""
query("frequent_triples", q_frequent_triples, _FREQ_TRIPLES_ORACLE)


def q_ppr_asia(spark, sf_dir):
    """Personalized PageRank from the ASIA region node over the
    undirected Region-Nation-Customer graph, 4 iterations, damping
    0.85 — the seed-anchored relevance ranking behind 'related
    entities'.  Contribution terms and rank updates re-round to the
    9 dp DECIMAL grid each step (the q:textrank_keywords ladder), so
    neighbor-sum order never matters; the restart mass goes entirely
    to the seed."""
    g = tpch_graph(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    seed_uid = "Region:" + str(
        t["region"].where(F.col("r_name") == "ASIA")
        .select("r_regionkey").collect()[0][0])
    edges = g.edges_df.where(F.col("kind").isin("InRegion",
                                                "FromNation"))
    sym = (edges.select(F.col("startuid").alias("u"),
                        F.col("enduid").alias("v"))
           .unionByName(edges.select(F.col("enduid").alias("u"),
                                     F.col("startuid").alias("v")))
           .distinct().repartition("u").localCheckpoint(eager=True))
    deg = sym.groupBy("u").agg(F.count("*").alias("deg")) \
        .localCheckpoint(eager=True)
    rank = deg.select(F.col("u").alias("w"),
                      F.when(F.col("u") == seed_uid, 1.0).otherwise(0.0)
                      .cast("decimal(18,9)").alias("r"))
    for _ in range(4):
        contrib = (sym.join(rank.withColumnRenamed("w", "u"), "u")
                   .join(deg, "u")
                   .select(F.col("v").alias("w"),
                           F.round(F.col("r").cast("double")
                                   / F.col("deg"), 9)
                           .cast("decimal(18,9)").alias("c")))
        inc = contrib.groupBy("w").agg(
            F.sum("c").cast("decimal(28,9)").alias("s"))
        rank = (deg.select(F.col("u").alias("w"))
                .join(inc, "w", "left")
                .select("w", F.round(
                    F.when(F.col("w") == seed_uid, 0.15).otherwise(0.0)
                    + 0.85 * F.coalesce(F.col("s"), F.lit(0))
                    .cast("double"), 9)
                    .cast("decimal(18,9)").alias("r"))
                .localCheckpoint(eager=True))
    return (rank.where(F.col("r") > 0)
            .select("w", F.col("r").cast("double").alias("ppr"))
            .orderBy(F.col("ppr").desc(), "w").limit(40))


def _ppr_oracle_sql(iters: int = 4) -> str:
    ctes = ["""seed AS (
  SELECT 'Region:' || CAST(r_regionkey AS VARCHAR) AS uid
  FROM region WHERE r_name = 'ASIA')""",
            """sym AS MATERIALIZED (
  SELECT u, v FROM (
    SELECT 'Nation:' || CAST(n_nationkey AS VARCHAR) AS u,
           'Region:' || CAST(n_regionkey AS VARCHAR) AS v FROM nation
    UNION ALL
    SELECT 'Region:' || CAST(n_regionkey AS VARCHAR),
           'Nation:' || CAST(n_nationkey AS VARCHAR) FROM nation
    UNION ALL
    SELECT 'Customer:' || CAST(c_custkey AS VARCHAR),
           'Nation:' || CAST(c_nationkey AS VARCHAR) FROM customer
    UNION ALL
    SELECT 'Nation:' || CAST(c_nationkey AS VARCHAR),
           'Customer:' || CAST(c_custkey AS VARCHAR) FROM customer)
  GROUP BY u, v)""",
            """deg AS MATERIALIZED (
  SELECT u, COUNT(*) AS deg FROM sym GROUP BY u)""",
            """r0 AS MATERIALIZED (
  SELECT u AS w, CAST(CASE WHEN u = (SELECT uid FROM seed)
                           THEN 1.0 ELSE 0.0 END
                      AS DECIMAL(18,9)) AS r
  FROM deg)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""r{i} AS MATERIALIZED (
  SELECT d.u AS w,
         CAST(round(CASE WHEN d.u = (SELECT uid FROM seed)
                         THEN 0.15 ELSE 0.0 END
           + 0.85 * CAST(COALESCE(x.s, 0) AS DOUBLE), 9)
              AS DECIMAL(18,9)) AS r
  FROM deg d LEFT JOIN (
    SELECT s.v AS w, CAST(SUM(CAST(round(CAST(p.r AS DOUBLE) / dd.deg,
                                         9) AS DECIMAL(18,9)))
                          AS DECIMAL(28,9)) AS s
    FROM sym s JOIN r{i - 1} p ON p.w = s.u JOIN deg dd ON dd.u = s.u
    GROUP BY s.v) x ON x.w = d.u)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT w, CAST(r AS DOUBLE) AS ppr
FROM r{iters} WHERE r > 0 ORDER BY ppr DESC, w LIMIT 40""")
query("ppr_asia", q_ppr_asia, _ppr_oracle_sql())


def q_maximal_matching(spark, sf_dir):
    """Distributed maximal matching over the part co-purchase graph
    (Luby-style edge competition on md5 priorities, 6 rounds) — the
    matched endpoints are the classic 2-approximate vertex cover.  An
    edge wins a round iff it is the strict (priority, id)-minimum at
    BOTH endpoints, resolved with a per-node two-smallest aggregate
    (no line-graph materialization, no self-join on 'shares an
    endpoint')."""
    li = load_tables(spark, sf_dir)["lineitem"] \
        .select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    co = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                 & (F.col("a.l_partkey") < F.col("b.l_partkey")))
          .select(F.col("a.l_partkey").cast("string").alias("pa"),
                  F.col("b.l_partkey").cast("string").alias("pb")))
    m = graph_algos.maximal_matching(co, rounds=6,
                                     src_col="pa", dst_col="pb")
    return m.select(F.col("u").cast("long").alias("part_a"),
                    F.col("v").cast("long").alias("part_b"))


def _matching_oracle_sql(rounds: int = 6) -> str:
    pri = ("CAST(('0x' || substr(md5('mm:' || u || '|' || v), 1, 15)) "
           "AS BIGINT)")
    ctes = [f"""a0 AS MATERIALIZED (
  SELECT u, v, {pri} AS p FROM (
    SELECT DISTINCT LEAST(CAST(a.l_partkey AS VARCHAR),
                          CAST(b.l_partkey AS VARCHAR)) AS u,
           GREATEST(CAST(a.l_partkey AS VARCHAR),
                    CAST(b.l_partkey AS VARCHAR)) AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey))"""]
    sel = []
    for r in range(rounds):
        ctes.append(f"""inc{r} AS MATERIALIZED (
  SELECT u AS n, p, u, v FROM a{r}
  UNION ALL SELECT v AS n, p, u, v FROM a{r})""")
        ctes.append(f"""m{r} AS MATERIALIZED (
  SELECT u, v FROM (
    SELECT n, u, v,
           row_number() OVER (PARTITION BY n ORDER BY p, u, v) AS rn
    FROM inc{r})
  WHERE rn = 1 GROUP BY u, v HAVING COUNT(*) = 2)""")
        ctes.append(f"""used{r} AS MATERIALIZED (
  SELECT u AS n FROM m{r} UNION SELECT v FROM m{r})""")
        ctes.append(f"""a{r + 1} AS MATERIALIZED (
  SELECT e.u, e.v, e.p FROM a{r} e
  LEFT JOIN used{r} x ON x.n = e.u
  LEFT JOIN used{r} y ON y.n = e.v
  WHERE x.n IS NULL AND y.n IS NULL)""")
        sel.append(f"SELECT u, v FROM m{r}")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT CAST(u AS BIGINT) AS part_a, CAST(v AS BIGINT) AS part_b
FROM ({" UNION ALL ".join(sel)})""")
query("maximal_matching", q_maximal_matching, _matching_oracle_sql())


def q_changepoint_sse(spark, sf_dir):
    """Exact single change-point detection by least squares (binary
    segmentation step 1): the split s minimizing SSE_left + SSE_right
    of a two-mean model over weekly revenue.  Every candidate split is
    O(1) from prefix sums (SSE(a..b) = Q - S^2/n with exact DECIMAL Q
    and S), so the whole scan is one window pass + an argmin — no
    per-candidate aggregation, cluster-runnable.  Integer cents; two
    IEEE divisions per candidate; argmin tie-broken by split index."""
    from pyspark.sql import Window as W
    o = load_tables(spark, sf_dir)["orders"]
    weekly = (o.groupBy(F.date_trunc("week", F.col("o_orderdate")
                                     .cast("timestamp")).alias("wk"))
              .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    * 100).cast("long").alias("y")))
    w = W.orderBy("wk")
    pre = (weekly.withColumn("i", F.row_number().over(w))
           .withColumn("s", F.sum("y").over(
               w.rowsBetween(W.unboundedPreceding, W.currentRow)))
           .withColumn("q", F.sum((F.col("y").cast("decimal(19,0)")
                                   * F.col("y")).cast("decimal(38,0)"))
                        .over(w.rowsBetween(W.unboundedPreceding,
                                            W.currentRow))))
    tot = pre.agg(F.max("i").alias("n"), F.max("s").alias("st"),
                  F.max("q").alias("qt"))
    c = pre.crossJoin(F.broadcast(tot)).where(F.col("i") < F.col("n"))
    sse_l = (F.col("q").cast("double")
             - F.col("s").cast("double") * F.col("s") / F.col("i"))
    sse_r = ((F.col("qt") - F.col("q")).cast("double")
             - (F.col("st") - F.col("s")).cast("double")
             * (F.col("st") - F.col("s"))
             / (F.col("n") - F.col("i")))
    scored = c.select(F.col("i").alias("split"),
                      F.col("wk").cast("date").alias("split_week"),
                      F.round((sse_l + sse_r) / 1e16, 9).alias("sse"))
    best = F.min(F.struct(F.col("sse"), F.col("split"),
                          F.col("split_week")))
    return (scored.agg(best.alias("b"))
            .select(F.col("b.split").alias("split"),
                    F.col("b.split_week").alias("split_week"),
                    F.col("b.sse").alias("sse")))


_CHANGEPOINT_ORACLE = """
WITH weekly AS (
  SELECT date_trunc('week', CAST(o_orderdate AS TIMESTAMP)) AS wk,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS y
  FROM orders GROUP BY 1),
pre AS (
  SELECT wk, y,
         row_number() OVER (ORDER BY wk) AS i,
         SUM(y) OVER (ORDER BY wk ROWS UNBOUNDED PRECEDING) AS s,
         SUM(y * y) OVER (ORDER BY wk ROWS UNBOUNDED PRECEDING) AS q
  FROM weekly),
tot AS (SELECT MAX(i) AS n, MAX(s) AS st, MAX(q) AS qt FROM pre),
scored AS (
  SELECT i AS split, CAST(wk AS DATE) AS split_week,
         round((CAST(q AS DOUBLE)
                - CAST(s AS DOUBLE) * s / i
                + CAST(qt - q AS DOUBLE)
                - CAST(st - s AS DOUBLE) * (st - s) / (n - i)) / 1e16,
               9) AS sse
  FROM pre, tot WHERE i < n)
SELECT split, split_week, sse FROM scored
ORDER BY sse, split LIMIT 1
"""
query("changepoint_sse", q_changepoint_sse, _CHANGEPOINT_ORACLE)
